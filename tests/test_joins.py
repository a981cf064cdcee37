"""as-of join vs pandas merge_asof ground truth; salted join
equivalence with the unsalted join."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mape_calculation_and_anonymization_spark.operators.joins import (
    asof_join,
    salted_join,
)


def _frames(spark):
    trades = pd.DataFrame(
        {
            "sym": ["A", "A", "A", "B", "B", "A"],
            "ts": pd.to_datetime(
                ["2024-01-01 09:00:01", "2024-01-01 09:00:05",
                 "2024-01-01 09:00:10", "2024-01-01 09:00:03",
                 "2024-01-01 09:00:07", "2024-01-01 08:59:59"]
            ),
            "qty": [10, 20, 30, 40, 50, 60],
        }
    )
    quotes = pd.DataFrame(
        {
            "sym": ["A", "A", "B", "B"],
            "ts": pd.to_datetime(
                ["2024-01-01 09:00:00", "2024-01-01 09:00:05",
                 "2024-01-01 09:00:02", "2024-01-01 09:00:08"]
            ),
            "px": [100.0, 101.0, 200.0, 201.0],
        }
    )
    return trades, quotes


def test_asof_backward_matches_pandas(spark):
    trades, quotes = _frames(spark)
    got = (
        asof_join(
            spark.createDataFrame(trades),
            spark.createDataFrame(quotes),
            on="ts",
            by=["sym"],
        )
        .orderBy("sym", "ts")
        .collect()
    )
    expect = pd.merge_asof(
        trades.sort_values("ts"), quotes.sort_values("ts"),
        on="ts", by="sym", direction="backward",
    ).sort_values(["sym", "ts"])
    for g, (_, e) in zip(got, expect.iterrows()):
        assert g["sym"] == e["sym"] and g["qty"] == e["qty"]
        if pd.isna(e["px"]):
            assert g["px"] is None  # 08:59:59 trade precedes all quotes
        else:
            assert g["px"] == e["px"]


def test_asof_empty_by_guarded(spark):
    trades, quotes = _frames(spark)
    l, r = spark.createDataFrame(trades.drop(columns="sym")), spark.createDataFrame(
        quotes.drop(columns="sym")
    )
    with pytest.raises(ValueError, match="unpartitioned"):
        asof_join(l, r, on="ts")


def test_asof_shared_column_raises(spark):
    trades, quotes = _frames(spark)
    quotes = quotes.rename(columns={"px": "qty"})  # clash with left's qty
    with pytest.raises(ValueError, match="both sides"):
        asof_join(
            spark.createDataFrame(trades),
            spark.createDataFrame(quotes),
            on="ts",
            by=["sym"],
        )


def test_salted_join_equals_plain_join(spark):
    # skewed probe: one hot key
    probe = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(k, 0) for k in range(2, 20)], ["k", "v"]
    )
    build = spark.createDataFrame([(k, f"d{k}") for k in range(0, 15)], ["k", "d"])
    plain = probe.join(build, "k", "inner").groupBy("k").count()
    salted = salted_join(probe, build, "k", salt=4).groupBy("k").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_asof_tolerance_matches_pandas(spark):
    trades, quotes = _frames(spark)
    got = (
        asof_join(
            spark.createDataFrame(trades),
            spark.createDataFrame(quotes),
            on="ts",
            by=["sym"],
            tolerance="5 SECONDS",
        )
        .orderBy("sym", "ts")
        .collect()
    )
    expect = pd.merge_asof(
        trades.sort_values("ts"), quotes.sort_values("ts"),
        on="ts", by="sym", direction="backward",
        tolerance=pd.Timedelta(seconds=5),
    ).sort_values(["sym", "ts"])
    assert len(got) == len(expect)
    for g, (_, e) in zip(got, expect.iterrows()):
        assert g["sym"] == e["sym"] and g["qty"] == e["qty"]
        if pd.isna(e["px"]):
            assert g["px"] is None  # match exists but beyond tolerance
        else:
            assert g["px"] == e["px"]


def test_touch_attribution_hand_example(spark):
    """First/last-touch inside the lookback; unattributed conversions
    keep NULLs; ties on timestamp break on the id (deterministic)."""
    from mape_calculation_and_anonymization_spark.operators.joins import (
        touch_attribution,
    )
    import datetime as dt

    T0 = dt.datetime(2024, 1, 10, 12, 0, 0)

    def ts(mins):
        return T0 + dt.timedelta(minutes=mins)

    conv = spark.createDataFrame(
        [(1, 100, ts(0)), (1, 101, ts(120)), (2, 200, ts(0))],
        "user_id long, event_id long, ts timestamp",
    )
    touch = spark.createDataFrame(
        [
            (1, 10, ts(-30)),   # in window for conv 100 and 101
            (1, 11, ts(60)),    # after conv 100, before conv 101
            (1, 12, ts(60)),    # same ts as 11 -> id tie-break
            (2, 20, ts(-60 * 24 * 8)),  # outside the 7-day lookback
        ],
        "user_id long, event_id long, ts timestamp",
    )
    got = {
        r["conversion_id"]: r
        for r in touch_attribution(conv, touch).collect()
    }
    assert got[100]["first_touch_id"] == 10 and got[100]["last_touch_id"] == 10
    assert got[100]["n_touches"] == 1
    # conv 101: first = earliest (10); last = max(ts) tie -> max id (12)
    assert got[101]["first_touch_id"] == 10 and got[101]["last_touch_id"] == 12
    assert got[101]["n_touches"] == 3
    # conv 200: touch outside lookback -> unattributed, still present
    assert got[200]["first_touch_id"] is None and got[200]["n_touches"] == 0


def test_touch_attribution_never_cartesian(spark):
    from mape_calculation_and_anonymization_spark.fixtures import load_events
    from mape_calculation_and_anonymization_spark.operators.joins import (
        touch_attribution,
    )
    from pyspark.sql import functions as F

    ev = load_events(spark, "/root/testdata/sf0.001")
    out = touch_attribution(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
        lookback="INTERVAL 1 HOUR",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    n_conv = ev.filter(F.col("event_type") == "purchase").count()
    assert out.count() == n_conv  # exactly one row per conversion


def test_merge_upsert_hand_example(spark):
    """MERGE semantics: matched rows take update values (sparse —
    NULL update fields inherit target), unmatched updates insert,
    untouched target rows pass through unchanged."""
    from mape_calculation_and_anonymization_spark.operators.joins import (
        merge_upsert,
    )

    target = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")],
        "k long, v double, tag string",
    )
    updates = spark.createDataFrame(
        [(2, 99.0, None), (4, 40.0, "d")],
        "k long, v double, tag string",
    )
    got = {
        r["k"]: (r["v"], r["tag"], r["action"])
        for r in merge_upsert(target, updates, "k").collect()
    }
    assert got == {
        1: (10.0, "a", "unchanged"),
        2: (99.0, "b", "updated"),   # sparse: NULL tag inherits target's
        3: (30.0, "c", "unchanged"),
        4: (40.0, "d", "inserted"),
    }


def test_merge_upsert_schema_mismatch_raises(spark):
    import pytest

    from mape_calculation_and_anonymization_spark.operators.joins import (
        merge_upsert,
    )

    t = spark.createDataFrame([(1, 1.0)], "k long, v double")
    u = spark.createDataFrame([(1, 1.0)], "k long, other double")
    with pytest.raises(ValueError, match="share a schema"):
        merge_upsert(t, u, "k")


def test_merge_upsert_duplicate_update_keys_raise(spark):
    """SQL MERGE semantics: two source rows for one key must error,
    never silently fan out the matched target row."""
    import pytest

    from mape_calculation_and_anonymization_spark.operators.joins import (
        merge_upsert,
    )

    t = spark.createDataFrame([(1, 1.0)], "k long, v double")
    u = spark.createDataFrame([(1, 2.0), (1, 3.0)], "k long, v double")
    with pytest.raises(ValueError, match="at most one source row"):
        merge_upsert(t, u, "k")
