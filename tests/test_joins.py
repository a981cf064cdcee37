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
            "zone": ["A", "A", "A", "B", "B", "A"],
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
            "zone": ["A", "A", "B", "B"],
            "ts": pd.to_datetime(
                ["2024-01-01 09:00:00", "2024-01-01 09:00:05",
                 "2024-01-01 09:00:02", "2024-01-01 09:00:08"]
            ),
            "hourly_volume": [100.0, 101.0, 200.0, 201.0],
        }
    )
    return trades, quotes


def test_asof_backward_matches_pandas(spark):
    trades, quotes = _frames(spark)
    got = (
        asof_join(
            spark.createDataFrame(trades),
            spark.createDataFrame(quotes),
        )
        .orderBy("zone", "ts")
        .collect()
    )
    expect = pd.merge_asof(
        trades.sort_values("ts"), quotes.sort_values("ts"),
        on="ts", by="zone", direction="backward",
    ).sort_values(["zone", "ts"])
    for g, (_, e) in zip(got, expect.iterrows()):
        assert g["zone"] == e["zone"] and g["qty"] == e["qty"]
        if pd.isna(e["hourly_volume"]):
            assert g["hourly_volume"] is None  # 08:59:59 trade precedes all quotes
        else:
            assert g["hourly_volume"] == e["hourly_volume"]


def test_asof_shared_column_raises(spark):
    trades, quotes = _frames(spark)
    trades = trades.rename(columns={"qty": "hourly_volume"})  # clash with right's
    with pytest.raises(ValueError, match="both sides"):
        asof_join(
            spark.createDataFrame(trades),
            spark.createDataFrame(quotes),
        )


def test_salted_join_equals_plain_join(spark):
    # skewed probe: one hot key
    probe = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(k, 0) for k in range(2, 20)], ["l_partkey", "v"]
    )
    build = spark.createDataFrame([(k, f"d{k}") for k in range(0, 15)], ["l_partkey", "d"])
    plain = probe.join(build, "l_partkey", "inner").groupBy("l_partkey").count()
    salted = salted_join(probe, build).groupBy("l_partkey").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_asof_tolerance_matches_pandas(spark):
    trades, quotes = _frames(spark)
    got = (
        asof_join(
            spark.createDataFrame(trades),
            spark.createDataFrame(quotes),
            tolerance="5 SECONDS",
        )
        .orderBy("zone", "ts")
        .collect()
    )
    expect = pd.merge_asof(
        trades.sort_values("ts"), quotes.sort_values("ts"),
        on="ts", by="zone", direction="backward",
        tolerance=pd.Timedelta(seconds=5),
    ).sort_values(["zone", "ts"])
    assert len(got) == len(expect)
    for g, (_, e) in zip(got, expect.iterrows()):
        assert g["zone"] == e["zone"] and g["qty"] == e["qty"]
        if pd.isna(e["hourly_volume"]):
            assert g["hourly_volume"] is None  # match exists but beyond tolerance
        else:
            assert g["hourly_volume"] == e["hourly_volume"]


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
        "c_custkey long, v double, tag string",
    )
    updates = spark.createDataFrame(
        [(2, 99.0, None), (4, 40.0, "d")],
        "c_custkey long, v double, tag string",
    )
    got = {
        r["c_custkey"]: (r["v"], r["tag"], r["action"])
        for r in merge_upsert(target, updates).collect()
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

    t = spark.createDataFrame([(1, 1.0)], "c_custkey long, v double")
    u = spark.createDataFrame([(1, 1.0)], "c_custkey long, other double")
    with pytest.raises(ValueError, match="share a schema"):
        merge_upsert(t, u)


def test_merge_upsert_duplicate_update_keys_raise(spark):
    """SQL MERGE semantics: two source rows for one key must error,
    never silently fan out the matched target row."""
    import pytest

    from mape_calculation_and_anonymization_spark.operators.joins import (
        merge_upsert,
    )

    t = spark.createDataFrame([(1, 1.0)], "c_custkey long, v double")
    u = spark.createDataFrame([(1, 2.0), (1, 3.0)], "c_custkey long, v double")
    with pytest.raises(ValueError, match="at most one source row"):
        merge_upsert(t, u)
