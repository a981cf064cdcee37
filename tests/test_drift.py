"""PSI distribution-drift monitor semantics
(operators/drift.py:population_stability)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from mape_calculation_and_anonymization_spark.operators import drift
from mape_calculation_and_anonymization_spark.operators.drift import (
    population_stability,
)

SF_DIR = "/root/testdata/sf0.01"


def _frame(spark, rows, schema="dim string, val double"):
    return spark.createDataFrame(rows, schema)


def test_identical_windows_score_near_zero(spark, monkeypatch):
    monkeypatch.setattr(drift, "_PSI_BIN_WIDTH", 25.0)
    rows = [("a", float(v % 100)) for v in range(400)]
    df = _frame(spark, rows)
    out = population_stability(df, df).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_ref"] == r["n_cur"] == 400
    assert r["psi"] == 0.0  # identical histograms: every term is exactly 0
    assert r["drift_flag"] is False


def test_planted_shift_flags_drift(spark, monkeypatch):
    monkeypatch.setattr(drift, "_PSI_BIN_WIDTH", 25.0)
    ref = _frame(spark, [("a", float(v % 100)) for v in range(400)])
    cur = _frame(spark, [("a", float(v % 100) + 200.0) for v in range(400)])
    r = population_stability(ref, cur).collect()[0]
    # disjoint bin ranges: PSI must be large, finite, and flagged
    assert math.isfinite(r["psi"]) and r["psi"] > 0.2
    assert r["drift_flag"] is True
    assert r["n_bins"] == 8  # 4 ref-only + 4 cur-only bins, unioned


def test_one_sided_group_and_nulls_are_finite(spark, monkeypatch):
    monkeypatch.setattr(drift, "_PSI_BIN_WIDTH", 50.0)
    ref = _frame(spark, [("a", 1.0), ("a", 2.0), ("b", 5.0), ("a", None)])
    cur = _frame(spark, [("a", 1.5), ("a", 60.0)])
    got = {
        r["dim"]: r
        for r in population_stability(ref, cur).collect()
    }
    # group b has no current rows at all — smoothing keeps PSI finite
    assert got["b"]["n_cur"] == 0 and math.isfinite(got["b"]["psi"])
    # NULL values are excluded from the windows, not binned
    assert got["a"]["n_ref"] == 2


def test_null_group_key_merges_across_windows(spark, monkeypatch):
    """A NULL group key is ONE group (GROUP BY semantics): its ref and
    cur histograms must merge cell-by-cell through the struct join key,
    not survive as disjoint one-sided cells. Regression for the
    null-unsafe column-list full_outer join, which left a NULL group's
    identical windows with n_bins=2 and psi>0."""
    monkeypatch.setattr(drift, "_PSI_BIN_WIDTH", 50.0)
    ref = _frame(spark, [(None, 1.0), ("a", 1.0)])
    cur = _frame(spark, [(None, 1.5), ("a", 1.5)])
    got = {
        r["dim"]: r
        for r in population_stability(ref, cur).collect()
    }
    assert set(got) == {None, "a"}
    # both values land in bin 0 on both sides: one merged cell, zero drift
    for key in (None, "a"):
        r = got[key]
        assert r["n_bins"] == 1, (key, r)
        assert r["n_ref"] == r["n_cur"] == 1
        assert r["psi"] == 0.0 and r["drift_flag"] is False


def test_psi_matches_hand_computation(spark, monkeypatch):
    monkeypatch.setattr(drift, "_PSI_BIN_WIDTH", 10.0)
    # ref: 3 rows in bin0, 1 in bin1; cur: 1 in bin0, 3 in bin1 (w=10)
    ref = _frame(spark, [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 11.0)])
    cur = _frame(spark, [("a", 4.0), ("a", 12.0), ("a", 13.0), ("a", 14.0)])
    r = population_stability(ref, cur).collect()[0]
    s, b, n = 0.5, 2, 4
    expected = 0.0
    for nr, nc in ((3, 1), (1, 3)):
        p = (nr + s) / (n + s * b)
        q = (nc + s) / (n + s * b)
        expected += (p - q) * math.log(p / q)
    assert r["psi"] == round(expected, 6)
    assert r["n_bins"] == 2


def test_registry_scorecard_shape(spark):
    """The fused r16 scorecard keeps both parents' guarantees on the
    stationary synthetic feed: finite non-negative PSI, KS a valid
    ECDF sup, and neither flag crying wolf."""
    out = entrymod._q_drift_events_scorecard(spark, SF_DIR)
    rows = out.collect()
    assert {r["event_type"] for r in rows} >= {"click", "view", "purchase"}
    for r in rows:
        assert r["n_ref"] > 0 and r["n_cur"] > 0
        # every PSI term (p−q)·ln(p/q) is non-negative: p−q and
        # ln(p/q) always share a sign
        assert math.isfinite(r["psi"]) and r["psi"] >= 0.0
        assert 0.0 <= r["ks"] <= 1.0  # a sup of |ECDF diff|
        # synthetic events are stationary across the month: the monitor
        # must NOT cry wolf on an undrifted feed
        assert r["psi_flag"] is False, (r["event_type"], r["psi"])
        assert r["ks_flag"] is False, (r["event_type"], r["ks"])


def test_scorecard_equals_parents(spark, monkeypatch):
    """Fusion correctness: drift_scorecard's psi/ks columns (and both
    flags) must equal population_stability ⋈ ks_statistic run
    separately on the same frames — including a group present on only
    one side (NULL ks, defined psi)."""
    from mape_calculation_and_anonymization_spark.operators.drift import (
        drift_scorecard,
        ks_statistic,
        population_stability,
    )

    ref_rows = [("a", 1.0), ("a", 2.0), ("a", 11.0), ("b", 3.0), ("only_ref", 1.0)]
    cur_rows = [("a", 4.0), ("a", 12.0), ("a", 13.0), ("b", 30.0)]
    ev = "event_type string, value double"
    ref, cur = _frame(spark, ref_rows, ev), _frame(spark, cur_rows, ev)
    monkeypatch.setattr(drift, "_SCORECARD_BIN_WIDTH", 10.0)
    monkeypatch.setattr(drift, "_PSI_BIN_WIDTH", 10.0)
    fused = {
        r["event_type"]: r
        for r in drift_scorecard(ref, cur).collect()
    }
    psi = {
        r["dim"]: r
        for r in population_stability(
            _frame(spark, ref_rows), _frame(spark, cur_rows)
        ).collect()
    }
    ks = {
        r["event_type"]: r
        for r in ks_statistic(ref, cur, ["event_type"], "value", 10.0).collect()
    }
    assert set(fused) == set(psi) == set(ks) == {"a", "b", "only_ref"}
    for g, r in fused.items():
        assert (r["n_ref"], r["n_cur"], r["n_bins"]) == (
            psi[g]["n_ref"],
            psi[g]["n_cur"],
            psi[g]["n_bins"],
        )
        assert r["psi"] == psi[g]["psi"]
        assert r["psi_flag"] == psi[g]["drift_flag"]
        assert r["ks"] == ks[g]["ks"]
        assert r["ks_flag"] == ks[g]["drift_flag"]
    assert fused["only_ref"]["ks"] is None  # one-sided: no ECDF pair
    assert fused["only_ref"]["psi"] is not None  # smoothing keeps PSI defined


def test_embedding_psi_registry_query(spark):
    """drift_embedding_psi: one row per embedding dimension; the
    parity split of the dense vec_id range gives exact half/half
    windows, PSI is non-negative and finite, and two halves of the
    same encoder's output must not trip the drift flag."""
    out = entrymod._q_drift_embedding_psi(spark, SF_DIR)
    rows = out.collect()
    assert len(rows) == 64  # one row per embedding dimension
    for r in rows:
        # vec_ids are dense 0..N-1, so the parity split is exact halves
        assert r["n_ref"] == r["n_cur"]
        assert r["n_bins"] >= 2
        assert math.isfinite(r["psi"]) and r["psi"] >= 0.0
        # the two halves draw from the same encoder: no false alarms
        assert r["drift_flag"] is False, (r["dim"], r["psi"])


def test_ks_identical_windows_is_zero(spark):
    from mape_calculation_and_anonymization_spark.operators.drift import (
        ks_statistic,
    )

    rows = [("a", float(v % 100)) for v in range(400)]
    df = _frame(spark, rows)
    r = ks_statistic(df, df, ["dim"], "val", 25.0).collect()[0]
    assert r["ks"] == 0.0 and r["drift_flag"] is False


def test_ks_matches_hand_computation(spark):
    # ref: 3 rows bin0, 1 bin1; cur: 1 bin0, 3 bin1 (w=10)
    # ECDFs at bin edges: ref (0.75, 1.0), cur (0.25, 1.0) → ks = 0.5
    ref = _frame(spark, [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 11.0)])
    cur = _frame(spark, [("a", 4.0), ("a", 12.0), ("a", 13.0), ("a", 14.0)])
    from mape_calculation_and_anonymization_spark.operators.drift import (
        ks_statistic,
    )

    r = ks_statistic(ref, cur, ["dim"], "val", 10.0).collect()[0]
    assert r["ks"] == 0.5
    assert r["n_bins"] == 2
    assert r["drift_flag"] is True  # 0.5 > 0.1


def test_stream_drift_psi_matches_batch_fold(spark):
    """The streaming monitor's hourly PSI must equal a pure-batch
    recomputation over the same split (the stream lands the histogram;
    the fold is batch either way) — plus shape sanity: every row is a
    second-half hour, psi finite and non-negative."""
    out = entrymod._q_stream_drift_psi(spark, SF_DIR).collect()
    assert len(out) > 0
    hours = {r["hour_start"] for r in out}
    split = __import__("datetime").datetime.fromisoformat("2024-01-16")
    for r in out:
        assert r["hour_start"] >= split
        assert math.isfinite(r["psi"]) and r["psi"] >= 0.0
        assert r["n_ref"] > 0  # reference histogram always present
    # cross-check one (hour, type) cell against a hand batch fold
    import pyspark.sql.functions as SF
    from mape_calculation_and_anonymization_spark.fixtures import load_events
    ev = load_events(spark, SF_DIR).filter(SF.col("value").isNotNull())
    some = out[0]
    h0, typ = some["hour_start"], some["event_type"]
    ref_counts = {
        r["_bin"]: r["n"]
        for r in ev.filter(SF.col("ts") < SF.lit("2024-01-16").cast("timestamp"))
        .filter(SF.col("event_type") == typ)
        .groupBy(SF.floor(SF.col("value") / 50.0).cast("long").alias("_bin"))
        .agg(SF.count(SF.lit(1)).alias("n"))
        .collect()
    }
    cur_counts = {
        r["_bin"]: r["n"]
        for r in ev.filter(
            (SF.col("ts") >= SF.lit(h0)) & (SF.col("ts") < SF.lit(h0 + __import__("datetime").timedelta(hours=1)))
        )
        .filter(SF.col("event_type") == typ)
        .groupBy(SF.floor(SF.col("value") / 50.0).cast("long").alias("_bin"))
        .agg(SF.count(SF.lit(1)).alias("n"))
        .collect()
    }
    bins = set(ref_counts) | set(cur_counts)
    nr, nc, nb, s = sum(ref_counts.values()), sum(cur_counts.values()), len(bins), 0.5
    psi = sum(
        ((ref_counts.get(b, 0) + s) / (nr + s * nb) - (cur_counts.get(b, 0) + s) / (nc + s * nb))
        * math.log(
            ((ref_counts.get(b, 0) + s) / (nr + s * nb))
            / ((cur_counts.get(b, 0) + s) / (nc + s * nb))
        )
        for b in bins
    )
    assert some["psi"] == round(psi, 6)
    assert some["n_ref"] == nr and some["n_cur"] == nc and some["n_bins"] == nb


def test_ks_is_symmetric_and_bounded(spark):
    """|ECDF diff| is symmetric in its arguments and bounded by [0,1]
    — the two properties a dashboard depends on (swapping ref/cur
    must not change the alert)."""
    from mape_calculation_and_anonymization_spark.operators.drift import (
        ks_statistic,
    )

    a = _frame(spark, [("g", float(v % 37)) for v in range(150)])
    b = _frame(spark, [("g", float((v * 7) % 61)) for v in range(90)])
    r_ab = ks_statistic(a, b, ["dim"], "val", 10.0).collect()[0]
    r_ba = ks_statistic(b, a, ["dim"], "val", 10.0).collect()[0]
    assert r_ab["ks"] == r_ba["ks"]
    assert 0.0 <= r_ab["ks"] <= 1.0
    assert (r_ab["n_ref"], r_ab["n_cur"]) == (r_ba["n_cur"], r_ba["n_ref"])
