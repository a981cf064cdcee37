"""Unit tests for operators/privacy.py and timeseries.forecast_accuracy."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from mape_calculation_and_anonymization_spark.operators import privacy
from mape_calculation_and_anonymization_spark.operators.privacy import (
    band,
    dp_noisy_counts,
    equivalence_class_histogram,
    k_anonymize,
    l_diversity_report,
    laplace_noise,
)


def _people(spark, segment="c_mktsegment"):
    # (id, nation, segment): nation 'A' has 5 rows, 'B' has 2, 'C' has 1;
    # the segment lands in column ``segment`` (None: nowhere), and the
    # other quasi column is constant
    rows = [
        (1, "A", "x"), (2, "A", "x"), (3, "A", "y"), (4, "A", "y"),
        (5, "A", "z"), (6, "B", "x"), (7, "B", "x"), (8, "C", "y"),
    ]
    df = spark.createDataFrame(rows, ["id", "c_nationkey", "_seg"])
    for c in ("c_mktsegment", "bal_band"):
        df = df.withColumn(c, F.col("_seg") if c == segment else F.lit("m"))
    return df.drop("_seg")


def test_band_floors_negatives(spark):
    df = spark.createDataFrame(
        [(1, -0.5), (2, 999.9), (3, 1000.0), (4, -1000.0)], ["id", "c_acctbal"]
    )
    got = {r["id"]: r["b"] for r in df.select("id", band(1000).alias("b")).collect()}
    assert got == {1: -1000, 2: 0, 3: 1000, 4: -1000}


def test_k_anonymize_suppresses_small_classes(spark, monkeypatch):
    people = _people(spark, segment="bal_band")
    monkeypatch.setattr(privacy, "_K_ANONYMITY", 5)
    kept = sorted(r["id"] for r in k_anonymize(people).collect())
    assert kept == [1, 2, 3, 4, 5]  # only nation A reaches k=5
    # k=1 suppresses nothing
    monkeypatch.setattr(privacy, "_K_ANONYMITY", 1)
    assert k_anonymize(people).count() == 8


def test_l_diversity_report(spark):
    rep = {
        r["c_nationkey"]: (r["class_size"], r["n_sensitive"], r["l_diverse"])
        for r in l_diversity_report(_people(spark)).collect()
    }
    assert rep == {"A": (5, 3, True), "B": (2, 1, False), "C": (1, 1, False)}


def test_equivalence_class_histogram_conserves_records(spark):
    hist = equivalence_class_histogram(_people(spark, segment=None)).collect()
    by_size = {r["class_size"]: r for r in hist}
    assert by_size[5]["n_classes"] == 1 and by_size[5]["n_records"] == 5
    assert by_size[1]["reident_risk"] == 1.0
    assert sum(r["n_records"] for r in hist) == 8


def _py_laplace(key: str, epsilon: float, seed: int) -> float:
    """Reference implementation of the portable draw (mirrors both the
    Spark expression and the DuckDB oracle)."""
    h = hashlib.md5(f"{seed}:{key}".encode()).hexdigest()
    x = int(h[:8], 16)
    m = (x - 2**31) * 2 + 1
    t = abs(m) / 2.0**32
    return -(1.0 / epsilon) * math.copysign(1.0, m) * math.log(1.0 - t)


def test_laplace_noise_matches_reference_draw(spark):
    df = spark.createDataFrame([("alpha",), ("beta",), ("gamma",)], ["k"])
    got = {
        r["k"]: r["n"]
        for r in df.select(
            "k", laplace_noise(F.col("k")).alias("n")
        ).collect()
    }
    for k, v in got.items():
        assert v == pytest.approx(_py_laplace(k, 1.0, 42), rel=1e-12)


def test_laplace_noise_scales_inverse_epsilon(spark, monkeypatch):
    keys = [(f"k{i}",) for i in range(200)]
    df = spark.createDataFrame(keys, ["k"])
    def mean_abs(eps):
        monkeypatch.setattr(privacy, "_DP_EPSILON", eps)
        return (
            df.select(F.abs(laplace_noise(F.col("k"))).alias("a"))
            .agg(F.avg("a"))
            .first()[0]
        )
    # E|Laplace(b)| = b = 1/eps; with 200 draws the ratio is ~10 ± noise
    assert mean_abs(0.1) / mean_abs(1.0) == pytest.approx(10.0, rel=1e-9)


def test_dp_noisy_counts_deterministic_and_near_truth(spark, monkeypatch):
    df = _people(spark).withColumnRenamed("c_nationkey", "event_type")
    a = {r["event_type"]: r["noisy_count"] for r in dp_noisy_counts(df).collect()}
    b = {r["event_type"]: r["noisy_count"] for r in dp_noisy_counts(df).collect()}
    assert a == b  # deterministic under fixed seed
    truth = {"A": 5, "B": 2, "C": 1}
    for k, v in a.items():
        assert abs(v - truth[k]) < 15  # P(|Laplace(1)| > 15) ≈ 3e-7
    monkeypatch.setattr(privacy, "_DP_SEED", 43)
    c = {r["event_type"]: r["noisy_count"] for r in dp_noisy_counts(df).collect()}
    assert a != c  # seed actually keys the draw


def test_forecast_accuracy_known_values(spark):
    from mape_calculation_and_anonymization_spark.operators.timeseries import (
        forecast_accuracy,
    )

    # one series: actuals 10, 20, 30; forecasts 12, 18, 30
    rows = [("z", 1, 12.0, 10.0), ("z", 2, 18.0, 20.0), ("z", 3, 30.0, 30.0)]
    df = spark.createDataFrame(rows, ["zone", "hour", "forecast", "actual"])
    m = forecast_accuracy(df.withColumn("proxy_date", F.lit(0))).collect()[0]
    assert m["mae"] == pytest.approx(4.0 / 3)
    assert m["rmse"] == pytest.approx(math.sqrt(8.0 / 3))
    assert m["bias"] == pytest.approx(0.0)
    assert m["wape"] == pytest.approx(4.0 / 60)
    assert m["smape"] == pytest.approx(
        (2 * 2 / 22 + 2 * 2 / 38 + 0.0) / 3
    )
    # naive MAE = mean(|20-10|, |30-20|) = 10
    assert m["mase"] == pytest.approx((4.0 / 3) / 10.0)


def test_forecast_accuracy_perfect_and_zero(spark):
    from mape_calculation_and_anonymization_spark.operators.timeseries import (
        forecast_accuracy,
    )

    rows = [("z", 1, 0.0, 0.0), ("z", 2, 5.0, 5.0)]
    df = spark.createDataFrame(rows, ["zone", "hour", "forecast", "actual"])
    m = forecast_accuracy(df.withColumn("proxy_date", F.lit(0))).collect()[0]
    # both-zero slot contributes 0 to smape (reference convention)
    assert m["smape"] == 0.0 and m["mae"] == 0.0 and m["rmse"] == 0.0


def test_noise_key_collision_free_and_null_safe(spark):
    """ADVICE r7: the raw key skipped NULLs. The md5 encoding must give
    every distinct group value a distinct key, and NULL must differ
    from every real value (including '' and the '-' sentinel)."""
    from mape_calculation_and_anonymization_spark.operators.privacy import noise_key

    df = spark.createDataFrame(
        [("a|b",), ("a",), (None,), ("",), ("-",)], "event_type string"
    )
    keys = [r["k"] for r in df.select(noise_key().alias("k")).collect()]
    assert len(set(keys)) == len(keys)


def _classes(spark, rows):
    """(class, sensitive value) rows as t_closeness_report input: the
    class in c_nationkey, one c_mktsegment, the value in bal_band."""
    return spark.createDataFrame(
        rows, "c_nationkey string, bal_band string"
    ).withColumn("c_mktsegment", F.lit("m"))


def test_t_closeness_hand_example(spark):
    """TVD against a hand-computed distribution, including the
    domain-completion term for values absent from a class."""
    from mape_calculation_and_anonymization_spark.operators.privacy import (
        t_closeness_report,
    )

    # global: a×4, b×2, c×2 → q = (0.5, 0.25, 0.25)
    rows = [
        ("g1", "a"), ("g1", "a"), ("g1", "b"), ("g1", "c"),
        ("g2", "a"), ("g2", "a"), ("g2", "b"), ("g2", "c"),
    ]
    df = _classes(spark, rows)
    got = {
        r["c_nationkey"]: (r["class_size"], r["n_sensitive"], r["tvd"], r["t_violation"])
        for r in t_closeness_report(df).collect()
    }
    # both classes have the exact global distribution → tvd = 0
    assert got == {"g1": (4, 3, 0.0, False), "g2": (4, 3, 0.0, False)}

    # skewed class: g3 all-a (p=(1,0,0)); global becomes a×8,b×2,c×2
    # → q=(2/3,1/6,1/6); tvd(g3) = 0.5*(|1-2/3|) + 0.5*(1-2/3) = 1/3
    rows2 = rows + [("g3", "a")] * 4
    df2 = _classes(spark, rows2)
    got2 = {r["c_nationkey"]: r["tvd"] for r in t_closeness_report(df2).collect()}
    assert abs(got2["g3"] - (1 / 3)) < 1e-6
    # g1/g2: p=(0.5,0.25,0.25) vs q=(2/3,1/6,1/6):
    # tvd = 0.5*(1/6 + 1/12 + 1/12) = 1/6
    assert abs(got2["g1"] - (1 / 6)) < 1e-6


def test_t_closeness_violation_flag(spark):
    from mape_calculation_and_anonymization_spark.operators.privacy import (
        t_closeness_report,
    )

    rows = [("g1", "a")] * 9 + [("g2", "b")]
    df = _classes(spark, rows)
    got = {r["c_nationkey"]: r["t_violation"] for r in t_closeness_report(df).collect()}
    # g2 is all-b while global is 90% a → tvd 0.9 > 0.2
    assert got["g2"] is True and got["g1"] is False


def test_t_closeness_null_sensitive_is_a_category(spark):
    """NULL sensitive values are a real category: they must survive
    the join (null-safe) and count toward class size and TVD."""
    from mape_calculation_and_anonymization_spark.operators.privacy import (
        t_closeness_report,
    )

    rows = [("g1", "a"), ("g1", None), ("g2", "a"), ("g2", None)]
    df = _classes(spark, rows)
    got = {
        r["c_nationkey"]: (r["class_size"], r["n_sensitive"], r["tvd"])
        for r in t_closeness_report(df).collect()
    }
    # both classes exactly match the global distribution (a: .5, NULL: .5)
    assert got == {"g1": (2, 2, 0.0), "g2": (2, 2, 0.0)}
