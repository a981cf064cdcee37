"""IVF ANN recall vs brute force; stateful streaming WAPE vs batch."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mape_calculation_and_anonymization_spark.operators import ivf
from mape_calculation_and_anonymization_spark.operators.ivf import (
    build_ivf_index,
    ivf_top_k,
)
from mape_calculation_and_anonymization_spark.operators.similarity import (
    brute_force_top_k,
)
from mape_calculation_and_anonymization_spark.streaming.stateful import (
    running_zone_wape,
)
from mape_calculation_and_anonymization_spark.streaming.windows import (
    read_events_stream,
    run_stream_to_memory,
)

SF = "/root/testdata/sf0.001"


def _vectors(n=120, dim=16, seed=5):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    return [(i, [float(x) for x in vecs[i]]) for i in range(n)]


def test_ivf_full_probe_equals_brute_force(spark, monkeypatch):
    rows = _vectors()
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id") < 8)
    assigned, centroids = build_ivf_index(df, n_clusters=6)
    # nprobe = n_clusters → exact: must equal brute force
    monkeypatch.setattr(ivf, "_IVF_NPROBE", 6)
    ivf_all = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_top_k(assigned, centroids, queries).collect()
    }
    bf = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_top_k(df, queries, k=3).collect()
    }
    assert ivf_all == bf


def test_ivf_partial_probe_recall(spark, monkeypatch):
    rows = _vectors()
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id") < 20)
    assigned, centroids = build_ivf_index(df, n_clusters=8)
    monkeypatch.setattr(ivf, "_IVF_TOP_K", 1)
    monkeypatch.setattr(ivf, "_IVF_NPROBE", 3)
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_top_k(assigned, centroids, queries).collect()
        if r["rank"] == 1
    }
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_top_k(df, queries, k=1).collect()
        if r["rank"] == 1
    }
    # partial probe: top-1 recall should be decent even on random data
    assert len(got & bf) >= int(0.6 * len(bf))


def test_stateful_running_wape_equals_batch(spark):
    out = run_stream_to_memory(
        running_zone_wape(read_events_stream(spark, SF)), output_mode="update"
    )
    # with AvailableNow the final update per zone covers all events
    final = {}
    for r in out.collect():
        prev = final.get(r["zone"])
        if prev is None or r["n_events"] > prev["n_events"]:
            final[r["zone"]] = r
    from mape_calculation_and_anonymization_spark.fixtures import load_events

    batch = {
        r["zone"]: r
        for r in load_events(spark, SF)
        .groupBy(F.col("event_type").alias("zone"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.abs(F.col("value") * 1.05 - F.col("value"))).alias("f_abs"),
            F.sum(F.abs(F.col("value"))).alias("s_abs"),
        )
        .collect()
    }
    assert set(final) == set(batch)
    for z in batch:
        assert final[z]["n_events"] == batch[z]["n"]
        assert final[z]["forecast_abs_error"] == pytest.approx(batch[z]["f_abs"])
        assert final[z]["forecast_wape"] == pytest.approx(
            batch[z]["f_abs"] / batch[z]["s_abs"]
        )
