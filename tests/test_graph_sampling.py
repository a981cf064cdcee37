"""Connected components, duplicate clustering, deterministic sampling,
and the new text-pipeline operators (PII redaction, repetition ratio,
document chunking)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mape_calculation_and_anonymization_spark.operators import graph, sampling
from mape_calculation_and_anonymization_spark.operators.graph import (
    connected_components,
    duplicate_clusters,
)
from mape_calculation_and_anonymization_spark.operators.sampling import (
    rate_to_hex_threshold,
    stratified_sample,
)
from mape_calculation_and_anonymization_spark.operators.text import (
    chunk_documents,
    ngram_repetition_ratio,
    redact_pii,
)


def test_connected_components_basic(spark):
    # two components: {1,2,3,4} (chain) and {10,11}; 99 isolated (absent)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    got = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_converges_on_long_chain(spark):
    # a 16-node chain needs several propagation rounds; min label must
    # still reach the far end (diameter > 1 round)
    n = 16
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["id_a", "id_b"]
    )
    got = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_connected_components_raises_on_non_convergence(spark, monkeypatch):
    # a 10-hop chain cannot converge in 3 min-propagation rounds; the
    # operator must refuse to return wrong labels silently
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], ["id_a", "id_b"]
    )
    monkeypatch.setattr(graph, "_CC_MAX_ITERATIONS", 3)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges)
    # the same graph with an adequate budget labels correctly
    monkeypatch.setattr(graph, "_CC_MAX_ITERATIONS", 12)
    got = {
        r["id"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert set(got.values()) == {0}


def test_duplicate_clusters_singletons_self(spark):
    docs = spark.createDataFrame([Row(doc_id=i) for i in range(6)])
    pairs = spark.createDataFrame([(0, 3), (3, 5)], ["id_a", "id_b"])
    got = {r["doc_id"]: r["cluster"] for r in duplicate_clusters(docs, pairs).collect()}
    assert got == {0: 0, 3: 0, 5: 0, 1: 1, 2: 2, 4: 4}


def test_rate_to_hex_threshold():
    assert rate_to_hex_threshold(0.0) == "0000"
    assert rate_to_hex_threshold(0.25) == "4000"
    assert rate_to_hex_threshold(1.0) == "10000"  # above every 4-hex prefix
    with pytest.raises(ValueError):
        rate_to_hex_threshold(1.5)


def test_hash_split_total_disjoint_stable(spark):
    from mape_calculation_and_anonymization_spark.operators.sampling import hash_split

    df = spark.range(20000).withColumnRenamed("id", "k")
    out = df.withColumn("split", hash_split("k"))
    counts = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    # total: every row lands in exactly one band
    assert sum(counts.values()) == 20000
    assert abs(counts["train"] / 20000 - 0.8) < 0.02
    assert abs(counts["val"] / 20000 - 0.1) < 0.01
    assert abs(counts["test"] / 20000 - 0.1) < 0.01
    # stable across evaluations
    first = {r["k"]: r["split"] for r in out.collect()}
    again = {r["k"]: r["split"] for r in out.collect()}
    assert first == again


def test_stratified_sample_rates(spark):
    df = (
        spark.range(30000)
        .withColumnRenamed("id", "doc_id")
        .withColumn("lang", F.when(F.col("doc_id") % 2 == 0, "en").otherwise("de"))
    )
    out = stratified_sample(df)
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert abs(counts["en"] / 15000 - 0.6) < 0.03
    assert abs(counts["de"] / 15000 - 0.25) < 0.03
    # unknown strata keep the default 5%
    df2 = df.withColumn("lang", F.lit("fr"))
    assert abs(stratified_sample(df2).count() / 30000 - 0.05) < 0.01


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [
            Row(dirty="mail bob.smith+x@corp.example.com now"),
            Row(dirty="ssn 123-45-6789 phone 415-555-1234 done"),
            Row(dirty="server at 192.168.1.250 port"),
            Row(dirty="call (415) 555-0199 or +1 415.555.0123"),
            Row(dirty="clean text stays untouched"),
        ]
    )
    got = [r["r"] for r in df.select(redact_pii().alias("r")).collect()]
    assert got[0] == "mail <EMAIL> now"
    assert got[1] == "ssn <SSN> phone <PHONE> done"
    assert got[2] == "server at <IP> port"
    assert got[3] == "call <PHONE> or <PHONE>"
    assert got[4] == "clean text stays untouched"


def test_ngram_repetition_ratio(spark):
    df = spark.createDataFrame(
        [
            Row(t="a b c a b c a b c"),  # 7 trigrams, 3 distinct
            Row(t="all distinct words here now"),
            Row(t="too short"),
        ]
    )
    got = [
        round(r["r"], 6)
        for r in df.select(ngram_repetition_ratio("t").alias("r")).collect()
    ]
    assert got[0] == round(1 - 3 / 7, 6)
    assert got[1] == 0.0
    assert got[2] == 0.0


def test_chunk_documents(spark, monkeypatch):
    from mape_calculation_and_anonymization_spark.operators import text as text_ops

    monkeypatch.setattr(text_ops, "_CHUNK_TOKENS", 4)
    monkeypatch.setattr(text_ops, "_CHUNK_OVERLAP", 2)
    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([Row(doc_id=1, text=text)])
    out = chunk_documents(df).collect()
    # starts at 0,2,4,6,8 → 5 chunks; last chunks shorter
    assert [r["chunk_idx"] for r in out] == [0, 1, 2, 3, 4]
    assert out[0]["chunk_text"] == "w0 w1 w2 w3"
    assert out[1]["chunk_text"] == "w2 w3 w4 w5"
    assert out[4]["chunk_text"] == "w8 w9"
    assert out[4]["n_tokens"] == 2
    # every token position is covered
    covered = set()
    for r in out:
        covered.update(r["chunk_text"].split(" "))
    assert covered == set(text.split(" "))


def test_fill_hourly_gaps_forward_fills(spark):
    import datetime

    from mape_calculation_and_anonymization_spark.operators.timeseries import (
        fill_hourly_gaps,
    )

    t0 = datetime.datetime(2024, 1, 1, 0)
    rows = [
        ("a", t0, 1.0),
        ("a", t0 + datetime.timedelta(hours=3), 4.0),  # hours 1,2 missing
        ("b", t0 + datetime.timedelta(hours=1), 7.0),  # single point
    ]
    hourly = spark.createDataFrame(rows, ["zone", "hour_ts", "settlement"])
    got = {
        (r["zone"], r["hour_ts"].hour): (r["settlement"], r["was_gap"])
        for r in fill_hourly_gaps(hourly).collect()
    }
    assert got == {
        ("a", 0): (1.0, False),
        ("a", 1): (1.0, True),
        ("a", 2): (1.0, True),
        ("a", 3): (4.0, False),
        ("b", 1): (7.0, False),
    }


def test_pagerank_matches_numpy_power_iteration(spark, monkeypatch):
    import numpy as np

    from mape_calculation_and_anonymization_spark.operators.graph import pagerank

    # path graph 0-1-2-3 plus a hub 4 connected to all
    edges = [(0, 1), (1, 2), (2, 3), (4, 0), (4, 1), (4, 2), (4, 3)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    monkeypatch.setattr(graph, "_PAGERANK_ITERATIONS", 15)
    got = {r["id"]: r["rank"] for r in pagerank(df).collect()}

    # numpy reference: identical undirected semantics, same iterations
    n, d = 5, 0.85
    adj = np.zeros((n, n))
    for a, b in edges:
        adj[a, b] = adj[b, a] = 1
    deg = adj.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(15):
        r = (1 - d) / n + d * (adj.T @ (r / deg))
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-9, (i, got[i], r[i])
    # the hub dominates
    assert max(got, key=got.get) == 4
    assert abs(sum(got.values()) - 1.0) < 1e-6

    import pytest

    monkeypatch.setattr(graph, "_PAGERANK_CHECKPOINT_EVERY", 0)
    with pytest.raises(ValueError):
        pagerank(df)


def test_pagerank_checkpoint_cadence_is_value_invariant(spark, monkeypatch):
    """The checkpoint cadence only trades lineage depth for
    materialization jobs — it must never change a rank, including when
    the iteration count is not a multiple of the cadence."""
    from mape_calculation_and_anonymization_spark.operators.graph import pagerank

    edges = [(0, 1), (1, 2), (2, 3), (4, 0), (4, 1), (4, 2), (4, 3)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    monkeypatch.setattr(graph, "_PAGERANK_ITERATIONS", 7)
    monkeypatch.setattr(graph, "_PAGERANK_CHECKPOINT_EVERY", 1)
    per_round = {
        r["id"]: r["rank"]
        for r in pagerank(df).collect()
    }
    monkeypatch.setattr(graph, "_PAGERANK_CHECKPOINT_EVERY", 3)
    batched = {
        r["id"]: r["rank"]
        for r in pagerank(df).collect()
    }
    assert per_round.keys() == batched.keys()
    for i in per_round:
        assert abs(per_round[i] - batched[i]) < 1e-12


def test_pagerank_empty_graph(spark):
    from mape_calculation_and_anonymization_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = pagerank(empty)
    assert out.count() == 0
    assert out.columns == ["id", "rank"]


def test_pagerank_releases_cache_when_iteration_fails(spark, monkeypatch):
    """An exception mid-loop must not leave the weighted edge cache in
    the caller's session."""
    from mape_calculation_and_anonymization_spark.operators.graph import pagerank

    df = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], ["id_a", "id_b"])
    spark.catalog.clearCache()
    cls = type(df)
    real = cls.localCheckpoint
    calls = []

    def flaky(self, *a, **k):
        calls.append(1)
        # calls 1-3: sym, deg, round-1 ranks; round 2 fails
        if len(calls) == 4:
            raise RuntimeError("injected checkpoint failure")
        return real(self, *a, **k)

    monkeypatch.setattr(cls, "localCheckpoint", flaky)
    monkeypatch.setattr(graph, "_PAGERANK_CHECKPOINT_EVERY", 1)
    with pytest.raises(RuntimeError, match="injected"):
        pagerank(df)
    assert len(calls) == 4
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cooccurrence_edges_uncapped_matches_bruteforce(spark):
    from itertools import combinations

    from mape_calculation_and_anonymization_spark.operators.graph import (
        cooccurrence_edges,
    )

    rows = [
        (1, "a", 0), (2, "a", 0), (3, "a", 0),          # triangle bucket
        (4, "a", 1), (5, "a", 1),                        # one edge
        (6, "b", 0),                                     # singleton bucket
        (1, "b", 1), (5, "b", 1),                        # cross-bucket edge
        (2, "a", 0),                                     # duplicate row: no dup edge
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "m"])
    got = {
        (r["u"], r["v"])
        for r in cooccurrence_edges(df).collect()
    }
    want = set()
    buckets = {}
    for uid, t, m in rows:
        buckets.setdefault((t, m), set()).add(uid)
    for ids in buckets.values():
        want |= {tuple(sorted(p)) for p in combinations(ids, 2)}
    assert got == want


def test_cooccurrence_edges_hot_bucket_cap(spark, caplog, monkeypatch):
    import logging

    from mape_calculation_and_anonymization_spark.operators.graph import (
        cooccurrence_edges,
    )

    # one viral bucket (8 users) + one normal bucket (2 users): with
    # max_bucket_size=4 the hot bucket's 28 quadratic pairs must be
    # dropped BEFORE expansion, the normal edge survives, and the drop
    # is logged (no-silent-caps)
    rows = [(i, "viral", 0) for i in range(8)] + [(100, "a", 1), (101, "a", 1)]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "m"])
    monkeypatch.setattr(graph, "_COOCCURRENCE_MAX_BUCKET", 4)
    with caplog.at_level(
        logging.WARNING, logger="mape_calculation_and_anonymization_spark.operators.graph"
    ):
        got = {
            (r["u"], r["v"])
            for r in cooccurrence_edges(df).collect()
        }
    assert got == {(100, 101)}
    assert any("dropped 1 hot bucket" in m for m in caplog.messages)
    # a cap ABOVE every bucket is a no-op and logs nothing
    caplog.clear()
    monkeypatch.setattr(graph, "_COOCCURRENCE_MAX_BUCKET", 100)
    full = cooccurrence_edges(df)
    assert full.count() == 28 + 1
    assert not caplog.messages


def test_hash_uniform_is_portable_and_uniform(spark, monkeypatch):
    """u must be exactly re-derivable in DuckDB (the oracle contract)
    and roughly uniform."""
    import duckdb

    from mape_calculation_and_anonymization_spark.operators.sampling import (
        hash_uniform,
    )

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    monkeypatch.setattr(sampling, "_UNIFORM_SALT", "t")
    got = {
        r["doc_id"]: r["u"]
        for r in df.select("doc_id", hash_uniform().alias("u")).collect()
    }
    want = {
        int(i): u
        for i, u in duckdb.sql(
            "SELECT i, CAST(concat('0x', substr(md5(concat('t:', CAST(i AS VARCHAR))), 1, 12)) AS BIGINT)"
            " / 281474976710656.0 AS u FROM range(2000) t(i)"
        ).fetchall()
    }
    assert got == want  # bit-identical, not approximately equal
    mean = sum(got.values()) / len(got)
    assert 0.45 < mean < 0.55


def test_pps_sample_expected_size_and_determinism(spark):
    from mape_calculation_and_anonymization_spark.operators.sampling import (
        pps_sample,
    )

    docs = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 100 + 1).alias("n_chars"),
    )
    s1 = pps_sample(docs)
    ids1 = sorted(r["doc_id"] for r in s1.collect())
    ids2 = sorted(r["doc_id"] for r in pps_sample(docs).collect())
    assert ids1 == ids2  # content-stable: identical sample on re-run
    assert 350 < len(ids1) < 650  # ~500 expected
    # high-weight rows must be overrepresented vs low-weight rows
    hi = sum(1 for i in ids1 if i % 100 >= 50)
    lo = sum(1 for i in ids1 if i % 100 < 50)
    assert hi > lo * 1.5
    # inclusion probabilities are exposed and within (0, 1]
    ps = [r["incl_p"] for r in s1.collect()]
    assert all(0 < p <= 1.0 for p in ps)


def test_mixture_weights_temperature_semantics(spark, monkeypatch):
    from mape_calculation_and_anonymization_spark.operators.sampling import (
        mixture_weights,
    )

    rows = [("big",)] * 900 + [("small",)] * 100
    df = spark.createDataFrame(rows, "source string")
    monkeypatch.setattr(sampling, "_MIXTURE_ALPHA", 0.5)
    w = {r["source"]: r for r in mixture_weights(df).collect()}
    assert w["big"]["raw_share"] == 0.9
    # alpha<1 upsamples the tail: small's weight > raw share, boost > 1
    assert w["small"]["weight"] > 0.1 and w["small"]["boost"] > 1.0
    assert abs(w["big"]["weight"] + w["small"]["weight"] - 1.0) < 1e-5
    # alpha=1 keeps raw shares exactly
    monkeypatch.setattr(sampling, "_MIXTURE_ALPHA", 1.0)
    w1 = {r["source"]: r for r in mixture_weights(df).collect()}
    assert w1["big"]["weight"] == 0.9 and w1["big"]["boost"] == 1.0
    # alpha=0 is uniform
    monkeypatch.setattr(sampling, "_MIXTURE_ALPHA", 0.0)
    w0 = {r["source"]: r for r in mixture_weights(df).collect()}
    assert w0["big"]["weight"] == 0.5 and w0["small"]["weight"] == 0.5


def test_pps_sample_null_weights_excluded(spark):
    """NULL-weight rows are excluded outright — F.least(1.0, NULL)
    would otherwise keep them at incl_p = 1.0 while they are
    invisible to the weight total."""
    from mape_calculation_and_anonymization_spark.operators.sampling import (
        pps_sample,
    )

    docs = spark.createDataFrame(
        [(1, 10), (2, None), (3, 10)], "doc_id long, n_chars long"
    )
    got = pps_sample(docs).collect()
    assert all(r["doc_id"] != 2 for r in got)
    assert all(r["incl_p"] == 1.0 for r in got)  # k >= population
    assert sorted(r["doc_id"] for r in got) == [1, 3]


def test_shuffle_manifest_is_exact_global_hash_order(spark, monkeypatch):
    """shuffle_rank must equal the GLOBAL row_number over salted-md5
    order — for 256 shards AND for a non-power split (the monotone
    floor-scaled bucketing; a modulo shard would interleave)."""
    import duckdb

    from mape_calculation_and_anonymization_spark.operators.sampling import (
        shuffle_manifest,
    )

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    want = {
        int(i): int(rk)
        for i, rk in duckdb.sql(
            "SELECT i, ROW_NUMBER() OVER (ORDER BY md5(concat('shuffle:', "
            "CAST(i AS VARCHAR))), i) - 1 FROM range(2000) t(i)"
        ).fetchall()
    }
    for shards in (7, 256):
        monkeypatch.setattr(sampling, "_SHUFFLE_SHARDS", shards)
        got = {
            r["doc_id"]: r["shuffle_rank"]
            for r in shuffle_manifest(df).collect()
        }
        assert got == want, f"n_shards={shards}"
    # dense 0..n-1, content-stable under a different salt only
    assert sorted(want.values()) == list(range(2000))
    # NULL keys are excluded and never shift the surviving ranks
    with_null = spark.createDataFrame(
        [(i,) for i in range(50)] + [(None,)], "doc_id long"
    )
    g2 = {
        r["doc_id"]: r["shuffle_rank"]
        for r in shuffle_manifest(with_null).collect()
    }
    assert None not in g2 and len(g2) == 50
    assert sorted(g2.values()) == list(range(50))  # still dense from 0


def test_token_budget_allocation_caps_and_sums(spark, monkeypatch):
    from mape_calculation_and_anonymization_spark.operators.sampling import (
        token_budget_allocation,
    )

    docs = spark.createDataFrame(
        [("a", 100), ("b", 900)], "source string, n_chars long"
    )
    # budget=499 (NOT 500): with shares (.1,.9) and alpha=0.5 the
    # weights are exactly .25/.75, and 500·0.75 = 375.0 sits EXACTLY
    # on the floor boundary — a 1-ulp pow() difference would flip the
    # assertion. 499 keeps ~0.25 of real margin on both sides.
    monkeypatch.setattr(sampling, "_TOKEN_BUDGET", 499)
    monkeypatch.setattr(sampling, "_MIXTURE_ALPHA", 0.5)
    got = {r["source"]: r for r in token_budget_allocation(docs).collect()}
    # raw plans 124.75/374.25; 'a' only HAS 100 tokens → capped
    assert got["a"]["planned_tokens"] == 100
    assert got["a"]["sampling_rate"] == 1.0
    assert got["b"]["planned_tokens"] == 374
    assert 0 < got["b"]["sampling_rate"] < 1


def test_token_budget_repetition_regimes(spark, monkeypatch):
    """Over-budget groups repeat up to the epoch ceiling; the deficit
    accounts for what the ceiling refused."""
    from mape_calculation_and_anonymization_spark.operators.sampling import (
        token_budget_repetition,
    )

    docs = spark.createDataFrame(
        [("a", 100), ("b", 900)], "lang string, n_chars long"
    )
    # budget 1.999 × the 1000 tokens (same off-boundary discipline as
    # the sibling test): weights .25/.75 at alpha=.5 → targets
    # 499.75/1499.25; 'a' wants ~5 epochs of its 100 tokens → clipped
    # at 3; 'b' wants ~1.67 → under the ceiling, fully placed
    monkeypatch.setattr(sampling, "_REPETITION_BUDGET_MULTIPLE", 1.999)
    monkeypatch.setattr(sampling, "_REPETITION_MAX_EPOCHS", 3.0)
    got = {r["lang"]: r for r in token_budget_repetition(docs).collect()}
    assert got["a"]["target_tokens"] == 499
    assert got["a"]["planned_tokens"] == 300
    assert got["a"]["epochs"] == 3.0
    assert got["a"]["deficit_tokens"] == 199
    assert got["b"]["planned_tokens"] == got["b"]["target_tokens"] == 1499
    assert 1 < got["b"]["epochs"] < 2
    assert got["b"]["deficit_tokens"] == 0


def test_token_budget_repetition_one_epoch_matches_allocation(spark, monkeypatch):
    """The property the VERDICT r11 item-5 mandate pins: with
    max_epochs=1.0 (budget ≤ what exists, no repetition allowed) the
    repetition plan is EXACTLY token_budget_allocation's — same
    planned_tokens, and epochs == sampling_rate."""
    from mape_calculation_and_anonymization_spark.operators.sampling import (
        token_budget_allocation,
        token_budget_repetition,
    )

    docs = spark.createDataFrame(
        [("a", 317), ("b", 911), ("c", 53), ("d", 4096)],
        "source string, n_chars long",
    ).withColumn("lang", F.col("source"))
    # half the 5377 tokens: 0.5 · 5377 = 2688.5 exactly, so both plans
    # multiply the same budget into the same weights (the repetition
    # plan's temperature is 0.5)
    monkeypatch.setattr(sampling, "_TOKEN_BUDGET", 2688.5)
    monkeypatch.setattr(sampling, "_MIXTURE_ALPHA", 0.5)
    monkeypatch.setattr(sampling, "_REPETITION_BUDGET_MULTIPLE", 0.5)
    monkeypatch.setattr(sampling, "_REPETITION_MAX_EPOCHS", 1.0)
    base = {r["source"]: r for r in token_budget_allocation(docs).collect()}
    rep = {r["lang"]: r for r in token_budget_repetition(docs).collect()}
    assert set(base) == set(rep)
    for k in base:
        assert rep[k]["planned_tokens"] == base[k]["planned_tokens"], k
        assert rep[k]["epochs"] == base[k]["sampling_rate"], k
        assert rep[k]["raw_share"] == base[k]["raw_share"], k
        assert rep[k]["weight"] == base[k]["weight"], k
        assert rep[k]["deficit_tokens"] >= 0


def test_leakage_safe_split_guarantee(spark):
    """THE property: zero verified near-dup pairs straddle a split
    boundary (every planted twin lands with its original), while the
    doc-keyed split demonstrably leaks on the same corpus — the
    failure mode this operator exists to close. Proportions stay
    near 80/10/10 at cluster granularity."""
    import os

    import __spark_entry__ as e
    from mape_calculation_and_anonymization_spark.operators.sampling import (
        hash_split,
    )

    sf = e.SF0001

    split = {
        r["doc_id"]: r["split"]
        for r in e._q_leakage_safe_split(spark, sf).collect()
    }
    pairs = spark.read.parquet(
        os.path.join(e._jaccard_index(spark, sf), "pairs")
    ).collect()
    assert pairs  # the planted twins guarantee a non-empty pair set
    straddling = [
        (p["id_a"], p["id_b"])
        for p in pairs
        if split[p["id_a"]] != split[p["id_b"]]
    ]
    assert straddling == []
    # the naive doc-keyed split DOES leak on this corpus
    corpus = spark.createDataFrame(
        [(i,) for i in split], ["doc_id"]
    ).withColumn(
        "split",
        hash_split("doc_id"),
    )
    naive = {r["doc_id"]: r["split"] for r in corpus.collect()}
    naive_straddling = [
        p for p in pairs if naive[p["id_a"]] != naive[p["id_b"]]
    ]
    assert naive_straddling  # the mode being closed is real here
    # proportions: cluster-granular, so looser than the doc split
    from collections import Counter

    frac = Counter(split.values())
    n = len(split)
    assert 0.7 <= frac["train"] / n <= 0.9
    assert 0.04 <= frac["val"] / n <= 0.16
    assert 0.04 <= frac["test"] / n <= 0.16
