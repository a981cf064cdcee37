"""Connected components, duplicate clustering, deterministic sampling,
and the new text-pipeline operators (PII redaction, repetition ratio,
document chunking)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mape_calculation_and_anonymization_spark.operators.graph import (
    connected_components,
    duplicate_clusters,
)
from mape_calculation_and_anonymization_spark.operators.sampling import (
    hash_sample_predicate,
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


def test_connected_components_raises_on_non_convergence(spark):
    # a 10-hop chain cannot converge in 3 min-propagation rounds; the
    # operator must refuse to return wrong labels silently
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iterations=3)
    # the same graph with an adequate budget labels correctly
    got = {
        r["id"]: r["component"]
        for r in connected_components(edges, max_iterations=12).collect()
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


def test_hash_sample_deterministic_and_unbiased(spark):
    df = spark.range(20000).withColumnRenamed("id", "k")
    kept = df.filter(hash_sample_predicate("k", 0.25)).count()
    kept2 = df.filter(hash_sample_predicate("k", 0.25)).count()
    assert kept == kept2  # content-stable, not rand()
    assert abs(kept / 20000 - 0.25) < 0.02

    # nested rates: a row sampled at 10% is always in the 50% sample
    s10 = set(
        r["k"] for r in df.filter(hash_sample_predicate("k", 0.10)).collect()
    )
    s50 = set(
        r["k"] for r in df.filter(hash_sample_predicate("k", 0.50)).collect()
    )
    assert s10 <= s50


def test_hash_split_total_disjoint_stable(spark):
    from mape_calculation_and_anonymization_spark.operators.sampling import hash_split

    df = spark.range(20000).withColumnRenamed("id", "k")
    out = df.withColumn(
        "split", hash_split("k", {"train": 0.8, "val": 0.1, "test": 0.1})
    )
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

    with pytest.raises(ValueError):
        hash_split("k", {"train": 0.8, "val": 0.1})  # doesn't sum to 1

    # single-band degenerate case assigns everything to that band
    one = df.withColumn("split", hash_split("k", {"all": 1.0}))
    assert one.filter(F.col("split") == "all").count() == 20000


def test_stratified_sample_rates(spark):
    df = (
        spark.range(30000)
        .withColumnRenamed("id", "k")
        .withColumn("lang", F.when(F.col("k") % 2 == 0, "en").otherwise("de"))
    )
    out = stratified_sample(df, "k", "lang", {"en": 0.5, "de": 0.1})
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert abs(counts["en"] / 15000 - 0.5) < 0.03
    assert abs(counts["de"] / 15000 - 0.1) < 0.03
    # default rate 0 drops unknown strata entirely
    df2 = df.withColumn("lang", F.lit("fr"))
    assert stratified_sample(df2, "k", "lang", {"en": 0.5}).count() == 0


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [
            Row(t="mail bob.smith+x@corp.example.com now"),
            Row(t="ssn 123-45-6789 phone 415-555-1234 done"),
            Row(t="server at 192.168.1.250 port"),
            Row(t="call (415) 555-0199 or +1 415.555.0123"),
            Row(t="clean text stays untouched"),
        ]
    )
    got = [r["r"] for r in df.select(redact_pii("t").alias("r")).collect()]
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
        for r in df.select(ngram_repetition_ratio("t", 3).alias("r")).collect()
    ]
    assert got[0] == round(1 - 3 / 7, 6)
    assert got[1] == 0.0
    assert got[2] == 0.0


def test_chunk_documents(spark):
    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([Row(doc_id=1, text=text)])
    out = chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=2).collect()
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
    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=4)


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
        for r in fill_hourly_gaps(hourly, key_col="zone").collect()
    }
    assert got == {
        ("a", 0): (1.0, False),
        ("a", 1): (1.0, True),
        ("a", 2): (1.0, True),
        ("a", 3): (4.0, False),
        ("b", 1): (7.0, False),
    }


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from mape_calculation_and_anonymization_spark.operators.graph import pagerank

    # path graph 0-1-2-3 plus a hub 4 connected to all
    edges = [(0, 1), (1, 2), (2, 3), (4, 0), (4, 1), (4, 2), (4, 3)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["id"]: r["rank"] for r in pagerank(df, iterations=15).collect()}

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

    with pytest.raises(ValueError):
        pagerank(df, iterations=0)
    with pytest.raises(ValueError):
        pagerank(df, checkpoint_every=0)


def test_pagerank_checkpoint_cadence_is_value_invariant(spark):
    """checkpoint_every only trades lineage depth for materialization
    jobs — it must never change a rank, including when the iteration
    count is not a multiple of the cadence."""
    from mape_calculation_and_anonymization_spark.operators.graph import pagerank

    edges = [(0, 1), (1, 2), (2, 3), (4, 0), (4, 1), (4, 2), (4, 3)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    per_round = {
        r["id"]: r["rank"]
        for r in pagerank(df, iterations=7, checkpoint_every=1).collect()
    }
    batched = {
        r["id"]: r["rank"]
        for r in pagerank(df, iterations=7, checkpoint_every=3).collect()
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
    with pytest.raises(RuntimeError, match="injected"):
        pagerank(df, iterations=5, checkpoint_every=1)
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
    df = spark.createDataFrame(rows, ["user_id", "t", "m"])
    got = {
        (r["u"], r["v"])
        for r in cooccurrence_edges(df, "user_id", ["t", "m"]).collect()
    }
    want = set()
    buckets = {}
    for uid, t, m in rows:
        buckets.setdefault((t, m), set()).add(uid)
    for ids in buckets.values():
        want |= {tuple(sorted(p)) for p in combinations(ids, 2)}
    assert got == want


def test_cooccurrence_edges_hot_bucket_cap(spark, caplog):
    import logging

    from mape_calculation_and_anonymization_spark.operators.graph import (
        cooccurrence_edges,
    )

    # one viral bucket (8 users) + one normal bucket (2 users): with
    # max_bucket_size=4 the hot bucket's 28 quadratic pairs must be
    # dropped BEFORE expansion, the normal edge survives, and the drop
    # is logged (no-silent-caps)
    rows = [(i, "viral", 0) for i in range(8)] + [(100, "a", 1), (101, "a", 1)]
    df = spark.createDataFrame(rows, ["user_id", "t", "m"])
    with caplog.at_level(
        logging.WARNING, logger="mape_calculation_and_anonymization_spark.operators.graph"
    ):
        got = {
            (r["u"], r["v"])
            for r in cooccurrence_edges(
                df, "user_id", ["t", "m"], max_bucket_size=4
            ).collect()
        }
    assert got == {(100, 101)}
    assert any("dropped 1 hot bucket" in m for m in caplog.messages)
    # a cap ABOVE every bucket is a no-op and logs nothing
    caplog.clear()
    full = cooccurrence_edges(df, "user_id", ["t", "m"], max_bucket_size=100)
    assert full.count() == 28 + 1
    assert not caplog.messages


def test_hash_uniform_is_portable_and_uniform(spark):
    """u must be exactly re-derivable in DuckDB (the oracle contract)
    and roughly uniform."""
    import duckdb

    from mape_calculation_and_anonymization_spark.operators.sampling import (
        hash_uniform,
    )

    df = spark.range(2000).select(F.col("id"))
    got = {
        r["id"]: r["u"]
        for r in df.select("id", hash_uniform("id", "t").alias("u")).collect()
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
        (F.col("id") % 100 + 1).alias("w"),
    )
    s1 = pps_sample(docs, "doc_id", "w", expected_k=500)
    ids1 = sorted(r["doc_id"] for r in s1.collect())
    ids2 = sorted(r["doc_id"] for r in pps_sample(docs, "doc_id", "w", 500).collect())
    assert ids1 == ids2  # content-stable: identical sample on re-run
    assert 350 < len(ids1) < 650  # ~500 expected
    # high-weight rows must be overrepresented vs low-weight rows
    hi = sum(1 for i in ids1 if i % 100 >= 50)
    lo = sum(1 for i in ids1 if i % 100 < 50)
    assert hi > lo * 1.5
    # inclusion probabilities are exposed and within (0, 1]
    ps = [r["incl_p"] for r in s1.collect()]
    assert all(0 < p <= 1.0 for p in ps)


def test_mixture_weights_temperature_semantics(spark):
    from mape_calculation_and_anonymization_spark.operators.sampling import (
        mixture_weights,
    )

    rows = [("big",)] * 900 + [("small",)] * 100
    df = spark.createDataFrame(rows, "src string")
    w = {
        r["src"]: r
        for r in mixture_weights(df, "src", alpha=0.5).collect()
    }
    assert w["big"]["raw_share"] == 0.9
    # alpha<1 upsamples the tail: small's weight > raw share, boost > 1
    assert w["small"]["weight"] > 0.1 and w["small"]["boost"] > 1.0
    assert abs(w["big"]["weight"] + w["small"]["weight"] - 1.0) < 1e-5
    # alpha=1 keeps raw shares exactly
    w1 = {r["src"]: r for r in mixture_weights(df, "src", alpha=1.0).collect()}
    assert w1["big"]["weight"] == 0.9 and w1["big"]["boost"] == 1.0
    # alpha=0 is uniform
    w0 = {r["src"]: r for r in mixture_weights(df, "src", alpha=0.0).collect()}
    assert w0["big"]["weight"] == 0.5 and w0["small"]["weight"] == 0.5


def test_pps_sample_null_weights_excluded(spark):
    """NULL-weight rows are excluded outright — F.least(1.0, NULL)
    would otherwise keep them at incl_p = 1.0 while they are
    invisible to the weight total."""
    from mape_calculation_and_anonymization_spark.operators.sampling import (
        pps_sample,
    )

    docs = spark.createDataFrame(
        [(1, 10), (2, None), (3, 10)], "doc_id long, w long"
    )
    got = pps_sample(docs, "doc_id", "w", expected_k=10).collect()
    assert all(r["doc_id"] != 2 for r in got)
    assert all(r["incl_p"] == 1.0 for r in got)  # k >= population
    assert sorted(r["doc_id"] for r in got) == [1, 3]


def test_shuffle_manifest_is_exact_global_hash_order(spark):
    """shuffle_rank must equal the GLOBAL row_number over salted-md5
    order — for n_shards=256 AND for a non-power split (the monotone
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
    for shards in (256, 7):
        got = {
            r["doc_id"]: r["shuffle_rank"]
            for r in shuffle_manifest(df, "doc_id", n_shards=shards).collect()
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
        for r in shuffle_manifest(with_null, "doc_id").collect()
    }
    assert None not in g2 and len(g2) == 50
    assert sorted(g2.values()) == list(range(50))  # still dense from 0


def test_token_budget_allocation_caps_and_sums(spark):
    from mape_calculation_and_anonymization_spark.operators.sampling import (
        token_budget_allocation,
    )

    docs = spark.createDataFrame(
        [("a", 100), ("b", 900)], "src string, toks long"
    )
    # budget=499 (NOT 500): with shares (.1,.9) and alpha=0.5 the
    # weights are exactly .25/.75, and 500·0.75 = 375.0 sits EXACTLY
    # on the floor boundary — a 1-ulp pow() difference would flip the
    # assertion. 499 keeps ~0.25 of real margin on both sides.
    got = {
        r["src"]: r
        for r in token_budget_allocation(
            docs, "src", "toks", budget_tokens=499, alpha=0.5
        ).collect()
    }
    # raw plans 124.75/374.25; 'a' only HAS 100 tokens → capped
    assert got["a"]["planned_tokens"] == 100
    assert got["a"]["sampling_rate"] == 1.0
    assert got["b"]["planned_tokens"] == 374
    assert 0 < got["b"]["sampling_rate"] < 1


def test_token_budget_repetition_regimes(spark):
    """Over-budget groups repeat up to the epoch ceiling; the deficit
    accounts for what the ceiling refused; param validation bites."""
    import pytest

    from mape_calculation_and_anonymization_spark.operators.sampling import (
        token_budget_repetition,
    )

    docs = spark.createDataFrame(
        [("a", 100), ("b", 900)], "src string, toks long"
    )
    # budget 1999 (same off-boundary discipline as the sibling test):
    # weights .25/.75 at alpha=.5 → targets 499.75/1499.25; 'a' wants
    # ~5 epochs of its 100 tokens → clipped at 3; 'b' wants ~1.67 →
    # under the ceiling, fully placed
    got = {
        r["src"]: r
        for r in token_budget_repetition(
            docs, "src", "toks", budget_tokens=1999, alpha=0.5,
            max_epochs=3.0,
        ).collect()
    }
    assert got["a"]["target_tokens"] == 499
    assert got["a"]["planned_tokens"] == 300
    assert got["a"]["epochs"] == 3.0
    assert got["a"]["deficit_tokens"] == 199
    assert got["b"]["planned_tokens"] == got["b"]["target_tokens"] == 1499
    assert 1 < got["b"]["epochs"] < 2
    assert got["b"]["deficit_tokens"] == 0
    with pytest.raises(ValueError):
        token_budget_repetition(docs, "src", "toks")
    with pytest.raises(ValueError):
        token_budget_repetition(
            docs, "src", "toks", budget_tokens=10, budget_multiple=1.0
        )
    with pytest.raises(ValueError):
        token_budget_repetition(
            docs, "src", "toks", budget_tokens=10, max_epochs=0
        )


def test_token_budget_repetition_one_epoch_matches_allocation(spark):
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
        "src string, toks long",
    )
    base = {
        r["src"]: r
        for r in token_budget_allocation(
            docs, "src", "toks", budget_tokens=2000, alpha=0.7
        ).collect()
    }
    rep = {
        r["src"]: r
        for r in token_budget_repetition(
            docs, "src", "toks", budget_tokens=2000, alpha=0.7,
            max_epochs=1.0,
        ).collect()
    }
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
        hash_split("doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}),
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
