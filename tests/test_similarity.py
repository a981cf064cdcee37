"""Similarity search: exact baseline vs numpy ground truth; LSH
recall against the exact baseline."""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from mape_calculation_and_anonymization_spark.operators.similarity import (
    brute_force_top_k,
    cosine,
    dot,
    embedding_near_duplicates,
    lsh_top_k,
)

DIM = 16


def _vectors(n=80, seed=3, planted_pairs=5):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, DIM)).astype(np.float32)
    # plant near-duplicates: small perturbations of earlier vectors
    for i in range(planted_pairs):
        vecs[n - 1 - i] = vecs[i] + rng.normal(scale=0.01, size=DIM).astype(np.float32)
    return [(i, [float(x) for x in vecs[i]]) for i in range(n)]


def _np_cosine_matrix(rows):
    m = np.array([v for _, v in rows], dtype=np.float64)
    norms = np.linalg.norm(m, axis=1)
    return (m @ m.T) / np.outer(norms, norms)


def test_dot_and_cosine(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], ["a", "b"])
    row = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        cosine(F.col("a"), F.col("a")).alias("self"),
    ).collect()[0]
    assert row["d"] == pytest.approx(32.0)
    assert row["self"] == pytest.approx(1.0)


def test_brute_force_matches_numpy(spark):
    rows = _vectors()
    sims = _np_cosine_matrix(rows)
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id") < 5)
    got = brute_force_top_k(df, queries, k=3).collect()
    by_query = {}
    for r in got:
        by_query.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cosine_sim"]))
    for qid, items in by_query.items():
        items.sort()
        expect = sorted(
            ((round(sims[qid][j], 6), j) for j in range(len(rows)) if j != qid),
            key=lambda t: (-t[0], t[1]),
        )[:3]
        assert [(n, s) for _, n, s in items] == [(j, pytest.approx(s)) for s, j in expect]


def test_lsh_recall_on_planted_neighbors(spark):
    rows = _vectors()
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    n = len(rows)
    # queries = the originals of the planted twins
    queries = df.filter(F.col("vec_id") < 5)
    got = lsh_top_k(df, queries, dim=DIM, k=1, n_bits=6, n_tables=8)
    top1 = {r["query_id"]: r["neighbor_id"] for r in got.filter(F.col("rank") == 1).collect()}
    for i in range(5):
        assert top1[i] == n - 1 - i  # its planted twin


def test_embedding_near_duplicates(spark):
    rows = _vectors()
    n = len(rows)
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(df, threshold=0.95).collect()
    }
    planted = {(i, n - 1 - i) for i in range(5)}
    assert planted <= pairs
    # random gaussian vectors in 16-d essentially never hit 0.95 cosine
    assert pairs == planted


def test_pq_codebooks_deterministic_and_codes_valid(spark):
    import numpy as np

    from mape_calculation_and_anonymization_spark.fixtures import load_table
    from mape_calculation_and_anonymization_spark.operators.pq import (
        encode_pq,
        train_pq_codebooks,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    cb = train_pq_codebooks(emb, m=8, k=16)
    assert cb.shape == (8, 16, 8)
    assert np.array_equal(cb, train_pq_codebooks(emb, m=8, k=16))
    codes = encode_pq(emb, cb).collect()
    assert all(len(r["codes"]) == 8 for r in codes)
    assert all(0 <= c < 16 for r in codes for c in r["codes"])


def test_pq_recall_against_brute_force(spark):
    """ADC + exact re-rank recall on RANDOM vectors (PQ's adversarial
    case — no cluster structure to exploit): >=0.7 of brute-force
    top-10 at an 8x shortlist, and more shortlist must never hurt."""
    from pyspark.sql import functions as F

    from mape_calculation_and_anonymization_spark.fixtures import load_table
    from mape_calculation_and_anonymization_spark.operators.pq import (
        pq_top_k,
        train_pq_codebooks,
    )
    from mape_calculation_and_anonymization_spark.operators.similarity import (
        brute_force_top_k,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    cb = train_pq_codebooks(emb)
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_top_k(emb, queries, k=10).collect()
    }
    got8 = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_top_k(emb, queries, cb, k=10, shortlist_factor=8).collect()
    }
    got16 = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_top_k(emb, queries, cb, k=10, shortlist_factor=16).collect()
    }
    assert len(got8 & bf) / len(bf) >= 0.7
    assert len(got16 & bf) >= len(got8 & bf)


def test_pq_max_queries_guard(spark):
    """A corpus-sized query frame must fail loudly BEFORE the driver
    collects it to build ADC LUTs (operators/pq.py:_collect_query_batch
    — same discipline as max_bucket_size in the LSH paths)."""
    from mape_calculation_and_anonymization_spark.fixtures import load_table
    from mape_calculation_and_anonymization_spark.operators.pq import (
        pq_top_k,
        train_pq_codebooks,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cb = train_pq_codebooks(emb)
    with pytest.raises(ValueError, match="max_queries"):
        pq_top_k(emb, emb, cb, k=5, max_queries=10)


def test_ivf_pq_exhaustive_probe_equals_pq_only(spark):
    """With nprobe = n_clusters the coarse routing excludes nothing, so
    IVF+PQ must return the identical result set as the PQ-only path
    (same codebooks -> same approx distances -> same shortlist -> same
    exact re-rank); partial probing may only lose, never invent."""
    from pyspark.sql import functions as F

    from mape_calculation_and_anonymization_spark.fixtures import load_table
    from mape_calculation_and_anonymization_spark.operators.ivf import (
        build_ivf_index,
    )
    from mape_calculation_and_anonymization_spark.operators.pq import (
        ivf_pq_top_k,
        pq_top_k,
        train_pq_codebooks,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    assigned, centroids = build_ivf_index(emb, n_clusters=16)
    cb = train_pq_codebooks(emb)
    full = {
        (r["query_id"], r["neighbor_id"], r["cosine_sim"])
        for r in ivf_pq_top_k(
            assigned, centroids, queries, cb, k=10, nprobe=16,
            shortlist_factor=8,
        ).collect()
    }
    pq_only = {
        (r["query_id"], r["neighbor_id"], r["cosine_sim"])
        for r in pq_top_k(
            emb, queries, cb, k=10, shortlist_factor=8
        ).collect()
    }
    assert full == pq_only
    partial = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_pq_top_k(
            assigned, centroids, queries, cb, k=10, nprobe=4,
            shortlist_factor=8,
        ).collect()
    }
    bf = {
        (r["query_id"], r["neighbor_id"], r["cosine_sim"])
        for r in ivf_pq_top_k(
            assigned, centroids, queries, cb, k=10, nprobe=16,
            shortlist_factor=8,
        ).collect()
    }
    # partial probe recall against the exhaustive-probe answer
    full_pairs = {(q, n) for q, n, _ in bf}
    assert len(partial & full_pairs) / len(full_pairs) >= 0.5


def test_ann_recall_eval_curve(spark):
    """The IVF recall-curve query: recall must be monotone
    non-decreasing in nprobe and EXACTLY 1.0 at the exhaustive probe
    (nprobe == n_clusters => every cell scored => identical to brute
    force)."""
    import __spark_entry__ as e

    rows = {
        r["nprobe"]: r["mean_recall_at_10"]
        for r in e._q_ann_recall_eval(spark, "/root/testdata/sf0.001").collect()
    }
    assert sorted(rows) == [1, 2, 4, 8]
    vals = [rows[p] for p in (1, 2, 4, 8)]
    assert all(0.0 <= v <= 1.0 for v in vals)
    assert vals == sorted(vals)  # more probes never hurt recall
    assert vals[-1] == 1.0  # exhaustive probe == brute force


def test_ivf_recall_curve_sets_match_ivf_top_k(spark):
    """ivf_recall_curve's single-scoring-pass derivation must produce,
    per budget, EXACTLY the result set of running ivf_top_k at that
    nprobe — the equivalence the one-pass optimization rests on. Pinned
    by reconstructing the per-budget top-k sets through both paths."""
    from mape_calculation_and_anonymization_spark.fixtures import load_table
    from mape_calculation_and_anonymization_spark.operators.ivf import (
        build_ivf_index,
        ivf_top_k,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    assigned, centroids = build_ivf_index(emb, n_clusters=4)
    for p in (1, 2, 4):
        via_op = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_top_k(
                assigned, centroids, queries, k=5, nprobe=p
            ).collect()
        }
        # reconstruct the same set through the curve operator's scored
        # frame by asking for the budget's hits against ITSELF: with
        # budgets=(p,) and the exact side replaced by running at the
        # exhaustive budget, n_hits equals |via_op ∩ exact| — instead
        # compare directly via a 1-budget curve at full probe where
        # recall must be 1.0 and the hit count equals |via_op| when
        # p == n_clusters; for partial budgets, check the hit count
        # the curve reports equals the true intersection size.
        from mape_calculation_and_anonymization_spark.operators.ivf import (
            ivf_recall_curve,
        )

        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_top_k(
                assigned, centroids, queries, k=5, nprobe=4
            ).collect()
        }
        curve = {
            r["nprobe"]: r["n_hits"]
            for r in ivf_recall_curve(
                assigned, centroids, queries, k=5, budgets=(p,)
            ).collect()
        }
        assert curve[p] == len(via_op & exact)


def test_semantic_dedup_planted_twins(spark):
    """Each planted twin pair (cosine ≈ 1, same cell by construction)
    must lose exactly one member; vectors with no near-duplicate all
    survive; reruns are byte-stable."""
    from mape_calculation_and_anonymization_spark.fixtures import load_table
    from mape_calculation_and_anonymization_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    twins = emb.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(1.01)).alias(
            "embedding"
        ),
    )
    corpus = emb.unionByName(twins)
    from mape_calculation_and_anonymization_spark.operators.ivf import (
        build_ivf_index,
    )

    _, centroids = build_ivf_index(emb, n_clusters=8)
    out = semantic_dedup(corpus, centroids, threshold=0.98).collect()
    kept = {r["vec_id"] for r in out if r["kept"]}
    n_base = emb.count()
    assert len(out) == 2 * n_base
    # exactly one of each twin pair survives (no other pair reaches
    # 0.98 — max non-twin cosine on this data is ~0.5)
    for r in out:
        vid = r["vec_id"]
        twin = vid - 1_000_000 if vid >= 1_000_000 else vid + 1_000_000
        assert (vid in kept) != (twin in kept), f"twin pair {vid}/{twin}"
    assert len(kept) == n_base
    # deterministic rerun
    kept2 = {
        r["vec_id"]
        for r in semantic_dedup(corpus, centroids, threshold=0.98).collect()
        if r["kept"]
    }
    assert kept == kept2


def test_semantic_dedup_no_duplicates_keeps_everything(spark):
    from mape_calculation_and_anonymization_spark.fixtures import load_table
    from mape_calculation_and_anonymization_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    from mape_calculation_and_anonymization_spark.operators.ivf import (
        build_ivf_index,
    )

    _, centroids = build_ivf_index(emb, n_clusters=8)
    out = semantic_dedup(emb, centroids, threshold=0.98).collect()
    assert all(r["kept"] for r in out)
    assert len(out) == emb.count()


def test_semantic_dedup_null_vectors_dropped(spark):
    """NULL embeddings are excluded before the routing UDF rather
    than crashing the executor batch."""
    from mape_calculation_and_anonymization_spark.operators.ivf import (
        build_ivf_index,
    )
    from mape_calculation_and_anonymization_spark.operators.similarity import (
        semantic_dedup,
    )

    base = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None)],
        "vec_id long, embedding array<double>",
    )
    _, centroids = build_ivf_index(base.filter("embedding IS NOT NULL"), n_clusters=2)
    out = semantic_dedup(base, centroids, threshold=0.98).collect()
    assert sorted(r["vec_id"] for r in out) == [1, 2]
    assert all(r["kept"] for r in out)


def test_semantic_dedup_zero_vector_is_never_a_duplicate(spark):
    """A zero vector has no direction: centroid_sim is NULL (not NaN
    — Spark orders NaN above every double, which would flag it as a
    duplicate of its whole cell) and it is always kept."""
    from mape_calculation_and_anonymization_spark.operators.ivf import (
        build_ivf_index,
    )
    from mape_calculation_and_anonymization_spark.operators.similarity import (
        semantic_dedup,
    )

    base = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    _, centroids = build_ivf_index(
        base.filter("vec_id < 3"), n_clusters=2
    )
    out = {r["vec_id"]: r for r in semantic_dedup(base, centroids, threshold=0.99).collect()}
    assert out[3]["centroid_sim"] is None
    assert out[3]["kept"] is True
    assert len(out) == 3


def test_semantic_dedup_routing_margin(spark):
    """Cross-engine safety audit for the round-12 semantic_dedup
    oracle: the DuckDB twin re-derives nearest-centroid routing with
    sequential-sum dots while the Spark path uses BLAS — the two can
    disagree only if some vector's best-vs-second-best centroid
    distance margin sits inside float noise. Assert the actual margin
    on the actual corpus+twins is astronomically wider than 1e-9 (and
    that the centroid_sim round-6 values sit away from the .5
    rounding boundary), so a future fixture/corpus change that
    creates a near-tie fails HERE instead of as a driver hash
    mismatch."""
    import numpy as np

    import __spark_entry__ as e
    from mape_calculation_and_anonymization_spark.fixtures import load_table

    sf = "/root/testdata/sf0.001"
    _, cents = e._ivf_index_cached(spark, sf, n_clusters=48)
    cmat = np.array(
        [r["centroid"] for r in cents.orderBy("cluster").collect()]
    )
    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    vecs = np.array(
        [np.asarray(r["embedding"], dtype=np.float64) for r in emb.collect()]
    )
    corpus = np.vstack([vecs, vecs * 1.01])  # planted twins
    d2 = (cmat * cmat).sum(axis=1)[None, :] - 2.0 * (corpus @ cmat.T)
    part = np.partition(d2, 1, axis=1)
    margins = part[:, 1] - part[:, 0]
    assert margins.min() > 1e-9, float(margins.min())
    # round-6 safety of centroid_sim: distance of the raw cosine to
    # the nearest half-ulp-of-round-6 boundary
    vn = np.linalg.norm(corpus, axis=1)
    cn = np.linalg.norm(cmat, axis=1)
    idx = d2.argmin(axis=1)
    dots = np.einsum("ij,ij->i", corpus, cmat[idx])
    cs = dots / (vn * cn[idx])
    frac = np.abs((cs * 1e6) % 1.0 - 0.5)
    # frac is in units of 1e-6 (one round-6 ulp): 1e-5 here = 1e-11
    # absolute distance to a rounding boundary, ~10^4 x the ~1e-15
    # cross-engine float noise on a cosine. Observed min on this
    # corpus: 6.2e-5 (6.2e-11 absolute).
    assert frac.min() > 1e-5, float(frac.min())


def test_pq_oracle_margins(spark):
    """Cross-engine float audit for the round-12 pq_ann_topk oracle:
    the DuckDB twin recomputes code assignment and ADC sums with
    sequential-order arithmetic while numpy batches through BLAS.
    Pin the margins that keep the two bit-compatible after rounding:
    per-(vector, block) best-vs-second code distance, and the
    shortlist-80/81 approximate-distance boundary per query. Also pin
    that code tuples are collision-free on this corpus, so no exact
    approx-distance ties can make the local partial-top's arbitrary
    ordering observable."""
    import numpy as np

    import __spark_entry__ as e
    from mape_calculation_and_anonymization_spark.fixtures import load_table

    sf = "/root/testdata/sf0.001"
    cb = e._pq_codebooks_cached(spark, sf)
    rows = load_table(spark, sf, "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([np.asarray(r["embedding"], np.float64) for r in rows])
    m, k, sub = cb.shape
    codes = np.empty((len(X), m), dtype=np.int64)
    min_marg = np.inf
    for b in range(m):
        xb = X[:, b * sub : (b + 1) * sub]
        d2 = (
            (xb * xb).sum(1)[:, None]
            - 2.0 * xb @ cb[b].T
            + (cb[b] * cb[b]).sum(1)[None, :]
        )
        codes[:, b] = d2.argmin(1)
        part = np.partition(d2, 1, axis=1)
        min_marg = min(min_marg, float((part[:, 1] - part[:, 0]).min()))
    assert min_marg > 1e-9, min_marg
    assert len(np.unique(codes, axis=0)) == len(codes)
    qm = ids % 100 == 0
    luts = np.empty((int(qm.sum()), m, k))
    for b in range(m):
        qb = X[qm][:, b * sub : (b + 1) * sub]
        luts[:, b, :] = (
            (qb * qb).sum(1)[:, None]
            - 2.0 * qb @ cb[b].T
            + (cb[b] * cb[b]).sum(1)[None, :]
        )
    dist = np.zeros((int(qm.sum()), len(ids)))
    for b in range(m):
        dist += luts[:, b, :][:, codes[:, b]]
    for qi, qid in enumerate(ids[qm]):
        s = np.sort(dist[qi][ids != qid])
        assert s[80] - s[79] > 1e-9, float(s[80] - s[79])


def test_semantic_dedup_gated_keep_rule(spark):
    """semantic_dedup_gated (round-15-ready): among semantic
    duplicates, a PASSING member always beats a failing one; among
    passing duplicates the diverse-tail (lowest centroid_sim, then
    id) rule holds; an all-failing duplicate group emits NO survivor;
    NULL gate = FAIL; singletons keep iff they pass."""
    from mape_calculation_and_anonymization_spark.fixtures import load_table
    from mape_calculation_and_anonymization_spark.operators.ivf import (
        build_ivf_index,
    )
    from mape_calculation_and_anonymization_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_gated,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    twins = emb.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(1.01)).alias(
            "embedding"
        ),
    )
    corpus = emb.unionByName(twins)
    _, centroids = build_ivf_index(emb, n_clusters=8)

    # gates: originals FAIL, twins PASS -> every pair must keep the
    # TWIN (the opposite of what ungated SemDeDup usually picks when
    # the original precedes in (centroid_sim, id) order)
    gated = corpus.withColumn("passed", F.col("vec_id") >= 1_000_000)
    out = {
        r["vec_id"]: r
        for r in semantic_dedup_gated(
            gated, centroids, threshold=0.98
        ).collect()
    }
    n_base = emb.count()
    kept = {v for v, r in out.items() if r["kept"]}
    assert kept == {r for r in out if r >= 1_000_000}
    assert len(kept) == n_base

    # all-failing groups drop whole: nobody passes -> zero survivors
    none_pass = corpus.withColumn("passed", F.lit(False))
    assert not [
        r
        for r in semantic_dedup_gated(
            none_pass, centroids, threshold=0.98
        ).collect()
        if r["kept"]
    ]

    # NULL gate = FAIL (same as False)
    null_gate = corpus.withColumn(
        "passed", F.lit(None).cast("boolean")
    )
    assert not [
        r
        for r in semantic_dedup_gated(
            null_gate, centroids, threshold=0.98
        ).collect()
        if r["kept"]
    ]

    # all-passing degenerates to ungated SemDeDup's keep set exactly
    all_pass = corpus.withColumn("passed", F.lit(True))
    kept_gated = {
        r["vec_id"]
        for r in semantic_dedup_gated(
            all_pass, centroids, threshold=0.98
        ).collect()
        if r["kept"]
    }
    kept_plain = {
        r["vec_id"]
        for r in semantic_dedup(corpus, centroids, threshold=0.98).collect()
        if r["kept"]
    }
    assert kept_gated == kept_plain


def test_ivf_add_conservation_and_assignment(spark):
    """ivf_add (round-15): every new vector appears exactly once, at
    its nearest existing centroid (squared-Euclidean argmin), and the
    standing rows pass through untouched."""
    from mape_calculation_and_anonymization_spark.operators.ivf import (
        build_ivf_index,
        ivf_add,
    )

    rows = _vectors(n=80)
    standing = spark.createDataFrame(
        rows[:60], ["vec_id", "embedding"]
    )
    drop = spark.createDataFrame(rows[60:], ["vec_id", "embedding"])
    assigned0, centroids = build_ivf_index(standing, n_clusters=4)
    updated = ivf_add(assigned0, centroids, drop)

    got = {r["vec_id"]: r["cluster"] for r in updated.collect()}
    assert len(got) == 80  # conservation: all vectors, exactly once
    before = {r["vec_id"]: r["cluster"] for r in assigned0.collect()}
    for vid, cl in before.items():
        assert got[vid] == cl  # standing untouched

    cents = {r["cluster"]: np.array(r["centroid"]) for r in centroids.collect()}
    vecs = dict(rows)
    for vid, _ in rows[60:]:
        v = np.array(vecs[vid], dtype=np.float64)
        d2 = {c: float(((v - cent) ** 2).sum()) for c, cent in cents.items()}
        best = min(d2, key=lambda c: (d2[c], c))
        assert got[vid] == best, (vid, got[vid], best)


def test_ivf_add_partial_probe_recall(spark):
    """Searching the incrementally-updated index at a partial probe
    budget still finds the planted near-twins that arrived in the
    drop: a twin's vector routes to (nearly) the same cell as its
    original, so nprobe=2 recall@3 over the drop-augmented index
    stays high."""
    from mape_calculation_and_anonymization_spark.operators.ivf import (
        build_ivf_index,
        ivf_add,
        ivf_top_k,
    )

    rows = _vectors(n=80, planted_pairs=5)
    # drop = the 5 planted twins (ids 75..79, twins of 0..4)
    standing = spark.createDataFrame(rows[:75], ["vec_id", "embedding"])
    drop = spark.createDataFrame(rows[75:], ["vec_id", "embedding"])
    assigned0, centroids = build_ivf_index(standing, n_clusters=4)
    updated = ivf_add(assigned0, centroids, drop)
    queries = spark.createDataFrame(rows[:5], ["vec_id", "embedding"])
    got = ivf_top_k(updated, centroids, queries, k=3, nprobe=2).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in got if r["rank"] == 1}
    # each original's nearest neighbor is its planted drop twin
    hits = sum(1 for q, n in top1.items() if n == 79 - q)
    assert hits >= 4, top1


def test_ivf_rebalance_lloyd_monotone_and_conserving(spark):
    """ivf_rebalance (round-16 library operator): one Lloyd step
    after a skewing drop — (a) conservation: every vector exactly
    once, untouched embedding values; (b) Lloyd monotonicity: total
    within-cell squared distance never increases; (c) every vector
    sits at its nearest REFRESHED centroid (ties to the lowest
    cluster id); (d) the refreshed centroid of a populated cell is
    its member mean; (e) the cell-id set is stable."""
    from mape_calculation_and_anonymization_spark.operators.ivf import (
        build_ivf_index,
        ivf_add,
        ivf_rebalance,
    )

    rows = _vectors(n=90)
    standing = spark.createDataFrame(rows[:60], ["vec_id", "embedding"])
    drop = spark.createDataFrame(rows[60:], ["vec_id", "embedding"])
    assigned0, cents0 = build_ivf_index(standing, n_clusters=4)
    drifted = ivf_add(assigned0, cents0, drop)  # drift accumulates
    assigned1, cents1 = ivf_rebalance(drifted, cents0)

    vecs = {vid: np.array(v, dtype=np.float64) for vid, v in rows}
    a0 = {r["vec_id"]: r["cluster"] for r in drifted.collect()}
    got = {
        r["vec_id"]: (r["cluster"], np.array(r["embedding"]))
        for r in assigned1.collect()
    }
    assert len(got) == 90  # (a) conservation
    for vid, (cl, emb) in got.items():
        assert np.allclose(emb, vecs[vid])

    c0 = {r["cluster"]: np.array(r["centroid"]) for r in cents0.collect()}
    c1 = {r["cluster"]: np.array(r["centroid"]) for r in cents1.collect()}
    assert set(c1) == set(c0)  # (e) stable cell set

    def sse(assignment, cents):
        return sum(
            float(((vecs[vid] - cents[cl]) ** 2).sum())
            for vid, cl in assignment.items()
        )

    a1 = {vid: cl for vid, (cl, _) in got.items()}
    assert sse(a1, c1) <= sse(a0, c0) + 1e-9  # (b) Lloyd monotone

    for vid, cl in a1.items():  # (c) nearest refreshed centroid
        d2 = {c: float(((vecs[vid] - cc) ** 2).sum()) for c, cc in c1.items()}
        assert cl == min(d2, key=lambda c: (d2[c], c)), vid

    # (d) populated refreshed centroids are the PRE-refresh member
    # means (the assign step moves members afterwards)
    from collections import defaultdict

    members = defaultdict(list)
    for vid, cl in a0.items():
        members[cl].append(vecs[vid])
    for cl, ms in members.items():
        assert np.allclose(c1[cl], np.mean(ms, axis=0), atol=1e-9), cl


def test_ivf_rebalance_empty_cell_keeps_old_centroid(spark):
    """A cell with no members entering the refresh keeps its previous
    centroid verbatim — routing tables referencing every cell id stay
    valid."""
    from mape_calculation_and_anonymization_spark.operators.ivf import (
        ivf_rebalance,
    )

    assigned = spark.createDataFrame(
        [(1, [0.0, 0.0], 0), (2, [1.0, 1.0], 0)],
        ["vec_id", "embedding", "cluster"],
    )
    cents = spark.createDataFrame(
        [(0, [0.2, 0.2]), (7, [9.0, 9.0])], ["cluster", "centroid"]
    )
    a2, c2 = ivf_rebalance(assigned, cents)
    got = {r["cluster"]: list(r["centroid"]) for r in c2.collect()}
    assert got[0] == [0.5, 0.5]  # member mean
    assert got[7] == [9.0, 9.0]  # memberless: old centroid retained
    # both vectors stay nearer the refreshed cell-0 centroid
    assert {r["cluster"] for r in a2.collect()} == {0}


def test_semantic_dedup_gated_keep_semantics(spark):
    """Pipeline-level pins at sf0.001: every gate-passing original
    survives (its known-bad twin can never dominate it), every twin
    drops, and originals failing their own gates drop with their twin
    (whole-group drop) — so kept == the passing originals exactly."""
    import __spark_entry__ as e

    sf = e.SF0001

    rows = {r["vec_id"]: r for r in e._q_semantic_dedup_gated(spark, sf).collect()}
    originals = {v: r for v, r in rows.items() if v < 1_000_000}
    twins = {v: r for v, r in rows.items() if v >= 1_000_000}
    assert originals and twins
    assert not any(r["kept"] for r in twins.values())
    for v, r in originals.items():
        assert r["kept"] == r["passed"], v
    assert any(r["kept"] for r in originals.values())
    assert any(not r["passed"] for r in originals.values()), (
        "fixture should contain at least one gate-failing doc or the "
        "whole-group-drop branch is untested"
    )


def test_hybrid_search_rrf_shape(spark):
    """Every query emits a fused top-10, ranks are contiguous from 1,
    and a doc present in BOTH legs at rank 1 dominates any
    single-leg doc (2/(60+1) > 1/(60+1) ≥ any single reciprocal)."""
    import __spark_entry__ as e

    sf = e.SF0001

    rows = e._q_hybrid_search_rrf(spark, sf).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert by_q  # non-degenerate
    for q, rs in by_q.items():
        ranks = sorted(r["fused_rank"] for r in rs)
        assert ranks == list(range(1, len(ranks) + 1)), (q, ranks)
        scores = [r["rrf_score"] for r in sorted(rs, key=lambda r: r["fused_rank"])]
        assert scores == sorted(scores, reverse=True)


def test_rrf_fuse_both_lists_dominate(spark):
    """Operator contract: a doc at rank 1 in BOTH lists outscores a
    doc at rank 1 in only one list; absent-from-one-list docs get
    exactly the single reciprocal; id breaks score ties."""
    from mape_calculation_and_anonymization_spark.operators.fusion import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], ["query_id", "doc_id", "rank"]
    )
    b = spark.createDataFrame(
        [(1, 10, 1), (1, 12, 1)], ["query_id", "doc_id", "rank"]
    )
    out = {
        r["doc_id"]: (r["rrf_score"], r["fused_rank"])
        for r in rrf_fuse(a, b, k=10).collect()
    }
    assert out[10][1] == 1  # in both lists at rank 1 → wins
    # scores are rounded to 6 decimals in the projection
    assert abs(out[10][0] - 2 / 61) < 1e-6
    assert abs(out[12][0] - 1 / 61) < 1e-6
    assert abs(out[11][0] - 1 / 62) < 1e-6
    # 12 (1/61) beats 11 (1/62); ties would fall back to id asc
    assert out[12][1] == 2 and out[11][1] == 3


def test_jaccard_top_k_self_excluded_and_ranked(spark):
    from mape_calculation_and_anonymization_spark.operators.fusion import (
        jaccard_top_k,
    )

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma epsilon"),
            (2, "zeta eta theta iota"),
            (3, "alpha beta gamma delta extra"),
        ],
        ["doc_id", "text"],
    )
    q = docs.filter(F.col("doc_id") == 0)
    got = {
        r["doc_id"]: r["rank"]
        for r in jaccard_top_k(q, docs, n=3, k=10).collect()
    }
    assert 0 not in got  # self excluded
    assert got[3] == 1 and got[1] == 2  # 3 shares 2 grams, 1 shares 1
    assert 2 not in got  # no shared shingle → no candidate row


def test_semantic_dedup_incremental_fates(spark):
    """The three planted drop fates land exactly: every ×1.01 twin
    dropped against its kept standing original (frozen-standing rule),
    every ×1.02 twin dropped (its ×1.01 sibling precedes it in-drop),
    every negated copy kept (cosine −1 to its original)."""
    import __spark_entry__ as e

    sf = e.SF0001

    rows = e._q_semantic_dedup_incremental(spark, sf).collect()
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r["vec_id"] // 1_000_000, []).append(r["kept"])
    assert set(by_bucket) == {1, 2, 3}
    assert not any(by_bucket[1]) and len(by_bucket[1]) > 0
    assert not any(by_bucket[2]) and len(by_bucket[2]) > 0
    assert all(by_bucket[3]) and len(by_bucket[3]) > 0


def test_semantic_dedup_incremental_empty_standing_equals_full(spark):
    """With an empty standing corpus the incremental rule degenerates
    to semantic_dedup of the drop exactly."""
    import __spark_entry__ as e
    from mape_calculation_and_anonymization_spark.fixtures import load_table
    from mape_calculation_and_anonymization_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_incremental,
    )

    sf = e.SF0001

    _, centroids = e._ivf_index_cached(spark, sf, n_clusters=48)
    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    twins = emb.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(1.01)).alias(
            "embedding"
        ),
    )
    drop = emb.unionByName(twins)
    empty = spark.createDataFrame([], drop.schema).withColumn(
        "kept", F.lit(True)
    )
    inc = {
        r["vec_id"]: (r["cluster"], r["centroid_sim"], r["kept"])
        for r in semantic_dedup_incremental(
            empty, drop, centroids, threshold=0.98
        ).collect()
    }
    full = {
        r["vec_id"]: (r["cluster"], r["centroid_sim"], r["kept"])
        for r in semantic_dedup(drop, centroids, threshold=0.98).collect()
    }
    assert inc == full and len(inc) > 0
