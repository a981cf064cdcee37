"""IVF (inverted-file) approximate nearest neighbor search.

The second scale path for similarity search (alongside sign-LSH in
``similarity.py``): partition the corpus into Voronoi cells with
KMeans (Spark MLlib — public API), then answer queries by scoring
only the ``nprobe`` nearest cells instead of the full corpus.

Scale notes: the index build is MLlib's distributed KMeans; the
centroid table is tiny (k × dim) and broadcast for query routing; a
query touches ~(nprobe/k) of the corpus. Recall grows with nprobe —
nprobe=k degenerates to exact brute force over a partitioned layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mape_calculation_and_anonymization_spark.operators.similarity import cosine

# ivf_top_k's neighbors per query and the cells it probes
_IVF_TOP_K = 3
_IVF_NPROBE = 8

# ivf_recall_curve's recall depth and its probe budgets
_RECALL_K = 10
_RECALL_BUDGETS = (1, 2, 4, 8)


def build_ivf_index(
    corpus: DataFrame,
    n_clusters: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Fit KMeans and assign every vector to a cell.

    Returns (assigned, centroids): ``assigned`` = corpus + ``cluster``
    column; ``centroids`` = (cluster, centroid: array<double>) — a
    dimension table, safe to broadcast.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession
    data = corpus.withColumn(
        "_feat",
        array_to_vector(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ),
    )
    # routing quality saturates quickly — tight iteration cap keeps the
    # (per-build) cost low; recall is governed by nprobe, not centroid
    # convergence. Random init for the same reason: k-means|| spends
    # 2+ extra distributed passes buying an init quality the coarse
    # quantizer doesn't need (measured 3.4s -> 1.1s for the sf0.1
    # build at equal partial-probe recall).
    model = KMeans(
        k=n_clusters, seed=42, maxIter=8, initMode="random",
        featuresCol="_feat", predictionCol="cluster",
    ).fit(data)
    assigned = model.transform(data).drop("_feat")
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cluster int, centroid array<double>",
    )
    return assigned, centroids


def ivf_top_k(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
) -> DataFrame:
    """ANN top-``_IVF_TOP_K``: route each query to its ``_IVF_NPROBE`` nearest centroids
    (broadcast centroid table), score exact cosine only inside those
    cells, rank. Output schema matches ``brute_force_top_k``."""
    # norms hoisted out of the per-pair cosine (round 18 — the
    # ivf_recall_curve shape applied to the search path): one norm per
    # query row and per corpus row; try_divide(dot, qn*cn) is the
    # identical float expression cosine() evaluates, with the per-pair
    # HOF work cut to the single dot. The routing leg reuses the same
    # hoisted query norm against a per-centroid norm.
    from .similarity import dot as _dot, norm as _norm

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qv"),
        _norm(F.col("embedding")).alias("_qn"),
    )

    routed = (
        q.join(
            F.broadcast(
                centroids.withColumn("_ctn", _norm(F.col("centroid")))
            )
        )
        .withColumn(
            "_csim",
            F.try_divide(
                _dot(F.col("_qv"), F.col("centroid")),
                F.col("_qn") * F.col("_ctn"),
            ),
        )
        .withColumn(
            "_crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("_csim").desc(), F.col("cluster").asc()
                )
            ),
        )
        .filter(F.col("_crank") <= _IVF_NPROBE)
        .select("query_id", "_qv", "_qn", "cluster")
    )

    c = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_cv"),
        "cluster",
        _norm(F.col("embedding")).alias("_cn"),
    )
    sim = F.round(
        F.try_divide(
            _dot(F.col("_qv"), F.col("_cv")), F.col("_qn") * F.col("_cn")
        ),
        6,
    )
    scored = (
        routed.join(c, on="cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= _IVF_TOP_K
    )


def ivf_add(
    assigned: DataFrame,
    centroids: DataFrame,
    new_vecs: DataFrame,
) -> DataFrame:
    """INCREMENTAL index update — the embeddings-side daily-drop path
    (the ANN analogue of ``dedup.minhash_incremental_pairs``): assign
    each NEW vector to its nearest EXISTING centroid (squared-
    Euclidean argmin, the KMeans prediction rule) and append it to
    the inverted file. The standing corpus is never re-scored and the
    quantizer is never re-fit — at 100 TB standing + daily drops this
    is the difference between a nightly full KMeans over the corpus
    and a drop-sized broadcast-argmin (k × dim centroid table
    broadcast, one projection over the drop, zero shuffles on the
    standing side). Centroid drift from accumulated adds is the
    standard IVF trade: routing recall degrades gracefully and the
    quantizer is re-fit on a coarse cadence (weekly/monthly), not per
    drop — searches meanwhile stay exact within probed cells because
    :func:`ivf_top_k` re-scores true vectors, not centroids.

    Returns the updated ``assigned`` frame
    ``(vec_id, embedding, cluster)`` — standing rows pass through
    untouched, each new vector appears exactly once (row-conservation
    and nearest-centroid assignment pinned in tests/test_similarity.py).
    """
    standing = assigned.select("vec_id", "embedding", "cluster")
    n = new_vecs.select("vec_id", "embedding")
    d2 = F.aggregate(
        F.zip_with(
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
            F.col("centroid"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("_d2").asc(), F.col("cluster").asc()
    )
    newly = (
        n.join(F.broadcast(centroids))
        .withColumn("_d2", d2)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "embedding", "cluster")
    )
    return standing.unionByName(newly)


def ivf_recall_curve(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
) -> DataFrame:
    """Mean recall@k of the IVF index per probe budget, in ONE
    corpus-scoring pass.

    :func:`ivf_top_k` at ``nprobe=p`` is, by definition, the top-k of
    the (query, corpus-vector) pairs whose routed-cell rank ≤ p — and
    at ``nprobe = n_cells`` it IS the exact brute-force result (every
    cell scored). So scoring every pair ONCE with its cell rank
    attached lets every budget's result set AND the exact baseline be
    derived from ONE window pass over the scored frame — per-budget
    ranks are conditional running counts over the shared
    (cosine DESC, id) order, so the whole curve needs a single
    exchange + sort instead of len(budgets)+1 of them (round 17).
    Per-budget set equality with ivf_top_k is pinned in
    tests/test_similarity.py.

    Eval-tool scale contract: the scored frame is |queries| × |corpus|
    — run it on a SAMPLED query set (an eval publishes a curve, not a
    per-query report); the corpus side streams once.

    Output: (nprobe, n_hits, mean_recall_at_k), one row per budget.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    )
    routed = (
        q.join(F.broadcast(centroids))
        .withColumn("_csim", cosine(F.col("_qv"), F.col("centroid")))
        .withColumn(
            "_crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("_csim").desc(), F.col("cluster").asc()
                )
            ),
        )
        .select("query_id", "_qv", "cluster", "_crank")
    )
    # norms hoisted BELOW the pair join (round 17): cosine() re-derives
    # both operands' norms per PAIR — three interpreted HOF aggregates
    # per scored row. Computing each side's norm once per vector row
    # and dividing the pair dot by the product is the identical
    # float expression (same ops, same order — try_divide(dot, qn*cn)
    # is exactly what cosine() evaluates), with the per-pair HOF work
    # cut to the single dot.
    from .similarity import dot as _dot, norm as _norm

    routed = routed.withColumn("_qn", _norm(F.col("_qv")))
    c = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_cv"),
        "cluster",
        _norm(F.col("embedding")).alias("_cn"),
    )
    sim = F.round(
        F.try_divide(
            _dot(F.col("_qv"), F.col("_cv")), F.col("_qn") * F.col("_cn")
        ),
        6,
    )
    scored = (
        routed.join(c, on="cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "_crank", sim.alias("cosine_sim"))
    )
    # ONE window pass for the exact baseline AND every probe budget
    # (round 17): the former shape re-ranked the scored frame once per
    # budget plus once for the baseline (len(budgets)+1 window
    # exchanges over |q|×|corpus| rows), unioned the budget sets, and
    # semi-joined them back against the baseline. Budgets are NESTED
    # filters of the same (cosine DESC, id) total order, so the rank
    # of a row within "cell rank ≤ p" equals a conditional running
    # count over that one order — every budget's top-k membership and
    # the exact top-k flag come out of a single Window exec (same
    # spec → one exchange + sort), the hit test becomes a boolean AND
    # (a budget's top-k is a subset of the scored rows the baseline
    # ranked — no join needed), and one aggregate yields the curve.
    # With a single consumer the scored frame no longer needs its
    # checkpoint barrier; it pipelines straight into the window sort.
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = scored.withColumn("_exact_rk", F.row_number().over(w))
    for p in _RECALL_BUDGETS:
        flagged = flagged.withColumn(
            f"_rk_{p}",
            F.sum(
                F.when(F.col("_crank") <= p, 1).otherwise(0)
            ).over(wr),
        )
    exact_member = F.col("_exact_rk") <= _RECALL_K
    agg_row = flagged.agg(
        *[
            F.sum(
                F.when(
                    (F.col("_crank") <= p)
                    & (F.col(f"_rk_{p}") <= _RECALL_K)
                    & exact_member,
                    1,
                ).otherwise(0)
            ).alias(f"_h_{p}")
            for p in _RECALL_BUDGETS
        ],
        F.sum(F.when(exact_member, 1).otherwise(0)).alias("_n_exact"),
    )
    curve = F.array(
        *[
            F.struct(
                F.lit(p).cast("long").alias("nprobe"),
                F.col(f"_h_{p}").alias("n_hits"),
            )
            for p in _RECALL_BUDGETS
        ]
    )
    return (
        agg_row.select(F.explode(curve).alias("_b"), "_n_exact")
        .select(
            F.col("_b.nprobe").alias("nprobe"),
            F.col("_b.n_hits").alias("n_hits"),
            F.round(F.col("_b.n_hits") / F.col("_n_exact"), 6).alias(
                f"mean_recall_at_{_RECALL_K}"
            ),
        )
        # the join-based shape emitted a budget's row only when it had
        # ≥1 hit (groupBy over the semi-join); preserve that contract
        .filter(F.col("n_hits") > 0)
        .orderBy("nprobe")
    )

