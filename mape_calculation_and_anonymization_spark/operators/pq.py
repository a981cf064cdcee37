"""Product quantization (PQ) for embedding search at corpus scale.

At 100 TB the raw float32 embeddings of a trillion-document corpus do
not fit in any cluster's memory; PQ (Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011) compresses each
vector to ``m`` one-byte codes — 32× smaller at (m=8, k=16, d=64,
float32) — while distances remain computable directly on the codes via
per-query lookup tables (ADC: asymmetric distance computation). The
standard production stack is coarse-partition (IVF, `operators/ivf.py`)
+ PQ codes + exact re-rank of a shortlist; this module supplies the PQ
leg and the re-rank.

Scale shape:
  * codebooks are sketch-sized ((m·k·d/m) floats — KBs) and broadcast;
  * training reads a BOUNDED deterministic sample, never the corpus;
  * encoding is one Arrow-batched pass over the corpus (numpy einsum
    per batch, no per-row Python);
  * ADC scoring streams the code table against broadcast per-query
    LUTs; the corpus side carries m bytes per vector, not d floats;
  * only the shortlist (queries × shortlist_k rows) touches raw
    embeddings again, in the exact re-rank join.

Determinism: seeded Lloyd iterations from evenly-strided sample
initialization — no RandomState draws whose platform behavior could
drift; same sample + same seed → identical codebooks everywhere.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# The ADC search paths collect the QUERY batch to the driver to build
# per-query LUTs — correct only while the query side is dimension-sized
# (query batches ≪ corpus, by contract). This guard makes a
# corpus-sized query frame fail loudly instead of OOMing the driver —
# the same discipline as the bucket cap in the LSH paths.
_MAX_QUERIES = 100_000

# neighbors returned per query by pq_top_k and ivf_pq_top_k, and how
# many times that many ADC candidates each re-ranks exactly
_TOP_K = 10
_SHORTLIST_FACTOR = 8

# cells ivf_pq_top_k probes per query
_IVF_PQ_NPROBE = 4


def _collect_query_batch(queries: DataFrame) -> list:
    rows = (
        queries.select(F.col("vec_id"), F.col("embedding"))
        .limit(_MAX_QUERIES + 1)
        .collect()
    )
    if len(rows) > _MAX_QUERIES:
        raise ValueError(
            f"query batch exceeds max_queries={_MAX_QUERIES}: the ADC "
            "LUT build collects the query side to the driver; pass a "
            "bounded query batch"
        )
    return rows


def train_pq_codebooks(corpus: DataFrame) -> np.ndarray:
    """Train per-subvector codebooks on a bounded deterministic sample:
    8 subvectors, 16 centroids each, 10 Lloyd iterations over the
    first 20 000 vectors by id.

    Returns ``(8, 16, d//8)`` float64 centroids. The sample is id-ordered
    (``orderBy(id).limit(n)`` — a plain ``limit`` has no deterministic
    row choice across partitions) and collected to the driver: codebook
    training is sketch-sized BY DESIGN; production PQ trains on a
    sample regardless of corpus size.
    """
    rows = (
        corpus.select(F.col("vec_id"), F.col("embedding"))
        .orderBy("vec_id")
        .limit(20_000)
        .collect()
    )
    x = np.asarray([r[1] for r in rows], dtype=np.float64)
    n, d = x.shape
    if d % 8 != 0:
        raise ValueError(f"dim {d} not divisible by 8 subvectors")
    sub = d // 8
    codebooks = np.empty((8, 16, sub), dtype=np.float64)
    for b in range(8):
        xb = x[:, b * sub : (b + 1) * sub]
        # evenly-strided init over the id-ordered sample: deterministic
        # with no RNG; 16 <= n enforced by taking unique stride points
        idx = (np.arange(16, dtype=np.int64) * max(n // 16, 1)) % n
        cent = xb[idx].copy()
        for _ in range(10):
            # Lloyd step, fully vectorized: (n, 16) squared distances
            d2 = ((xb[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(16):
                mask = assign == j
                if mask.any():
                    cent[j] = xb[mask].mean(axis=0)
        codebooks[b] = cent
    return codebooks


def encode_pq(
    corpus: DataFrame,
    codebooks: np.ndarray,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Encode every corpus vector as ``m`` small-int codes (argmin
    centroid per subvector block). One Arrow-batched pass; the einsum
    expansion ``|x - c|² = |x|² - 2x·c + |c|²`` scores a whole batch
    against a block's centroids in one matmul. Output:
    (vec_id, codes array<int>).
    """
    mm, kk, sub = codebooks.shape
    cb = codebooks  # closure capture; broadcast with each task binary

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _codes(vecs):
        import pandas as pd

        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        if x.size == 0:
            return pd.Series([], dtype=object)
        out = np.empty((x.shape[0], mm), dtype=np.int32)
        for b in range(mm):
            xb = x[:, b * sub : (b + 1) * sub]
            cent = cb[b]
            d2 = (
                (xb * xb).sum(axis=1)[:, None]
                - 2.0 * xb @ cent.T
                + (cent * cent).sum(axis=1)[None, :]
            )
            out[:, b] = d2.argmin(axis=1)
        return pd.Series(list(out))

    extra = [F.col(c) for c in (keep_cols or [])]
    return corpus.select(
        F.col("vec_id"), *extra, _codes(F.col("embedding")).alias("codes")
    )


def pq_top_k(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
) -> DataFrame:
    """ADC search + exact cosine re-rank.

    Per query a (m, k) lookup table of subvector→centroid squared
    distances is built once; the approximate distance of a corpus
    vector is then ``sum_b LUT[b, code[b]]`` — m byte-indexed adds per
    candidate, never a d-dimensional product. The top
    ``_TOP_K · _SHORTLIST_FACTOR`` by approximate distance are re-ranked with
    EXACT cosine against raw embeddings (a shortlist-sized join), so
    PQ affects recall only, never the correctness of returned
    similarities. Query set is collected and broadcast (dimension-sized
    by contract, same as brute_force_top_k). Output:
    (query_id, neighbor_id, cosine_sim, rank).
    """
    mm, kk, sub = codebooks.shape
    cb = codebooks
    q_rows = _collect_query_batch(queries)
    q_ids = np.asarray([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.asarray([np.asarray(r[1], np.float64) for r in q_rows])
    # (nq, m, k) LUTs
    luts = np.empty((len(q_ids), mm, kk), dtype=np.float64)
    for b in range(mm):
        qb = q_mat[:, b * sub : (b + 1) * sub]
        cent = cb[b]
        luts[:, b, :] = (
            (qb * qb).sum(axis=1)[:, None]
            - 2.0 * qb @ cent.T
            + (cent * cent).sum(axis=1)[None, :]
        )

    codes_df = encode_pq(corpus, codebooks)
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("approx_dist", T.DoubleType()),
        ]
    )
    shortlist_k = _TOP_K * _SHORTLIST_FACTOR

    def _score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            codes = np.asarray(list(pdf["codes"]), dtype=np.int64)  # (n, m)
            # (nq, n): gather each block's LUT column by code, sum blocks
            dist = np.zeros((len(q_ids), len(ids)), dtype=np.float64)
            for b in range(mm):
                dist += luts[:, b, :][:, codes[:, b]]
            # exclude self BEFORE the local prune: a query's own row
            # (distance ~0) would otherwise occupy a local top slot
            # and, on partitions larger than the shortlist, evict the
            # partition's true shortlist_k-th non-self candidate from
            # the global shortlist (spec: top shortlist_k NON-SELF by
            # approx distance)
            dist[q_ids[:, None] == ids[None, :]] = np.inf
            # per-partition partial top: emit each query's local best
            keep = min(shortlist_k, len(ids))
            part = np.argpartition(dist, keep - 1, axis=1)[:, :keep]
            rows = {
                "query_id": np.repeat(q_ids, keep),
                "neighbor_id": ids[part.ravel()],
                "approx_dist": np.take_along_axis(dist, part, axis=1).ravel(),
            }
            yield pd.DataFrame(rows)

    scored = codes_df.mapInPandas(_score, out_schema).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    from pyspark.sql import Window

    w_short = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        scored.withColumn("_r", F.row_number().over(w_short))
        .filter(F.col("_r") <= shortlist_k)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank: shortlist-sized joins back to raw vectors
    from mape_calculation_and_anonymization_spark.operators.similarity import (
        cosine,
    )

    qv = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    )
    cv = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_cv")
    )
    w_final = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        shortlist.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("_qv"), F.col("_cv")), 6).alias(
                "cosine_sim"
            ),
        )
        .withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= _TOP_K)
    )


def ivf_pq_top_k(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
) -> DataFrame:
    """The full IVF+PQ stack: coarse cell routing (touch ~_IVF_PQ_NPROBE/n_cells of
    the corpus) × compressed-code ADC scoring (m bytes per candidate)
    × exact cosine re-rank (shortlist-sized). This is the architecture
    a trillion-vector search actually deploys — IVF bounds how much is
    read, PQ bounds the bytes per read, the re-rank restores exact
    similarities on the shortlist.

    ``assigned``/``centroids`` come from ``build_ivf_index``;
    ``codebooks`` from ``train_pq_codebooks``. Output schema matches
    ``brute_force_top_k``."""
    from pyspark.sql import Window

    from mape_calculation_and_anonymization_spark.operators.similarity import (
        cosine,
    )

    mm, kk, sub = codebooks.shape
    q_rows = _collect_query_batch(queries)
    q_ids = np.asarray([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.asarray([np.asarray(r[1], np.float64) for r in q_rows])
    luts = np.empty((len(q_ids), mm, kk), dtype=np.float64)
    for b in range(mm):
        qb = q_mat[:, b * sub : (b + 1) * sub]
        cent = codebooks[b]
        luts[:, b, :] = (
            (qb * qb).sum(axis=1)[:, None]
            - 2.0 * qb @ cent.T
            + (cent * cent).sum(axis=1)[None, :]
        )
    lut_index = {int(qid): i for i, qid in enumerate(q_ids)}

    # coarse routing: query -> nprobe nearest cells (broadcast centroids)
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
        .filter(F.col("_crank") <= _IVF_PQ_NPROBE)
        .select("query_id", "cluster")
    )

    codes_df = encode_pq(assigned, codebooks, keep_cols=["cluster"])
    pairs = (
        routed.join(codes_df, on="cluster")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "codes")
    )

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("approx_dist", T.DoubleType()),
        ]
    )

    def _score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            qidx = np.asarray(
                [lut_index[int(v)] for v in pdf["query_id"]], dtype=np.int64
            )
            codes = np.asarray(list(pdf["codes"]), dtype=np.int64)  # (n, m)
            dist = luts[qidx[:, None], np.arange(mm)[None, :], codes].sum(
                axis=1
            )
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(np.int64),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(np.int64),
                    "approx_dist": dist,
                }
            )

    scored = pairs.mapInPandas(_score, out_schema)
    shortlist_k = _TOP_K * _SHORTLIST_FACTOR
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        scored.withColumn("_r", F.row_number().over(w_short))
        .filter(F.col("_r") <= shortlist_k)
        .select("query_id", "neighbor_id")
    )
    cv = assigned.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_cv")
    )
    w_final = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        shortlist.join(F.broadcast(q), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("_qv"), F.col("_cv")), 6).alias("cosine_sim"),
        )
        .withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= _TOP_K)
    )
