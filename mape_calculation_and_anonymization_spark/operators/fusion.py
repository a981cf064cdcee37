"""Hybrid-retrieval rank fusion (SURVEY.md §2 extension surface).

Training-data curation and search pipelines retrieve with BOTH a
lexical ranker (BM25 / n-gram overlap) and a vector ranker (ANN
cosine) and fuse the two lists; reciprocal-rank fusion (Cormack,
Clarke & Büttcher 2009) is the standard score-free combiner:

    rrf(d) = Σ_lists 1 / (rrf_k + rank_list(d))

Rank arithmetic only — no score calibration between incomparable
scales (BM25 scores vs cosines), which is exactly why RRF is the
default hybrid fuser in production search stacks.

Scale shape: each input is already a top-k per query (answer-sized —
|queries| × k rows); the fuse is a union + one groupBy on
(query, doc) + one per-query window. Nothing corpus-proportional
touches this operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .rebalance import checkpoint

# documents returned per query by jaccard_top_k and rrf_fuse
_TOP_K = 10


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
) -> DataFrame:
    """Fuse two per-query rankings into a top-``_TOP_K`` by reciprocal
    rank fusion with constant 60.

    Inputs carry (query_id, doc_id, rank) with rank 1-based
    within each query; a document absent from one list simply
    contributes no term from it (the standard RRF convention).
    Output: (query_id, doc_id, rrf_score, fused_rank ≤ _TOP_K), ranked by
    (rrf_score DESC, id) — the id tie-break makes reruns byte-stable.
    The reciprocal terms are IEEE-identical on any engine given the
    same integer ranks, so the fused ordering is engine-portable; the
    displayed score is rounded AFTER ranking."""
    contrib = F.lit(1.0) / (F.lit(60) + F.col("rank"))
    legs = [
        df.select(
            F.col("query_id"),
            F.col("doc_id"),
            contrib.alias("_c"),
        )
        for df in (ranked_a, ranked_b)
    ]
    fused = (
        legs[0]
        .unionByName(legs[1])
        .groupBy("query_id", "doc_id")
        .agg(F.sum("_c").alias("_score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_score").desc(), F.col("doc_id").asc()
    )
    out = fused.withColumn("fused_rank", F.row_number().over(w)).filter(
        F.col("fused_rank") <= _TOP_K
    )
    return out.select(
        "query_id",
        "doc_id",
        F.round("_score", 6).alias("rrf_score"),
        "fused_rank",
    )


def jaccard_top_k(
    queries: DataFrame,
    corpus: DataFrame,
) -> DataFrame:
    """Lexical retrieval leg: top-``_TOP_K`` corpus docs per query doc
    by word-3-gram Jaccard (the dedup family's proven tokenization).

    Scale shape: the query side is dimension-sized by contract (a
    search evaluates a query set, not corpus×corpus — that is
    dedup_jaccard_pairs' job), so the query shingle table broadcasts;
    candidate generation is an inverted-index hash join on the
    shingle value (answer-proportional: only corpus docs sharing ≥1
    shingle with some query survive), and the Jaccard denominator
    reuses per-doc distinct-shingle counts computed once per side.

    Output: (query_id, doc_id, jaccard_sim, rank ≤ _TOP_K), ranked by
    (jaccard_sim DESC, doc_id) per query; self-matches excluded."""
    from mape_calculation_and_anonymization_spark.operators.dedup import word_ngrams

    def shingled(df, out_id):
        return df.select(
            F.col("doc_id").alias(out_id),
            F.explode(word_ngrams(3)).alias("sh"),
        )

    q_sh = checkpoint(shingled(queries, "query_id"), "fusion.jaccard_top_k.q_sh")
    c_sh = shingled(corpus, "doc_id")
    q_sizes = q_sh.groupBy("query_id").agg(F.count(F.lit(1)).alias("_qn"))
    c_sizes = c_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_cn"))
    inter = (
        c_sh.join(F.broadcast(q_sh), on="sh")
        .filter(F.col("query_id") != F.col("doc_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    sim = F.col("_i").cast("double") / (
        F.col("_qn") + F.col("_cn") - F.col("_i")
    )
    scored = (
        inter.join(F.broadcast(q_sizes), "query_id")
        .join(c_sizes, "doc_id")
        .select(
            "query_id",
            "doc_id",
            F.round(sim, 6).alias("jaccard_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("jaccard_sim").desc(), F.col("doc_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= _TOP_K
    )
