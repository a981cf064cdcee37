"""Streaming near-dup ingest (streaming/neardup.py) — batch-split
invariance and equality with the full batch pipeline."""

import os

import pytest
from pyspark.sql import functions as F

from mape_calculation_and_anonymization_spark.operators.dedup import (
    minhash_near_duplicates,
)
from mape_calculation_and_anonymization_spark.streaming.neardup import (
    streaming_minhash_ingest,
)

SF = "/root/testdata/sf0.001"


def _pair_set(df):
    return {
        (r["id_a"], r["id_b"], round(r["jaccard_sim"], 9))
        for r in df.collect()
    }


def _write_batches(corpus, splits, out_dir):
    """Land the corpus as one parquet FILE per split predicate so the
    file stream (maxFilesPerTrigger=1) replays it as that exact
    micro-batch sequence."""
    import glob
    import shutil

    os.makedirs(out_dir, exist_ok=True)
    for i, pred in enumerate(splits):
        tmp = os.path.join(out_dir, f"_b{i}")
        corpus.filter(pred).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        os.rename(part, os.path.join(out_dir, f"batch_{i}.parquet"))
        shutil.rmtree(tmp)


def _run_stream(spark, src_dir, state_dir):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "batch_*.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    return streaming_minhash_ingest(stream, state_dir)


@pytest.fixture(scope="module")
def corpus(spark):
    import __spark_entry__ as e

    return (
        e._docs_with_planted_twins(spark, SF)
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )


@pytest.fixture(scope="module")
def full_pairs(corpus):
    return _pair_set(
        minhash_near_duplicates(corpus).select(
            "id_a", "id_b", "jaccard_sim"
        )
    )


def test_streaming_equals_full_pipeline(spark, corpus, full_pairs, tmp_path_factory):
    """Two micro-batches (standing, then the twin drop): the
    accumulated ledger equals the full batch pipeline's pair set."""
    base = tmp_path_factory.mktemp("neardup2")
    src, state = str(base / "src"), str(base / "state")
    _write_batches(
        corpus,
        [F.col("doc_id") < 1_000_000, F.col("doc_id") >= 1_000_000],
        src,
    )
    got = _pair_set(_run_stream(spark, src, state))
    assert got == full_pairs and len(got) > 0


def test_streaming_batch_split_invariance(spark, corpus, full_pairs, tmp_path_factory):
    """A completely different 3-way chunking (doc_id mod 3, mixing
    twins and standing docs in every batch) yields the SAME ledger —
    pairs are corpus properties, not arrival properties."""
    base = tmp_path_factory.mktemp("neardup3")
    src, state = str(base / "src"), str(base / "state")
    _write_batches(
        corpus,
        [F.pmod(F.col("doc_id"), F.lit(3)) == i for i in range(3)],
        src,
    )
    got = _pair_set(_run_stream(spark, src, state))
    assert got == full_pairs


def test_streaming_resumes_against_standing_state(spark, corpus, full_pairs, tmp_path_factory):
    """Day-2 semantics: draining the drop against a state dir already
    populated by the day-1 drain emits exactly the missing
    new-touching pairs — the union across days is the full set and
    nothing re-emits."""
    base = tmp_path_factory.mktemp("neardup_resume")
    day1_src = str(base / "day1")
    day2_src = str(base / "day2")
    state = str(base / "state")
    _write_batches(corpus, [F.col("doc_id") < 1_000_000], day1_src)
    _write_batches(corpus, [F.col("doc_id") >= 1_000_000], day2_src)
    day1 = _pair_set(_run_stream(spark, day1_src, state))
    # pairs dir now holds day-1 output; day 2 reuses the same state
    day2_total = _pair_set(_run_stream(spark, day2_src, state))
    assert day1 <= day2_total
    assert day2_total == full_pairs


def test_drain_start_failure_restores_session(spark, tmp_path):
    """A drain whose start fails leaves the session as it found it:
    the shuffle-partition conf is back at its old value and no
    streaming query stays active. Covers a start that fails before
    the drain (a batch frame has no writeStream) and one that fails
    inside it (complete mode without an aggregation)."""
    from pyspark.errors import AnalysisException

    from mape_calculation_and_anonymization_spark.streaming.windows import (
        read_events_stream,
        run_stream_to_memory,
    )

    parts = "spark.sql.shuffle.partitions"
    before = spark.conf.get(parts)
    with pytest.raises(AnalysisException):
        streaming_minhash_ingest(
            spark.range(3).selectExpr("id AS doc_id", "'x' AS text"),
            str(tmp_path / "state"),
        )
    assert spark.conf.get(parts) == before
    assert spark.streams.active == []
    with pytest.raises(AnalysisException):
        run_stream_to_memory(
            read_events_stream(spark, SF),
            output_mode="complete",
            shuffle_partitions=3,
        )
    assert spark.conf.get(parts) == before
    assert spark.streams.active == []


def test_ingest_failure_releases_the_batch_cache(spark, corpus, tmp_path, monkeypatch):
    """A micro-batch that fails after its frame is persisted leaves no
    cached frame in the caller's session."""
    from mape_calculation_and_anonymization_spark.streaming import neardup

    def failing(df):
        raise RuntimeError("injected ingest failure")

    src = str(tmp_path / "src")
    _write_batches(corpus, [F.col("doc_id") % 2 == 0], src)
    monkeypatch.setattr(neardup, "ensure_min_partitions", failing)
    spark.catalog.clearCache()
    with pytest.raises(Exception, match="injected ingest failure"):
        _run_stream(spark, src, str(tmp_path / "state"))
    assert spark.streams.active == []
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
