"""Incremental key-table maintenance over a stream (foreachBatch).

The reference's only cross-run state is the persistent uid→pseudonym
key table parquet, upserted once per batch run
(reference/anonymize_datasets.py:27-84). This module maintains the
SAME table incrementally from a stream: each micro-batch goes through
the batch anonymizer's own upsert, ``operators.keys.upsert_key_table``
(unseen uids → blake2b pseudonyms, committed through
``sources.sinks.replace_dir``) — so a live ingest and the batch
anonymizer share one consistent mapping.

foreachBatch is the right tool (not a stateful operator): the key
table is an external artifact with its own durability contract, and
foreachBatch hands each micro-batch to ordinary batch code. Batches
are processed serially per query, so the read-modify-swap is
single-writer by construction. The incremental aggregate below
commits through the same ``replace_dir``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.keys import load_key_table, upsert_key_table
from ..sources.sinks import replace_dir, write_parquet_snappy
from .windows import _drain


def stream_key_table_upsert(
    stream_df: DataFrame,
    key_dir: str,
) -> None:
    """Drain ``stream_df`` with Trigger.AvailableNow, upserting the
    persistent ``user_id`` key table once per micro-batch. Raises on timeout
    rather than leaving a partially-ingested table unreported."""

    def _upsert(batch_df: DataFrame, _batch_id: int) -> None:
        key_df = load_key_table(batch_df.sparkSession, key_dir, "user_id")
        upsert_key_table(key_df, batch_df, key_dir, "user_id")

    writer = stream_df.writeStream.foreachBatch(_upsert)
    _drain(writer, stream_df.sparkSession, "key_upsert")


# ---------------------------------------------------------------------------
# incremental aggregate maintenance (materialized-view upkeep)
# ---------------------------------------------------------------------------


def merge_partial_aggregate(
    batch_df: DataFrame, table_path: str
) -> None:
    """Fold one micro-batch's partial (count, sum) of ``value`` per
    ``event_type`` into the
    running aggregate table — the materialized-view maintenance every
    dashboard-serving pipeline runs instead of rescanning history.

    COUNT/SUM are mergeable sketches: batch-partial + full-outer join
    + coalesce-add is exact regardless of how rows were split across
    batches. The rewrite is key-cardinality-sized (never the event
    history), written in full beside the live table before
    ``replace_dir`` swaps it in, so no lazy plan reads the replaced
    directory and a failed merge leaves the table as it was. Batches
    arrive serially per query, so read-modify-swap is single-writer."""
    import os

    spark = batch_df.sparkSession
    partial = batch_df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )
    if os.path.isdir(table_path):
        merged = (
            spark.read.parquet(table_path)
            .withColumnRenamed("n_events", "n_old")
            .withColumnRenamed("total_value", "v_old")
            .join(partial, on="event_type", how="full_outer")
            .select(
                "event_type",
                (
                    F.coalesce("n_old", F.lit(0))
                    + F.coalesce("n_events", F.lit(0))
                ).alias("n_events"),
                (
                    F.coalesce("v_old", F.lit(0.0))
                    + F.coalesce("total_value", F.lit(0.0))
                ).alias("total_value"),
            )
        )
    else:
        merged = partial
    replace_dir(table_path, lambda stage: write_parquet_snappy(merged, stage))


def stream_incremental_agg(
    stream_df: DataFrame,
    table_path: str,
) -> None:
    """Drain ``stream_df`` with Trigger.AvailableNow, merging each
    micro-batch's partial aggregate of ``value`` per ``event_type``
    (:func:`merge_partial_aggregate`) into the running table. After the
    stream finishes the table equals the batch aggregate over
    everything delivered — exactness pinned by the registry oracle."""

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        merge_partial_aggregate(batch_df, table_path)

    writer = stream_df.writeStream.foreachBatch(_merge)
    _drain(writer, stream_df.sparkSession, "inc_agg")
