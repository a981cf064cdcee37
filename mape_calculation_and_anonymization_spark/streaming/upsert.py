"""Incremental key-table maintenance over a stream (foreachBatch).

The reference's only cross-run state is the persistent uid→pseudonym
key table parquet, upserted once per batch run
(reference/anonymize_datasets.py:27-84). This module maintains the
SAME table incrementally from a stream: each micro-batch discovers
unseen uids, derives their blake2b pseudonyms, and appends them via
the atomic-swap writer — so a live ingest and the batch anonymizer
share one consistent mapping.

foreachBatch is the right tool (not a stateful operator): the key
table is an external artifact with its own durability contract, and
foreachBatch hands each micro-batch to ordinary batch code where the
existing upsert logic (existing-mappings-win, distinct-unmatched
discovery) applies unchanged. Batches are processed serially per
query, so the read-modify-swap is single-writer by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import blake2b_10hex
from ..operators.keys import load_key_table, save_key_table
from ..operators.rebalance import checkpoint
from .windows import _drain


def upsert_batch_into_key_table(
    batch_df: DataFrame, key_dir: str, col: str
) -> None:
    """One micro-batch worth of upsert: unseen uids → blake2b append.
    Idempotent (re-delivered batches add nothing), existing mappings
    always win — identical semantics to the batch anonymizer."""
    spark = batch_df.sparkSession
    hcol = f"{col}_"
    seen = batch_df.select(F.col(col).cast("string")).dropna().distinct()
    key_df = load_key_table(spark, key_dir, col)
    new_keys = seen.join(key_df.select(col), on=col, how="left_anti").withColumn(
        hcol, blake2b_10hex(F.col(col))
    )
    if new_keys.isEmpty():
        return
    updated = key_df.unionByName(new_keys).dropDuplicates([col, hcol])
    save_key_table(updated, key_dir, col)


def stream_key_table_upsert(
    stream_df: DataFrame,
    key_dir: str,
    col: str = "user_id",
    timeout_s: int = 300,
) -> None:
    """Drain ``stream_df`` with Trigger.AvailableNow, upserting the
    persistent key table once per micro-batch. Raises on timeout
    rather than leaving a partially-ingested table unreported."""

    def _upsert(batch_df: DataFrame, _batch_id: int) -> None:
        upsert_batch_into_key_table(batch_df, key_dir, col)

    writer = stream_df.writeStream.foreachBatch(_upsert)
    _drain(writer, stream_df.sparkSession, "key_upsert", timeout_s)


# ---------------------------------------------------------------------------
# incremental aggregate maintenance (materialized-view upkeep)
# ---------------------------------------------------------------------------


def merge_partial_aggregate(
    batch_df: DataFrame, table_path: str, key: str = "event_type"
) -> None:
    """Fold one micro-batch's partial (count, sum) per key into the
    running aggregate table — the materialized-view maintenance every
    dashboard-serving pipeline runs instead of rescanning history.

    COUNT/SUM are mergeable sketches: batch-partial + full-outer join
    + coalesce-add is exact regardless of how rows were split across
    batches. The rewrite is key-cardinality-sized (never the event
    history) and lands via write-temp-then-swap so a concurrent reader
    sees the old or new table, never a torn one. Batches arrive
    serially per query, so read-modify-swap is single-writer."""
    import os
    import shutil

    spark = batch_df.sparkSession
    partial = batch_df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )
    if os.path.isdir(table_path):
        old = spark.read.parquet(table_path)
        # Materialize before the swap: lazy plans must not read the
        # directory we are about to replace.
        merged = checkpoint(
            old.withColumnRenamed("n_events", "n_old")
            .withColumnRenamed("total_value", "v_old")
            .join(partial, on=key, how="full_outer")
            .select(
                key,
                (
                    F.coalesce("n_old", F.lit(0))
                    + F.coalesce("n_events", F.lit(0))
                ).alias("n_events"),
                (
                    F.coalesce("v_old", F.lit(0.0))
                    + F.coalesce("total_value", F.lit(0.0))
                ).alias("total_value"),
            ),
            "upsert.merge_partial_aggregate.merged",
        )
    else:
        merged = partial
    tmp = table_path.rstrip("/") + ".merge_tmp"
    merged.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(table_path, ignore_errors=True)
    shutil.move(tmp, table_path)


def stream_incremental_agg(
    stream_df: DataFrame,
    table_path: str,
    key: str = "event_type",
    timeout_s: int = 300,
) -> None:
    """Drain ``stream_df`` with Trigger.AvailableNow, merging each
    micro-batch's partial aggregate into the running table. After the
    stream finishes the table equals the batch aggregate over
    everything delivered — exactness pinned by the registry oracle."""

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        merge_partial_aggregate(batch_df, table_path, key)

    writer = stream_df.writeStream.foreachBatch(_merge)
    _drain(writer, stream_df.sparkSession, "inc_agg", timeout_s)
