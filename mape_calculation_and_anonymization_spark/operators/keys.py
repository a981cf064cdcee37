"""Persistent pseudonym key tables (J1/F4/U1/A4/Q6).

The reference keeps one parquet per uid column
(``./key/key_{col}.snappy.parquet``) mapping original → pseudonym and
upserts it on every run (reference/anonymize_datasets.py:27-84). That
read-modify-overwrite of a path currently being read fails naively in
Spark, so :func:`upsert_key_table` (shared with the streaming ingest)
commits through ``sources.sinks.replace_dir`` (single-writer, as in
the reference).

Scale notes: the key table is a dimension but can grow large (one row
per distinct uid ever seen). Nothing here collects it: enrichment is
a join (AQE auto-broadcasts while small, shuffles when not), new-uid
discovery is a distinct over the unmatched rows, and the pseudonym
derivation runs distributed through the blake2b pandas UDF.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mape_calculation_and_anonymization_spark.functions.hashing import blake2b_10hex
from mape_calculation_and_anonymization_spark.operators.rebalance import checkpoint
from mape_calculation_and_anonymization_spark.sources.sinks import (
    replace_dir,
    write_parquet_snappy,
)


def key_table_path(key_dir: str, col: str) -> str:
    """Mirrors the reference's layout (anonymize_datasets.py:35)."""
    return os.path.join(key_dir, f"key_{col}.snappy.parquet")


def load_key_table(spark: SparkSession, key_dir: str, col: str) -> DataFrame:
    """Existing key table, or an empty two-column frame: on a fresh run
    (reference/anonymize_datasets.py:41-44) and for a legacy file
    without the ``<col>_`` hash column, which the next upsert then
    rebuilds from scratch (Q6)."""
    path = key_table_path(key_dir, col)
    if os.path.exists(path):
        table = spark.read.parquet(path)
        if {col, f"{col}_"} <= set(table.columns):
            return table
    schema = T.StructType(
        [
            T.StructField(col, T.StringType()),
            T.StructField(f"{col}_", T.StringType()),
        ]
    )
    return spark.createDataFrame([], schema)


def save_key_table(key_df: DataFrame, key_dir: str, col: str) -> None:
    """Commit ``key_df`` (it may read the old table) via :func:`replace_dir`.

    Unlike the reference (which assumes ./key/ exists and crashes on
    fresh checkouts — Q6), the directory is created on demand.
    """
    os.makedirs(key_dir, exist_ok=True)
    path = key_table_path(key_dir, col)
    replace_dir(path, lambda stage: write_parquet_snappy(key_df, stage))


def upsert_key_table(
    key_df: DataFrame, uids: DataFrame, key_dir: str, col: str
) -> None:
    """F4+U1+A4 — append a blake2b pseudonym for each distinct non-null
    ``col`` of ``uids`` missing from ``key_df`` (the table as
    :func:`load_key_table` just read it; left_anti = the reference's
    null-match filter). Existing mappings win; an existing table with
    no new uid is not rewritten, a missing one is always written."""
    hcol = f"{col}_"
    new_keys = (
        uids.select(F.col(col).cast("string"))
        .dropna()
        .distinct()
        .join(key_df.select(col), on=col, how="left_anti")
        .withColumn(hcol, blake2b_10hex(F.col(col)))
    )
    if os.path.exists(key_table_path(key_dir, col)):
        # discover once: the emptiness probe and the write read it
        new_keys = checkpoint(new_keys, "keys.upsert_key_table.new_keys")
        if new_keys.isEmpty():
            return
    updated = key_df.unionByName(new_keys).dropDuplicates([col, hcol])
    save_key_table(updated, key_dir, col)


def uid_anonymization(
    col: str, df: DataFrame, key_dir: str = "./key"
) -> DataFrame:
    """X5+J1+F4+U1+A4 — replace ``col`` with a stable 10-hex blake2b
    pseudonym, keeping pseudonyms consistent across runs through the
    persistent key table (reference/anonymize_datasets.py:27-84).

    Existing mappings win (so a manually-edited key table is honored);
    unseen uids get ``blake2b(uid)`` and are appended to the table.

    Null uids stay null — a conscious fix: the reference's
    ``astype(str)`` coerced missing values to the literal string
    ``'nan'`` and pseudonymized that.
    """
    spark = df.sparkSession
    df = df.withColumn(col, F.col(col).cast("string"))
    hcol = f"{col}_"
    upsert_key_table(load_key_table(spark, key_dir, col), df, key_dir, col)
    # Enrich from the committed table, rewritten or not: the pre-upsert
    # key table plan must not leak into the returned (lazy) frame, where
    # it would re-read a path a swap may replace. The table covers every
    # non-null uid: existing mappings win, no fallback.
    fresh = load_key_table(spark, key_dir, col)
    result = df.join(fresh.select(col, hcol), on=col, how="left")
    return result.drop(col).withColumnRenamed(hcol, col)
