"""Dataset anonymization pipeline (X3/X4/X5 + batch driver).

Spark-first re-expression of reference/anonymize_datasets.py:
  * value perturbation ×1.0125 over a fixed column-name list (X3,
    reference/anonymize_datasets.py:118-124)
  * label → ``ANON_CLIENT {i}`` replacement (X4, :86-110)
  * uid → blake2b pseudonym with persistent key table (X5, :27-84)
  * newest-dated-folder batch conversion CSV/parquet → snappy parquet
    with ``process_time``/``timezone`` stamping (:137-215)

All column probing is case-insensitive like the reference, but the
transforms operate on the column's ACTUAL name (the reference assigned
through the canonical-cased name and would KeyError on a lowercase
``amount`` — latent bug, consciously fixed).
"""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mape_calculation_and_anonymization_spark.functions.labels import (
    anonymize_label_column,
    label_universe,
)
from mape_calculation_and_anonymization_spark.operators.keys import uid_anonymization
from mape_calculation_and_anonymization_spark.sources.readers import (
    lowercase_columns,
    read_input_folder,
)
from mape_calculation_and_anonymization_spark.sources.sinks import (
    anonymized_output_name,
    write_parquet_snappy,
)

# Column-name universes, verbatim from reference/anonymize_datasets.py:118-120.
ANON_COLS = ["CustomerCode", "brand", "customer"]
UID_COLS = ["uid", "meter", "meters"]
VALUE_COLS = [
    "Amount", "forecast_gross", "backcast_net", "backcast_gross",
    "usage_initial_net", "usage_initial_gross", "usage_final_net",
    "usage_final_gross", "usage", "value", "ams_actual_consumption",
    "ams_actual_net", "ams_actual_consumption_abs",
    "forecast_abs_errors", "backcast_abs_errors",
]

PERTURBATION_FACTOR = 1.0125


def _resolve(df: DataFrame, name: str) -> str | None:
    """Case-insensitive column lookup → actual column name."""
    lower = name.lower()
    for c in df.columns:
        if c.lower() == lower:
            return c
    return None


def perturb_values(df: DataFrame) -> DataFrame:
    """X3 — multiply every present value column by
    ``PERTURBATION_FACTOR`` (single projection, JVM-side)."""
    exprs = {}
    for name in VALUE_COLS:
        actual = _resolve(df, name)
        if actual is not None:
            exprs[actual] = F.col(actual) * F.lit(PERTURBATION_FACTOR)
    return df.withColumns(exprs) if exprs else df


def anonymize_labels(df: DataFrame) -> DataFrame:
    """X4 — replace client/brand labels in every present label column.

    One tiny distinct-collect per label column (the universe drives
    the replacement indices); the row-level work is all rlike/
    regexp_replace/when — no Python UDF.
    """
    exprs = {}
    for cand in ANON_COLS:
        actual = _resolve(df, cand)
        if actual is not None:
            labels = label_universe(df, actual)
            exprs[actual] = anonymize_label_column(actual, labels)
    return df.withColumns(exprs) if exprs else df


def anonymize_uids(df: DataFrame, key_dir: str = "./key") -> DataFrame:
    """X5 — pseudonymize every present uid column via its key table."""
    for cand in UID_COLS:
        actual = _resolve(df, cand)
        if actual is not None:
            df = uid_anonymization(actual, df, key_dir=key_dir)
    return df


def cdm_anonymization(df: DataFrame, key_dir: str = "./key") -> DataFrame:
    """Full anonymization composition (reference/anonymize_datasets.py:112-135):
    perturb → labels → uids → lowercase all column names."""
    df = perturb_values(df)
    df = anonymize_labels(df)
    df = anonymize_uids(df, key_dir=key_dir)
    return lowercase_columns(df)


def stamp_metadata(
    df: DataFrame, timezone: str, now: datetime | None = None
) -> DataFrame:
    """P6/X6 — add ``process_time`` (ISO seconds) and ``timezone`` if
    absent (reference/anonymize_datasets.py:169-173). ``now`` injects a
    fixed clock for deterministic tests; default stamps plan-build time
    as one literal so every row carries the same value (the reference
    stamped a single ``dt.now()`` per file)."""
    if "process_time" not in df.columns:
        ts = (now or datetime.now()).strftime("%Y-%m-%dT%H:%M:%S")
        df = df.withColumn("process_time", F.lit(ts))
    if "timezone" not in df.columns:
        df = df.withColumn("timezone", F.lit(timezone))
    return df


def anonymize_files(
    spark: SparkSession,
    input_directory: str,
    output_directory: str,
    client: str,
    timezone: str = "America/Chicago",
    client_demo: str = "client_demo",
    key_dir: str = "./key",
    now: datetime | None = None,
) -> list[str]:
    """Batch driver (reference/anonymize_datasets.py:137-215): newest
    dated folder → per-file anonymize → snappy parquet with the
    client name rewritten. Returns output paths.

    The per-file loop is driver-side metadata only; each file's
    transform+write is a distributed job. Output is a parquet
    directory per input file (the scalable layout) rather than the
    reference's single file.
    """
    os.makedirs(output_directory, exist_ok=True)
    if not os.path.isdir(input_directory):
        raise FileNotFoundError(f"The directory {input_directory} does not exist.")

    outputs: list[str] = []
    for meta, df in read_input_folder(spark, input_directory):
        df = cdm_anonymization(df, key_dir=key_dir)
        df = stamp_metadata(df, timezone, now=now)
        out_path = os.path.join(
            output_directory, anonymized_output_name(meta.filename, client, client_demo)
        )
        write_parquet_snappy(df, out_path)
        outputs.append(out_path)
    return outputs
