"""SparkSession factory.

Every entry point shares one opinionated local-mode config:
AQE on (runtime coalesce + skew handling), Arrow on (pandas UDF fast
path), shuffle partitions sized to the machine instead of the 200
default. On a real cluster the same settings hold, except
``spark.sql.shuffle.partitions`` should scale with executor count —
AQE's coalescePartitions makes over-provisioning cheap, so we set a
high initial number and let AQE shrink it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def resolve_cpus(cpus: str | int | None = None) -> int | None:
    """Local core count from ``cpus``, else $SPARK_GRAFT_CPUS.

    ``''`` and ``'*'`` (and an unset variable) mean all local cores and
    return None; a positive integer means that many. Anything else
    raises ValueError naming the variable."""
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    text = str(cpus)
    if text in ("", "*"):
        return None
    if text.isdigit() and int(text) > 0:
        return int(text)
    raise ValueError(
        f"SPARK_GRAFT_CPUS must be '*', empty, or a positive integer, got {cpus!r}"
    )


def get_spark(
    app_name: str = "mape_anonymization_spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS, else all local cores.
    """
    n_cpus = resolve_cpus(cpus)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.master(f"local[{n_cpus or '*'}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
