"""Bucketed tables: shuffle-free co-located joins and aggregations.

At 100 TB the dominant cost of a fact⋈fact join is the shuffle of both
sides. Hive-style bucketing pays that shuffle ONCE at write time —
`bucketBy(n, key)` hash-partitions files on disk — after which every
join or groupBy on the bucket key reads co-located buckets and Catalyst
drops the Exchange entirely (both sides report the same
HashPartitioning output partitioning). This module wraps the write
path and the co-located join; tests/test_bucketed.py asserts the
no-Exchange guarantee with ``plans.count_exchanges``.

The reference has no analogue (single-node pandas); this is pure scale
surface. Bucket-count guidance: pick `n_buckets` so one bucket of the
LARGER table ≈ 128-512 MB (e.g. 100 TB fact / 256 MB ≈ 400k buckets
is too many files — bucket the join-relevant subset or combine with
date partitioning so each partition holds `n_buckets` files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed_table(df: DataFrame, table_name: str) -> None:
    """Persist ``df`` as a managed table in 8 buckets on ``o_custkey``."""
    import os
    import shutil
    from urllib.parse import urlparse

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # With the default in-memory catalog a previous session can leave
    # the managed location on disk with no catalog entry; saveAsTable
    # refuses to reuse it (LOCATION_ALREADY_EXISTS), so clear it —
    # but ONLY when the catalog no longer owns the name (the DROP above
    # can't remove a path the catalog never knew about, and we must
    # never delete data behind a still-registered table), and at the
    # catalog's actual layout for qualified names (db.tbl lives under
    # warehouse/<db>.db/<tbl>, not warehouse/<db.tbl>).
    if not spark.catalog.tableExists(table_name):
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        parts = table_name.lower().split(".")
        if warehouse and len(parts) <= 2:
            rel = parts[-1] if len(parts) == 1 else os.path.join(
                f"{parts[0]}.db", parts[1]
            )
            shutil.rmtree(os.path.join(warehouse, rel), ignore_errors=True)
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(8, "o_custkey")
        .saveAsTable(table_name)
    )


def bucketed_join(spark: SparkSession, left_table: str, right_table: str) -> DataFrame:
    """Join two bucketed tables on their bucket key ``o_custkey``. When
    both sides were written with the same bucket count on it, the
    physical plan contains NO Exchange (verify: ``df.explain()``)."""
    return spark.table(left_table).join(spark.table(right_table), on="o_custkey")

