"""Bucketed-table guarantees: a join or aggregation on the bucket key
must plan with ZERO shuffle Exchanges — the write-once-shuffle-never
contract that makes repeated fact⋈fact joins viable at 100 TB."""

import pytest
from pyspark.sql import functions as F

from mape_calculation_and_anonymization_spark.fixtures import load_table
from mape_calculation_and_anonymization_spark.plans.audit import count_exchanges
from mape_calculation_and_anonymization_spark.sources.bucketed import (
    bucketed_join,
)

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    orders = load_table(spark, SF_DIR, "orders")
    customer = load_table(spark, SF_DIR, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    for name, df in [("b_orders", orders), ("b_customer", customer)]:
        (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", str(base / name))
            .bucketBy(8, "o_custkey")
            .sortBy("o_custkey")
            .saveAsTable(name)
        )
    yield "b_orders", "b_customer"
    for name in ("b_orders", "b_customer"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_join_no_exchange(spark, bucketed_tables):
    left, right = bucketed_tables
    joined = bucketed_join(spark, left, right)
    assert count_exchanges(joined) == 0
    # row parity with the plain (shuffling) join
    plain = load_table(spark, SF_DIR, "orders").join(
        load_table(spark, SF_DIR, "customer").withColumnRenamed(
            "c_custkey", "o_custkey"
        ),
        on="o_custkey",
    )
    assert joined.count() == plain.count()


def test_write_bucketed_table_rewrites_and_qualified_names(spark):
    from mape_calculation_and_anonymization_spark.sources.bucketed import (
        write_bucketed_table,
    )

    nation = load_table(spark, SF_DIR, "nation").select(
        F.col("n_nationkey").alias("o_custkey"), "n_name"
    )
    try:
        # unqualified: write twice — the second write must survive the
        # leftover-location cleanup path (LOCATION_ALREADY_EXISTS guard)
        write_bucketed_table(nation, "bkt_guard_t")
        write_bucketed_table(nation, "bkt_guard_t")
        assert spark.table("bkt_guard_t").count() == nation.count()
        # qualified db.tbl: cleanup must target warehouse/<db>.db/<tbl>,
        # not warehouse/<db.tbl>
        spark.sql("CREATE DATABASE IF NOT EXISTS bktdb")
        write_bucketed_table(nation, "bktdb.guard_t")
        write_bucketed_table(nation, "bktdb.guard_t")
        assert spark.table("bktdb.guard_t").count() == nation.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_guard_t")
        spark.sql("DROP TABLE IF EXISTS bktdb.guard_t")
        spark.sql("DROP DATABASE IF EXISTS bktdb")


def test_bucketed_agg_no_exchange(spark, bucketed_tables):
    left, _ = bucketed_tables
    agg = (
        spark.table(left)
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("total"))
    )
    assert count_exchanges(agg) == 0
    assert agg.count() == spark.table(left).select("o_custkey").distinct().count()


def test_delete_keys_rewrites_only_affected(spark, tmp_path):
    """Copy-on-write delete: only files containing erasure keys are
    rewritten, survivors are untouched (same file names), repeated
    delete is a no-op, and surviving rows are exactly the anti set."""
    import glob
    import os

    from mape_calculation_and_anonymization_spark.sources.sinks import delete_keys

    path = str(tmp_path / "t")
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 50).alias("user_id")
    )
    # hash-partition on user_id: each user's rows live in one file
    df.repartition(4, "user_id").write.parquet(path)
    before = set(glob.glob(os.path.join(path, "part-*")))
    keys = spark.createDataFrame([(7,), (13,)], ["user_id"])

    stats = delete_keys(spark, path, keys)
    assert stats["files_total"] == 4
    assert 1 <= stats["files_rewritten"] <= 2  # 2 users -> <=2 hash files
    assert stats["rows_deleted"] == 40  # 2 users x 20 rows each

    after = set(glob.glob(os.path.join(path, "part-*")))
    untouched = before & after
    assert len(untouched) == 4 - stats["files_rewritten"]
    # no checksum sidecar of a rewritten file is carried over
    sidecars = glob.glob(os.path.join(path, ".part-*.crc"))
    assert sorted(os.path.basename(c)[1:-4] for c in sidecars) == sorted(
        os.path.basename(f) for f in after
    )

    got = spark.read.parquet(path)
    assert got.count() == 960
    assert got.filter(F.col("user_id").isin(7, 13)).count() == 0

    again = delete_keys(spark, path, keys)
    assert again["files_rewritten"] == 0 and again["rows_deleted"] == 0
