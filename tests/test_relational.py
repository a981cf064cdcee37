"""Relational-breadth operators: semi/anti complement invariants,
outer-join distribution conservation, sketch-aggregate tolerance
(the rows-only `approx_stats_events` query's semantic pin)."""

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from mape_calculation_and_anonymization_spark.fixtures import load_events, load_table

SF_DIR = "/root/testdata/sf0.01"


def test_semi_plus_anti_partition_orders(spark):
    """left_semi and left_anti on the same predicate partition the left
    side exactly."""
    orders = load_table(spark, SF_DIR, "orders")
    lineitem = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    cond = (lineitem.l_orderkey == orders.o_orderkey) & (
        lineitem.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    n_semi = orders.join(lineitem, cond, "left_semi").count()
    n_anti = orders.join(lineitem, cond, "left_anti").count()
    assert n_semi + n_anti == orders.count()
    assert n_semi > 0 and n_anti > 0


def test_outer_distribution_conserves_customers(spark):
    """Q13-style distribution must account for every customer,
    including the zero-order bucket an inner join would drop."""
    dist = entrymod._q_outer_join_order_distribution(spark, SF_DIR)
    rows = {r["c_count"]: r["custdist"] for r in dist.collect()}
    n_customers = load_table(spark, SF_DIR, "customer").count()
    assert sum(rows.values()) == n_customers


def test_anti_join_nonempty(spark):
    idle = entrymod._q_anti_join_idle_customers(spark, SF_DIR)
    assert idle.agg(F.sum("n_customers")).collect()[0][0] > 0


def test_range_join_bands_cover_all_orders(spark):
    bands = entrymod._q_range_join_price_bands(spark, SF_DIR)
    total = bands.agg(F.sum("n_orders")).collect()[0][0]
    assert total == load_table(spark, SF_DIR, "orders").count()


def test_approx_stats_flags_and_counts(spark):
    """The shipped query is sketch-only; its rank-check and sanity
    flags must all be TRUE and the exact event counts must agree with
    an independent aggregation."""
    approx = {
        r["event_type"]: r
        for r in entrymod._q_approx_stats_events(spark, SF_DIR).collect()
    }
    events = load_events(spark, SF_DIR)
    counts = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert set(approx) == set(counts)
    for et, a in approx.items():
        assert a["n_events"] == counts[et]
        assert a["hll_within_total"] is True
        assert a["p50_within_rank_tol"] is True


def test_k1_fixture_keyed_by_scale_factor(spark):
    """A sink fixture written at one sf must never validate another:
    paths are sf-keyed and each sf's roundtrip reflects its own data."""
    assert entrymod._k1_fixture_path("/root/testdata/sf0.001") != (
        entrymod._k1_fixture_path("/root/testdata/sf0.01")
    )
    report = [
        entrymod._fixture_path(sf, "events", "mape_report")
        for sf in (entrymod.SF0001, entrymod._ORACLE_SF_DIR)
    ]
    assert report[0] != report[1]
    n_small = (
        entrymod._q_k1_parquet_roundtrip(spark, "/root/testdata/sf0.001")
        .agg(F.sum("n_suppliers"))
        .collect()[0][0]
    )
    n_mid = (
        entrymod._q_k1_parquet_roundtrip(spark, SF_DIR)
        .agg(F.sum("n_suppliers"))
        .collect()[0][0]
    )
    assert n_small == load_table(spark, "/root/testdata/sf0.001", "supplier").count()
    assert n_mid == load_table(spark, SF_DIR, "supplier").count()
    assert n_small != n_mid


def test_sketches_within_exact_bounds(spark):
    """The STRICT bound checks the shipped query no longer pays for
    (exact distinct / exact percentile are the 100 TB scale-killers
    the sketches exist to avoid): HLL++ within 3·rsd of the exact
    distinct count, approx median between the exact 0.48/0.52
    quantiles. Test-only — this is where the exact aggregation cost
    belongs."""
    events = load_events(spark, SF_DIR)
    rows = (
        events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("hll"),
            F.expr("percentile(value, array(0.48, 0.52))").alias("band"),
            F.expr("approx_percentile(value, 0.5, 10000)").alias("ap50"),
        )
        .collect()
    )
    assert len(rows) == 5
    for r in rows:
        assert abs(r["hll"] - r["exact_users"]) <= 0.06 * r["exact_users"]
        assert r["band"][0] <= r["ap50"] <= r["band"][1]


def test_sql_surface_matches_dataframe_formulation(spark):
    """spark.sql over the registered views must produce the SAME rows
    as the DataFrame registry query — one Catalyst, two front ends."""
    entrymod._register_views(spark, SF_DIR, ["lineitem"])
    sql_rows = sorted(
        map(
            tuple,
            spark.sql(
                """
                SELECT l_returnflag, l_linestatus,
                       ROUND(SUM(l_quantity), 2) AS sum_qty,
                       COUNT(*) AS count_order
                FROM lineitem
                WHERE l_shipdate <= DATE '1998-09-02'
                GROUP BY l_returnflag, l_linestatus
                """,
            ).collect(),
        )
    )
    df_rows = sorted(
        map(
            tuple,
            entrymod._q_q1_pricing_summary(spark, SF_DIR)
            .select("l_returnflag", "l_linestatus", "sum_qty", "count_order")
            .collect(),
        )
    )
    assert sql_rows == df_rows


def test_profile_orders_approx_bounds_and_booleans(spark):
    """The sketch profile's semantic pin: every HLL++ estimate lands
    within the published 3·rsd envelope of the EXACT distinct count
    (rsd=0.02 → ±6%), and the registered query's published booleans
    are all TRUE with the exact null/min/max agreeing with the exact
    profile — the guarantee the oracle's TRUE prediction rests on."""
    sketch = entrymod._profile_orders_sketch(spark, SF_DIR).collect()[0]
    orders = load_table(spark, SF_DIR, "orders")
    for c in entrymod._PROFILE_COLS:
        exact = orders.select(F.countDistinct(c)).collect()[0][0]
        approx = sketch[f"{c}__approx"]
        assert abs(approx - exact) <= max(1, 0.06 * exact), (c, approx, exact)
    rows = {
        r["column"]: r
        for r in entrymod._q_profile_orders_approx(spark, SF_DIR).collect()
    }
    exact_rows = {
        r["column"]: r for r in entrymod._q_profile_orders(spark, SF_DIR).collect()
    }
    assert set(rows) == set(entrymod._PROFILE_COLS)
    for c, r in rows.items():
        assert r["hll_within_bound"] is True
        assert r["n_nulls"] == exact_rows[c]["n_nulls"]
        assert r["min_str"] == exact_rows[c]["min_str"]
        assert r["max_str"] == exact_rows[c]["max_str"]
