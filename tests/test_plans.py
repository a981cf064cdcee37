"""Plan-shape regression tests: the scale properties the engine
claims are machine-checked here (SURVEY.md §4.2)."""

from pyspark.sql import functions as F

import __spark_entry__ as e
from mape_calculation_and_anonymization_spark.fixtures import (
    events_to_schema_a,
    load_events,
    load_table,
)
from mape_calculation_and_anonymization_spark.operators.mape import (
    daily_mape_aggregation,
    hourly_aggregation,
)
from mape_calculation_and_anonymization_spark.plans.audit import (
    count_exchanges,
    count_nodes,
    physical_plan,
    read_schema_columns,
    uses_broadcast_join,
)

SF = "/root/testdata/sf0.001"


def test_mape_pipeline_scan_is_pruned(spark):
    df = e._q_mape_daily_portfolio(spark, SF)
    cols = read_schema_columns(df, "events.parquet")
    # schema-A derivation needs only ts and value; the other four
    # event columns must be pruned at the scan
    assert sorted(cols) == ["ts", "value"]


def test_mape_daily_has_exactly_two_shuffles(spark):
    raw = events_to_schema_a(load_events(spark, SF))
    daily = daily_mape_aggregation(hourly_aggregation(raw, sort=False))
    # hourly agg exchange + daily agg exchange; the sort=False path
    # must NOT add a range-partitioning exchange between them
    assert count_exchanges(daily) == 2


def test_hourly_sort_adds_one_exchange(spark):
    raw = events_to_schema_a(load_events(spark, SF))
    sorted_hourly = hourly_aggregation(raw, sort=True)
    unsorted = hourly_aggregation(raw, sort=False)
    assert count_exchanges(sorted_hourly) == count_exchanges(unsorted) + 1


def test_key_join_broadcasts(spark):
    df = e._q_j1_key_join(spark, SF)
    assert uses_broadcast_join(df)


def test_top_k_uses_take_ordered(spark):
    df = e._q_o1_top_revenue(spark, SF)
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_filter_pushdown_reaches_scan(spark):
    li = load_table(spark, SF, "lineitem").filter(
        F.col("l_quantity") > 10
    ).select("l_orderkey", "l_quantity")
    plan = physical_plan(li)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,10.0)" in plan
    assert sorted(read_schema_columns(li, "lineitem.parquet")) == [
        "l_orderkey", "l_quantity",
    ]


def test_ann_brute_force_broadcasts_queries(spark):
    df = e._q_ann_cosine_topk(spark, SF)
    plan = physical_plan(df)
    # small query set must broadcast; corpus side streams
    assert "BroadcastNestedLoopJoin" in plan
    # top-k rank applies WindowGroupLimit pre-shuffle
    assert "WindowGroupLimit" in plan


def test_q1_partial_aggregation_and_pruned_scan(spark):
    df = e._q_q1_pricing_summary(spark, SF)
    plan = physical_plan(df)
    # partial (map-side) + final hash aggregate around ONE exchange —
    # at 100 TB the shuffle carries (flag,status) partials, not rows
    assert plan.count("HashAggregate") >= 2
    assert count_exchanges(df) == 1
    cols = set(read_schema_columns(df, "lineitem.parquet"))
    assert cols == {
        "l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_shipdate",
    }


def test_rank_window_pushes_group_limit(spark):
    df = e._q_rank_window_top_parts(spark, SF)
    plan = physical_plan(df)
    # rank<=3 must reach the window sort (WindowGroupLimit), so only
    # 3 rows per brand survive the window at scale
    assert "WindowGroupLimit" in plan


def test_bucketed_join_has_no_exchange_on_join(spark):
    # both sides bucketed 8-ways on the join key → the join reads
    # co-located buckets; the only exchange is the final tiny
    # per-segment aggregate, never the two fact-table shuffles.
    # Auto-broadcast is disabled so the sf0.001 dimension doesn't
    # sidestep the bucketed path being proven.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = e._q_bucketed_join_orders(spark, SF)
        plan = physical_plan(df)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "SelectedBucketsCount" in plan
        assert count_exchanges(df) <= 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_salted_join_replicates_build_not_probe(spark):
    df = e._q_salted_join_revenue(spark, SF)
    plan = physical_plan(df)
    # the build side is exploded (replicated) pre-join; the probe side
    # never materializes a cross product
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan


def test_anonymizer_end_to_end_plan(spark):
    # perturb → labels → uids over the full composition: the key-table
    # join must broadcast (dimension-sized), and the pipeline adds no
    # shuffle exchange at all — every transform is a projection
    import os
    import tempfile

    from mape_calculation_and_anonymization_spark.fixtures import load_table
    from mape_calculation_and_anonymization_spark.operators.anonymize import (
        cdm_anonymization,
    )

    with tempfile.TemporaryDirectory() as key_dir:
        df = load_table(spark, SF, "customer").select(
            F.col("c_custkey").alias("uid"),
            F.col("c_name").alias("customer"),
            F.col("c_acctbal").alias("amount"),
        )
        out = cdm_anonymization(df, key_dir=os.path.join(key_dir, "key"))
        assert uses_broadcast_join(out)
        assert count_exchanges(out) == 0


def test_q14_pushdown_and_broadcast(spark):
    df = e._q_q14_promo_revenue(spark, SF)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    # shipdate slice must reach the lineitem scan, not sit above the join
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan


def test_q19_disjunction_prunes_both_scans(spark):
    df = e._q_q19_disjunctive_revenue(spark, SF)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    # Catalyst derives per-side disjunctions from the OR-of-ANDs: the
    # quantity bound lands in the lineitem scan, brand/size in part
    assert "Or(And(" in plan  # pushed disjunctive filter survives
    cols = set(read_schema_columns(df, "part.parquet"))
    assert cols == {"p_partkey", "p_brand", "p_size"}


def test_q6_full_pushdown_single_exchange(spark):
    df = e._q_q6_forecast_revenue(spark, SF)
    plan = physical_plan(df)
    # every predicate reaches the scan; only the global-agg single
    # partition exchange remains
    assert "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount)" in plan
    assert count_exchanges(df) == 1
    cols = set(read_schema_columns(df, "lineitem.parquet"))
    assert cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_q10_aggregates_before_decoration_top_k(spark):
    df = e._q_q10_returned_items(spark, SF)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    # returnflag filter pushed to the lineitem scan
    assert "EqualTo(l_returnflag,R)" in plan


def test_q21_single_fact_scan(spark):
    # the EXISTS/NOT-EXISTS pair is decorrelated into ONE per-order
    # aggregate: lineitem must be scanned exactly once (the SQL form
    # scans it twice and self-joins)
    df = e._q_q21_waiting_suppliers(spark, SF)
    plan = physical_plan(df)
    assert plan.count("lineitem.parquet") == 1


def test_q2_broadcasts_dims_single_fact_scan(spark):
    df = e._q_q2_min_cost_supplier(spark, SF)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    assert plan.count("lineitem.parquet") == 1


def test_q7_q9_broadcast_dims_before_fact_shuffle(spark):
    for fn in (e._q_q7_volume_shipping, e._q_q9_product_profit):
        df = fn(spark, SF)
        plan = physical_plan(df)
        assert "BroadcastHashJoin" in plan, fn.__name__
        # one scan of each fact table; dims joined via broadcast
        assert plan.count("lineitem.parquet") == 1, fn.__name__
        assert plan.count("orders.parquet") == 1, fn.__name__


def test_gap_fill_reuses_key_partitioning(spark):
    # join on (zone, hour) and the fill window partition by zone:
    # the plan must not shuffle the joined frame a second time for
    # the window (Exchange count stays at the join+agg baseline)
    df = e._q_gap_fill_hourly(spark, SF)
    plan = physical_plan(df)
    assert "Window" in plan
    assert count_exchanges(df) <= 4


def test_pack_sequences_no_corpus_single_partition_window(spark):
    import re

    df = e._q_seq_packing(spark, SF)
    plan = physical_plan(df)
    # the per-doc cumulative sum must run under hash partitioning by
    # shard (parallel); the only single-partition exchange allowed is
    # the tiny per-shard-totals offset frame
    assert re.search(r"Exchange hashpartitioning\(_shard", plan)
    assert plan.count("Exchange SinglePartition") <= 1


def test_contamination_broadcasts_bench_side(spark):
    df = e._q_contamination_check(spark, SF)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan


def test_vocab_top_terms_take_ordered(spark):
    df = e._q_vocab_top_terms(spark, SF)
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_tfidf_broadcasts_bounded_tf_side(spark):
    import re

    df = e._q_tfidf_top_terms(spark, SF)
    plan = physical_plan(df)
    # the FILTERED per-doc tf relation (left input, bounded by the
    # 50-doc predicate) must be the build side — broadcasting the
    # vocabulary-sized df_counts would OOM at corpus scale
    m = re.search(r"BroadcastHashJoin \[tok#\d+[^\n]*", plan)
    assert m and "BuildLeft" in m.group(0), m.group(0) if m else plan
    # and the doc_id slice must reach the build side's parquet scan
    assert "LessThan(doc_id,50)" in plan
    assert "WindowGroupLimit" in plan  # rank<=3 reaches the window sort


def test_cdc_latest_prunes_map_side(spark):
    # ROW_NUMBER()=1 per key must plan as WindowGroupLimit with a
    # Partial phase BEFORE the exchange: each map task keeps one row
    # per key, so the shuffle carries ~|keys| rows, not the fact table
    df = e._q_cdc_latest_events(spark, SF)
    plan = physical_plan(df)
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan


def test_bigram_top_terms_take_ordered(spark):
    df = e._q_bigram_top_terms(spark, SF)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    # only the text column may reach the documents scan
    assert read_schema_columns(df, "documents.parquet") == ["text"]


def test_median_filter_broadcasts_median_side(spark):
    df = e._q_median_length_filter(spark, SF)
    assert uses_broadcast_join(df)


def test_decile_single_partition_only_post_aggregate(spark):
    # NTILE needs a global sort — but only over the per-user AGGREGATE
    # (dim-sized). Exactly one SinglePartition exchange, and the
    # per-user sum must shuffle hash-partitioned first.
    import re

    df = e._q_decile_revenue_share(spark, SF)
    plan = physical_plan(df)
    assert plan.count("Exchange SinglePartition") == 1
    assert re.search(r"Exchange hashpartitioning\(user_id", plan)


def test_bm25_broadcasts_df_and_stats(spark):
    # the df table (<= n_query_terms rows) and the corpus stats scalar
    # are the provably tiny sides — both must broadcast; the tf⋈dl
    # join is data-dependent and stays AQE-planned
    df = e._q_bm25_search(spark, SF)
    plan = physical_plan(df)
    assert plan.count("BroadcastExchange") >= 2


def test_fuzzy_match_blocked_never_cartesian(spark):
    # the blocking key turns the fuzzy self-join into an equi join;
    # a cartesian (or broadcast nested loop) here would be the
    # all-pairs shape that cannot scale
    df = e._q_fuzzy_name_match(spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_profile_orders_per_column_pruned_no_expand(spark):
    """Round-13 rewrite (VERDICT r12 item 7): the exact profile is a
    UNION of per-column single-distinct aggregates. Pin the two
    properties that make it the better 100 TB plan: no Expand
    anywhere (the fused 4-countDistinct form re-emitted every row ~5x
    into the partial agg), and every branch scan is pruned to exactly
    its ONE profiled column (total bytes read == the old fused
    scan's)."""
    df = e._q_profile_orders(spark, SF)
    plan = physical_plan(df)
    assert "Expand" not in plan
    assert plan.count("orders.parquet") == len(e._PROFILE_COLS)
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    branch_cols = [s for s in schemas if "o_" in s]
    assert len(branch_cols) == len(e._PROFILE_COLS)
    assert all(s.count(",") == 0 for s in branch_cols), branch_cols


def test_chi2_broadcasts_marginals(spark):
    df = e._q_lang_source_chi2(spark, SF)
    plan = physical_plan(df)
    assert plan.count("BroadcastExchange") >= 3  # row/col marginals + n


def test_triangle_count_no_cartesian(spark):
    # the ordered three-way edge join must stay equi hash joins —
    # a cartesian/BNLJ here is the shape that cannot scale
    df = e._q_triangle_count(spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan


def test_funnel_gates_evaluate_once(spark):
    # the gate expressions (language_id / quality_score) must be
    # materialized ONCE, into the landed per-stage lake tables (the
    # pipeline_stages disk fixture as of r8; a localCheckpoint before
    # that): the RESULT plan scans the stage parquet and never
    # re-scans documents.parquet or re-derives the gates (r5 paid two
    # full corpus passes over them)
    df = e._q_pipeline_funnel_stats(spark, SF)
    plan = physical_plan(df)
    assert "pipeline_stages_" in plan  # reads the landed stage tables
    assert "documents" not in plan  # never re-scans / re-gates the corpus


def test_kanon_suppression_broadcasts_class_counts(spark):
    """The k-anonymity suppression join's build side is the
    answer-sized class-count frame — it must broadcast, and the whole
    query is one shuffle (the class aggregate)."""
    df = e._q_kanon_generalize_suppress(spark, SF)
    assert uses_broadcast_join(df)
    assert count_exchanges(df) == 1
    # only the four referenced customer columns survive pruning
    cols = read_schema_columns(df, "customer.parquet")
    assert sorted(cols) == [
        "c_acctbal", "c_custkey", "c_mktsegment", "c_nationkey",
    ]


def test_dp_noisy_counts_single_shuffle_no_udf(spark):
    """The Laplace mechanism is pure column arithmetic on the
    answer-sized aggregate — one exchange, no Python eval."""
    df = e._q_dp_noisy_counts(spark, SF)
    assert count_exchanges(df) == 1
    plan = physical_plan(df)
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_q4_semi_join_broadcasts(spark):
    """Q4's EXISTS runs as a semi join; at test scale the filtered
    orders side broadcasts, and lineitem's scan is pruned to the two
    referenced columns."""
    df = e._q_q4_priority_check(spark, SF)
    assert uses_broadcast_join(df)
    cols = read_schema_columns(df, "lineitem.parquet")
    assert sorted(cols) == ["l_orderkey", "l_shipdate"]


def test_forecast_metrics_two_shuffles(spark):
    """Hourly pre-aggregate + per-zone window/metrics aggregate — the
    lag window reuses the zone partitioning, so two exchanges total."""
    df = e._q_forecast_metrics_by_zone(spark, SF)
    assert count_exchanges(df) == 2


def test_profile_approx_scan_is_not_expanded(spark):
    """The point of profile_orders_approx: HLL++ sketches profile
    every column in ONE un-expanded scan with ONE exchange. (Until
    round 13 this test also pinned the exact variant's Expand as the
    documented contrast; the exact form is now the Expand-free
    per-column union — see test_profile_orders_per_column_pruned_no_
    expand — and the sketch's remaining edge is the single fused scan
    plus distinct-set-free shuffles.)"""
    approx = physical_plan(e._q_profile_orders_approx(spark, SF))
    assert "Expand" not in approx
    assert count_exchanges(e._q_profile_orders_approx(spark, SF)) == 1
    # the sketch still profiles all columns in one fused scan
    assert approx.count("orders.parquet") == 1


def test_drift_scorecard_answer_sized_tail(spark):
    """Fused PSI+KS scorecard (the r16 capacity fusion): BOTH
    statistics from one histogram-aggregate pair and one
    group-partitioned window pass — no cartesian/nested-loop join, no
    Python eval, at most 3 exchanges, and the events source scanned
    exactly twice (once per drop window), where the two separate
    monitors cost 6 exchanges and four scans."""
    df = e._q_drift_events_scorecard(spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert count_exchanges(df) <= 3
    assert plan.count("events.parquet") <= 2


def test_drift_embedding_psi_answer_sized_tail(spark):
    """Embedding PSI: posexplode is a stateless flat map; the LONG bin
    index keeps partitioning reusable between the histogram aggregates
    and the bin-frame join (a DOUBLE bin key gets the float-normalize
    wrapper and costs one extra exchange per window), so the whole
    monitor holds at 3 exchanges like the events scorecard — and
    nothing expands, nested-loops, or drops into Python."""
    df = e._q_drift_embedding_psi(spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "Expand" not in plan
    assert count_exchanges(df) <= 3


def test_text_dup_spans_shuffle_free_shingling(spark):
    """Shingles come from ONE per-row transform pass — no per-doc
    window shuffle+sort (the lead() alternative measured 7x slower at
    vanilla partition counts), and since the round-17 window rewrite
    the shingle-count side is ONE unordered window over the shingle
    key instead of groupBy+join-back — one shingle derivation
    (a single Generate), two exchanges total (shingle window + per-doc
    rollup)."""
    import re

    df = e._q_text_dup_spans(spark, SF)
    plan = physical_plan(df)
    # exactly one shingle explode: the groupBy+join-back shape derived
    # the corpus-scale shingle stream twice (node-name pins per ADVICE
    # r17 — argument rendering is Spark-version-sensitive)
    assert count_nodes(df, "Generate") == 1
    # the only window is the unordered count over the shingle key —
    # never a per-doc ordered window (the 7x-slower lead() shape)
    assert count_nodes(df, "Window") == 1
    assert re.search(r"Window \[[^\n]*_shingle", plan), plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert count_exchanges(df) <= 2


def test_round12_debut_plan_shapes(spark):
    """Scale pins for the round-12 debuts: bounded exchange counts and
    no cartesian products, so a refactor can't silently reintroduce a
    corpus×corpus product or an extra full shuffle."""
    # corpus_datacard: fingerprint window shuffle + group aggregate
    # (+ the union read) — the global-dup detection is the only
    # corpus-wide exchange pair
    card = e._q_corpus_datacard(spark, SF)
    p = physical_plan(card)
    assert "CartesianProduct" not in p
    assert count_exchanges(card) <= 4, count_exchanges(card)

    # token_budget_repetition: one corpus-sized sum aggregate, then
    # answer-sized arithmetic (normalizer broadcasts) — never more
    # than the sibling planning aggregate's exchanges
    rep = e._q_token_budget_repetition(spark, SF)
    assert "CartesianProduct" not in physical_plan(rep)
    assert count_exchanges(rep) <= 4, count_exchanges(rep)

    # dedup_simhash_md5_pairs mirrors the blake2b sibling's banded
    # shape: bucket self-join off the checkpointed signature frame,
    # no product
    md5p = e._q_dedup_simhash_md5_pairs(spark, SF)
    assert "CartesianProduct" not in physical_plan(md5p)


def test_round14_debut_plan_shapes(spark):
    """Scale pins for the round-14 debuts: bounded exchange counts, no
    cartesian products, broadcast contamination probes — so a refactor
    can't silently reintroduce the branch-per-action unions (the first
    decontamination draft paid 18 exchanges; the CASE fold pays 9) or
    a corpus×corpus product."""
    dec = e._q_decontamination_removal(spark, SF)
    p = physical_plan(dec)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # one output pass: contamination probe (4 exchanges: two shingle
    # size aggregates, intersection rollup, dropped-distinct) +
    # covered rollup + final doc-key joins; the benchmark side rides
    # broadcasts
    assert count_exchanges(dec) <= 10, count_exchanges(dec)
    assert p.count("BroadcastExchange") >= 2  # bench set + drop flags

    fates = e._q_curation_fates(spark, SF)
    p2 = physical_plan(fates)
    assert "CartesianProduct" not in p2
    # one frame: text window + cluster window + cluster-map join +
    # broadcast contamination probe — no stage-branch re-derivation
    assert count_exchanges(fates) <= 8, count_exchanges(fates)

    x5 = e._q_x5_uid_pseudonym(spark, SF)
    p3 = physical_plan(x5)
    assert "CartesianProduct" not in p3
    # live recompute: scan + union + sort + Arrow digest pass —
    # exactly one exchange (the orderBy's range partitioning), with the
    # UDF above it, so the range-partition sampling job never runs it
    assert count_exchanges(x5) <= 1, count_exchanges(x5)
    assert p3.count("ArrowEvalPython") == 1, p3
    assert p3.index("ArrowEvalPython") < p3.index("Exchange"), p3
