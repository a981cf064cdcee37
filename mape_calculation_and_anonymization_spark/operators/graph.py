"""Distributed connected components — near-duplicate CLUSTERING.

Pair lists (from exact dedup, MinHash/SimHash LSH, or embedding
near-dup) only say "a matches b"; choosing which rows to keep/drop
needs the transitive closure: connected components over the match
graph. Single-node tools union-find in memory; at 100 TB the graph
itself is distributed, so this implements label propagation as an
iterative DataFrame program (the alternating-minimum scheme of
large-star/small-star, Kiveris et al., "Connected Components in
MapReduce and Beyond"):

    label(v) ← min(label(v), min over neighbours' labels)

repeated to fixpoint. Each round is one shuffle (groupBy min over the
symmetrized edge list); convergence needs at most the graph diameter
rounds — near-dup graphs are overwhelmingly tiny star/clique clusters,
so 2-4 rounds in practice. Every round localCheckpoints the label
frame: this TRUNCATES the lineage (no exponential plan growth) and
materializes the loop state, the standard Spark iterative-algorithm
pattern. The driver only ever sees a per-round count of label changes
(one scalar), never row data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Minimum-label connected components over an undirected edge list.

    Returns (id, component) with ``component`` = the smallest node id
    reachable from ``id``. Isolated nodes don't appear (callers join
    back to the full node set with a coalesce-to-self default).
    Deterministic: pure min-aggregation, no RNG, no ordering reliance.
    """
    if max_iterations < 1:
        # A zero/negative budget would skip the loop and silently return
        # the initial self-labels — exactly the wrong-labels outcome the
        # non-convergence guard below exists to prevent.
        raise ValueError(f"max_iterations must be >= 1, got {max_iterations}")
    # Materialize the symmetrized edge list ONCE: every iteration joins
    # against it, and without this the upstream edge-derivation plan
    # (often an expensive LSH pipeline) would re-execute per round.
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .localCheckpoint(eager=True)
    )

    labels = (
        sym.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )

    n_changed = 0
    for _ in range(max_iterations):
        # candidate label for v = min over neighbours u of label(u)
        neighbour_min = (
            sym.join(labels, sym.u == labels.id)
            .groupBy(F.col("v").alias("id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        updated = (
            labels.join(neighbour_min, on="id", how="left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                (F.col("nbr_min") < F.col("component")).alias("_changed"),
            )
        ).localCheckpoint(eager=True)
        n_changed = updated.filter(F.col("_changed")).count()
        labels = updated.drop("_changed")
        if n_changed == 0:
            break
    if n_changed > 0:
        # Exhausting the budget with labels still moving means the
        # component map is WRONG (a >max_iterations-hop chain would
        # silently split/merge clusters). Fail loudly; callers with
        # genuinely deep graphs raise max_iterations.
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"iterations ({n_changed} labels still changing); the graph "
            f"diameter exceeds the iteration budget — raise max_iterations"
        )
    return labels


def duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Cluster assignment for every document: component id for matched
    docs, its own id for singletons — the keep/drop decision surface
    (keep ``id == cluster`` representatives, drop the rest).
    One broadcast-or-shuffle left join against the (tiny relative to
    the corpus) component map."""
    comp = connected_components(pairs, src=src, dst=dst)
    return (
        docs.select(F.col(id_col))
        .join(comp.withColumnRenamed("id", id_col), on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("cluster"),
        )
    )


def cooccurrence_edges(
    df: DataFrame,
    id_col: str,
    bucket_cols: list[str],
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Undirected co-occurrence edge list: one ``(u, v)`` row (with
    ``u < v``) for every pair of distinct ids sharing a bucket — the
    shared derivation behind the triangle-count and PageRank queries
    (ids = users, bucket = (event_type, minute)).

    The pair expansion runs IN-ROW over each bucket's sorted distinct
    member set (round 18 — the lsh_candidate_pairs /
    source_overlap_matrix shape): ONE hash aggregate per bucket
    (``count(*)`` for the cap probe and ``sort_array(collect_set)``
    for the members, in the same pass) replaces the former
    count-aggregate + semi-join + bucket-keyed self equi join — five
    corpus-scale shuffles of the keyed stream down to one. A bucket
    with k co-active ids still emits k·(k-1)/2 pairs — quadratic in
    the hot bucket — which is what ``max_bucket_size`` bounds: the cap
    tests the PRE-dedup row count (same probe as before) and filters
    BEFORE the expansion, and the drop is logged driver-side
    (no-silent-caps rule: a capped graph must never read as the full
    graph). The aggregate is localCheckpointed — bucket-count-sized —
    so the drop-count probe and the expansion share one derivation.
    ``None`` disables the guard (exact small-scale semantics — what
    the DuckDB oracles re-derive). Per-row memory for the collected
    set is members × 8-ish bytes; the caps keep it bounded exactly as
    in the LSH banding paths.
    """
    import logging

    keyed = df.select(F.col(id_col).alias("_id"), *bucket_cols)
    grouped = keyed.groupBy(*bucket_cols).agg(
        F.count(F.lit(1)).alias("_n"),
        # collect_set drops NULL ids — the old a._id < b._id join
        # predicate excluded them identically
        F.sort_array(F.collect_set("_id")).alias("_ms"),
    )
    # `is not None`, not truthiness: max_bucket_size=0 is a legitimate
    # (drop-everything) cap, not "disabled"
    if max_bucket_size is not None:
        grouped = grouped.localCheckpoint(eager=True)
        n_dropped = grouped.filter(F.col("_n") > max_bucket_size).count()
        if n_dropped:
            logging.getLogger(__name__).warning(
                "cooccurrence_edges: dropped %d hot bucket(s) larger than "
                "max_bucket_size=%d before pair expansion — the edge list "
                "is a capped subgraph",
                n_dropped,
                max_bucket_size,
            )
        grouped = grouped.filter(F.col("_n") <= max_bucket_size)
    pair_structs = F.flatten(
        F.transform(
            F.col("_ms"),
            lambda x, i: F.transform(
                F.slice(F.col("_ms"), i + F.lit(2), F.size("_ms")),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pair_structs).alias("_p"))
        .select("_p.u", "_p.v")
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    damping: float = 0.85,
    iterations: int = 10,
    checkpoint_every: int = 3,
) -> DataFrame:
    """PageRank over an UNDIRECTED edge list (each edge contributes
    both directions), fixed iteration count. Returns (id, rank);
    ranks over all nodes sum to ~1.

    Same distributed shape as :func:`connected_components`: the
    symmetrized edge list and per-node degree are materialized once
    (every iteration joins them), each round is one join + one hash
    aggregate re-keyed on the destination, and localCheckpoint
    truncates the growing lineage so round N's plan doesn't replay
    rounds 0..N-1. Nothing node-proportional ever reaches the driver
    — the only scalar is the node count, and the undirected graph has
    no dangling nodes (every node has degree ≥ 1) so no dangling-mass
    collect either. Iteration count is fixed rather than
    residual-checked: a residual test would add a per-round scalar
    aggregate for little benefit at the typical 10-20 rounds.

    ``checkpoint_every`` trades lineage depth against materialization
    jobs: an EAGER localCheckpoint every round costs one extra Spark
    job per round, and between checkpoints the plan is only
    ``checkpoint_every`` join+agg layers deep — trivially analyzable,
    while checkpointing 3× less often. 1 restores the
    checkpoint-per-round shape; raising it much further makes Catalyst
    re-analyze a deep recursive plan every round (the exact pathology
    checkpointing exists to prevent).

    Oracle posture (ADVICE r8): the GENERIC operator is not
    recursive-CTE-portable (grouped aggregation inside recursion is
    outside portable recursive CTEs), but a FIXED-iteration
    instantiation is oracle-backed by unrolling — the registry's
    ``pagerank_influencers`` compares against ``_pagerank_oracle``
    (``__spark_entry__.py``), which chains one DuckDB CTE per power
    iteration over the same symmetrized, degree-folded edges.
    Semantics are additionally pinned against a numpy power-iteration
    in tests/test_graph_sampling.py.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}"
        )
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)
    )
    n = deg.count()  # node-universe scalar (dimension-sized)
    if n == 0:
        # empty graph: no nodes, no ranks (mirrors connected_components
        # returning no labels for an empty edge list)
        return edges.sparkSession.createDataFrame([], "id long, rank double")
    base = (1.0 - damping) / n
    # fold 1/deg into the edge list ONCE: each iteration is then a
    # single join + aggregate instead of join+join+aggregate.
    # persist, NOT localCheckpoint (round 18): a checkpointed RDD scan
    # reports UnknownPartitioning, so every iteration's join
    # RE-EXCHANGED and re-sorted the edge-scale side — 10 shuffles of
    # the biggest frame in the loop. The cached plan keeps the build
    # join's hashpartitioning(u)/ordering (cached-plan output
    # partitioning is stable by default), so each iteration exchanges
    # only the node-sized rank table; the count() materializes the
    # cache eagerly, replacing the checkpoint's own job.
    sym_w = sym.join(deg, "u").select(
        "u", "v", (F.lit(1.0) / F.col("deg")).alias("w")
    ).persist()
    try:
        sym_w.count()
        ranks = deg.select("u", F.lit(1.0 / n).alias("rank"))
        for i in range(iterations):
            contrib = sym_w.join(ranks, "u").select(
                F.col("v").alias("u"),
                (F.col("rank") * F.col("w")).alias("c"),
            )
            ranks = contrib.groupBy("u").agg(
                (F.lit(base) + F.lit(damping) * F.sum("c")).alias("rank")
            )
            if (i + 1) % checkpoint_every == 0 or i + 1 == iterations:
                ranks = ranks.localCheckpoint(eager=True)
    finally:
        # the final ranks checkpoint is materialized — the cache has no
        # remaining consumer on any exit path (don't leak it into the
        # caller's session)
        sym_w.unpersist()
    return ranks.select(F.col("u").alias("id"), "rank")
