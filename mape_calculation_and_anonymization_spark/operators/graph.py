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

from .dedup import _sorted_pairs
from .rebalance import checkpoint, persisted

# label-propagation rounds before connected_components gives up
_CC_MAX_ITERATIONS = 20

# pagerank checkpoints its ranks every this many rounds (and after the
# last): lineage depth against one materialization job per checkpoint
_PAGERANK_CHECKPOINT_EVERY = 3

# pagerank's fixed iteration count and damping
_PAGERANK_ITERATIONS = 10
_PAGERANK_DAMPING = 0.85

# cooccurrence_edges' hot-bucket cap: a bucket with more rows is left
# out of the pair expansion
_COOCCURRENCE_MAX_BUCKET = 256


def connected_components(edges: DataFrame) -> DataFrame:
    """Minimum-label connected components over an undirected
    ``(id_a, id_b)`` edge list.

    Returns (id, component) with ``component`` = the smallest node id
    reachable from ``id``. Isolated nodes don't appear (callers join
    back to the full node set with a coalesce-to-self default).
    Deterministic: pure min-aggregation, no RNG, no ordering reliance.
    """
    # Materialize the symmetrized edge list ONCE: every iteration joins
    # against it, and without this the upstream edge-derivation plan
    # (often an expensive LSH pipeline) would re-execute per round.
    sym = checkpoint(
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .union(edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))),
        "graph.connected_components.sym",
    )

    labels = checkpoint(
        sym.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("component", F.col("id")),
        "graph.connected_components.labels",
    )

    n_changed = 0
    for _ in range(_CC_MAX_ITERATIONS):
        # candidate label for v = min over neighbours u of label(u)
        neighbour_min = (
            sym.join(labels, sym.u == labels.id)
            .groupBy(F.col("v").alias("id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        updated = checkpoint(
            labels.join(neighbour_min, on="id", how="left").select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                (F.col("nbr_min") < F.col("component")).alias("_changed"),
            ),
            "graph.connected_components.updated",
        )
        n_changed = updated.filter(F.col("_changed")).count()
        labels = updated.drop("_changed")
        if n_changed == 0:
            break
    if n_changed > 0:
        # Exhausting the budget with labels still moving means the
        # component map is WRONG (a longer chain would silently
        # split/merge clusters). Fail loudly.
        raise RuntimeError(
            f"connected_components did not converge in {_CC_MAX_ITERATIONS} "
            f"iterations ({n_changed} labels still changing); the graph "
            f"diameter exceeds the iteration budget"
        )
    return labels


def duplicate_clusters(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Cluster assignment for every document: component id for matched
    docs, its own id for singletons — the keep/drop decision surface
    (keep ``id == cluster`` representatives, drop the rest).
    One broadcast-or-shuffle left join against the (tiny relative to
    the corpus) component map."""
    comp = connected_components(pairs)
    return (
        docs.select(F.col("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("cluster"),
        )
    )


def cooccurrence_edges(
    df: DataFrame,
) -> DataFrame:
    """Undirected co-occurrence edge list: one ``(u, v)`` row (with
    ``u < v``) for every pair of distinct ``user_id`` values sharing a
    bucket — the shared derivation behind the triangle-count and
    PageRank queries (bucket = (``event_type``, minute ``m``)).

    The pair expansion runs IN-ROW over each bucket's sorted distinct
    member set (round 18 — the lsh_candidate_pairs /
    source_overlap_matrix shape): ONE hash aggregate per bucket
    (``count(*)`` for the cap probe and ``sort_array(collect_set)``
    for the members, in the same pass) replaces the former
    count-aggregate + semi-join + bucket-keyed self equi join — five
    corpus-scale shuffles of the keyed stream down to one. A bucket
    with k co-active ids still emits k·(k-1)/2 pairs — quadratic in
    the hot bucket — which is what ``_COOCCURRENCE_MAX_BUCKET`` bounds: the cap
    tests the PRE-dedup row count (same probe as before) and filters
    BEFORE the expansion, and the drop is logged driver-side
    (no-silent-caps rule: a capped graph must never read as the full
    graph). The aggregate is localCheckpointed — bucket-count-sized —
    so the drop-count probe and the expansion share one derivation.
    The cap bounds the pair expansion,
    not the aggregation: the count and the member set are built in the
    same pass, so an over-cap bucket is still collected whole into one
    aggregation buffer (members × 8-ish bytes, O(bucket) memory) and
    checkpointed before the filter drops it. A count probe and
    semi-join ahead of the collect would bound that too, at the cost
    of the shuffles the single aggregate removed.
    """
    import logging

    keyed = df.select(F.col("user_id").alias("_id"), "event_type", "m")
    grouped = keyed.groupBy("event_type", "m").agg(
        F.count(F.lit(1)).alias("_n"),
        # collect_set drops NULL ids — the old a._id < b._id join
        # predicate excluded them identically
        F.sort_array(F.collect_set("_id")).alias("_ms"),
    )
    grouped = checkpoint(grouped, "graph.cooccurrence_edges.grouped")
    n_dropped = grouped.filter(F.col("_n") > _COOCCURRENCE_MAX_BUCKET).count()
    if n_dropped:
        logging.getLogger(__name__).warning(
            "cooccurrence_edges: dropped %d hot bucket(s) larger than "
            "max_bucket_size=%d before pair expansion — the edge list "
            "is a capped subgraph",
            n_dropped,
            _COOCCURRENCE_MAX_BUCKET,
        )
    grouped = grouped.filter(F.col("_n") <= _COOCCURRENCE_MAX_BUCKET)
    return (
        grouped.select(F.explode(_sorted_pairs("_ms", "u", "v")).alias("_p"))
        .select("_p.u", "_p.v")
        .distinct()
    )


def pagerank(edges: DataFrame) -> DataFrame:
    """PageRank (damping 0.85) over an UNDIRECTED ``(id_a, id_b)``
    edge list (each edge contributes both directions), a fixed
    ``_PAGERANK_ITERATIONS`` rounds. Returns (id, rank); ranks over all
    nodes sum to ~1.

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

    ``_PAGERANK_CHECKPOINT_EVERY`` trades lineage depth against
    materialization jobs: an EAGER localCheckpoint every round costs
    one extra Spark job per round, and between checkpoints the plan is
    only 3 join+agg layers deep — trivially analyzable, while
    checkpointing 3× less often. 1 would be the checkpoint-per-round
    shape; raising it much further makes Catalyst re-analyze a deep
    recursive plan every round (the exact pathology checkpointing
    exists to prevent).

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
    if _PAGERANK_CHECKPOINT_EVERY < 1:
        raise ValueError(
            "_PAGERANK_CHECKPOINT_EVERY must be >= 1, got "
            f"{_PAGERANK_CHECKPOINT_EVERY}"
        )
    sym = checkpoint(
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .union(edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
        .distinct(),
        "graph.pagerank.sym",
    )
    deg = checkpoint(
        sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg")),
        "graph.pagerank.deg",
    )
    n = deg.count()  # node-universe scalar (dimension-sized)
    if n == 0:
        # empty graph: no nodes, no ranks (mirrors connected_components
        # returning no labels for an empty edge list)
        return edges.sparkSession.createDataFrame([], "id long, rank double")
    base = (1.0 - _PAGERANK_DAMPING) / n
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
    # The final ranks checkpoint is materialized inside the block, so
    # the cache has no consumer left on any exit path.
    with persisted(
        sym.join(deg, "u").select("u", "v", (F.lit(1.0) / F.col("deg")).alias("w"))
    ) as sym_w:
        sym_w.count()
        ranks = deg.select("u", F.lit(1.0 / n).alias("rank"))
        for i in range(_PAGERANK_ITERATIONS):
            contrib = sym_w.join(ranks, "u").select(
                F.col("v").alias("u"),
                (F.col("rank") * F.col("w")).alias("c"),
            )
            ranks = contrib.groupBy("u").agg(
                (F.lit(base) + F.lit(_PAGERANK_DAMPING) * F.sum("c")).alias("rank")
            )
            if (i + 1) % _PAGERANK_CHECKPOINT_EVERY == 0 or i + 1 == _PAGERANK_ITERATIONS:
                ranks = checkpoint(ranks, "graph.pagerank.ranks")
    return ranks.select(F.col("u").alias("id"), "rank")
