"""Distribution-drift monitors for lake ingest.

A 100-TB training-data lake lands drops continuously; schema-drift is
caught by column profiling (``profile_orders`` /
``profile_orders_approx``), but a drop whose schema is fine can still
carry a silently shifted VALUE distribution (an upstream unit change,
a truncated feed, a new client mix). The standard per-drop check is
the **population stability index** (PSI, the credit-scoring industry's
drift metric; see e.g. Yurdakul, "Statistical properties of population
stability index", 2018):

    PSI = Σ_bins (p_i − q_i) · ln(p_i / q_i)

over a common binning of the reference window (yesterday / the
training snapshot) and the current window (today's drop), with the
conventional reading ``<0.1`` stable, ``0.1–0.2`` moderate shift,
``>0.2`` actionable drift.

Design choices, all made for engine portability (the DuckDB oracle
re-derives the exact numbers) and scale:

* **Fixed-width binning** (floor-index semantics, cf. :func:`privacy.band`), not
  reference quantiles: quantile edges would need a per-release sort or
  sketch and make the oracle depend on percentile tie-breaking;
  fixed-width edges are a pure per-row expression, identical in every
  engine, and the width is a contract the monitor publishes.
* **Additive smoothing** ``p_i = (n_i + s) / (N + s·B)`` with ``s=0.5``
  (Jeffreys) over the union of bins observed in EITHER window, so a
  bin that is empty on one side contributes a finite, defined term
  instead of ±∞ — the conventional guard for PSI's ln(0) blow-up.

Scale shape: one map-side-combinable hash aggregate per window (the
two windows are usually different partition ranges of the same table,
so both are partition-pruned scans), a full-outer join on the
ANSWER-SIZED (group, bin) frame, group totals via a partition-local
window (no ordering — a spill-aware running sum, never an in-memory
per-group array), and a final aggregate back to one row per group
that REUSES the window's hash partitioning (group ⊆ grouping keys, so
Catalyst plans no extra exchange). No row-level joins, no windows
over global orderings, no driver collects, and per-group state is
O(1) regardless of how many bins a heavy-tailed value column spans.

Group keys are compared NULL-safely throughout: the histograms join
on a ``struct(*group_cols)`` key (struct equality matches NULL fields,
unlike column-wise equi-joins), so a NULL group forms ONE merged
(ref, cur) histogram — the same semantics GROUP BY gives NULLs in
both Spark and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# PSI's additive smoothing s and its drift-flag threshold, shared by
# the fused scorecard and the PSI fold
_PSI_SMOOTHING = 0.5
_PSI_THRESHOLD = 0.2

# bin widths: drift_scorecard's ``value`` spans [0, ~500] (about 10
# bins per event type), population_stability's embedding components
# span about [-0.5, 0.5] (about 10 bins per dim)
_SCORECARD_BIN_WIDTH = 50.0
_PSI_BIN_WIDTH = 0.1


def _binned_cells(
    ref: DataFrame,
    cur: DataFrame,
    group_cols: list[str],
    value_col: str,
    bin_width: float,
) -> DataFrame:
    """Shared first half of both monitors: one map-side-combinable
    histogram aggregate per window over (group-struct, integral bin
    index), full-outer joined into the answer-sized (group, bin) cell
    frame with zero-filled counts. The INTEGRAL bin key (floor(v/w),
    LONG) is bijective with the band edge, never reaches the output,
    and avoids the knownfloatingpointnormalized wrapper a DOUBLE
    grouping key gets — which breaks hash-partitioning reuse between
    the aggregates and the join and costs one extra exchange PER
    WINDOW (observed on the fractional-width embedding monitor:
    5 exchanges vs 3)."""

    def hist(df: DataFrame, n_name: str) -> DataFrame:
        return (
            df.filter(F.col(value_col).isNotNull())
            .groupBy(
                F.struct(*group_cols).alias("_g"),
                F.floor(F.col(value_col) / F.lit(float(bin_width)))
                .cast("long")
                .alias("_bin"),
            )
            .agg(F.count(F.lit(1)).alias(n_name))
        )

    return (
        hist(ref, "_n_ref")
        .join(hist(cur, "_n_cur"), ["_g", "_bin"], "full_outer")
        .select(
            "_g",
            "_bin",
            F.coalesce("_n_ref", F.lit(0)).alias("_n_ref"),
            F.coalesce("_n_cur", F.lit(0)).alias("_n_cur"),
        )
    )


def ks_statistic(
    ref: DataFrame,
    cur: DataFrame,
    group_cols: list[str],
    value_col: str,
    bin_width: float,
    threshold: float = 0.1,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic per group over
    the same fixed-width binning as :func:`population_stability`:
    ``ks = max_bins |ECDF_ref(bin) − ECDF_cur(bin)|``. On binned data
    this is EXACT for the published binning contract (the sup over a
    step function is attained at a step), which is what makes the
    DuckDB oracle a term-identical twin rather than an approximation.
    The PSI/KS pair is the standard drift dashboard: PSI weighs the
    whole distribution shift, KS the worst single quantile gap — a
    localized mode shift can trip one long before the other.

    Scale shape: identical to PSI up to the cell frame; the
    cumulative sums need an ORDERED window, but it is partitioned by
    group and ordered by bin over the ANSWER-SIZED cell frame (bins
    per group), never over raw rows — a running sum per group, no
    global sort. Returns one row per group: n_ref / n_cur / n_bins /
    ks (rounded to 6) / drift_flag. Groups empty on either side yield
    a NULL ks (no distribution to compare) and a NULL drift_flag."""
    cells = _binned_cells(ref, cur, group_cols, value_col, bin_width)
    w_cum = (
        Window.partitionBy("_g")
        .orderBy("_bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("_g")
    cum = cells.select(
        "_g",
        F.sum("_n_ref").over(w_cum).alias("_cum_ref"),
        F.sum("_n_cur").over(w_cum).alias("_cum_cur"),
        F.sum("_n_ref").over(w_all).alias("n_ref"),
        F.sum("_n_cur").over(w_all).alias("n_cur"),
        F.count(F.lit(1)).over(w_all).alias("n_bins"),
    )
    gap = F.abs(
        F.try_divide(F.col("_cum_ref").cast("double"), F.col("n_ref"))
        - F.try_divide(F.col("_cum_cur").cast("double"), F.col("n_cur"))
    )
    grp = cum.groupBy("_g", "n_ref", "n_cur", "n_bins").agg(
        F.round(F.max(gap), 6).alias("ks")
    )
    return grp.select(
        *[F.col("_g")[c].alias(c) for c in group_cols],
        "n_ref",
        "n_cur",
        "n_bins",
        "ks",
        (F.col("ks") > F.lit(float(threshold))).alias("drift_flag"),
    )


def drift_scorecard(ref: DataFrame, cur: DataFrame) -> DataFrame:
    """PSI **and** KS of ``value`` per ``event_type`` between two drops
    in ONE pass — the fusion of
    :func:`population_stability` and :func:`ks_statistic` (VERDICT r15
    item 3: at the registry capacity ceiling, near-twin monitors fold
    into parameterized single entries). Both statistics consume the
    same ``_binned_cells`` frame, so the fused monitor runs one
    histogram aggregate per window and ONE group-partitioned window
    pass instead of two of each: 3 exchanges and one scan pair total,
    where running the pair separately costs 6 and two. Per group:
    ``n_ref`` / ``n_cur`` / ``n_bins``, ``psi`` + ``psi_flag``
    (Jeffreys-smoothed, defined even for one-sided groups), ``ks`` +
    ``ks_flag`` (NULL for one-sided groups — no ECDF to compare; the
    try_divide convention of :func:`ks_statistic`). Each statistic
    keeps its own published threshold convention: PSI > 0.2, KS > 0.1.

    Scale shape: identical to the parents' — the ordered cumulative
    window and the unordered totals window share the group hash
    partitioning (no extra exchange between them), both run over the
    answer-sized (group, bin) cell frame, and the final aggregate
    reuses the same partitioning. Nothing here is proportional to raw
    rows after the two map-side-combined histograms."""
    cells = _binned_cells(ref, cur, ["event_type"], "value", _SCORECARD_BIN_WIDTH)
    w_cum = (
        Window.partitionBy("_g")
        .orderBy("_bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("_g")
    s = _PSI_SMOOTHING
    tot = cells.select(
        "_g",
        "_n_ref",
        "_n_cur",
        F.sum("_n_ref").over(w_cum).alias("_cum_ref"),
        F.sum("_n_cur").over(w_cum).alias("_cum_cur"),
        F.sum("_n_ref").over(w_all).alias("n_ref"),
        F.sum("_n_cur").over(w_all).alias("n_cur"),
        F.count(F.lit(1)).over(w_all).alias("n_bins"),
    )
    p = (F.col("_n_ref").cast("double") + F.lit(s)) / (
        F.col("n_ref").cast("double") + F.lit(s) * F.col("n_bins")
    )
    q = (F.col("_n_cur").cast("double") + F.lit(s)) / (
        F.col("n_cur").cast("double") + F.lit(s) * F.col("n_bins")
    )
    gap = F.abs(
        F.try_divide(F.col("_cum_ref").cast("double"), F.col("n_ref"))
        - F.try_divide(F.col("_cum_cur").cast("double"), F.col("n_cur"))
    )
    grp = tot.groupBy("_g", "n_ref", "n_cur", "n_bins").agg(
        F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"),
        F.round(F.max(gap), 6).alias("ks"),
    )
    return grp.select(
        F.col("_g")["event_type"].alias("event_type"),
        "n_ref",
        "n_cur",
        "n_bins",
        "psi",
        (F.col("psi") > F.lit(_PSI_THRESHOLD)).alias("psi_flag"),
        "ks",
        (F.col("ks") > F.lit(0.1)).alias("ks_flag"),
    )


def population_stability(ref: DataFrame, cur: DataFrame) -> DataFrame:
    """PSI of ``val`` between a reference and a current frame,
    one row per ``dim``: ``n_ref``/``n_cur`` (window row
    counts), ``n_bins`` (union-of-windows bin count), ``psi`` (rounded
    to 6), and ``drift_flag`` (``psi > 0.2``). Rows with a NULL
    value are excluded from both windows (they are the profiler's
    ``n_nulls`` concern, not a distribution bin). NULL group keys are
    a single group (GROUP BY semantics), matched NULL-safely across
    the two windows via the struct join key.

    The double sum of per-bin terms is accumulated in Spark's partial-
    aggregation order; 6-decimal rounding absorbs the ulp-level
    order sensitivity (the repo-wide float-compare convention)."""

    cells = _binned_cells(ref, cur, ["dim"], "val", _PSI_BIN_WIDTH).drop("_bin")
    folded = smoothed_psi(cells, ["_g"])
    return folded.select(
        F.col("_g")["dim"].alias("dim"),
        "n_ref",
        "n_cur",
        "n_bins",
        "psi",
        "drift_flag",
    )


def smoothed_psi(cells: DataFrame, group_cols: list[str]) -> DataFrame:
    """Jeffreys-smoothed PSI fold over a pre-binned cell frame: one
    input row per (group, bin) carrying ``_n_ref``/``_n_cur`` counts
    (zero-filled where a bin is one-sided), one output row per group
    with ``n_ref``/``n_cur``/``n_bins``/``psi``/``drift_flag``.
    Factored out of :func:`population_stability` so monitors that
    build their cells differently — e.g. the streaming monitor, whose
    current histogram lands from a windowed streaming aggregate and
    whose reference is a broadcast batch histogram — share the exact
    same smoothing and fold semantics (and therefore the same oracle
    algebra).

    Group totals are partition-local window aggregates (no ordering,
    no frame → one shuffle on the group key, spill-aware buffering):
    every bin cell learns its group's totals without materializing a
    per-group array, so a heavy-tailed value column spanning millions
    of bins streams instead of OOMing an executor. The final groupBy
    keys start with the group key, so the window's hash partitioning
    already satisfies its distribution — no second exchange."""
    w = Window.partitionBy(*group_cols)
    s = _PSI_SMOOTHING
    tot = cells.select(
        *group_cols,
        "_n_ref",
        "_n_cur",
        F.sum("_n_ref").over(w).alias("n_ref"),
        F.sum("_n_cur").over(w).alias("n_cur"),
        F.count(F.lit(1)).over(w).alias("n_bins"),
    )
    p = (F.col("_n_ref").cast("double") + F.lit(s)) / (
        F.col("n_ref").cast("double") + F.lit(s) * F.col("n_bins")
    )
    q = (F.col("_n_cur").cast("double") + F.lit(s)) / (
        F.col("n_cur").cast("double") + F.lit(s) * F.col("n_bins")
    )
    grp = tot.groupBy(*group_cols, "n_ref", "n_cur", "n_bins").agg(
        F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi")
    )
    return grp.select(
        *group_cols,
        "n_ref",
        "n_cur",
        "n_bins",
        "psi",
        (F.col("psi") > F.lit(_PSI_THRESHOLD)).alias("drift_flag"),
    )
