"""Join operators beyond the reference's single left-equi join:
as-of joins (Spark has no native operator) and a skew-safe salted
join for hot keys at scale.

As-of join strategy: Spark lacks ASOF JOIN, so it is composed from
built-ins — union the right ("quotes") stream into the left ("trades")
stream with a marker, then one `last(value, ignorenulls=True)` window
per key ordered by (ts, marker) forward-fills the most recent right
value onto each left row. Cost: ONE shuffle on the key + a per-key
sort — same asymptotics as a sort-merge join, no point-in-time
cross-join blowup.

Salting strategy: a hot key floods one reducer in a shuffle join. The
salted join replicates the (small-ish) build side `salt` ways and
splinters the probe side's hot keys across `salt` sub-keys, restoring
parallelism at the cost of `salt`× the build side — the classic
pre-AQE remedy, kept available because AQE's skew handling only
applies to sort-merge joins on statistics it can see.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    tolerance: str | None = None,
) -> DataFrame:
    """Enrich each left row with the ``hourly_volume`` of the most
    recent right row at-or-before its ``ts`` timestamp (a backward
    as-of join), matching ``zone`` exactly.

    Equivalent to pandas ``merge_asof`` / DuckDB ``ASOF JOIN``
    (with allow_exact_matches=True). Implemented as union + windowed
    forward-fill: one shuffle on ``zone``.

    ``tolerance`` (an INTERVAL string, e.g. ``"1 hour"``) mirrors
    pandas merge_asof's: a match further than the tolerance from the
    left timestamp is rejected — its right columns come back NULL.
    The matched right timestamp rides along through the fill, so the
    gap test is a pure projection afterwards.

    Left and right must not share non-key column names (pandas
    suffixes; here the union would silently NULL the shared column,
    so it is an error — rename before joining).
    """
    right_cols = ["hourly_volume"]
    clashes = [c for c in right_cols if c in left.columns]
    if clashes:
        raise ValueError(
            f"asof_join: column(s) {clashes} exist on both sides; the "
            "union-based fill would overwrite the left values with NULLs. "
            "Rename one side (e.g. right.withColumnRenamed) first."
        )

    fill_cols = list(right_cols)
    if tolerance is not None:
        fill_cols.append("_r_on")

    l_marked = left.withColumn("_is_left", F.lit(1))
    for c in right_cols:
        l_marked = l_marked.withColumn(c, F.lit(None).cast(right.schema[c].dataType))
    if tolerance is not None:
        l_marked = l_marked.withColumn(
            "_r_on", F.lit(None).cast(right.schema["ts"].dataType)
        )
    r_marked = right.select(
        "zone", F.col("ts"), *right_cols
    ).withColumn("_is_left", F.lit(0))
    if tolerance is not None:
        r_marked = r_marked.withColumn("_r_on", F.col("ts"))
    left_cols = [c for c in left.columns if c not in ("zone", "ts")]
    for c in left_cols:
        r_marked = r_marked.withColumn(c, F.lit(None).cast(left.schema[c].dataType))

    unioned = l_marked.select(
        "zone", "ts", "_is_left", *fill_cols, *left_cols
    ).unionByName(r_marked.select("zone", "ts", "_is_left", *fill_cols, *left_cols))

    # Right rows order BEFORE left rows at the same timestamp so an
    # exact-timestamp match is visible to the left row.
    w = (
        Window.partitionBy("zone")
        .orderBy(F.col("ts").asc(), F.col("_is_left").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fill = {c: F.last(F.col(c), ignorenulls=True).over(w) for c in fill_cols}

    filled = unioned.withColumns(fill)
    out = filled.filter(F.col("_is_left") == 1).drop("_is_left")
    if tolerance is not None:
        gap_ok = F.col("ts") - F.col("_r_on") <= F.expr(f"INTERVAL {tolerance}")
        out = out.withColumns(
            {
                c: F.when(gap_ok, F.col(c)).otherwise(
                    F.lit(None).cast(right.schema[c].dataType)
                )
                for c in right_cols
            }
        ).drop("_r_on")
    return out


def salted_join(probe: DataFrame, build: DataFrame) -> DataFrame:
    """Inner equi join on ``l_partkey`` with the probe side's keys
    splintered across 8 sub-keys and the build side replicated 8 ways —
    hot probe keys no longer collapse onto one reducer.

    Row-identical to ``probe.join(build, "l_partkey")``.
    """
    p = probe.withColumn("_salt", (F.rand(seed=7) * 8).cast("int"))
    b = build.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(8)]))
    )
    out = p.join(b, on=["l_partkey", "_salt"])
    return out.drop("_salt")


def key_skew_stats(df: DataFrame) -> DataFrame:
    """Heavy-hitter diagnostics for the ``l_suppkey`` join key: the
    10 most frequent keys with their row share and the ratio of
    each key's count to the mean per-key count — the number that tells
    you whether a plain shuffle join is safe or needs salting/AQE skew
    handling. One hash aggregate + a broadcast 1-row global stats
    frame; the top-k plans as TakeOrderedAndProject."""
    counts = df.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("_total"),
        F.avg("n_rows").alias("_mean"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "l_suppkey",
            "n_rows",
            F.round(F.col("n_rows") / F.col("_total"), 6).alias("row_share"),
            F.round(F.col("n_rows") / F.col("_mean"), 4).alias("skew_ratio"),
        )
        .orderBy(F.col("n_rows").desc(), "l_suppkey")
        .limit(10)
    )


def touch_attribution(conversions: DataFrame, touches: DataFrame) -> DataFrame:
    """First-touch / last-touch attribution: for each conversion, the
    earliest and latest same-``user_id`` touch inside
    ``[conversion.ts − 7 days, conversion.ts]`` — the standard
    marketing-attribution pair (first = acquisition credit, last =
    closing credit). One row per conversion; conversions with NO
    in-window touch keep NULL touch columns (they are the
    "unattributed" bucket every report needs, never dropped).

    Shape: an equi-join on the key plus the event-time RANGE
    predicate (the stream-stream interval-join condition run in
    batch), then ONE hash aggregate per conversion taking
    ``min(struct(ts, id))`` / ``max(struct(ts, id))`` — the argmin
    and argmax share a single aggregation, and the deterministic
    struct tie-break (id after ts) makes the result reproducible in
    any engine. The join shuffles on the key only — at 100 TB the
    lookback bound keeps per-key match fan-out proportional to touch
    frequency within the window, never stream history; a skewed key
    routes through the salted-join helpers like any other hot-key
    join."""
    c = conversions.select(
        F.col("user_id").alias("_k"),
        F.col("event_id").alias("conversion_id"),
        F.col("ts").alias("conversion_ts"),
    )
    t = touches.select(
        F.col("user_id").alias("_k"),
        F.col("event_id").alias("_t_id"),
        F.col("ts").alias("_t_ts"),
    )
    cond = (
        (c["_k"] == t["_k"])
        & (t["_t_ts"] >= c["conversion_ts"] - F.expr("INTERVAL 7 DAYS"))
        & (t["_t_ts"] <= c["conversion_ts"])
    )
    joined = c.join(t, cond, "left_outer")
    agg = joined.groupBy(
        c["_k"].alias("user_id"), "conversion_id", "conversion_ts"
    ).agg(
        F.min(F.struct("_t_ts", "_t_id")).alias("_first"),
        F.max(F.struct("_t_ts", "_t_id")).alias("_last"),
        F.count("_t_id").alias("n_touches"),
    )
    return agg.select(
        "user_id",
        "conversion_id",
        "conversion_ts",
        F.col("_first._t_id").alias("first_touch_id"),
        F.col("_first._t_ts").alias("first_touch_ts"),
        F.col("_last._t_id").alias("last_touch_id"),
        F.col("_last._t_ts").alias("last_touch_ts"),
        "n_touches",
    )


def merge_upsert(target: DataFrame, updates: DataFrame) -> DataFrame:
    """Batch MERGE (upsert) expressed as pure dataflow: full-outer
    join on ``c_custkey``; matched rows take the UPDATE side's values,
    unmatched update rows INSERT, unmatched target rows pass through
    UNCHANGED — `MERGE INTO ... WHEN MATCHED THEN UPDATE WHEN NOT
    MATCHED THEN INSERT` for engines/table-formats without a native
    MERGE, plus an ``action`` audit column (updated/inserted/
    unchanged) every CDC-apply job wants to report. Both inputs must
    share a schema (asserted eagerly — a silent column mismatch
    would coalesce the wrong values).

    Update semantics are SPARSE: a NULL field in an update row
    inherits the target's value (coalesce update-first), so partial
    updates don't wipe columns; to explicitly null a field, model it
    as a sentinel upstream. Inserted rows keep their NULLs (no target
    to inherit from).

    Scale shape: ONE full-outer shuffle on the merge key (broadcast
    if the update batch is dim-sized — Catalyst picks it up from
    statistics or an explicit broadcast() on the caller's side); the
    coalesce projection is codegen'd. To commit the merged snapshot
    over the target's own directory, write it through
    ``sources.sinks.replace_dir``, as the key-table upsert does."""
    if set(target.columns) != set(updates.columns):
        raise ValueError(
            f"merge_upsert: target columns {sorted(target.columns)} != "
            f"update columns {sorted(updates.columns)} — both sides must "
            "share a schema"
        )
    # SQL MERGE raises "multiple source rows matched" when the update
    # batch carries the same key twice; silently full-outer-joining
    # would FAN OUT the matched target row (the snapshot would hold
    # the key twice, both 'updated'). Check eagerly — one
    # map-side-combinable aggregate over the update batch, which is
    # dim-sized by contract; the probe reads ONE scalar row.
    key = "c_custkey"
    dup = (
        updates.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .first()
    )
    if dup is not None:
        raise ValueError(
            f"merge_upsert: update batch contains key {dup[key]!r} "
            f"{dup['_n']} times — MERGE requires at most one source row "
            "per key (dedupe the batch first, e.g. keep the latest by "
            "a version column)"
        )
    value_cols = [c for c in target.columns if c != key]
    t = target.select(
        F.col(key).alias("_tk"), *[F.col(c).alias(f"_t_{c}") for c in value_cols]
    )
    u = updates.select(
        F.col(key).alias("_uk"), *[F.col(c).alias(f"_u_{c}") for c in value_cols]
    )
    joined = t.join(u, t["_tk"] == u["_uk"], "full_outer")
    action = (
        F.when(F.col("_tk").isNotNull() & F.col("_uk").isNotNull(), "updated")
        .when(F.col("_tk").isNull(), "inserted")
        .otherwise("unchanged")
    )
    return joined.select(
        F.coalesce("_tk", "_uk").alias(key),
        *[
            F.coalesce(F.col(f"_u_{c}"), F.col(f"_t_{c}")).alias(c)
            for c in value_cols
        ],
        action.alias("action"),
    )
