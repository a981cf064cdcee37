"""Data-layout operators: multi-dimensional clustering (Z-order).

Parquet data skipping works off per-row-group min/max statistics; a
table sorted on one column skips beautifully for that column and not
at all for any other. Z-ordering interleaves the bits of several
columns into one sort key, so a single sort tightens the min/max
spans of ALL participating columns at once — the standard lake-layout
technique (Delta OPTIMIZE ZORDER BY, Iceberg sort orders) for tables
queried along several independent dimensions.

Everything here is column expressions + one range repartition — the
sort is the only shuffle, and it is exactly the shuffle the layout
exists to pay once at write time so that every later scan skips.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mape_calculation_and_anonymization_spark.sources.sinks import (
    write_parquet_snappy,
)


# bits per dimension of the Z-order key: 2^8 quantile buckets per column
_Z_BITS = 8


def zvalue(cols: list[Column | str]) -> Column:
    """Interleave the low ``bits = _Z_BITS`` bits of each column into
    one Z (Morton) key. Columns should already be non-negative integers
    in ``[0, 2^bits)`` — bucketize upstream for unbounded/real-valued
    dimensions (:func:`quantile_rank_column` /
    :func:`zorder_write_auto`).

    Out-of-range values SATURATE at the domain edges
    (``[0, 2^bits - 1]``) instead of silently keeping only the low
    bits: mod-2^bits truncation would alias id ``257`` next to ``1``
    and scatter the layout (data-skipping quality silently degrades);
    saturation stays monotone, so an over-range tail merely collapses
    into the top bucket while every in-range value still sorts
    exactly.

    Unrolled shift/or expression tree: ``bits × n_cols`` ops, all
    inside whole-stage codegen — no UDF.
    """
    bits = _Z_BITS
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    n = len(cs)
    if n == 0:
        raise ValueError("zvalue needs at least one column")
    if bits * n > 63:
        raise ValueError(f"{bits} bits x {n} cols exceeds a signed long")
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, c in enumerate(cs):
        clamped = F.least(
            F.greatest(c.cast("long"), F.lit(0).cast("long")),
            F.lit(top).cast("long"),
        )
        for b in range(bits):
            bit = F.shiftright(clamped, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


def quantile_rank_column(df: DataFrame, col: str) -> Column:
    """Map an arbitrary numeric column onto the bounded integer domain
    ``[0, 2^_Z_BITS)`` by approximate-quantile bucketing — the standard
    prep that makes :func:`zvalue` applicable to real-valued or skewed
    dimensions (equal-POPULATION buckets, so the Morton key spreads
    rows evenly no matter the distribution).

    The quantile probe is one approx_percentile aggregate (a mergeable
    sketch at accuracy 1000, i.e. 0.1% relative error — one pass,
    map-side combinable); the returned expression
    is a pure projection against the broadcast cut list."""
    n_buckets = 1 << _Z_BITS
    cuts = (
        df.agg(
            F.percentile_approx(
                col,
                [i / n_buckets for i in range(1, n_buckets)],
                1000,
            )
        ).first()[0]
    )
    # A row's bucket is the highest cut it exceeds, so the HIGHEST cut
    # must be the outermost when(): fold ascending, each new when()
    # wraps (and shadows) the chain built so far. One flat codegen
    # expression, ≤ n_buckets-1 comparisons per row.
    expr = F.lit(0)
    for i in range(len(cuts)):
        expr = F.when(F.col(col) > F.lit(cuts[i]), i + 1).otherwise(expr)
    return expr.cast("long")


def zorder_write_auto(df: DataFrame, path: str) -> None:
    """Z-order write over the ``user_id`` and ``day`` columns, whatever
    their numeric domain: each dimension is quantile-bucketed onto
    [0, 2^_Z_BITS) first (one sketch aggregate per column), then
    range-partitioned into 8 files on the interleaved key (each output
    file owns a contiguous Z range) and sorted within partitions, so
    later scans filtering on either column skip row groups."""
    bucketed = df
    tmp_cols = []
    for c in ("user_id", "day"):
        bc = f"_zb_{c}"
        bucketed = bucketed.withColumn(bc, quantile_rank_column(df, c))
        tmp_cols.append(bc)
    keyed = bucketed.withColumn("_z", zvalue(tmp_cols))
    write_parquet_snappy(
        keyed.repartitionByRange(8, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", *tmp_cols),
        path,
    )
