"""Time-series regularization operators.

The reference's domain is hourly energy-market series; its pipelines
assume every (date, hour, zone) slot exists. Real feeds drop hours.
This module adds the standard remedies as pure DataFrame programs:

  * dense hourly spine generation per key (``sequence`` + explode —
    the spine is derived per key inside the engine, no driver loop)
  * gap detection (left join spine ← observations)
  * forward fill (``last(..., ignorenulls=True)`` over a key-ordered
    window — partitioned by series key, so the fill parallelizes
    across series and never needs a global sort)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def fill_hourly_gaps(hourly: DataFrame) -> DataFrame:
    """Densify an hourly series per zone and forward-fill gaps.

    Input: one row per observed (zone, hour_ts) with ``settlement``.
    Output: one row per (zone, hour_ts) over each zone's [min, max]
    hour span, with ``settlement`` forward-filled from the last observation
    and ``was_gap`` marking synthesized rows. Leading gaps (before a
    key's first observation) cannot exist by construction since the
    spine starts at the key's own min.

    Scale shape: the spine explode is per-key (span/hour rows each),
    the join is on (key, hour) — co-partitioned with the fill window's
    partitioning, so Catalyst reuses one shuffle for join + window —
    and the fill never sorts globally.
    """
    span = hourly.groupBy("zone").agg(
        F.min("hour_ts").alias("_min_ts"), F.max("hour_ts").alias("_max_ts")
    )
    spine = span.select(
        "zone",
        F.explode(
            F.sequence("_min_ts", "_max_ts", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_ts"),
    )
    joined = spine.join(hourly, on=["zone", "hour_ts"], how="left")
    w = (
        Window.partitionBy("zone")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "zone",
        "hour_ts",
        F.last("settlement", ignorenulls=True).over(w).alias("settlement"),
        F.col("settlement").isNull().alias("was_gap"),
    )


def forecast_accuracy(
    df: DataFrame,
) -> DataFrame:
    """Forecast-accuracy suite per ``zone`` of its ``forecast`` and
    ``actual`` columns: the metrics a forecasting team
    publishes NEXT TO the reference's WAPE (operators/mape.py keeps the
    reference's sum-then-divide WAPE; this extends the scorecard):

      * mae     — mean absolute error
      * rmse    — root mean squared error (penalizes large misses)
      * smape   — symmetric MAPE, ``mean(2|f−a| / (|f|+|a|))`` with the
                  0/0 slot defined as 0 (both-zero = perfect forecast,
                  the same convention as the reference's F1 filter)
      * wape    — ``Σ|f−a| / Σ|a|`` (the reference's headline metric,
                  here per key for cross-checking)
      * bias    — mean signed error (systematic over/under-forecast)
      * mase    — MAE scaled by the naive lag-1 forecast's MAE
                  (Hyndman & Koehler, "Another look at measures of
                  forecast accuracy", IJF 2006): < 1 beats persistence.
                  The series order within a zone is (``proxy_date``,
                  ``hour``).

    One hash aggregate over the series; MASE adds a lag window
    partitioned by key (parallel across series, no global sort).
    Every expression stays inside whole-stage codegen.
    """
    f, a = F.col("forecast"), F.col("actual")
    err = f - a
    ae = F.abs(err)
    denom = F.abs(f) + F.abs(a)
    smape_term = F.when(denom == 0, F.lit(0.0)).otherwise(2.0 * ae / denom)

    work = df
    aggs = [
        F.avg(ae).alias("mae"),
        F.sqrt(F.avg(err * err)).alias("rmse"),
        F.avg(smape_term).alias("smape"),
        F.try_divide(F.sum(ae), F.sum(F.abs(a))).alias("wape"),
        F.avg(err).alias("bias"),
    ]
    w = Window.partitionBy("zone").orderBy("proxy_date", "hour")
    work = work.withColumn("_naive", F.lag("actual").over(w))
    naive_ae = F.when(F.col("_naive").isNotNull(), F.abs(a - F.col("_naive")))
    aggs.append(F.try_divide(F.avg(ae), F.avg(naive_ae)).alias("mase"))
    return work.groupBy("zone").agg(*aggs)
