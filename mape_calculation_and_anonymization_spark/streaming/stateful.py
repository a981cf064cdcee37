"""Custom stateful streaming operator via ``applyInPandasWithState``.

Running (cumulative) per-zone WAPE over an event stream: state holds
the running Σ|forecast−settlement| / Σ|backcast−settlement| /
Σ|settlement| per zone; every micro-batch folds its events in and
emits the zone's updated running ratios. This is the operator shape
Structured Streaming's built-in aggregations can't express directly
(a ratio of running sums re-emitted per batch with custom state
layout) — the north-star "custom stateful operator" slot.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("zone", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("forecast_abs_error", T.DoubleType()),
        T.StructField("backcast_abs_error", T.DoubleType()),
        T.StructField("settlement_abs", T.DoubleType()),
        T.StructField("forecast_wape", T.DoubleType()),
        T.StructField("backcast_wape", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("f_abs", T.DoubleType()),
        T.StructField("b_abs", T.DoubleType()),
        T.StructField("s_abs", T.DoubleType()),
    ]
)


def _update_zone(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (zone,) = key
    n, f_abs, b_abs, s_abs = state.get if state.exists else (0, 0.0, 0.0, 0.0)
    for pdf in pdfs:
        v = pdf["value"]
        n += len(v)
        f_abs += float((v * 1.05 - v).abs().sum())
        b_abs += float((v * 0.97 - v).abs().sum())
        s_abs += float(v.abs().sum())
    state.update((n, f_abs, b_abs, s_abs))
    yield pd.DataFrame(
        {
            "zone": [zone],
            "n_events": [n],
            "forecast_abs_error": [f_abs],
            "backcast_abs_error": [b_abs],
            "settlement_abs": [s_abs],
            "forecast_wape": [f_abs / s_abs if s_abs else None],
            "backcast_wape": [b_abs / s_abs if s_abs else None],
        }
    )


def running_zone_wape(events: DataFrame) -> DataFrame:
    """events(ts, event_type, value) stream → per-zone running WAPE.

    Update-mode stateful transform; each batch emits one refreshed row
    per zone seen. State is four scalars per zone — O(zones)."""
    return (
        events.select(events.event_type.alias("zone"), "value")
        .groupBy("zone")
        .applyInPandasWithState(
            _update_zone,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
