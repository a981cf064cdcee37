from mape_calculation_and_anonymization_spark.streaming.upsert import (
    stream_key_table_upsert,
)
from mape_calculation_and_anonymization_spark.streaming.windows import (
    read_events_stream,
    run_stream_to_memory,
    run_stream_to_parquet,
    sliding_event_counts,
    stateful_distinct_users,
    stream_stream_interval_join,
    stream_stream_left_outer_join,
    streaming_hourly_wape,
    user_session_windows,
)

__all__ = [
    "read_events_stream",
    "run_stream_to_memory",
    "run_stream_to_parquet",
    "streaming_hourly_wape",
    "sliding_event_counts",
    "stream_stream_interval_join",
    "stream_stream_left_outer_join",
    "user_session_windows",
    "stateful_distinct_users",
    "stream_key_table_upsert",
]
