from myasynstreamjoin_spark.streaming.dedup import stream_distinct_user_counts
from myasynstreamjoin_spark.streaming.feedback import adaptive_count_stream
from myasynstreamjoin_spark.streaming.windowed import (
    run_stream_to_parquet,
    run_stream_to_table,
    stream_events,
    stream_enriched_segment_counts,
    stream_interval_join,
    stream_interval_join_outer,
    stream_min_count_join,
    stream_min_count_per_window,
    stream_sessions,
    stream_sliding_counts,
    stream_type_topk,
)

__all__ = [
    "stream_events",
    "stream_min_count_per_window",
    "stream_min_count_join",
    "stream_sessions",
    "stream_sliding_counts",
    "stream_enriched_segment_counts",
    "stream_type_topk",
    "stream_interval_join",
    "stream_interval_join_outer",
    "stream_distinct_user_counts",
    "run_stream_to_table",
    "run_stream_to_parquet",
    "adaptive_count_stream",
]
