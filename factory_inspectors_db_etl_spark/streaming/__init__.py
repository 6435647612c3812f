from .ops import (  # noqa: F401
    cdc_snapshot_upsert,
    run_available_now,
    session_counts,
    sliding_counts,
    stateful_running_stats,
    stateful_running_stats_tws,
    stream_events,
    stream_stream_view_purchase_join,
    streaming_dedup,
    tumbling_counts,
)
