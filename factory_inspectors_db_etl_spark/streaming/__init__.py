from .ops import (  # noqa: F401
    cdc_snapshot_upsert,
    run_available_now,
    session_counts,
    sliding_counts,
    stateful_running_stats,
    stateful_running_stats_tws,
    stateful_sessionize,
    stream_events,
    stream_static_enrich,
    stream_stream_view_purchase_join,
    streaming_dedup,
    tumbling_counts,
)
