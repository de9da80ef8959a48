from .jobs import (  # noqa: F401
    interval_self_join,
    read_documents_stream,
    read_events_stream,
    run_stream_to_memory,
    session_counts,
    sliding_hourly_avg,
    stateful_per_key_deltas,
    tumbling_counts,
)
