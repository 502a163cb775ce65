from .streams import (  # noqa: F401
    read_event_stream,
    run_to_memory_sink,
    session_stats,
    sliding_stats,
    streaming_running_streaks,
)
