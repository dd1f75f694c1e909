from .incremental import (  # noqa: F401
    run_incremental,
    session_event_counts,
    session_window_agg,
    sum_value_cents,
    tumbling_window_agg,
    windowed_event_counts,
)
from .stateful import assemble_conversations  # noqa: F401
