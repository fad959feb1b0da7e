from .sessionize_stream import streaming_runtime_per_day, streaming_sessionize
from .state_inspect import open_sessions, read_state, state_operators

__all__ = [
    "streaming_sessionize",
    "streaming_runtime_per_day",
    "state_operators",
    "read_state",
    "open_sessions",
]
