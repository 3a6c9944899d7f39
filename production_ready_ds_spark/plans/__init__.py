"""Physical-plan inspection helpers (scale-shape auditing)."""

from .audit import (
    broadcast_join_count,
    exchange_input_columns,
    explain_str,
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
    shuffle_count,
)

__all__ = [
    "broadcast_join_count",
    "exchange_input_columns",
    "explain_str",
    "has_broadcast_join",
    "pushed_filters",
    "read_schema_columns",
    "shuffle_count",
]
