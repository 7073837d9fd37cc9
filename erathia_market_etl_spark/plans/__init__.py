from .registry import (
    ORACLES,
    QUERIES,
    all_oracles,
    all_queries,
    local_queries,
    query,
)

__all__ = [
    "QUERIES",
    "ORACLES",
    "query",
    "all_queries",
    "all_oracles",
    "local_queries",
]
