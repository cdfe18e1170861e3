from .readers import (
    EDGE_SCHEMA,
    load_table,
    load_tables,
    read_edges_text,
)

__all__ = [
    "EDGE_SCHEMA",
    "load_table",
    "load_tables",
    "read_edges_text",
]
