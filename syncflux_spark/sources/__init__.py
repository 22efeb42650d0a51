from syncflux_spark.sources.line_protocol import (
    parse_line_protocol,
    to_line_protocol,
)
from syncflux_spark.sources.parquet import TABLES, load_table, scan_time_range

__all__ = [
    "TABLES",
    "load_table",
    "parse_line_protocol",
    "scan_time_range",
    "to_line_protocol",
]
