"""Parquet measurement/table sources.

The reference's scan operator (S1 ``ReadDB``, pkg/agent/client.go:329-485)
streams a chunked InfluxQL ``SELECT`` over HTTP and hand-decodes typed
points. Spark-first, a "measurement" is simply a parquet (or Delta)
table whose schema is ``(time cols, tag cols, field cols)``; the typed
decode is schema-on-read and the chunked transfer is the partitioned
scan Spark performs natively. The time-range scan (S2,
pkg/agent/sync.go:162) becomes a pushed-down filter — half-open
``[start, end)`` rather than the reference's exclusive-both-ends quirk
that loses boundary points (SURVEY §4 "quirks").
"""

from __future__ import annotations

import os
from datetime import datetime, timezone
from functools import lru_cache

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from syncflux_spark.functions.time import unixnano_to_ts

#: Every table the driver materializes (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


@lru_cache(maxsize=256)
def _ns_timestamp_cols(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark refuses them
    natively (PARQUET_TYPE_ILLEGAL), so they're read as ns-epoch longs
    via ``spark.sql.legacy.parquet.nanosAsLong``. Metadata-only probe
    (footer read), cached per path."""
    try:
        schema = pq.read_schema(path)
    except OSError:
        # directory dataset — probe a single fragment's footer
        schema = pq.ParquetDataset(path).schema
    return tuple(
        f.name for f in schema if str(f.type).startswith("timestamp[ns")
    )


@lru_cache(maxsize=256)
def _us_timestamp_cols(path: str) -> tuple[str, ...]:
    """Columns stored as parquet µs/ms TIMESTAMP — Spark reads these
    natively as TimestampType; the canonical ``{col}_ns`` long is
    *derived* (exact: µs → ×1000) rather than raw. Footer-only probe,
    cached per path."""
    try:
        schema = pq.read_schema(path)
    except OSError:
        schema = pq.ParquetDataset(path).schema
    return tuple(
        f.name
        for f in schema
        if str(f.type).startswith(("timestamp[us", "timestamp[ms"))
    )


def load_table(
    spark: SparkSession, sf_dir: str, name: str, keep_ns: bool = True
) -> DataFrame:
    """Scan one table. Column pruning + predicate pushdown are free:
    callers chain .select/.filter and Catalyst pushes both into the
    parquet reader (verify with .explain → PushedFilters/ReadSchema).

    ns-precision handling (SURVEY §7.2 hard part): every timestamp
    column gets a canonical ``{col}_ns`` epoch-long companion so query
    code has ONE integer-exact time representation regardless of the
    file's physical precision.

    - TIMESTAMP(NANOS) files: Spark refuses them natively, so the raw
      column is read as a ns long (``nanosAsLong``), survives as
      ``{col}_ns``, and a µs TimestampType of the original name is
      derived. **Range predicates must hit the long** — a filter on
      the derived timestamp reaches parquet as ``IsNotNull`` only.
    - TIMESTAMP(µs/ms) files (what the driver generates now): the raw
      column IS the TimestampType; ``{col}_ns`` is derived
      (``unix_micros × 1000``, exact). Here the situation inverts:
      predicates on the raw timestamp push down; the derived long
      doesn't. The companion is derived only for the conventional
      measurement time column ``ts`` — relational date columns
      (o_orderdate, l_shipdate) stay schema-clean.

    :func:`scan_time_range` emits both predicate forms so the
    row-group-pruning one applies in either layout. ``keep_ns=False``
    skips the companion longs for schema-minimal reads."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # TIMESTAMP (UTC-normalized), not TIMESTAMP_NTZ: epoch functions
    # work and comparisons match the DuckDB oracle (session tz is UTC)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    for col in _ns_timestamp_cols(path):
        if keep_ns:
            df = df.withColumn(f"{col}_ns", F.col(col))
        df = df.withColumn(col, unixnano_to_ts(col))
    if keep_ns:
        for col in _us_timestamp_cols(path):
            if col == "ts":
                df = df.withColumn(
                    f"{col}_ns", F.unix_micros(F.col(col)) * F.lit(1000)
                )
    return df


def _to_ns_epoch(x) -> int:
    """Timestamp-ish → ns-epoch int. Naive datetimes/strings are UTC
    (the session timezone). Integer input is already ns."""
    if isinstance(x, int):
        return x
    if isinstance(x, str):
        x = datetime.fromisoformat(x)
    if isinstance(x, datetime):
        if x.tzinfo is None:
            x = x.replace(tzinfo=timezone.utc)
        # integer epoch delta, not int(timestamp()): truncation toward
        # zero puts pre-1970 sub-second datetimes a full second late
        delta = x - datetime(1970, 1, 1, tzinfo=timezone.utc)
        micros = (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds
        return micros * 1_000
    raise TypeError(f"cannot convert {type(x).__name__} to ns epoch")


def scan_time_range(
    df: DataFrame,
    start,
    end,
    time_col: str = "ts",
) -> DataFrame:
    """S2: the reference's one query shape —
    ``select * from m where time > start and time < end group by *``
    (pkg/agent/sync.go:162). Half-open [start, end): boundary points
    land in exactly one chunk (fixes the reference's exclusive-bounds
    data-loss quirk). ``group by *`` is a no-op here because tags are
    ordinary columns.

    When the table carries a canonical ``{time_col}_ns`` long, TWO
    predicate forms are emitted: the exact ns-long comparison (the
    semantic filter) plus a µs-bracket on the timestamp column itself
    (``[floor_us(start), ceil_us(end))`` — a superset, so it never
    drops a qualifying row). Exactly one of the two columns is raw in
    any given layout (ns parquet → the long is raw; µs/ms parquet →
    the timestamp is raw), and only predicates on the raw column reach
    the parquet reader as row-group/partition-pruning range filters —
    Catalyst won't invert the derived column's expression. Emitting
    both costs one redundant codegen comparison and guarantees
    pushdown either way; tests/test_copy.py asserts the range reaches
    the FileScan."""
    ns_col = f"{time_col}_ns"
    if ns_col in df.columns:
        lo_ns, hi_ns = _to_ns_epoch(start), _to_ns_epoch(end)
        c: Column = F.col(ns_col)
        cond = (c >= F.lit(lo_ns)) & (c < F.lit(hi_ns))
        if time_col in df.columns:
            t = F.col(time_col)
            lo_us, hi_us = lo_ns // 1000, (hi_ns + 999) // 1000
            cond = (
                cond
                & (t >= F.timestamp_micros(F.lit(lo_us)))
                & (t < F.timestamp_micros(F.lit(hi_us)))
            )
        return df.where(cond)
    c = F.col(time_col)
    return df.where((c >= F.lit(start)) & (c < F.lit(end)))
