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
import stat
from dataclasses import dataclass
from datetime import datetime, timezone
from functools import lru_cache
from urllib.parse import unquote, urlsplit

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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


def _file_identity(path: str) -> tuple:
    """``(path, st_mtime_ns, st_size)``; a directory dataset is keyed by
    that of every file below it. Every footer fact cached here is keyed
    by it, so a source rewritten in place at the same path (say, from
    ns to µs timestamps) is probed afresh, never read with its old
    layout."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (path, st.st_mtime_ns, st.st_size)
    files = []
    for d, _, names in os.walk(path):
        for n in names:
            f = os.path.join(d, n)
            fs = os.stat(f)
            files.append((f, fs.st_mtime_ns, fs.st_size))
    return (path, tuple(sorted(files)))


@lru_cache(maxsize=256)
def _timestamp_cols(ident: tuple) -> tuple[tuple[str, ...], tuple[str, ...]]:
    """(columns stored as parquet TIMESTAMP(NANOS), columns stored as
    µs/ms TIMESTAMP) of the source ``ident`` names. Spark refuses the
    first natively (PARQUET_TYPE_ILLEGAL), so they're read as ns-epoch
    longs via ``spark.sql.legacy.parquet.nanosAsLong``; it reads the
    second as TimestampType. Footer-only probe."""
    path = ident[0]
    try:
        schema = pq.read_schema(path)
    except OSError:
        # directory dataset — probe a single fragment's footer
        schema = pq.ParquetDataset(path).schema
    types = [(f.name, str(f.type)) for f in schema]
    return (
        tuple(n for n, t in types if t.startswith("timestamp[ns")),
        tuple(n for n, t in types if t.startswith(("timestamp[us", "timestamp[ms"))),
    )


#: Spark's inferred schema per source identity. Inference is a Spark
#: job (a parallel footer merge, even for one file); a later load of
#: the same files passes the schema through ``.schema()`` instead.
_SCHEMAS: dict[tuple, StructType] = {}
_SCHEMAS_MAX = 256


def _read_parquet(spark: SparkSession, path: str, ident: tuple) -> DataFrame:
    schema = _SCHEMAS.get(ident)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if len(_SCHEMAS) >= _SCHEMAS_MAX:
        _SCHEMAS.clear()
    _SCHEMAS[ident] = df.schema
    return df


@dataclass(frozen=True)
class FooterStats:
    """What one parquet file's footer says about its time column:
    rows, the ns-epoch min/max of the time, and its largest row group
    (rows)."""

    rows: int
    lo_ns: int
    hi_ns: int
    max_group_rows: int


_NS_PER_UNIT = {"s": 10**9, "ms": 10**6, "us": 10**3, "ns": 1}


@lru_cache(maxsize=1024)
def _footer_stats(ident: tuple, time_col: str) -> FooterStats | None:
    """Footer stats of the file ``ident`` names over ``time_col`` (a
    parquet TIMESTAMP) or ``{time_col}_ns`` (an ns-epoch long); None
    without INT64 min/max statistics on every non-empty row group."""
    md = pq.read_metadata(ident[0])
    arrow = md.schema.to_arrow_schema()
    leaves = {md.schema.column(i).path: i for i in range(md.num_columns)}
    for name in (time_col, f"{time_col}_ns"):
        if name not in leaves or arrow.get_field_index(name) < 0:
            continue
        t = arrow.field(name).type
        if pa.types.is_timestamp(t):
            scale = _NS_PER_UNIT[t.unit]
        elif name != time_col and pa.types.is_int64(t):
            scale = 1
        else:
            continue
        idx = leaves[name]
        break
    else:
        return None
    lo = hi = None
    biggest = 0
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        if rg.num_rows == 0:
            continue
        col = rg.column(idx)
        st = col.statistics
        if col.physical_type != "INT64" or st is None or not st.has_min_max:
            return None
        lo = st.min_raw if lo is None else min(lo, st.min_raw)
        hi = st.max_raw if hi is None else max(hi, st.max_raw)
        biggest = max(biggest, rg.num_rows)
    if lo is None:
        return None
    return FooterStats(md.num_rows, lo * scale, hi * scale, biggest)


def source_footer_stats(df: DataFrame, time_col: str = "ts") -> list[FooterStats] | None:
    """Footer stats of every file ``df`` scans (``df.inputFiles()``),
    each read once per file identity; None when ``df`` scans no file
    (an in-memory source) or any file is not a local parquet file with
    time statistics."""
    uris = df.inputFiles()
    if not uris:
        return None
    out = []
    for uri in uris:
        parts = urlsplit(uri)
        if parts.scheme not in ("", "file"):
            return None
        try:
            st = _footer_stats(_file_identity(unquote(parts.path)), time_col)
        except (OSError, pa.ArrowException):
            return None
        if st is None:
            return None
        out.append(st)
    return out


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
    skips the companion longs for schema-minimal reads.

    Spark's schema inference is a job of its own; it runs once per
    file identity (path, mtime, size), and later loads of the same
    files pass the kept schema through ``.schema()``."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # TIMESTAMP (UTC-normalized), not TIMESTAMP_NTZ: epoch functions
    # work and comparisons match the DuckDB oracle (session tz is UTC)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = os.path.join(sf_dir, f"{name}.parquet")
    ident = _file_identity(path)
    ns_cols, us_cols = _timestamp_cols(ident)
    df = _read_parquet(spark, path, ident)
    for col in ns_cols:
        if keep_ns:
            df = df.withColumn(f"{col}_ns", F.col(col))
        df = df.withColumn(col, unixnano_to_ts(col))
    if keep_ns:
        for col in us_cols:
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
