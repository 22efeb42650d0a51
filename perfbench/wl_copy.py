"""The copy half of copy_backfill: ``agent.action_copy`` at the
reference defaults (5 m chunks, 4 workers, ``dir`` sink) over
30-minute windows of generated data.

Each ``copy_range`` call moves a few thousand points, so the time per
Spark job, per lock and per plan dominates. Check: every measurement
read back with ``operators.copy.read_copied`` equals DuckDB over the
generated file on the half-open window, by row count and by an
order-insensitive hash."""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import common
import gen

DATA_HOURS = 12
WINDOW = timedelta(minutes=30)
WINDOWS = int(DATA_HOURS * timedelta(hours=1) / WINDOW)
T0 = datetime.fromtimestamp(gen.T0_NS // 10**9, tz=timezone.utc)
CHUNK = "5m"
NUM_WORKERS = 4


def window(i: int) -> tuple[datetime, datetime]:
    """The ``i``-th 30 min window, wrapping round the generated hours."""
    s = T0 + (i % WINDOWS) * WINDOW
    return s, s + WINDOW


def copied_ns(windows: int) -> tuple[int, int]:
    """[lo, hi) in ns that ``windows`` consecutive copies from window 0
    cover."""
    return gen.T0_NS, gen.T0_NS + min(windows, WINDOWS) * int(WINDOW.total_seconds()) * 10**9


def install_tracing(tracer) -> None:
    import syncflux_spark.agent as agent
    import syncflux_spark.locking as locking
    import syncflux_spark.operators.copy as cp

    tracer.wrap(agent, "discover_measurements", "agent.discover")
    tracer.wrap(
        cp, "copy_range", "copy.range",
        result_attr=lambda n: {"points": n},
        arg_attrs=lambda a, k: {"win": f"{a[2].isoformat()}_{a[3].isoformat()}"},
    )
    tracer.wrap(cp, "scan_time_range", "parquet.scan_time_range")
    tracer.wrap_cm(locking, "table_lock", "locking.table_lock")


def check(spark, src: str, dst: str, lo_ns: int, hi_ns: int) -> tuple[list[str], int]:
    """(problems found comparing the copy at ``dst`` with the generated
    files at ``src`` over ``[lo_ns, hi_ns)`` -- empty when equal, rows
    read back)."""
    import duckdb

    from syncflux_spark.operators.copy import read_copied

    problems, rows = [], 0
    con = duckdb.connect()
    for name in sorted(gen.SERIES):
        want = digest_oracle(con, os.path.join(src, f"{name}.parquet"), lo_ns, hi_ns)
        try:
            got_df = read_copied(spark, dst, name).select(*common.ROW_COLS).toPandas()
        except Exception as ex:  # noqa: BLE001 — unreadable output is a failed check
            problems.append(f"{name}: cannot read copy: {type(ex).__name__}: {ex}")
            continue
        got = common.digest(got_df)
        rows += got[0]
        if got != want:
            problems.append(f"{name}: copy has {got[0]} rows/hash {got[1]:x}, "
                            f"source window has {want[0]}/{want[1]:x}")
    con.close()
    return problems, rows


def digest_oracle(con, path: str, lo_ns: int, hi_ns: int) -> tuple[int, int]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    # DuckDB truncates TIMESTAMP(NANOS) to microseconds, so the ns
    # epoch is taken on the arrow side
    tbl = pq.read_table(path)
    tbl = tbl.append_column("ts_ns", tbl["ts"].cast(pa.int64()))
    con.register("src", tbl)
    df = con.execute(
        "select ts_ns, host, region, value, count, ok, status "
        "from src where ts_ns >= ? and ts_ns < ?",
        [lo_ns, hi_ns],
    ).df()
    con.unregister("src")
    return common.digest(df)
