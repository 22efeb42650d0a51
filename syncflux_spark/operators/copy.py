"""Chunked time-range copy / sync — the reference's core dataflow.

Re-expresses (SURVEY §2.5):

- C1 ``Sync``      (pkg/agent/sync.go:95-213): newest-first chunk loop,
  per-measurement fan-out, per-chunk reports.
- C2 ``SyncDBRP``  (pkg/agent/sync.go:215-232): 1-level bad-chunk
  recovery at chunk/10 granularity.
- C5 reports       (pkg/agent/sync.go:11-93).
- C6 retry         (pkg/agent/try/try.go:15-30).
- K1 ``WriteDB``   (pkg/agent/client.go:531-559): the write path.
  Batch splitting (K2 ``BpSplit``) is subsumed by
  ``spark.sql.files.maxRecordsPerFile`` / partitioned writes.

Spark-first design notes
------------------------
* One measurement copy = ``read → half-open time filter → write``; the
  filter pushes down to parquet row-group pruning and, on a
  time-partitioned table, partition pruning. Spark parallelizes the
  scan/write internally, so the reference's worker pool maps to task
  parallelism; a ``ThreadPoolExecutor`` submits concurrent
  per-measurement *jobs* so small measurements don't serialize behind
  big ones (reference ``num-workers``, sync.go:141).
* The chunk loop exists for progress reporting + bounded units of
  retry/recovery, not memory (Spark spills). Chunks run newest-first
  (sync.go:144-146) so fresh data recovers first.
* Runs of chunks: row-group pruning prunes nothing on a series-major
  source (every row group spans the whole time range), so a chunk at
  a time would decode the whole file once per chunk. ``sync`` groups
  consecutive chunks into runs sized from the source's parquet
  footers (a run's estimated rows stay within the largest row group,
  what the reader decodes at once anyway), persists one scan of each
  run's range per measurement, and cuts every chunk of the run from
  it with the unchanged ``copy_range``: still one job, one report and
  one ``win`` commit per chunk. A source without footer stats (in
  memory, remote, INT96 time) copies one chunk per run, straight from
  the source.
* Idempotency (SURVEY §7.3 hard-part #1): the reference silently
  relies on InfluxDB upserting duplicate points on chunk re-runs.
  A naive append sink double-writes. Each measurement is one
  txtable.TxTable and each chunk commits as a window-tagged group
  (``replace_tagged("win", "<start_ms>_<end_ms>", ...)``), so a re-run
  of a chunk atomically replaces exactly that chunk's output — the
  transactional ``replaceWhere``. Concurrent windows commute under
  OCC, readers are snapshot-isolated, and the per-window ``ts_ns``
  min/max recorded in the commit log powers data-skipping scans.
* Counts ride ``df.observe`` metrics ON the write pass — a separate
  ``count()`` action would scan every chunk twice, which at 100 TB
  doubles the read I/O of a full copy.
"""

from __future__ import annotations

import time as _time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession

from syncflux_spark.functions.time import chunk_windows, parse_duration
from syncflux_spark.sources.parquet import (
    FooterStats,
    _to_ns_epoch,
    scan_time_range,
    source_footer_stats,
)
from syncflux_spark.txtable import TxTable


@dataclass
class ChunkReport:
    """C5 (pkg/agent/sync.go:11-53): one chunk's outcome. Unlike the
    reference (which counts a failed measurement's points anyway,
    SURVEY §4 quirks), points are counted per successfully written
    measurement only."""

    num: int
    total: int
    start: datetime
    end: datetime
    points: int = 0
    elapsed: float = 0.0
    read_errors: int = 0
    write_errors: int = 0
    measurements: dict[str, int] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return self.read_errors == 0 and self.write_errors == 0


@dataclass
class SyncReport:
    """C5 (pkg/agent/sync.go:55-93): whole-sync rollup."""

    src: str
    dst: str
    start: datetime
    end: datetime
    chunks: list[ChunkReport] = field(default_factory=list)

    @property
    def points(self) -> int:
        return sum(c.points for c in self.chunks)

    @property
    def elapsed(self) -> float:
        return sum(c.elapsed for c in self.chunks)

    @property
    def read_errors(self) -> int:
        return sum(c.read_errors for c in self.chunks)

    @property
    def write_errors(self) -> int:
        return sum(c.write_errors for c in self.chunks)

    @property
    def bad_chunks(self) -> list[ChunkReport]:
        return [c for c in self.chunks if not c.ok]

    def as_dict(self) -> dict:
        return {
            "src": self.src,
            "dst": self.dst,
            "points": self.points,
            "elapsed_sec": round(self.elapsed, 3),
            "read_errors": self.read_errors,
            "write_errors": self.write_errors,
            "chunks": len(self.chunks),
            "bad_chunks": len(self.bad_chunks),
        }


def retry(fn, max_retries: int = 5, delay: float = 0.0, backstop: int = 10):
    """C6 (pkg/agent/try/try.go:15-30): retry until success, bounded by
    min(max_retries, backstop) — at least one attempt is always made.
    Executor-side failures are already retried by Spark
    (spark.task.maxFailures); this wraps whole-job (driver-visible)
    failures, e.g. a sink outage."""
    attempts = max(1, min(max_retries, backstop))
    for attempt in range(attempts):
        try:
            return fn()
        except Exception:  # noqa: BLE001 — app-level retry boundary
            if attempt == attempts - 1:
                raise
            if delay > 0:
                _time.sleep(delay)


def copy_range(
    df: DataFrame,
    dst_path: str,
    start,
    end,
    time_col: str = "ts",
    max_records_per_file: int = 1_000_000,
) -> int:
    """The minimum end-to-end slice (SURVEY §7.4): one measurement,
    one half-open window, read → filter → write. Returns rows written.

    The window commits to the txtable.TxTable at ``dst_path`` via
    ``replace_tagged("win", ...)``: a replayed window atomically swaps
    its previous groups (SURVEY §7.3 #1), concurrent windows commute
    under OCC, and the window's ``ts_ns`` min/max land in the
    checkpointed commit log — O(1) per commit, the format a
    5-minute-chunk replicator needs (~100k commits/year never re-lists
    history)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    window = scan_time_range(df, start, end, time_col=time_col)
    # row count observed on the write pass itself (C5 accounting,
    # sync.go:151-196) — no second scan of the chunk
    obs = Observation()
    window = window.observe(obs, F.count(F.lit(1)).alias("n"))
    TxTable.ensure(df.sparkSession, dst_path).replace_tagged(
        "win",
        _win_key(start, end),
        window,
        stats_cols=[c for c in ("ts_ns",) if c in window.columns],
        write_options={"maxRecordsPerFile": max_records_per_file},
    )
    return int(obs.get["n"])


def _win_key(start, end) -> str:
    """``<start_ms>_<end_ms>``, epoch ms through the SAME conversion
    the scan uses (naive datetimes and strings are UTC), so one
    window keys identically whichever form it was passed in."""
    return f"{_to_ns_epoch(start) // 10**6}_{_to_ns_epoch(end) // 10**6}"


def _estimated_rows(stats: list[FooterStats], lo_ns: int, hi_ns: int) -> float:
    """Rows of ``[lo_ns, hi_ns)``, each file's rows spread evenly over
    its time span (min to max, inclusive)."""
    n = 0.0
    for f in stats:
        overlap = min(hi_ns, f.hi_ns + 1) - max(lo_ns, f.lo_ns)
        if overlap > 0:
            n += f.rows * overlap / (f.hi_ns + 1 - f.lo_ns)
    return n


def plan_runs(
    windows: list[tuple], stats: list[FooterStats] | None
) -> list[tuple[int, int]]:
    """Split ``windows`` (in copy order) into runs ``[i, j)`` of
    consecutive chunks. A chunk joins the current run while the run's
    estimated rows stay at or below the source's largest row group —
    what the parquet reader decodes at once anyway. Without footer
    stats every chunk is a run of its own."""
    if not stats:
        return [(i, i + 1) for i in range(len(windows))]
    cap = max(f.max_group_rows for f in stats)
    runs: list[tuple[int, int]] = []
    first, rows = 0, 0.0
    for i, (s, e) in enumerate(windows):
        est = _estimated_rows(stats, _to_ns_epoch(s), _to_ns_epoch(e))
        if i > first and rows + est > cap:
            runs.append((first, i))
            first, rows = i, 0.0
        rows += est
    if windows:
        runs.append((first, len(windows)))
    return runs


class _Runs:
    """One measurement's runs of chunks and the one run scan it holds
    persisted. A run of one chunk reads the source itself."""

    def __init__(self, df: DataFrame, windows: list[tuple], time_col: str):
        self.df, self.windows, self.time_col = df, windows, time_col
        self.run_of = {}
        for run in plan_runs(windows, source_footer_stats(df, time_col)):
            for i in range(*run):
                self.run_of[i] = run
        self.held: tuple[tuple[int, int], DataFrame] | None = None

    def source(self, i: int) -> DataFrame:
        """What chunk ``i`` is cut from."""
        run = self.run_of[i]
        if self.held is not None and self.held[0] != run:
            self.release()
        if run[1] - run[0] == 1:
            return self.df
        if self.held is None:
            ws = self.windows[run[0] : run[1]]
            scan = scan_time_range(
                self.df, min(s for s, _ in ws), max(e for _, e in ws),
                time_col=self.time_col,
            )
            self.held = (run, scan.persist())
        return self.held[1]

    def release(self) -> None:
        if self.held is not None:
            self.held[1].unpersist()
            self.held = None


def sync(
    spark: SparkSession,
    measurements: dict[str, DataFrame],
    dst_root: str,
    start: datetime,
    end: datetime,
    chunk: str | timedelta = "5m",
    max_retention: str | timedelta = "8760h",
    num_workers: int = 4,
    time_col: str = "ts",
    rw_max_retries: int = 5,
    rw_retry_delay: float = 0.0,
    fail_injector=None,
    src_label: str = "src",
) -> SyncReport:
    """C1 ``Sync`` (pkg/agent/sync.go:95-213).

    measurements: name → source DataFrame (already typed; in catalog
    terms, every measurement of one (db, rp)).
    dst_root: destination directory; measurement ``m`` chunk output
    lands as a window-tagged commit to the TxTable at
    ``{dst_root}/{m}`` (see copy_range; concurrent measurements write
    disjoint tables, concurrent windows of one measurement commute
    under OCC).

    Chunks iterate newest→oldest; within a chunk, measurements fan out
    on a thread pool (concurrent Spark jobs — Spark's FAIR scheduling
    keeps the cluster busy when a measurement is small).

    Consecutive chunks form runs per measurement (``plan_runs`` over
    the source's footer stats); a run of several chunks is cut from
    one persisted scan of its range, read from the source once. At
    most one run per measurement is persisted at a time, and every
    one is released before ``sync`` returns or raises — so a failed
    chunk, and ``sync_dbrp``'s chunk/10 recovery after it, hold none.

    ``fail_injector(measurement, start, end)`` → raise to simulate a
    failed read/write (test hook for recovery semantics, §5.3 tests).
    """
    windows = chunk_windows(start, end, chunk, max_retention)
    report = SyncReport(src=src_label, dst=dst_root, start=start, end=end)
    total = len(windows)
    runs = {name: _Runs(df, windows, time_col) for name, df in measurements.items()}

    try:
        for i, (s, e) in enumerate(windows):
            t0 = _time.monotonic()
            cr = ChunkReport(num=i + 1, total=total, start=s, end=e)

            def copy_one(name, i=i, s=s, e=e):
                if fail_injector is not None:
                    fail_injector(name, s, e)
                src = runs[name].source(i)
                return copy_range(src, f"{dst_root}/{name}", s, e, time_col=time_col)

            with ThreadPoolExecutor(max_workers=num_workers) as pool:
                futures = {
                    pool.submit(
                        retry,
                        (lambda name=name: copy_one(name)),
                        rw_max_retries,
                        rw_retry_delay,
                    ): name
                    for name in measurements
                }
                for fut, name in futures.items():
                    try:
                        n = fut.result()
                        cr.measurements[name] = n
                        cr.points += n
                    except Exception:  # noqa: BLE001
                        cr.write_errors += 1
            cr.elapsed = _time.monotonic() - t0
            report.chunks.append(cr)
    finally:
        for r in runs.values():
            r.release()
    return report


def sync_dbrp(
    spark: SparkSession,
    measurements: dict[str, DataFrame],
    dst_root: str,
    start: datetime,
    end: datetime,
    chunk: str | timedelta = "5m",
    recovery_divisor: int = 10,
    **kwargs,
) -> SyncReport:
    """C2 ``SyncDBRP`` (pkg/agent/sync.go:215-232): run C1; re-run each
    bad chunk at ``chunk/recovery_divisor`` granularity (one level).
    Only the measurements that failed in the chunk are re-run: the
    ones that succeeded already hold their chunk-window commit, and
    fine windows are keyed differently, so re-copying them would land
    every point twice."""
    chunk_td = parse_duration(chunk)
    report = sync(spark, measurements, dst_root, start, end, chunk=chunk_td, **kwargs)
    bad = report.bad_chunks
    if not bad:
        return report
    fine = chunk_td / recovery_divisor
    # recovery pass: drop the fail_injector unless caller re-supplies it
    kwargs.pop("fail_injector", None)
    for c in bad:
        missing = {k: v for k, v in measurements.items() if k not in c.measurements}
        sub = sync(spark, missing, dst_root, c.start, c.end, chunk=fine, **kwargs)
        # the recovery outcome replaces the chunk's error accounting and
        # adds its points (do NOT also append sub.chunks — that would
        # double-count points)
        c.read_errors = sub.read_errors
        c.write_errors = sub.write_errors
        for s in sub.chunks:
            for k, n in s.measurements.items():
                c.measurements[k] = c.measurements.get(k, 0) + n
        c.points = sum(c.measurements.values())
    return report


def read_copied(spark: SparkSession, dst_root: str, measurement: str) -> DataFrame:
    """Read back everything copied for one measurement (all windows):
    a snapshot-isolated read of its TxTable's latest commit."""
    return TxTable(spark, f"{dst_root}/{measurement}").snapshot()
