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
from syncflux_spark.sources.parquet import _to_ns_epoch, scan_time_range
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

    ``fail_injector(measurement, start, end)`` → raise to simulate a
    failed read/write (test hook for recovery semantics, §5.3 tests).
    """
    windows = chunk_windows(start, end, chunk, max_retention)
    report = SyncReport(src=src_label, dst=dst_root, start=start, end=end)
    total = len(windows)

    for i, (s, e) in enumerate(windows):
        t0 = _time.monotonic()
        cr = ChunkReport(num=i + 1, total=total, start=s, end=e)

        def copy_one(item, s=s, e=e, cr=cr):
            name, df = item
            if fail_injector is not None:
                fail_injector(name, s, e)
            n = copy_range(df, f"{dst_root}/{name}", s, e, time_col=time_col)
            return name, n

        with ThreadPoolExecutor(max_workers=num_workers) as pool:
            futures = {
                pool.submit(
                    retry,
                    (lambda it=item: copy_one(it)),
                    rw_max_retries,
                    rw_retry_delay,
                ): item[0]
                for item in measurements.items()
            }
            for fut, name in futures.items():
                try:
                    mname, n = fut.result()
                    cr.measurements[mname] = n
                    cr.points += n
                except Exception:  # noqa: BLE001
                    cr.write_errors += 1
        cr.elapsed = _time.monotonic() - t0
        report.chunks.append(cr)
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
