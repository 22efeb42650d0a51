"""The backfill half of copy_backfill: ``streaming.monitor.HAMonitor``
wired to a ``streaming.replicate.ReplicationStream(table_format="tx")``
whose ``run_available()`` is the monitor's ``recover`` — the wiring the
monitor's docstring prescribes.

The stream's first run replicates an initial backlog. Each outage
round then takes the slave down for one tick, lands a fixed backlog of
parquet files (more than ``max_files_per_trigger``, so one recovery
spans several micro-batches), brings the slave back and times the tick
that runs the recovery. Check: the replica snapshot equals every
landed file."""

from __future__ import annotations

import os

import common
import gen
from common import now

#: backlog per outage: FILES files of SERIES x SLOTS points
FILES = 10
SERIES = 128
SLOTS = 250
MAX_FILES_PER_TRIGGER = 4
POINTS_PER_ROUND = FILES * SERIES * SLOTS
#: micro-batches a recovery needs at least
MIN_BATCHES = -(-FILES // MAX_FILES_PER_TRIGGER)


def land(seed: int, round_no: int, root: str, src: str, files: int = FILES) -> None:
    """Write one round's backlog; each file appears atomically."""
    import pyarrow.parquet as pq

    for f, tbl in enumerate(gen.backlog_files(seed, round_no, files, SERIES, SLOTS)):
        tmp = os.path.join(root, f".landing-{round_no}-{f}.parquet")
        pq.write_table(tbl, tmp)
        os.rename(tmp, os.path.join(src, f"r{round_no:05d}-f{f:02d}.parquet"))


def spark_digest(df) -> tuple[int, int]:
    """(rows, order-insensitive hash) computed in the engine: the exact
    sum of per-row xxhash64 over ROW_COLS and their null flags."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in common.ROW_COLS]
    h = F.xxhash64(*cols, *[c.isNull() for c in cols]).cast("decimal(38,0)")
    r = df.select(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def check(stream, src: str) -> list[str]:
    """Problems found comparing the replica snapshot with every landed
    file (read by Spark's plain parquet reader, outside the stream and
    the table format); empty when equal."""
    try:
        got = spark_digest(stream.read_replica())
    except Exception as ex:  # noqa: BLE001 — unreadable replica is a failed check
        return [f"cannot read replica: {type(ex).__name__}: {ex}"]
    want = spark_digest(stream.spark.read.parquet(src))
    if got != want:
        return [f"replica has {got[0]} rows/hash {got[1]:x}, "
                f"landed files have {want[0]}/{want[1]:x}"]
    return []


def install_tracing(tracer) -> None:
    from syncflux_spark.streaming.monitor import HAMonitor
    from syncflux_spark.streaming.replicate import ReplicationStream
    from syncflux_spark.txtable import TxTable

    tracer.wrap(HAMonitor, "check_once", "monitor.check_once")
    tracer.wrap(ReplicationStream, "run_available", "replicate.run_available")
    tracer.wrap(TxTable, "replace_tagged", "txtable.replace_tagged")


def prepare(seed: int, root: str) -> None:
    """Input of the stream's first run: one micro-batch worth of files."""
    os.makedirs(os.path.join(root, "src"))
    land(seed, 0, root, os.path.join(root, "src"), files=MAX_FILES_PER_TRIGGER)


class Backfill:
    """The monitor and its stream over ``root`` (made by ``prepare``).
    Construction runs the stream's first start."""

    def __init__(self, spark, seed: int, root: str, tracer):
        from syncflux_spark.streaming.monitor import HAMonitor
        from syncflux_spark.streaming.replicate import ReplicationStream

        self.seed, self.root = seed, root
        self.src = os.path.join(root, "src")
        self.dst = os.path.join(root, "dst")
        self.rounds = 0
        self.errors: list[str] = []
        self.slave_up = True
        self.stream = ReplicationStream(
            spark, self.src, self.dst, os.path.join(root, "checkpoint"),
            max_files_per_trigger=MAX_FILES_PER_TRIGGER, table_format="tx",
        )

        def recover(gap_start, gap_end):
            with tracer.span("monitor.recover"):
                try:
                    return self.stream.run_available()
                except Exception as ex:
                    self.errors.append(f"{type(ex).__name__}: {ex}")
                    raise

        self.monitor = HAMonitor(lambda: True, lambda: self.slave_up, recover=recover)
        self.stream.run_available()

    def outage(self) -> None:
        """Slave down for one tick, a backlog lands, slave back up."""
        self.rounds += 1
        self.slave_up = False
        self.monitor.check_once()
        land(self.seed, self.rounds, self.root, self.src)
        self.slave_up = True

    def recovery(self) -> tuple[float, int, bool]:
        """Run the tick that recovers the last outage: (its seconds, the
        micro-batches it wrote, whether it recovered in full)."""
        batches = self.stream.batches_written
        recovers = self.monitor.get_status().num_recovers
        errors = len(self.errors)
        t = now()
        st = self.monitor.check_once()
        dt = now() - t
        n = self.stream.batches_written - batches
        ok = (len(self.errors) == errors and st.num_recovers == recovers + 1
              and st.cluster_state.value == "OK" and n >= MIN_BATCHES)
        return dt, n, ok
