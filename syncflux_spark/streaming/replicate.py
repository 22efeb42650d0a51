"""Continuous master→slave replication via Structured Streaming.

hamonitor parity (SURVEY §3.2): the reference runs a poll-based
supervisor that detects slave outages and hand-computes the missed
window to backfill (pkg/agent/hacluster.go:259-390). Spark-first, the
whole mechanism collapses into a checkpointed stream:

    readStream(source table) → writeStream.foreachBatch(idempotent
    append) with checkpointLocation

The checkpoint's offset log IS the gap detector: if the sink (or the
whole job) dies, the next start resumes from the last committed batch
and replays everything missed — the reference's
``[SlaveLastOK - CheckInterval, lastOK]`` window math
(hacluster.go:310,321) becomes exactly-once resume for free, without
the boundary-second fudge factor.

Scale notes: a file-source stream partitions new files across the
cluster per micro-batch; ``maxFilesPerTrigger`` bounds batch size the
way ``data-chuck-duration`` bounds the reference's chunks. Each
foreachBatch write commits to the destination txtable.TxTable as a
group tagged with its batch id, so a replayed batch replaces its own
output instead of duplicating it (the same sink as operators/copy.py:
one idempotent, transactional sink behind a replayable source).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from syncflux_spark.txtable import TxTable


class ReplicationStream:
    """One measurement's continuous replication: source directory of
    parquet files → destination TxTable, exactly-once.

    The reference's equivalent loop: InfluxMonitor health ticker +
    HACluster supervisor + ReplicateData over detected gaps
    (pkg/agent/influxmonitor.go:164-187, hacluster.go:259-390).
    """

    def __init__(
        self,
        spark: SparkSession,
        src_path: str,
        dst_path: str,
        checkpoint_path: str,
        max_files_per_trigger: int | None = None,
        path_glob_filter: str | None = None,
        table_format: str = "tx",
        state_partitions: int | None = None,
        state_backend: str | None = None,
    ):
        # the sink is always a TxTable; the keyword is accepted only so
        # callers that still spell out table_format="tx" keep working
        if table_format != "tx":
            raise ValueError(f"table_format must be 'tx', got {table_format!r}")
        self.spark = spark
        self.src_path = src_path
        self.dst_path = dst_path
        self.checkpoint_path = checkpoint_path
        self.max_files_per_trigger = max_files_per_trigger
        #: file streams require a DIRECTORY source; a glob filter
        #: scopes the stream to one measurement's files within it
        self.path_glob_filter = path_glob_filter
        #: state-store shard count for stateful subclasses (the dedup
        #: stream's dropDuplicatesWithinWatermark keeps per-key state;
        #: plain replication has none, where this only sizes per-batch
        #: shuffles). See utils.shuffle_partitions for the pin/restore
        #: semantics and measurements. None = session conf.
        self.state_partitions = state_partitions
        #: state-store provider dial for stateful subclasses
        #: (utils.STATE_BACKENDS); None = session conf.
        self.state_backend = state_backend
        self.batches_written = 0

    def _write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Idempotent sink: batch ``n`` replaces the ``batch=n``-tagged
        groups of the destination TxTable, so checkpoint replay after a
        crash between 'sink write' and 'offset commit' cannot
        double-write. Commits are O(1) delta documents in a
        checkpointed log — the shape a long-lived 5-min-cadence
        replicator needs (~100k commits/year; see txtable.py)."""
        TxTable.ensure(self.spark, self.dst_path).replace_tagged(
            "batch", str(batch_id), batch_df,
            stats_cols=[c for c in ("ts_ns",) if c in batch_df.columns],
        )
        self.batches_written += 1

    def _reader(self):
        # file streams need an explicit schema: take it from the
        # source's current files (schema evolution would re-resolve on
        # restart, which is the behavior the reference gets from
        # re-running GetSchema after recovery, hacluster.go:331)
        # TIMESTAMP, not TIMESTAMP_NTZ: downstream watermarks (dedup
        # subclass) require the tz-aware type; session tz is UTC
        self.spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        batch_reader = self.spark.read
        if self.path_glob_filter:
            batch_reader = batch_reader.option("pathGlobFilter", self.path_glob_filter)
        schema = batch_reader.parquet(self.src_path).schema
        reader = (
            self.spark.readStream.schema(schema)
            .option("latestFirst", "false")
        )
        if self.path_glob_filter:
            reader = reader.option("pathGlobFilter", self.path_glob_filter)
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        return reader.parquet(self.src_path)

    def run_available(self) -> int:
        """Process everything currently available, then stop (the
        deterministic 'catch up now' trigger — used for backfill after
        an outage and in tests). Returns batches written this run."""
        before = self.batches_written
        from syncflux_spark.utils import streaming_state

        with streaming_state(
            self.spark, self.state_partitions, self.state_backend
        ):
            q = (
                self._reader()
                .writeStream.foreachBatch(self._write_batch)
                .option("checkpointLocation", self.checkpoint_path)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return self.batches_written - before

    def start_continuous(self, processing_interval: str = "10 seconds"):
        """Continuous mode: micro-batch every ``processing_interval``
        (the reference's check-interval cadence,
        conf/sample.syncflux.toml:60). Returns the StreamingQuery."""
        return (
            self._reader()
            .writeStream.foreachBatch(self._write_batch)
            .option("checkpointLocation", self.checkpoint_path)
            .trigger(processingTime=processing_interval)
            .start()
        )

    def read_replica(self) -> DataFrame:
        """Everything replicated so far (snapshot-isolated — a
        half-committed concurrent batch is invisible)."""
        return TxTable(self.spark, self.dst_path).snapshot()
