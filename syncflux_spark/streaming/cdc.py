"""Streaming CDC apply: a checkpointed stream of insert/update/delete
change batches continuously merged into a base txtable.TxTable.

The batch operator (operators/cdc.py::apply_changes) gives MERGE
semantics for one batch; this module wraps it in Structured
Streaming's exactly-once machinery:

    readStream(changes dir) → foreachBatch(TxTable.overwrite of the
    merged base) with checkpointLocation

Crash safety is the composition of two idempotencies:

* the checkpoint's offset log replays any batch whose commit did not
  land — and re-applying a CDC batch is a NO-OP by construction
  (inserts replace, updates set the same values, deletes of absent
  keys are ignored), so at-least-once replay yields exactly-once
  state;
* each merge is one TxTable commit (optimistic concurrency, no lock),
  so a reader or a crash mid-rewrite never observes a half-merged
  table, and a concurrent writer on the base (a compactor, a second
  merger) makes the merge recompute against the winner instead of
  losing either write.

Scale notes: each micro-batch costs one base-vs-batch equality join
(the batch side broadcasts; the base side is scanned once and written
once). Rewriting the base per batch is the plain-parquet trade-off —
on a real deployment the same ``apply_changes`` plan writes through a
table format (Delta/Iceberg MERGE) and only touched files rewrite;
the operator and its semantics are unchanged. Disk stays at two
bases: each merge deletes the groups the previous merge replaced, so
a reader of the snapshot a merge just replaced keeps its files for
one more batch (groups replaced before a stream restart are left to
``TxTable.vacuum``). The reference has no
CDC surface; this is the dimension-table counterpart of its
replication loop (pkg/agent/hacluster.go).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from syncflux_spark.operators.cdc import apply_changes, compact_changes
from syncflux_spark.txtable import TxTable


class CdcMergeStream:
    """Continuously merge change-batch parquet files into a base
    TxTable with MERGE semantics and exactly-once effect."""

    def __init__(
        self,
        spark: SparkSession,
        changes_path: str,
        base_path: str,
        checkpoint_path: str,
        key_col: str,
        op_col: str = "op",
        max_files_per_trigger: int | None = None,
        seq_col: str | None = None,
        state_partitions: int | None = None,
        state_backend: str | None = None,
    ):
        self.spark = spark
        self.changes_path = changes_path
        self.base_path = base_path
        self.checkpoint_path = checkpoint_path
        self.key_col = key_col
        self.op_col = op_col
        self.max_files_per_trigger = max_files_per_trigger
        #: explicit change-sequence column (LSN/commit ts) if the feed
        #: carries one; otherwise file order (mtime, path) sequences
        self.seq_col = seq_col
        #: sizes the per-batch compaction window + merge join (no
        #: streaming state here — CDC state is the base table itself);
        #: see utils.streaming_state. None = session conf.
        self.state_partitions = state_partitions
        self.state_backend = state_backend
        self.batches_applied = 0
        #: base groups the last merge commit replaced; deleted after
        #: the next commit, so a reader of the snapshot the last merge
        #: replaced keeps its files for one batch
        self._superseded: list[str] = []

    # -- plumbing -----------------------------------------------------------
    def _reader(self):
        self.spark.conf.set(
            "spark.sql.parquet.inferTimestampNTZ.enabled", "false"
        )
        schema = self.spark.read.parquet(self.changes_path).schema
        reader = self.spark.readStream.schema(schema).option(
            "latestFirst", "false"
        )
        if self.max_files_per_trigger:
            reader = reader.option(
                "maxFilesPerTrigger", self.max_files_per_trigger
            )
        # carry the source file's (mtime, path) so a micro-batch that
        # folds several accumulated change files (availableNow with no
        # maxFilesPerTrigger) can be compacted to the LAST change per
        # key in file order before the merge
        return reader.parquet(self.changes_path).select(
            "*",
            F.col("_metadata.file_modification_time").alias("_cdc_mtime"),
            F.col("_metadata.file_path").alias("_cdc_file"),
        )

    def _apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        # exact replays of one file collapse; then compact the batch
        # to the last change per key — an I-then-U or U-then-D pair
        # for one key across files must apply as its final state, not
        # join the base row to two change rows. Sequence = explicit
        # seq_col when the feed has one, else (file mtime, file path);
        # two changes for one key inside ONE file tie and raise
        # (DuplicateChangeKeyError) rather than merge arbitrarily.
        batch_df = batch_df.dropDuplicates()
        if self.seq_col:
            seq_fields = [F.col(self.seq_col)]
        elif "_cdc_mtime" in batch_df.columns:
            seq_fields = [F.col("_cdc_mtime"), F.col("_cdc_file")]
        else:
            # direct replay of a hand-built batch (no file lineage):
            # constant seq — per-key duplicates then tie and raise
            seq_fields = [F.lit(0)]
        compacted = compact_changes(
            batch_df.withColumn("_cdc_seq", F.struct(*seq_fields)),
            key_col=self.key_col,
            seq_col="_cdc_seq",
            op_col=self.op_col,
        ).drop("_cdc_seq", "_cdc_mtime", "_cdc_file")
        # uniqueness is guaranteed by the compaction above, so the
        # merge skips apply_changes' per-batch uniqueness-check job
        table = TxTable(self.spark, self.base_path)
        v = table.overwrite(
            lambda base: apply_changes(
                base,
                compacted,
                key_col=self.key_col,
                op_col=self.op_col,
                check_unique=False,
            )
        )
        self.batches_applied += 1
        # an overwrite removes every group of its parent: those are
        # the groups this commit superseded
        for rel in self._superseded:
            shutil.rmtree(os.path.join(self.base_path, rel), ignore_errors=True)
        self._superseded = table._files_at(v - 1)

    # -- drive --------------------------------------------------------------
    def run_available(self) -> int:
        """Apply every change file currently present, then stop — the
        deterministic 'catch up now' trigger."""
        from syncflux_spark.utils import streaming_state

        with streaming_state(
            self.spark, self.state_partitions, self.state_backend
        ):
            q = (
                self._reader()
                .writeStream.foreachBatch(self._apply_batch)
                .option("checkpointLocation", self.checkpoint_path)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return self.batches_applied

    def start_continuous(self, processing_interval: str = "10 seconds"):
        return (
            self._reader()
            .writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_path)
            .trigger(processingTime=processing_interval)
            .start()
        )

    def read_base(self) -> DataFrame:
        return TxTable(self.spark, self.base_path).snapshot()
