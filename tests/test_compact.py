"""Small-file compaction: file-count convergence, no data loss,
crash-safe swap layout."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from syncflux_spark.operators.compact import (
    compact_parquet,
    data_file_count,
    dataset_bytes,
)


def _fragmented_dataset(spark, tmp_path, n_files: int = 40):
    path = str(tmp_path / "frags")
    df = spark.range(0, 20_000).select(
        F.col("id"), (F.col("id") % 7).alias("k"), F.md5(F.col("id").cast("string")).alias("pad")
    )
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return path, 20_000


class TestCompaction:
    def test_file_count_shrinks_to_target(self, spark, tmp_path):
        path, n_rows = _fragmented_dataset(spark, tmp_path)
        assert data_file_count(path) >= 40
        total = dataset_bytes(path)
        # target two files' worth → expect ceil(bytes/target) files
        target = -(-total // 2)
        n_after = compact_parquet(spark, path, target_file_bytes=target)
        assert n_after == 2
        assert data_file_count(path) == 2

    def test_rows_and_content_survive(self, spark, tmp_path):
        path, n_rows = _fragmented_dataset(spark, tmp_path)
        before = (
            spark.read.parquet(path).agg(F.sum("id"), F.count(F.lit(1))).collect()[0]
        )
        compact_parquet(spark, path, target_file_bytes=10**12)
        after = (
            spark.read.parquet(path).agg(F.sum("id"), F.count(F.lit(1))).collect()[0]
        )
        assert tuple(before) == tuple(after)
        assert data_file_count(path) == 1

    def test_no_staging_or_old_dirs_left(self, spark, tmp_path):
        path, _ = _fragmented_dataset(spark, tmp_path)
        compact_parquet(spark, path, target_file_bytes=10**12)
        parent = os.path.dirname(path)
        leftovers = [
            d for d in os.listdir(parent) if ".compact-" in d or ".old-" in d
        ]
        assert leftovers == []


class TestStaleStaging:
    def test_orphans_removed_live_kept(self, tmp_path):
        import os
        import time

        from syncflux_spark.operators.compact import clean_stale_staging

        root = tmp_path / "warehouse"
        (root / "tbl").mkdir(parents=True)
        (root / "tbl.compact-dead1").mkdir()
        (root / "sub" / "base.compact-dead2").mkdir(parents=True)
        (root / "tbl.old-dead3").mkdir()
        (root / "tbl.compact-live").mkdir()  # fresh: a running writer
        old = time.time() - 7200
        for d in ("tbl.compact-dead1", "sub/base.compact-dead2", "tbl.old-dead3"):
            os.utime(root / d, (old, old))

        removed = clean_stale_staging(str(root), older_than_s=3600)
        assert len(removed) == 3
        assert not (root / "tbl.compact-dead1").exists()
        assert not (root / "sub" / "base.compact-dead2").exists()
        assert not (root / "tbl.old-dead3").exists()
        assert (root / "tbl.compact-live").exists()  # too young to touch
        assert (root / "tbl").exists()  # real tables untouched
