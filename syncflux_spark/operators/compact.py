"""Small-file compaction: rewrite a parquet dataset into right-sized files.

Streaming sinks and incremental ingest accrete small files (every
micro-batch commits at least one per partition); at 100 TB the listing
+ footer overhead of millions of kilobyte files dominates scan setup
long before row data does. Compaction is the maintenance pass that
rewrites a dataset into files near the scan-optimal size (one file ≈
one scan split ≈ ``spark.sql.files.maxPartitionBytes``).

Spark-first shape: size the target file count from the dataset's
actual bytes (driver-side metadata listing — no data read), then
rewrite through ``repartition(n)`` — a round-robin shuffle that yields
uniform output files regardless of input skew. ``coalesce`` would
avoid the shuffle but inherits input unevenness (it only glues
adjacent partitions), so uniformity — the thing compaction is FOR —
argues for the shuffle; it touches each byte once, the same cost any
rewrite pays.

The rewrite goes through a staging directory + atomic swap so readers
never observe a half-compacted dataset (same crash-safety pattern as
catalog.py::enforce_retention's staging rewrite).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import SparkSession


def _data_files(path: str):
    """Paths of the data files under ``path``: what Spark's reader
    sees, so ``_``/``.`` files and directories (metadata, a /write
    stage still in flight) are skipped."""
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                yield os.path.join(root, f)


def dataset_bytes(path: str) -> int:
    """Total bytes of data files under ``path`` (driver-side walk)."""
    return sum(os.path.getsize(f) for f in _data_files(path))


def data_file_count(path: str) -> int:
    return sum(1 for _ in _data_files(path))


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite the parquet dataset at ``path`` into
    ``ceil(bytes / target_file_bytes)`` files. Returns the new file
    count. Staging + atomic directory swap; the old layout is removed
    only after the rewrite commits."""
    from syncflux_spark.locking import table_lock

    with table_lock(path):
        n = max(1, -(-dataset_bytes(path) // target_file_bytes))
        staging = f"{path}.compact-{uuid.uuid4().hex[:8]}"
        spark.read.parquet(path).repartition(n).write.mode("overwrite").parquet(staging)
        old = f"{path}.old-{uuid.uuid4().hex[:8]}"
        os.rename(path, old)
        os.rename(staging, path)
        shutil.rmtree(old)
    return data_file_count(path)


#: staging/backup directory name fragments compact_parquet's swap and
#: LineProtocolSink's stages create — a crash between write and
#: rename leaves them behind
_STAGING_MARKERS = (".compact-", ".old-", ".write-")


def clean_stale_staging(
    root: str, older_than_s: float = 3600.0
) -> list[str]:
    """Remove orphaned staging/backup directories left by a writer
    that crashed between its staging write and the atomic swap
    (``<table>.compact-xxxx``, ``<table>.old-xxxx``,
    ``<table>/.write-xxxx``). Only
    directories idle for ``older_than_s`` seconds go — a LIVE
    writer's staging dir is younger than that by construction (its
    lock also still exists, but age alone is the safe test: the lock
    file could be the very thing the crash orphaned). Returns the
    removed paths.

    Run it from the same maintenance schedule as compaction; it
    walks directory entries only (no data read)."""
    import time

    removed: list[str] = []
    for dirpath, dirnames, _files in os.walk(root):
        for d in list(dirnames):
            if not any(m in d for m in _STAGING_MARKERS):
                continue
            full = os.path.join(dirpath, d)
            try:
                age = time.time() - os.stat(full).st_mtime
            except FileNotFoundError:
                continue
            if age > older_than_s:
                shutil.rmtree(full, ignore_errors=True)
                removed.append(full)
                dirnames.remove(d)
    return sorted(removed)


def compact_txtable(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Compaction for a txtable.TxTable: rewrite the current snapshot
    into right-sized files as a TRANSACTIONAL overwrite — a concurrent
    merger's commit wins the race and the compactor rebases onto it,
    so compaction never loses a merge (the failure mode the
    directory-swap form has to exclude with locks). Returns the new
    committed version."""
    import os

    from syncflux_spark.txtable import TxTable

    t = TxTable(spark, root)
    # size from the LIVE snapshot's file groups only — dead versions
    # awaiting vacuum must not inflate the target file count
    live = sum(
        dataset_bytes(os.path.join(root, rel))
        for rel in t._files_at(t.version())
    )
    n = max(1, -(-live // target_file_bytes))
    return t.overwrite(lambda snap: snap.repartition(n))


def compact_tx_tagged(
    spark: SparkSession,
    root: str,
    tag_key: str = "win",
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
    stats_cols: list[str] | None = None,
) -> int:
    """Tag-preserving compaction for a TxTable written through
    ``replace_tagged`` (the copy/replication sinks): rewrite each tag
    value's fragmented groups into ONE right-sized group carrying the
    SAME tag. Unlike :func:`compact_txtable` (whose overwrite drops
    tags), this keeps the sink's replay contract intact — a window
    re-run after compaction still replaces exactly its own data,
    because the compacted group still wears the window's tag (the
    Delta ``OPTIMIZE WHERE <partition>`` shape).

    Each tag value compacts as its own compare-and-swap commit
    (txtable.TxTable.swap_groups): the rewrite lands only while the
    exact groups it read are still live, so a concurrent window
    replacement makes the compactor ABANDON that window's stale
    rewrite instead of clobbering the fresh data — compaction can
    never resurrect replaced data. Tag values whose data is already a
    single group with fewer than ``min_files`` files are skipped.
    Returns the number of tag values rewritten."""
    from syncflux_spark.txtable import TxTable

    t = TxTable(spark, root)
    files, _stats, tags, schema = t._state_at(t.version())
    by_tag: dict[str, list[str]] = {}
    for rel in files:
        tv = tags.get(rel, {}).get(tag_key)
        if tv is not None:
            by_tag.setdefault(tv, []).append(rel)
    rewritten = 0
    for tv, rels in sorted(by_tag.items()):
        n_files = sum(data_file_count(os.path.join(root, r)) for r in rels)
        if len(rels) == 1 and n_files < min_files:
            continue
        nbytes = sum(dataset_bytes(os.path.join(root, r)) for r in rels)
        n_out = max(1, -(-nbytes // target_file_bytes))
        merged = t._read(rels, schema)
        committed = t.swap_groups(
            rels,
            merged.repartition(n_out),
            tags={tag_key: tv},
            stats_cols=stats_cols,
        )
        if committed is not None:
            rewritten += 1
    return rewritten
