"""Advisory per-table write locks for the overwrite-based writers.

The remaining plain-parquet writers in this engine get idempotency
from directory overwrite / staging-swap: operators/compact.py's
compact_parquet and catalog retention's staging rewrite
(catalog.py::enforce_retention). That is correct for a SINGLE
writer per table — but two concurrent writers on one target (say a
retention pass and a nightly compactor) can interleave a rewrite and
leave a mixed directory. The copy and replication sinks commit to
txtable.TxTable instead (OCC, no lock). For the two writers above,
this module makes the single-writer contract ENFORCED rather than
assumed; the /write sink (sources/line_protocol.py::LineProtocolSink)
renames its staged files into a measurement directory under the same
lock, so a compaction's read and swap never drop a file published in
between:

* :func:`table_lock` — advisory mutual exclusion scoped to a target
  directory, acquired by atomically creating ``<dir>/../.<name>.lock``
  (``O_CREAT | O_EXCL``, the portable atomic-create primitive; works
  on any local/NFS-style mount — on object stores, swap the primitive
  for a conditional PUT). The lock file records pid + timestamp for
  operability.
* A second writer either WAITS (bounded by ``timeout``) or fails
  loudly with :class:`TableLockTimeout` — never silently interleaves.
* Crash recovery: a lock older than ``stale_after`` seconds is
  considered abandoned and is broken (with the breaker re-racing for
  acquisition, so two breakers cannot both win).

The lock serializes WRITERS only. Readers stay lock-free: every
protected writer mutates via overwrite/staging-swap, so a concurrent
reader sees the old or the new directory, never a half state.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class TableLockTimeout(RuntimeError):
    """A concurrent writer holds the table lock and ``timeout`` ran
    out — failing loudly instead of interleaving the rewrite."""


def _lock_path(target: str) -> str:
    target = target.rstrip("/")
    parent, name = os.path.split(target)
    return os.path.join(parent or ".", f".{name}.lock")


@contextmanager
def table_lock(
    target: str,
    timeout: float = 60.0,
    stale_after: float = 3600.0,
    poll: float = 0.1,
):
    """Hold the advisory write lock for ``target`` (a table/window
    directory). Blocks up to ``timeout`` seconds for a concurrent
    holder, then raises :class:`TableLockTimeout`. Locks older than
    ``stale_after`` are treated as crashed holders and broken."""
    import uuid

    path = _lock_path(target)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    deadline = time.monotonic() + timeout
    token = uuid.uuid4().hex
    while True:
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            try:
                os.write(
                    fd,
                    json.dumps(
                        {
                            "pid": os.getpid(),
                            "acquired_at": time.time(),
                            "token": token,
                        }
                    ).encode(),
                )
            finally:
                os.close(fd)
            break
        except FileExistsError:
            try:
                age = time.time() - os.stat(path).st_mtime
            except FileNotFoundError:
                continue  # holder released between open and stat — retry
            if age > stale_after:
                # break the abandoned lock, then re-race: unlink is
                # idempotent and the O_EXCL create decides the winner
                try:
                    os.unlink(path)
                except FileNotFoundError:
                    pass
                continue
            if time.monotonic() >= deadline:
                try:
                    holder = open(path).read()
                except OSError:
                    holder = "?"
                raise TableLockTimeout(
                    f"another writer holds {path} (holder: {holder}); "
                    f"waited {timeout}s. Overlapping writers on one "
                    f"table violate the single-writer contract — "
                    f"serialize the jobs or adopt a transactional "
                    f"table format."
                ) from None
            time.sleep(poll)
    try:
        yield
    finally:
        # release ONLY our own lock: if we stalled past stale_after, a
        # breaker may have replaced the file with ITS lock — unlinking
        # that would hand the table to a third writer mid-rewrite
        try:
            with open(path) as f:
                if json.load(f).get("token") == token:
                    os.unlink(path)
        except (OSError, ValueError):
            pass
