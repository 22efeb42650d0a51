"""Advisory write locks: the enforced single-writer contract for the
overwrite-based writers (locking.py), and the copy sink's lock-free
same-window concurrency (TxTable OCC)."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest

from syncflux_spark.locking import TableLockTimeout, _lock_path, table_lock


class TestTableLock:
    def test_mutual_exclusion_and_release(self, tmp_path):
        target = str(tmp_path / "tbl")
        events: list[str] = []

        def hold(name, dwell):
            with table_lock(target, timeout=10):
                events.append(f"{name}-in")
                time.sleep(dwell)
                events.append(f"{name}-out")

        t1 = threading.Thread(target=hold, args=("a", 0.4))
        t2 = threading.Thread(target=hold, args=("b", 0.0))
        t1.start()
        time.sleep(0.1)  # a acquires first
        t2.start()
        t1.join()
        t2.join()
        # critical sections never interleave
        assert events in (
            ["a-in", "a-out", "b-in", "b-out"],
            ["b-in", "b-out", "a-in", "a-out"],
        )
        assert not os.path.exists(_lock_path(target))

    def test_timeout_raises_loudly(self, tmp_path):
        target = str(tmp_path / "tbl")
        with table_lock(target):
            with pytest.raises(TableLockTimeout, match="single-writer"):
                with table_lock(target, timeout=0.3):
                    pass  # pragma: no cover

    def test_stale_lock_broken(self, tmp_path):
        target = str(tmp_path / "tbl")
        path = _lock_path(target)
        with open(path, "w") as f:
            json.dump({"pid": 999999, "acquired_at": 0}, f)
        old = time.time() - 7200
        os.utime(path, (old, old))
        with table_lock(target, timeout=1, stale_after=3600):
            pass  # crashed holder's lock was broken, not waited on

    def test_lock_file_records_holder(self, tmp_path):
        target = str(tmp_path / "tbl")
        with table_lock(target):
            meta = json.load(open(_lock_path(target)))
            assert meta["pid"] == os.getpid()


class TestConcurrentWriters:
    def test_copy_range_same_window_serializes(self, spark, events, tmp_path):
        """Two concurrent writers of ONE copy window: the window's
        TxTable commits serialize under OCC to last-writer-wins, so
        exactly one copy of the window is read back — never both,
        never an interleaved mix."""
        from syncflux_spark.operators.copy import copy_range, read_copied

        dst = str(tmp_path / "copy")
        win = ("2024-01-08 00:00:00", "2024-01-09 00:00:00")
        results: list[int] = []
        errors: list[Exception] = []

        def writer():
            try:
                results.append(
                    copy_range(events, f"{dst}/events", win[0], win[1])
                )
            except Exception as e:  # pragma: no cover
                errors.append(e)

        ts = [threading.Thread(target=writer) for _ in range(2)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errors
        assert len(results) == 2 and results[0] == results[1] > 0
        back = read_copied(spark, dst, "events")
        assert back.count() == results[0]
        assert back.select("event_id").distinct().count() == results[0]


class TestStaleBreakRelease:
    def test_resumed_stale_holder_does_not_release_new_lock(self, tmp_path):
        """A holder whose lock was staleness-broken must NOT unlink
        the breaker's replacement lock on its own (late) release."""
        import json as _json

        target = str(tmp_path / "tbl")
        path = _lock_path(target)
        ctx = table_lock(target)
        ctx.__enter__()  # original holder
        # simulate the staleness break + takeover by another process
        os.unlink(path)
        with open(path, "w") as f:
            _json.dump({"pid": 4242, "token": "other-holder"}, f)
        ctx.__exit__(None, None, None)  # late release of the original
        # the new holder's lock survives
        assert os.path.exists(path)
        assert _json.load(open(path))["token"] == "other-holder"
        os.unlink(path)
