from __future__ import annotations

from datetime import datetime, timezone

import pytest

from syncflux_spark.operators.copy import copy_range, read_copied, retry, sync, sync_dbrp


def dt(*args):
    return datetime(*args, tzinfo=timezone.utc)


WINDOW = (dt(2024, 1, 5), dt(2024, 1, 12))


class TestCopyRange:
    def test_half_open_bounds(self, spark, events, tmp_path):
        n = copy_range(events, str(tmp_path / "events"), *WINDOW)
        expected = events.where(
            (events.ts >= WINDOW[0].replace(tzinfo=None).isoformat())
        ).where(events.ts < WINDOW[1].replace(tzinfo=None).isoformat()).count()
        assert n == expected > 0
        back = read_copied(spark, str(tmp_path), "events")
        assert back.count() == expected
        assert set(back.columns) == set(events.columns)

    def test_idempotent_rerun(self, spark, events, tmp_path):
        n1 = copy_range(events, str(tmp_path / "events"), *WINDOW)
        n2 = copy_range(events, str(tmp_path / "events"), *WINDOW)
        assert n1 == n2
        back = read_copied(spark, str(tmp_path), "events")
        assert back.count() == n1  # no duplication on replay

    def test_filter_pushdown(self, events):
        from syncflux_spark.sources.parquet import scan_time_range

        plan = scan_time_range(events, *WINDOW)._jdf.queryExecution().executedPlan().toString()
        # the RANGE must reach the parquet scan as bounds on the RAW
        # column (row-group pruning), not just IsNotNull — a filter
        # only on the derived companion column pushes the null check
        # alone and full-scans at 100 TB. Which column is raw depends
        # on the file's physical precision (ns parquet → the ts_ns
        # long; µs parquet → the ts timestamp), so accept either
        # pushed literal form, but require a real >=/< range.
        from syncflux_spark.sources.parquet import _to_ns_epoch

        lo, hi = _to_ns_epoch(WINDOW[0]), _to_ns_epoch(WINDOW[1])
        scan = plan[plan.index("FileScan") :]
        ns_pushed = str(lo) in scan and str(hi) in scan
        ts_pushed = (
            "GreaterThanOrEqual(ts," in scan and "LessThan(ts," in scan
        )
        assert ns_pushed or ts_pushed, scan


class TestSync:
    def test_full_window_complete(self, spark, events, tmp_path):
        rep = sync(
            spark,
            {"events": events},
            str(tmp_path),
            dt(2024, 1, 1),
            dt(2024, 1, 31),
            chunk="240h",  # few chunks for test speed
            num_workers=2,
        )
        assert rep.read_errors == 0 and rep.write_errors == 0
        total = events.count()
        assert rep.points == events.where(
            (events.ts >= "2024-01-01") & (events.ts < "2024-01-31")
        ).count()
        back = read_copied(spark, str(tmp_path), "events")
        assert back.count() == rep.points
        # no row lost at chunk boundaries, no row duplicated
        assert back.select("event_id").distinct().count() == rep.points

    def test_recovery_rerun(self, spark, events, tmp_path):
        calls = {"n": 0}

        def fail_first(name, s, e):
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("injected outage")

        rep = sync_dbrp(
            spark,
            {"events": events},
            str(tmp_path),
            dt(2024, 1, 1),
            dt(2024, 1, 31),
            chunk="360h",
            rw_max_retries=1,  # force the chunk to fail → recovery path
            fail_injector=fail_first,
        )
        assert rep.write_errors == 0  # recovered
        back = read_copied(spark, str(tmp_path), "events")
        expected = events.where(
            (events.ts >= "2024-01-01") & (events.ts < "2024-01-31")
        ).count()
        assert back.count() == expected
        assert back.select("event_id").distinct().count() == expected

    def test_recovery_reruns_only_failed_measurements(self, spark, events, tmp_path):
        """A bad chunk where ``a`` succeeded and ``b`` failed: recovery
        re-copies only ``b`` at the finer grain — re-copying ``a`` too
        would add fine windows beside its chunk window and double it."""
        n = events.where((events.ts >= "2024-01-01") & (events.ts < "2024-01-31")).count()
        ms = {"a": events, "b": events}
        failed = []

        def fail_b_once(name, s, e):
            if name == "b" and not failed:
                failed.append(name)
                raise RuntimeError("injected outage")

        rep = sync_dbrp(
            spark, ms, str(tmp_path), dt(2024, 1, 1), dt(2024, 1, 31),
            chunk="720h", rw_max_retries=1, fail_injector=fail_b_once,
        )
        assert failed == ["b"] and rep.write_errors == 0
        assert read_copied(spark, str(tmp_path), "a").count() == n > 0
        assert read_copied(spark, str(tmp_path), "b").count() == n
        (c,) = rep.chunks
        assert c.measurements == {"a": n, "b": n}
        assert c.points == rep.points == 2 * n


class TestRetry:
    @pytest.mark.parametrize("kw", [{"max_retries": 0}, {"backstop": 0}, {"max_retries": -1}])
    def test_non_positive_bounds_still_attempt_once(self, kw):
        calls = []
        assert retry(lambda: calls.append(1) or "ok", **kw) == "ok"
        assert calls == [1]

    def test_exhausted_retries_reraise_last_error(self):
        calls = []

        def boom():
            calls.append(1)
            raise KeyError(len(calls))

        with pytest.raises(KeyError, match="3"):
            retry(boom, max_retries=3)
        assert len(calls) == 3


def test_win_key_same_instant_same_key(monkeypatch):
    """Naive, UTC-aware and ISO-string forms of one window key alike
    (naive means UTC, as in the scan) — whatever the process's local
    timezone — so a replay passed in another form replaces the window
    instead of duplicating it."""
    import time

    from syncflux_spark.operators.copy import _win_key

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        forms = {
            _win_key(datetime(2024, 1, 1), datetime(2024, 1, 1, 0, 5)),
            _win_key(dt(2024, 1, 1), dt(2024, 1, 1, 0, 5)),
            _win_key("2024-01-01 00:00:00", "2024-01-01T00:05:00"),
        }
    finally:
        monkeypatch.undo()
        time.tzset()
    assert forms == {"1704067200000_1704067500000"}


def test_scan_time_range_non_ns_table(spark, sf_dir):
    """Fallback path: tables whose timestamps parquet stores at µs/ms
    (orders) have no ts_ns column — the predicate lands directly on
    the timestamp and still pushes to the scan."""
    from syncflux_spark.sources.parquet import load_table, scan_time_range

    o = load_table(spark, sf_dir, "orders")
    assert "o_orderdate_ns" not in o.columns
    out = scan_time_range(
        o, "1997-01-01 00:00:00", "1998-01-01 00:00:00", time_col="o_orderdate"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "1997-01-01" in plan  # literal bound reached the plan
    n = out.count()
    assert 0 < n < o.count()


def test_load_table_keep_ns_false(spark, sf_dir):
    from syncflux_spark.sources.parquet import load_table

    ev = load_table(spark, sf_dir, "events", keep_ns=False)
    assert "ts_ns" not in ev.columns
    assert dict(ev.dtypes)["ts"] == "timestamp"
