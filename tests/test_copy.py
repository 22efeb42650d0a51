from __future__ import annotations

from datetime import datetime, timedelta, timezone

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


def test_load_table_after_rewrite_with_other_time_unit(spark, tmp_path):
    """A source rewritten in place at the same path with another
    timestamp unit (ns → µs) loads with its new layout: every footer
    fact is keyed by the file's identity, not its path alone."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from syncflux_spark.sources.parquet import load_table

    path = tmp_path / "m.parquet"
    t0 = 1_709_251_200 * 10**9
    pq.write_table(pa.table({"ts": pa.array([t0, t0 + 10**9], pa.timestamp("ns"))}), path)
    assert load_table(spark, str(tmp_path), "m").count() == 2
    pq.write_table(
        pa.table({"ts": pa.array([t0 // 1000 + i for i in range(3)], pa.timestamp("us"))}),
        path,
    )
    got = load_table(spark, str(tmp_path), "m").orderBy("ts").collect()
    assert [r.ts_ns for r in got] == [t0 + i * 1000 for i in range(3)]


T0_NS = 1_709_251_200 * 10**9
T0 = datetime.fromtimestamp(T0_NS // 10**9, tz=timezone.utc)
SLOT_NS = 10 * 10**9


def _write_source(path, layout: str, series: int = 8, slots: int = 360, row_group: int = 1000):
    """``series`` series × ``slots`` 10 s slots from T0_NS, ns offsets,
    stored series-major (each row group spans the whole time range)
    or time-major (each row group spans a slice of it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    keys = [(s, k) for s in range(series) for k in range(slots)]
    if layout == "time":
        keys.sort(key=lambda sk: (sk[1], sk[0]))
    pq.write_table(
        pa.table({
            "ts": pa.array([T0_NS + k * SLOT_NS + s for s, k in keys], pa.timestamp("ns")),
            "host": [f"h{s}" for s, _ in keys],
            "value": [float(s * slots + k) for s, k in keys],
        }),
        path,
        row_group_size=row_group,
    )


def _digest(df) -> tuple[int, int]:
    from pyspark.sql import functions as F

    h = F.xxhash64("ts_ns", "host", "value").cast("decimal(38,0)")
    r = df.select(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


class TestRuns:
    @pytest.fixture(autouse=True)
    def _empty_cache(self, spark):
        # the session is shared: start from an empty cache manager so
        # the checks below see only what sync itself leaves behind
        spark.catalog.clearCache()

    @pytest.mark.parametrize("layout", ["series", "time"])
    def test_sync_equals_per_chunk_copies(self, spark, tmp_path, layout):
        """Chunks cut from one persisted run scan land exactly what
        per-chunk copies of the source land, chunk by chunk, on a
        window that starts and ends off the 5 m grid (so chunk bounds
        cross row-group bounds)."""
        from syncflux_spark.functions.time import chunk_windows
        from syncflux_spark.operators.copy import plan_runs
        from syncflux_spark.sources.parquet import load_table, source_footer_stats

        _write_source(tmp_path / "m.parquet", layout)
        df = load_table(spark, str(tmp_path), "m")
        start, end = T0 + timedelta(minutes=7), T0 + timedelta(minutes=52)
        windows = chunk_windows(start, end, "5m")
        runs = plan_runs(windows, source_footer_stats(df))
        assert max(j - i for i, j in runs) > 1  # some chunks share a run

        seen_cached = []
        rep = sync(
            spark, {"m": df}, str(tmp_path / "runs"), start, end, chunk="5m",
            fail_injector=lambda *_: seen_cached.append(not _cache_empty(spark)),
        )
        assert rep.write_errors == 0 and any(seen_cached)
        per_chunk = [
            copy_range(df, str(tmp_path / "chunks" / "m"), s, e) for s, e in windows
        ]
        assert [c.measurements["m"] for c in rep.chunks] == per_chunk
        got = _digest(read_copied(spark, str(tmp_path / "runs"), "m"))
        assert got == _digest(read_copied(spark, str(tmp_path / "chunks"), "m"))
        assert got[0] == sum(per_chunk) == 8 * 45 * 6
        assert _cache_empty(spark)

    def test_plan_caps_each_run_at_largest_row_group(self):
        from syncflux_spark.functions.time import chunk_windows
        from syncflux_spark.operators.copy import _estimated_rows, plan_runs
        from syncflux_spark.sources.parquet import FooterStats, _to_ns_epoch

        hour = 3600 * 10**9
        # two files over the first 12 h; 1 h holds 1000 + 500 rows
        stats = [
            FooterStats(rows=12_000, lo_ns=T0_NS, hi_ns=T0_NS + 12 * hour - 1, max_group_rows=4000),
            FooterStats(rows=6_000, lo_ns=T0_NS, hi_ns=T0_NS + 12 * hour - 1, max_group_rows=2500),
        ]
        windows = chunk_windows(T0 + timedelta(hours=1), T0 + timedelta(hours=11), "30m")
        runs = plan_runs(windows, stats)
        assert [i for r in runs for i in range(*r)] == list(range(len(windows)))

        def est(i, j):
            return _estimated_rows(
                stats,
                min(_to_ns_epoch(s) for s, _ in windows[i:j]),
                max(_to_ns_epoch(e) for _, e in windows[i:j]),
            )

        for i, j in runs:
            assert est(i, j) <= 4000
            if j < len(windows):
                assert est(i, j + 1) > 4000  # the next chunk would not fit
        # 750 rows per 30 m chunk: five chunks fit under 4000, six do not
        assert {j - i for i, j in runs} == {5}
        assert plan_runs(windows, None) == [(i, i + 1) for i in range(len(windows))]

    def test_in_memory_source_keeps_one_chunk_runs(self, spark, tmp_path):
        from syncflux_spark.sources.parquet import source_footer_stats

        df = spark.createDataFrame(
            [(T0_NS + k * SLOT_NS, "h", float(k)) for k in range(120)],
            "ts_ns long, host string, value double",
        ).selectExpr("timestamp_micros(ts_ns div 1000) as ts", "*")
        assert source_footer_stats(df) is None
        seen_cached = []
        rep = sync(
            spark, {"m": df}, str(tmp_path), T0, T0 + timedelta(minutes=20), chunk="5m",
            fail_injector=lambda *_: seen_cached.append(not _cache_empty(spark)),
        )
        assert rep.points == 120 and rep.write_errors == 0
        assert not any(seen_cached)

    def test_cache_released_after_failed_chunk_and_recovery(self, spark, tmp_path):
        """A chunk failing inside a run, then sync_dbrp's chunk/10
        recovery: no run scan stays persisted, and nothing is lost
        or doubled."""
        from syncflux_spark.operators.copy import sync_dbrp
        from syncflux_spark.sources.parquet import load_table

        _write_source(tmp_path / "m.parquet", "series")
        df = load_table(spark, str(tmp_path), "m")
        calls = []

        def fail_second(name, s, e):
            calls.append(s)
            if len(calls) == 2:
                raise RuntimeError("injected outage")

        rep = sync_dbrp(
            spark, {"m": df}, str(tmp_path / "dst"), T0, T0 + timedelta(minutes=30),
            chunk="5m", rw_max_retries=1, fail_injector=fail_second,
        )
        assert _cache_empty(spark)
        assert rep.write_errors == 0 and rep.points == 8 * 180
        assert _digest(read_copied(spark, str(tmp_path / "dst"), "m"))[0] == 8 * 180

        class Abort(BaseException):
            """Escapes the chunk's error accounting, so sync raises."""

        def abort_fourth(name, s, e):
            calls.append(s)
            if len(calls) == 4:
                raise Abort

        calls.clear()
        with pytest.raises(Abort):
            sync(spark, {"m": df}, str(tmp_path / "dst2"), T0, T0 + timedelta(minutes=30),
                 chunk="5m", fail_injector=abort_fourth)
        assert _cache_empty(spark)
