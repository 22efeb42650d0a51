"""TxTable as the hot-path sink: log checkpointing, copy/sync/replication
commits, tag-preserving compaction, CAS group swaps.

The copy/replication writers commit to a TxTable (snapshot isolation
+ OCC, no advisory lock), and the commit log is delta-encoded with
periodic full snapshots so resolving the latest state reads
O(checkpoint_interval) log files regardless of table age — exercised
here at 5,000 commits.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import pytest
from pyspark.sql import types as T

from syncflux_spark.txtable import TxTable

_SCHEMA = T.StructType([T.StructField("k", T.IntegerType())])


def _df(spark, rows, schema="k int, v string"):
    return spark.createDataFrame(rows, schema)


def _fake_commit(t, add, remove=(), stats=None):
    """Commit synthetic group names through the real commit loop."""
    return t._commit(
        lambda _state, _stage: {
            "add": add, "remove": list(remove), "stats": stats or {},
            "schema": _SCHEMA,
        }
    )


class TestLogCheckpointing:
    def test_5k_commits_resolve_in_o1_log_files(self, spark, tmp_path):
        """The headline bound: after 5,000 delta commits, resolving
        the latest snapshot reads at most checkpoint_interval + 1
        commit documents — not 5,000. Commits are fabricated through
        the real commit loop (_commit) with synthetic group names so
        the test exercises log mechanics, not parquet IO."""
        root = str(tmp_path / "t")
        t = TxTable.ensure(spark, root, checkpoint_interval=100)
        expect: list[str] = []
        for i in range(5000):
            rel = f"data/g{i:05d}.parquet"
            remove = [expect.pop(0)] if i % 7 == 3 else []
            _fake_commit(t, [rel], remove, {rel: {"ts_ns": [i, i + 1]}})
            expect = [r for r in expect if r not in remove] + [rel]
        assert t.version() == 5000

        reads = []
        orig = TxTable._read_doc
        try:
            TxTable._read_doc = lambda self, v: (reads.append(v), orig(self, v))[1]
            files, stats, _tags, _schema = t._state_at(t.version())
        finally:
            TxTable._read_doc = orig
        assert files == expect
        assert len(reads) <= t.checkpoint_interval + 1, (
            f"state resolution read {len(reads)} log files"
        )
        # stats survive delta resolution (removed groups' stats drop)
        assert stats[expect[-1]] == {"ts_ns": [4999, 5000]}
        # checkpoint versions are full snapshots, neighbors are deltas
        assert "files" in t._read_doc(4900)
        assert "files" not in t._read_doc(4901)

    def test_replace_tagged_resolves_its_parent_in_one_walk(
        self, spark, tmp_path, monkeypatch
    ):
        """A replace_tagged whose parent is version 99 of an
        interval-100 table reads each log document at most once: the
        schema check, the tag removals and the snapshot document it
        writes all come from one walk of the parent's state."""
        t = TxTable(spark, str(tmp_path / "t"), checkpoint_interval=100)
        t._try_commit_doc(0, {"files": [], "schema": _SCHEMA.jsonValue()})
        for v in range(1, 100):
            t._try_commit_doc(v, {"add": [f"data/g{v:03d}.parquet"]})
        reads = []
        orig = TxTable._read_doc
        monkeypatch.setattr(
            TxTable, "_read_doc",
            lambda self, v: (reads.append(v), orig(self, v))[1],
        )
        df = spark.createDataFrame([(1,)], _SCHEMA)
        assert t.replace_tagged("win", "w", df) == 100
        assert len(reads) <= 100, f"read {len(reads)} commit documents"

    def test_commit_documents_are_o1_sized(self, spark, tmp_path):
        """Delta commits must not grow with table age — the wall the
        old full-listing-per-commit format hit (txtable.py module
        docstring)."""
        root = str(tmp_path / "t")
        t = TxTable.ensure(spark, root, checkpoint_interval=1000)
        for i in range(500):
            _fake_commit(t, [f"data/g{i:05d}.parquet"])
        early = os.path.getsize(t._log_path(10))
        late = os.path.getsize(t._log_path(500))
        assert late <= early + 16  # same shape, not a growing listing

    def test_real_appends_across_checkpoint_boundary(self, spark, tmp_path):
        t = TxTable.create(
            spark, str(tmp_path / "t"), _df(spark, [(0, "a")]),
            checkpoint_interval=5,
        )
        for i in range(1, 12):
            TxTable(spark, t.root, checkpoint_interval=5).append(
                _df(spark, [(i, f"v{i}")])
            )
        got = sorted(r["k"] for r in t.snapshot().collect())
        assert got == list(range(12))
        # versions 5 and 10 were written as snapshots
        assert "files" in t._read_doc(5) and "files" in t._read_doc(10)
        assert "files" not in t._read_doc(7)
        # time travel through a delta suffix still resolves
        assert sorted(r["k"] for r in t.snapshot(7).collect()) == list(range(8))

    def test_vacuum_log_keeps_resolvability(self, spark, tmp_path):
        root = str(tmp_path / "t")
        t = TxTable.ensure(spark, root, checkpoint_interval=10)
        expect: list[str] = []
        for i in range(35):
            rel = f"data/g{i:04d}.parquet"
            _fake_commit(t, [rel])
            expect.append(rel)
        removed = t.vacuum_log()
        # newest snapshot at/below v35 is v30 → versions 0..29 drop
        assert len(removed) == 30
        assert t._files_at(t.version()) == expect
        assert t._files_at(31) == expect[:31]  # retained version resolves
        with pytest.raises(FileNotFoundError):
            t._read_doc(5)  # time travel below the cut is gone

    def test_version_hint_fast_path(self, spark, tmp_path):
        """version() trusts the .last hint + forward probe; a stale,
        backward, or corrupt hint never changes the answer."""
        root = str(tmp_path / "t")
        t = TxTable.ensure(spark, root, checkpoint_interval=10)
        for i in range(25):
            _fake_commit(t, [f"data/g{i:03d}.parquet"])
        hint_path = os.path.join(root, "_txlog", ".last")
        assert os.path.exists(hint_path)
        assert t.version() == 25
        with open(hint_path, "w") as f:
            f.write("7")  # stale/backward hint → probe walks forward
        assert t.version() == 25
        with open(hint_path, "w") as f:
            f.write("not-a-number")  # corrupt → listing fallback
        assert t.version() == 25
        os.unlink(hint_path)  # missing → listing fallback
        assert t.version() == 25

    def test_torn_commit_read_impossible(self, spark, tmp_path):
        """The log claim links a COMPLETE temp file onto the version
        name — a visible commit always parses."""
        t = TxTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a")]))
        for v in range(t.version() + 1):
            with open(t._log_path(v)) as f:
                json.load(f)  # never raises on a committed version
        # no stray temp files linger after commits
        leftovers = [
            n for n in os.listdir(os.path.join(t.root, "_txlog"))
            if n.startswith(".tmp-")
        ]
        assert leftovers == []


class TestLogRecordedSchema:
    def test_schema_in_log_and_nullfill(self, spark, tmp_path):
        """The table schema lives in the commit log: evolution via
        allow_new_columns records the widened schema, snapshot reads
        plan with it (older groups null-fill) — zero footer merging."""
        t = TxTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a")]))
        doc0 = t._read_doc(0)
        assert [f["name"] for f in doc0["schema"]["fields"]] == ["k", "v"]
        t2 = TxTable(spark, t.root)
        t2.append(
            spark.createDataFrame([(2, "b", 9.5)], "k int, v string, w double"),
            allow_new_columns=True,
        )
        assert [f.name for f in t2._state_at(t2.version())[3].fields] == [
            "k", "v", "w"
        ]
        rows = {r["k"]: r["w"] for r in t2.snapshot().collect()}
        assert rows == {1: None, 2: 9.5}
        # the plan carries the explicit schema, not a footer merge
        plan = t2.snapshot()._jdf.queryExecution().executedPlan().toString()
        assert "FileScan" in plan

    def test_compat_check_uses_log_not_footers(self, spark, tmp_path):
        """With the schema in the log, an append's write-time retype
        check never opens data files (snapshot() is not called)."""
        t = TxTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a")]))
        called = []
        orig = TxTable.snapshot
        try:
            TxTable.snapshot = lambda self, *a, **k: (
                called.append(1), orig(self, *a, **k)
            )[1]
            t.append(_df(spark, [(2, "b")]))
            with pytest.raises(ValueError, match="retypes"):
                t.append(spark.createDataFrame([(1, 2)], "k int, v int"))
        finally:
            TxTable.snapshot = orig
        assert called == []


class TestTimeTravelAndHistory:
    def test_snapshot_as_of_wall_clock(self, spark, tmp_path):
        import time

        t = TxTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a")]))
        time.sleep(0.05)
        mark = time.time()
        time.sleep(0.05)
        t.append(_df(spark, [(2, "b")]))
        assert sorted(
            r["k"] for r in t.snapshot_as_of(mark).collect()
        ) == [1]
        assert sorted(
            r["k"] for r in t.snapshot_as_of(time.time()).collect()
        ) == [1, 2]
        with pytest.raises(ValueError, match="no commit at or before"):
            t.snapshot_as_of(mark - 100)

    def test_history_lists_commit_kinds(self, spark, tmp_path):
        t = TxTable.create(
            spark, str(tmp_path / "t"), _df(spark, [(1, "a")]),
            checkpoint_interval=2,
        )
        TxTable(spark, t.root, checkpoint_interval=2).append(
            _df(spark, [(2, "b")])
        )
        TxTable(spark, t.root, checkpoint_interval=2).append(
            _df(spark, [(3, "c")])
        )
        h = t.history()
        assert [e["version"] for e in h] == [2, 1, 0]
        assert h[0]["kind"] == "snapshot"  # v2 hit the interval
        assert h[1]["kind"] == "delta" and len(h[1]["added"]) == 1
        assert h[2]["kind"] == "snapshot"  # create


class TestSwapGroups:
    def test_swap_aborts_when_input_replaced(self, spark, tmp_path):
        """Compare-and-swap: a rewrite derived from groups that a
        concurrent writer has since replaced must abort, not clobber
        the fresh data."""
        root = str(tmp_path / "t")
        t = TxTable.ensure(spark, root)
        t.replace_tagged("win", "w1", _df(spark, [(1, "old")]))
        stale_rels = list(t._files_at(t.version()))
        stale_df = t.snapshot()
        # concurrent window replacement lands first
        t.replace_tagged("win", "w1", _df(spark, [(1, "fresh")]))
        assert t.swap_groups(stale_rels, stale_df, tags={"win": "w1"}) is None
        assert [r["v"] for r in t.snapshot().collect()] == ["fresh"]

    def test_swap_rebases_over_unrelated_adds(self, spark, tmp_path):
        root = str(tmp_path / "t")
        t = TxTable.ensure(spark, root)
        t.replace_tagged("win", "w1", _df(spark, [(1, "a"), (2, "b")]))
        rels = list(t._files_at(t.version()))
        merged = t.snapshot()
        t.replace_tagged("win", "w2", _df(spark, [(3, "c")]))  # unrelated
        v = t.swap_groups(rels, merged.repartition(1), tags={"win": "w1"})
        assert v is not None
        got = sorted(r["k"] for r in t.snapshot().collect())
        assert got == [1, 2, 3]


class TestReplaceTaggedRaces:
    def test_distinct_windows_commute(self, spark, tmp_path):
        """Concurrent replace_tagged on DIFFERENT tag values: both
        land (adds/removes of disjoint windows commute under the OCC
        rebase) — the multi-chunk writer pool scenario."""
        from concurrent.futures import ThreadPoolExecutor

        root = str(tmp_path / "t")
        TxTable.ensure(spark, root)

        def put(w):
            TxTable(spark, root).replace_tagged(
                "win", f"w{w}", _df(spark, [(w, f"v{w}")])
            )

        with ThreadPoolExecutor(max_workers=2) as pool:
            list(pool.map(put, [1, 2]))
        t = TxTable(spark, root)
        assert t.version() == 2
        assert sorted(r["k"] for r in t.snapshot().collect()) == [1, 2]

    def test_same_window_serializes_last_writer_wins(self, spark, tmp_path):
        """Concurrent replace_tagged on the SAME tag value: OCC
        serializes them — exactly one row survives (the later commit
        removed the earlier's group), never both, never neither."""
        from concurrent.futures import ThreadPoolExecutor

        root = str(tmp_path / "t")
        TxTable.ensure(spark, root)

        def put(tag):
            TxTable(spark, root).replace_tagged(
                "win", "w1", _df(spark, [(99, tag)])
            )

        with ThreadPoolExecutor(max_workers=2) as pool:
            list(pool.map(put, ["a", "b"]))
        t = TxTable(spark, root)
        assert t.version() == 2
        rows = t.snapshot().collect()
        assert len(rows) == 1 and rows[0]["v"] in ("a", "b")


EV_START = datetime(2024, 1, 2, tzinfo=timezone.utc)
EV_END = datetime(2024, 1, 4, tzinfo=timezone.utc)


class TestTxCopyRouting:
    def test_window_replay_is_idempotent(self, spark, events, tmp_path):
        from syncflux_spark.operators.copy import copy_range, read_copied

        dst = str(tmp_path / "tx/events")
        n1 = copy_range(events, dst, EV_START, EV_END)
        n2 = copy_range(events, dst, EV_START, EV_END)
        assert n1 == n2
        back = read_copied(spark, str(tmp_path / "tx"), "events")
        assert back.count() == n1  # replaced, not duplicated

    def test_sync_tx_multi_measurement_pool(self, spark, events, tmp_path):
        """Two measurements fan out on the worker pool — concurrent
        TxTable.ensure + window commits on separate roots, exact
        per-measurement roundtrips."""
        from pyspark.sql import functions as F

        from syncflux_spark.operators.copy import read_copied, sync

        clicks = events.where(F.col("event_type") == "click")
        rest = events.where(F.col("event_type") != "click")
        rep = sync(
            spark,
            {"clicks": clicks, "rest": rest},
            str(tmp_path / "tx"),
            EV_START,
            EV_END,
            chunk="24h",
            num_workers=2,
        )
        assert rep.write_errors == 0
        nc = read_copied(spark, str(tmp_path / "tx"), "clicks").count()
        nr = read_copied(spark, str(tmp_path / "tx"), "rest").count()
        in_win = events.where(
            (events.ts >= EV_START) & (events.ts < EV_END)
        )
        assert nc == in_win.where(F.col("event_type") == "click").count()
        assert nr == in_win.where(F.col("event_type") != "click").count()
        assert nc + nr == rep.points > 0

    def test_sync_dbrp_recovery_tx(self, spark, events, tmp_path):
        """C2 recovery on the tx sink: a failing chunk re-runs at
        finer granularity; fine windows land as their own tagged
        commits and the roundtrip count is exact."""
        from syncflux_spark.operators.copy import read_copied, sync_dbrp

        boom = {"n": 0}

        def injector(name, s, e):
            if boom["n"] == 0:
                boom["n"] += 1
                raise RuntimeError("injected")

        rep = sync_dbrp(
            spark,
            {"events": events},
            str(tmp_path / "tx"),
            EV_START,
            EV_END,
            chunk="24h",
            rw_max_retries=1,
            fail_injector=injector,
        )
        assert rep.write_errors == 0
        back = read_copied(spark, str(tmp_path / "tx"), "events")
        assert back.count() == rep.points > 0

    def test_scan_range_skips_other_windows(self, spark, events, tmp_path):
        """The sink records per-window ts_ns min/max in the commit log
        (observed on the write pass) — a range scan for one window's
        span prunes the other windows' groups without opening them."""
        from pyspark.sql import functions as F

        from syncflux_spark.operators.copy import sync

        sync(
            spark, {"events": events}, str(tmp_path / "tx"),
            EV_START, EV_END, chunk="12h",
        )
        t = TxTable(spark, str(tmp_path / "tx/events"))
        lo = int(EV_START.timestamp() * 1e9)
        df, skipped = t.scan_range("ts_ns", lo, lo + 3_600 * 10**9)
        assert skipped >= 2  # 4 half-day windows; ≥2 provably disjoint
        assert df.count() == events.where(
            (events.ts_ns >= lo) & (events.ts_ns <= lo + 3_600 * 10**9)
        ).count()
        files, stats, _tags, _schema = t._state_at(t.version())
        assert len(files) == 4
        for rel in files:
            row = spark.read.parquet(os.path.join(t.root, rel)).agg(
                F.min("ts_ns"), F.max("ts_ns")
            ).first()
            assert stats[rel]["ts_ns"] == [row[0], row[1]]

    def test_replace_tagged_stats_ride_the_write_job(self, spark, tmp_path):
        """Group stats cost no second Spark job: one replace_tagged
        with stats_cols runs exactly one job, the write."""
        t = TxTable.ensure(spark, str(tmp_path / "t"))
        df = spark.range(1000).withColumnRenamed("id", "ts_ns")
        sc = spark.sparkContext
        sc.setJobGroup("stats-on-write", "stats-on-write")
        try:
            t.replace_tagged("win", "w", df, stats_cols=["ts_ns"])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup("stats-on-write")) == 1
        assert t._state_at(t.version())[1] == {
            rel: {"ts_ns": [0, 999]} for rel in t._files_at(t.version())
        }


class TestTaggedCompaction:
    def test_compact_preserves_window_replay(self, spark, events, tmp_path):
        from syncflux_spark.operators.compact import compact_tx_tagged
        from syncflux_spark.operators.copy import copy_range, read_copied

        dst = str(tmp_path / "tx/events")
        # fragment each window into many small files
        n = copy_range(
            events, dst, EV_START, EV_END,
            max_records_per_file=50,
        )
        t = TxTable(spark, dst)
        before_files = sum(
            len(os.listdir(os.path.join(dst, rel)))
            for rel in t._files_at(t.version())
        )
        rewritten = compact_tx_tagged(spark, dst, stats_cols=["ts_ns"])
        assert rewritten == 1
        after = read_copied(spark, str(tmp_path / "tx"), "events")
        assert after.count() == n
        after_files = sum(
            len(os.listdir(os.path.join(dst, rel)))
            for rel in t._files_at(t.version())
        )
        assert after_files < before_files
        # the compacted group still wears the window tag → replay
        # replaces it instead of duplicating
        n2 = copy_range(events, dst, EV_START, EV_END)
        assert n2 == n
        assert read_copied(spark, str(tmp_path / "tx"), "events").count() == n

    def test_compact_skips_already_compact(self, spark, events, tmp_path):
        from syncflux_spark.operators.compact import compact_tx_tagged
        from syncflux_spark.operators.copy import copy_range

        dst = str(tmp_path / "tx/events")
        copy_range(events, dst, EV_START, EV_END)
        compact_tx_tagged(spark, dst)
        assert compact_tx_tagged(spark, dst) == 0  # idempotent


class TestTxRetention:
    def _table(self, spark, events, tmp_path):
        from syncflux_spark.operators.copy import copy_range

        dst = str(tmp_path / "tx/events")
        wins = [
            (datetime(2024, 1, 2, tzinfo=timezone.utc),
             datetime(2024, 1, 3, tzinfo=timezone.utc)),
            (datetime(2024, 1, 3, tzinfo=timezone.utc),
             datetime(2024, 1, 4, tzinfo=timezone.utc)),
            (datetime(2024, 1, 4, tzinfo=timezone.utc),
             datetime(2024, 1, 6, tzinfo=timezone.utc)),
            (datetime(2024, 1, 6, tzinfo=timezone.utc),
             datetime(2024, 1, 8, tzinfo=timezone.utc)),
        ]
        for s, e in wins:
            copy_range(events, dst, s, e)
        return dst

    def test_whole_windows_drop_log_only(self, spark, events, tmp_path):
        """Fully-expired groups leave via one delta commit — their
        data directories remain on disk (time travel) until vacuum."""
        dst = self._table(spark, events, tmp_path)
        t = TxTable(spark, dst)
        v_before = t.version()
        files_before = set(t._files_at(v_before))
        cutoff = int(
            datetime(2024, 1, 5, tzinfo=timezone.utc).timestamp() * 1e9
        )
        rep = t.expire_below("ts_ns", cutoff)
        assert rep["dropped_groups"] == 2  # Jan2-3, Jan3-4
        assert rep["rewritten_groups"] == 1  # Jan4-6 straddles
        assert rep["kept_groups"] == 1  # Jan6-8
        # exactness: table == source filtered
        got = sorted(
            r["event_id"] for r in t.snapshot().select("event_id").collect()
        )
        want = sorted(
            r["event_id"]
            for r in events.where(events.ts_ns >= cutoff)
            .where(events.ts < datetime(2024, 1, 8, tzinfo=timezone.utc))
            .select("event_id")
            .collect()
        )
        assert got == want and len(want) > 0
        # dropped groups' data still on disk; old version still reads
        dropped = files_before - set(t._files_at(t.version()))
        assert all(
            os.path.isdir(os.path.join(dst, rel)) for rel in dropped
        )
        assert t.snapshot(v_before).count() > t.snapshot().count()
        removed = t.vacuum(older_than_s=0.0)
        assert set(removed) >= {r for r in dropped if "rewritten" not in r}

    def test_statless_group_takes_safe_rewrite(self, spark, tmp_path):
        t = TxTable.ensure(spark, str(tmp_path / "t"))
        t.append(
            spark.createDataFrame([(1, 5), (2, 50)], "k int, ts_ns long")
        )  # no stats declared
        rep = t.expire_below("ts_ns", 10)
        assert rep == {
            "dropped_groups": 0, "rewritten_groups": 1, "kept_groups": 0
        }
        assert [r["k"] for r in t.snapshot().collect()] == [2]

    def test_tags_survive_rewrite(self, spark, tmp_path):
        t = TxTable.ensure(spark, str(tmp_path / "t"))
        t.replace_tagged(
            "win", "w1",
            spark.createDataFrame([(1, 5), (2, 50)], "k int, ts_ns long"),
            stats_cols=["ts_ns"],
        )
        t.expire_below("ts_ns", 10)
        tags = t._state_at(t.version())[2]
        assert any(v.get("win") == "w1" for v in tags.values())
        # window replay still replaces the rewritten group
        t.replace_tagged(
            "win", "w1",
            spark.createDataFrame([(3, 60)], "k int, ts_ns long"),
            stats_cols=["ts_ns"],
        )
        assert sorted(r["k"] for r in t.snapshot().collect()) == [3]


class TestTxReplicationStream:
    def test_stream_batches_commit_transactionally(self, spark, sf_dir, tmp_path):
        from syncflux_spark.streaming.replicate import ReplicationStream

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        rs = ReplicationStream(
            spark,
            sf_dir,
            str(tmp_path / "dst"),
            str(tmp_path / "ckpt"),
            path_glob_filter="events.parquet",
        )
        assert rs.run_available() >= 1
        import duckdb

        src_n = duckdb.sql(
            f"SELECT count(*) FROM '{sf_dir}/events.parquet'"
        ).fetchone()[0]
        assert rs.read_replica().count() == src_n
        # batches are tagged commits in the table's log
        t = TxTable(spark, str(tmp_path / "dst"))
        tags = t._state_at(t.version())[2]
        assert any(v.get("batch") == "0" for v in tags.values())

    @pytest.mark.parametrize("fmt", ["dir", "delta", ""])
    def test_only_tx_table_format_accepted(self, spark, tmp_path, fmt):
        from syncflux_spark.streaming.replicate import ReplicationStream

        with pytest.raises(ValueError, match="table_format"):
            ReplicationStream(
                spark, str(tmp_path), str(tmp_path / "dst"),
                str(tmp_path / "ckpt"), table_format=fmt,
            )
