"""TxTable: commit-log snapshots, OCC writers, transactional MERGE."""

from __future__ import annotations

import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from syncflux_spark.txtable import CommitConflict, TxTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


class TestSnapshots:
    def test_create_read_version(self, spark, tmp_path):
        t = TxTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a")]))
        assert t.version() == 0
        assert [(r.k, r.v) for r in t.snapshot().collect()] == [(1, "a")]
        with pytest.raises(ValueError, match="already exists"):
            TxTable.create(spark, str(tmp_path / "t"), _df(spark, [(9, "z")]))

    def test_time_travel(self, spark, tmp_path):
        t = TxTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a")]))
        t.append(_df(spark, [(2, "b")]))
        t.overwrite(lambda s: s.where("k = 2"))
        assert t.version() == 2
        assert t.snapshot(0).count() == 1
        assert t.snapshot(1).count() == 2
        assert [r.k for r in t.snapshot().collect()] == [2]

    def test_reader_sees_committed_only(self, spark, tmp_path):
        """Data files written but not committed are invisible."""
        t = TxTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a")]))
        t._write_group(_df(spark, [(99, "ghost")]))  # crashed writer
        assert [r.k for r in t.snapshot().collect()] == [1]


class TestConcurrency:
    def test_concurrent_appends_both_land(self, spark, tmp_path):
        t = TxTable.create(spark, str(tmp_path / "t"), _df(spark, [(0, "z")]))
        errs = []

        def add(k):
            try:
                TxTable(spark, t.root).append(_df(spark, [(k, f"w{k}")]))
            except Exception as e:  # pragma: no cover
                errs.append(e)

        ts = [threading.Thread(target=add, args=(k,)) for k in (1, 2, 3, 4)]
        for th in ts:
            th.start()
        for th in ts:
            th.join()
        assert not errs
        assert t.version() == 4
        assert {r.k for r in t.snapshot().collect()} == {0, 1, 2, 3, 4}

    def test_concurrent_merges_serialize(self, spark, tmp_path):
        """Two mergers racing on one table: OCC forces the loser to
        rebase on the winner's commit, so BOTH batches' effects land
        (the directory-swap writers would lose one)."""
        t = TxTable.create(
            spark, str(tmp_path / "t"),
            _df(spark, [(1, "a"), (2, "b"), (3, "c")]),
        )
        ch1 = spark.createDataFrame(
            [(2, "U", "b2")], "k long, op string, v string"
        )
        ch2 = spark.createDataFrame(
            [(3, "D", None), (4, "I", "d")], "k long, op string, v string"
        )
        errs = []

        def merge(ch):
            try:
                TxTable(spark, t.root).merge_changes(ch, key_col="k")
            except Exception as e:  # pragma: no cover
                errs.append(e)

        t1 = threading.Thread(target=merge, args=(ch1,))
        t2 = threading.Thread(target=merge, args=(ch2,))
        t1.start()
        t2.start()
        t1.join()
        t2.join()
        assert not errs
        got = {r.k: r.v for r in t.snapshot().collect()}
        assert got == {1: "a", 2: "b2", 4: "d"}  # both merges applied

    def test_conflict_raises_after_retries(self, spark, tmp_path):
        t = TxTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a")]))

        def compute(s):
            # sabotage: someone else always commits between read & claim
            t.append(_df(spark, [(99, "interloper")]))
            return s

        with pytest.raises(CommitConflict, match="races"):
            TxTable(spark, t.root).overwrite(compute, max_retries=2)


class TestVacuum:
    def test_removes_only_old_unreferenced(self, spark, tmp_path):
        t = TxTable.create(spark, str(tmp_path / "t"), _df(spark, [(1, "a")]))
        t.overwrite(lambda s: s)  # v1 supersedes v0's group
        orphan_rel, _ = t._write_group(_df(spark, [(9, "x")]))  # never committed
        # everything is fresh: nothing removed
        assert t.vacuum(older_than_s=3600) == []
        # age all groups; only unreferenced ones go
        data = os.path.join(t.root, "data")
        old = time.time() - 7200
        for name in os.listdir(data):
            os.utime(os.path.join(data, name), (old, old))
        removed = t.vacuum(older_than_s=3600)
        assert orphan_rel in removed and len(removed) == 2  # v0 group + orphan
        assert [r.k for r in t.snapshot().collect()] == [1]  # live intact


class TestCdcStreamOnTxTable:
    def test_stream_merge_through_commit_log(self, spark, tmp_path):
        """CdcMergeStream: the streaming MERGE commits through the
        transaction log — replay-idempotent AND safe against
        concurrent writers on the base."""
        from syncflux_spark.streaming.cdc import CdcMergeStream

        base = str(tmp_path / "base")
        ch = str(tmp_path / "ch")
        ckpt = str(tmp_path / "ckpt")
        TxTable.create(
            spark, base,
            spark.createDataFrame(
                [(1, "a", 10.0), (2, "b", 20.0)],
                "k long, status string, price double",
            ),
        )
        spark.createDataFrame(
            [(2, "U", "b2", 22.0), (3, "I", "c", 30.0)],
            "k long, op string, status string, price double",
        ).coalesce(1).write.mode("append").parquet(ch)
        s = CdcMergeStream(spark, ch, base, ckpt, key_col="k")
        assert s.run_available() == 1
        got = {r.k: (r.status, r.price) for r in s.read_base().collect()}
        assert got == {1: ("a", 10.0), 2: ("b2", 22.0), 3: ("c", 30.0)}
        assert TxTable(spark, base).version() == 1
        # second catch-up with no new files: no new commit
        s2 = CdcMergeStream(spark, ch, base, ckpt, key_col="k")
        assert s2.run_available() == 0
        assert TxTable(spark, base).version() == 1


class TestTxCompaction:
    def test_compactor_never_loses_a_merge(self, spark, tmp_path):
        """Compaction racing a merge: whoever loses the commit race
        rebases, so the final state has BOTH the merge's effect and
        one compacted layout."""
        from syncflux_spark.operators.compact import compact_txtable

        t = TxTable.create(
            spark, str(tmp_path / "t"),
            _df(spark, [(i, f"v{i}") for i in range(50)]),
        )
        for i in range(3):  # fragment the table
            t.append(_df(spark, [(100 + i, f"n{i}")]))
        ch = spark.createDataFrame(
            [(0, "D", None), (200, "I", "new")], "k long, op string, v string"
        )
        errs = []

        def merge():
            try:
                TxTable(spark, t.root).merge_changes(ch, key_col="k")
            except Exception as e:  # pragma: no cover
                errs.append(e)

        def compact():
            try:
                compact_txtable(spark, t.root, target_file_bytes=10**9)
            except Exception as e:  # pragma: no cover
                errs.append(e)

        t1 = threading.Thread(target=merge)
        t2 = threading.Thread(target=compact)
        t1.start(); t2.start(); t1.join(); t2.join()
        assert not errs
        got = {r.k: r.v for r in t.snapshot().collect()}
        assert 0 not in got and got[200] == "new"  # merge survived
        assert len(got) == 53  # 50 - 1 + 3 + 1


class TestDataSkipping:
    def test_scan_range_prunes_groups(self, spark, tmp_path):
        """Disjoint-range appends must be skipped wholesale by a
        range scan, and the pruned result must equal the full-scan
        filter exactly."""
        from pyspark.sql import functions as F

        from syncflux_spark.txtable import TxTable

        root = str(tmp_path / "t")
        mk = lambda lo, hi: spark.range(lo, hi).select(
            F.col("id").alias("ts_ns"), (F.col("id") * 2).alias("v")
        )
        t = TxTable.create(spark, root, mk(0, 100), stats_cols=["ts_ns"])
        t.append(mk(100, 200), stats_cols=["ts_ns"])
        t.append(mk(200, 300), stats_cols=["ts_ns"])
        df, skipped = t.scan_range("ts_ns", 120, 180)
        assert skipped == 2  # groups [0,100) and [200,300) pruned
        got = sorted(r.ts_ns for r in df.collect())
        want = sorted(
            r.ts_ns
            for r in t.snapshot()
            .where((F.col("ts_ns") >= 120) & (F.col("ts_ns") <= 180))
            .collect()
        )
        assert got == want and len(got) == 61

    def test_statless_groups_survive_pruning(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from syncflux_spark.txtable import TxTable

        root = str(tmp_path / "t2")
        mk = lambda lo, hi: spark.range(lo, hi).select(
            F.col("id").alias("ts_ns")
        )
        t = TxTable.create(spark, root, mk(0, 50))  # no stats declared
        t.append(mk(50, 100), stats_cols=["ts_ns"])
        df, skipped = t.scan_range("ts_ns", 10, 20)
        # the stats-bearing group [50,100) is pruned; the stat-less
        # create group must be kept (pruning is only ever provable)
        assert skipped == 1
        assert df.count() == 11

    def test_all_pruned_returns_empty_with_schema(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from syncflux_spark.txtable import TxTable

        root = str(tmp_path / "t3")
        t = TxTable.create(
            spark,
            root,
            spark.range(0, 10).select(F.col("id").alias("ts_ns")),
            stats_cols=["ts_ns"],
        )
        df, skipped = t.scan_range("ts_ns", 1000, 2000)
        assert skipped == 1 and df.count() == 0
        assert df.columns == ["ts_ns"]


class TestWriteAuditPublish:
    def test_vetoed_publish_leaves_table_unchanged(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from syncflux_spark.txtable import TxTable

        root = str(tmp_path / "wap")
        t = TxTable.create(
            spark, root, spark.range(0, 10).select(F.col("id").alias("k"))
        )
        v0 = t.version()

        def no_dup_keys(candidate):
            n, d = candidate.count(), candidate.select("k").distinct().count()
            if n != d:
                raise ValueError(f"duplicate keys: {n} rows, {d} distinct")
            return True

        # clean batch publishes
        t.publish_with_audit(
            spark.range(10, 20).select(F.col("id").alias("k")), no_dup_keys
        )
        assert t.version() == v0 + 1 and t.snapshot().count() == 20

        # batch re-inserting key 5 is vetoed by the CANDIDATE audit
        import pytest as _pytest

        with _pytest.raises(ValueError, match="duplicate keys"):
            t.publish_with_audit(
                spark.range(5, 6).select(F.col("id").alias("k")), no_dup_keys
            )
        assert t.version() == v0 + 1  # no commit
        assert t.snapshot().count() == 20  # no data change
        # the staged group was cleaned up: vacuum finds nothing young
        import os

        data = os.path.join(root, "data")
        live = {x.split("/")[-1] for x in t._files_at(t.version())}
        assert {n for n in os.listdir(data)} == live

    def test_false_return_vetoes_too(self, spark, tmp_path):
        from pyspark.sql import functions as F

        import pytest as _pytest

        from syncflux_spark.txtable import TxTable

        root = str(tmp_path / "wap2")
        t = TxTable.create(
            spark, root, spark.range(0, 5).select(F.col("id").alias("k"))
        )
        with _pytest.raises(ValueError, match="vetoed"):
            t.publish_with_audit(
                spark.range(5, 8).select(F.col("id").alias("k")),
                lambda c: False,
            )
        assert t.snapshot().count() == 5

    def test_retyping_publish_raises_and_leaves_no_group(self, spark, tmp_path):
        root = str(tmp_path / "wap3")
        t = TxTable.create(
            spark, root, spark.createDataFrame([(1, 1.0)], "k long, v double")
        )
        with pytest.raises(ValueError, match="conflicts"):
            t.publish_with_audit(
                spark.createDataFrame([(2, "x")], "k long, v string"),
                lambda c: True,
            )
        assert t.version() == 0
        assert [(r.k, r.v) for r in t.snapshot().collect()] == [(1, 1.0)]
        live = {x.split("/")[-1] for x in t._files_at(t.version())}
        assert set(os.listdir(os.path.join(root, "data"))) == live


class TestSchemaEvolution:
    def test_new_column_appends_and_merges(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from syncflux_spark.txtable import TxTable

        root = str(tmp_path / "ev")
        t = TxTable.create(
            spark, root, spark.range(0, 5).select(F.col("id").alias("k"))
        )
        t.append(
            spark.range(5, 8).select(
                F.col("id").alias("k"), F.lit("web").alias("source")
            ),
            allow_new_columns=True,
        )
        snap = t.snapshot()
        assert set(snap.columns) == {"k", "source"}
        rows = {r.k: r.source for r in snap.collect()}
        assert rows[0] is None and rows[6] == "web"

    def test_new_column_rejected_by_default(self, spark, tmp_path):
        import pytest as _pytest
        from pyspark.sql import functions as F

        from syncflux_spark.txtable import TxTable

        root = str(tmp_path / "ev2")
        t = TxTable.create(
            spark, root, spark.range(0, 5).select(F.col("id").alias("k"))
        )
        with _pytest.raises(ValueError, match="allow_new_columns"):
            t.append(
                spark.range(5, 8).select(
                    F.col("id").alias("k"), F.lit(1).alias("extra")
                )
            )

    def test_type_change_always_rejected(self, spark, tmp_path):
        import pytest as _pytest
        from pyspark.sql import functions as F

        from syncflux_spark.txtable import TxTable

        root = str(tmp_path / "ev3")
        t = TxTable.create(
            spark, root, spark.range(0, 5).select(F.col("id").alias("k"))
        )
        with _pytest.raises(ValueError, match="conflicts"):
            t.append(
                spark.range(5, 8).select(
                    F.col("id").cast("string").alias("k")
                ),
                allow_new_columns=True,
            )

    def test_check_runs_against_the_parent_the_commit_lands_on(
        self, spark, tmp_path, monkeypatch
    ):
        """A concurrent append adds ``x long`` while this writer's
        ``x string`` group is written: the retry re-checks against the
        winner's schema and raises instead of committing it."""
        root = str(tmp_path / "ev4")
        t = TxTable.create(
            spark, root, spark.createDataFrame([(1, 1.0)], "k long, v double")
        )
        write_group = TxTable._write_group
        raced = []

        def racing_write(self, *args, **kwargs):
            out = write_group(self, *args, **kwargs)
            if not raced:
                raced.append(1)
                TxTable(spark, root).append(
                    spark.createDataFrame(
                        [(2, 2.0, 7)], "k long, v double, x long"
                    ),
                    allow_new_columns=True,
                )
            return out

        monkeypatch.setattr(TxTable, "_write_group", racing_write)
        with pytest.raises(ValueError, match="conflicts"):
            t.replace_tagged(
                "win", "w1",
                spark.createDataFrame(
                    [(3, 3.0, "s")], "k long, v double, x string"
                ),
                allow_new_columns=True,
            )
        assert t.version() == 1
        assert {r.k: r.x for r in t.snapshot().collect()} == {1: None, 2: 7}
        live = {x.split("/")[-1] for x in t._files_at(t.version())}
        assert set(os.listdir(os.path.join(root, "data"))) == live


class TestWapConcurrency:
    def test_racing_audited_publishes_both_land(self, spark, tmp_path):
        """Two threads publishing through the audit path race on the
        commit file; the loser must re-audit against the winner's
        snapshot and retry — both batches land exactly once."""
        import threading

        from pyspark.sql import functions as F

        from syncflux_spark.txtable import TxTable

        root = str(tmp_path / "race")
        t = TxTable.create(
            spark, root, spark.range(0, 10).select(F.col("id").alias("k"))
        )
        barrier = threading.Barrier(2)
        errs = []

        def publish(lo, hi):
            try:
                tt = TxTable(spark, root)
                df = spark.range(lo, hi).select(F.col("id").alias("k"))
                barrier.wait()
                tt.publish_with_audit(
                    df,
                    lambda c: c.count()
                    == c.select("k").distinct().count(),
                )
            except Exception as exc:  # surfaced below
                errs.append(exc)

        th = [
            threading.Thread(target=publish, args=(10, 20)),
            threading.Thread(target=publish, args=(20, 30)),
        ]
        for x in th:
            x.start()
        for x in th:
            x.join()
        assert not errs, errs
        assert t.version() == 2  # two commits past create
        got = sorted(r.k for r in t.snapshot().collect())
        assert got == list(range(30))  # both batches, no dup, no loss
