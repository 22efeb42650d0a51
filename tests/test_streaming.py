"""Streaming replication + monitor state machine tests (SURVEY §5.4:
gap-backfill parity — stop the sink, advance the source, restart,
assert the missed window is backfilled)."""

from __future__ import annotations

import os
from datetime import timedelta

import pytest

from syncflux_spark.streaming import (
    ClusterState,
    HAMonitor,
    ReplicationStream,
    WindowedRollupStream,
)


def _write_src(spark, path, ids):
    spark.createDataFrame([(i, f"v{i}") for i in ids], ["id", "v"]).coalesce(
        1
    ).write.mode("append").parquet(path)


class TestReplicationStream:
    def test_exactly_once_and_gap_backfill(self, spark, tmp_path):
        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        ckpt = str(tmp_path / "ckpt")
        _write_src(spark, src, range(0, 10))

        stream = ReplicationStream(spark, src, dst, ckpt)
        stream.run_available()
        assert sorted(r.id for r in stream.read_replica().collect()) == list(range(10))

        # outage: source advances while the replication job is down
        _write_src(spark, src, range(10, 25))
        _write_src(spark, src, range(25, 30))

        # restart (fresh object, same checkpoint) → backfills the gap
        stream2 = ReplicationStream(spark, src, dst, ckpt)
        stream2.run_available()
        got = sorted(r.id for r in stream2.read_replica().collect())
        assert got == list(range(30))  # nothing lost...
        assert len(got) == 30  # ...nothing duplicated

    def test_restart_without_new_data_writes_nothing(self, spark, tmp_path):
        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        ckpt = str(tmp_path / "ckpt")
        _write_src(spark, src, range(5))
        s1 = ReplicationStream(spark, src, dst, ckpt)
        s1.run_available()
        n_dirs = set(os.listdir(dst))
        s2 = ReplicationStream(spark, src, dst, ckpt)
        s2.run_available()
        assert set(os.listdir(dst)) == n_dirs
        assert s2.read_replica().count() == 5


class TestDedupReplicationStream:
    BASE_NS = 1_704_067_200 * 1_000_000_000

    def _write(self, spark, path, ids):
        rows = [(i, self.BASE_NS + i * 1_000_000_000, f"v{i}") for i in ids]
        spark.createDataFrame(rows, ["id", "ts", "v"]).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    def test_cross_batch_and_cross_restart_dedup(self, spark, tmp_path):
        from syncflux_spark.streaming.dedup import DedupReplicationStream

        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        ckpt = str(tmp_path / "ckpt")
        # two files with overlapping keys; maxFilesPerTrigger=1 forces
        # the repeats into a LATER micro-batch than their first copy
        self._write(spark, src, range(0, 10))
        self._write(spark, src, range(5, 15))

        s1 = DedupReplicationStream(
            spark, src, dst, ckpt, key_cols=("id",), max_files_per_trigger=1
        )
        assert s1.run_available() >= 2  # really crossed a batch boundary
        got = sorted(r.id for r in s1.read_replica().collect())
        assert got == list(range(15))  # each key exactly once

        # restart: old keys re-delivered after a stop must still be
        # dropped — the key state lives in the checkpointed state store
        self._write(spark, src, list(range(0, 5)) + list(range(15, 18)))
        s2 = DedupReplicationStream(
            spark, src, dst, ckpt, key_cols=("id",), max_files_per_trigger=1
        )
        s2.run_available()
        got = sorted(r.id for r in s2.read_replica().collect())
        assert got == list(range(18))


class TestHAMonitor:
    def test_state_machine_cycle(self):
        # scripted probes: slave healthy, then down, then back
        slave_alive = {"v": True}
        recoveries = []
        m = HAMonitor(
            master_probe=lambda: True,
            slave_probe=lambda: slave_alive["v"],
            recover=lambda s, e: recoveries.append((s, e)),
            check_interval=timedelta(seconds=10),
        )
        st = m.check_once()
        assert st.cluster_state == ClusterState.OK and st.slave_state

        slave_alive["v"] = False
        st = m.check_once()
        assert st.cluster_state == ClusterState.CHECK_SLAVE_DOWN
        st = m.check_once()  # still down → stays
        assert st.cluster_state == ClusterState.CHECK_SLAVE_DOWN

        slave_alive["v"] = True
        st = m.check_once()
        assert st.cluster_state == ClusterState.OK
        assert st.num_recovers == 1
        assert len(recoveries) == 1
        # gap start = slave_last_ok - check_interval (hacluster.go:310)
        gap_start, gap_end = recoveries[0]
        assert gap_end - gap_start >= timedelta(seconds=10)

    def test_probe_exception_is_down(self):
        def boom():
            raise RuntimeError("dead")

        m = HAMonitor(master_probe=boom, slave_probe=lambda: True)
        st = m.check_once()
        assert st.master_state is False
        assert st.slave_state is True

    def test_recover_failure_does_not_crash(self):
        slave_alive = {"v": False}

        def bad_recover(s, e):
            raise RuntimeError("backfill failed")

        m = HAMonitor(
            master_probe=lambda: True,
            slave_probe=lambda: slave_alive["v"],
            recover=bad_recover,
        )
        m.check_once()
        slave_alive["v"] = True
        st = m.check_once()  # recover raises; monitor survives
        assert st.cluster_state == ClusterState.OK
        assert st.num_recovers == 1

    def test_status_reads_recovering_without_waiting(self):
        """``get_status()`` during a 2 s backfill returns at once and
        says RECOVERING: the backfill runs outside the status lock."""
        import threading
        import time

        slave_alive = {"v": False}
        started = threading.Event()

        def slow_recover(s, e):
            started.set()
            time.sleep(2.0)

        m = HAMonitor(
            master_probe=lambda: True,
            slave_probe=lambda: slave_alive["v"],
            recover=slow_recover,
        )
        m.check_once()
        slave_alive["v"] = True
        tick = threading.Thread(target=m.check_once)
        tick.start()
        try:
            assert started.wait(5)
            t0 = time.monotonic()
            st = m.get_status()
            waited = time.monotonic() - t0
            # a second tick meanwhile neither blocks nor recovers again
            assert m.check_once().cluster_state == ClusterState.RECOVERING
        finally:
            tick.join(timeout=10)
        assert not tick.is_alive()
        assert waited < 0.2
        assert st.cluster_state == ClusterState.RECOVERING
        assert st.recovering_since is not None
        done = m.get_status()
        assert done.cluster_state == ClusterState.OK
        assert done.num_recovers == 1 and done.last_recovery_duration >= 2.0


class TestStatefulUserTotals:
    def test_state_survives_restarts(self, spark, tmp_path):
        """Two incremental runs: the second only sees new files but its
        output includes totals accumulated from the first (checkpointed
        per-key state) — the applyInPandasWithState cross-batch
        guarantee a naive per-batch agg would break."""
        from syncflux_spark.streaming.stateful import StatefulUserTotals

        src = str(tmp_path / "src")
        rows1 = [(1, 1_000_000_000, 2.0), (1, 2_000_000_000, 3.0), (2, 1_500_000_000, 1.0)]
        spark.createDataFrame(rows1, "user_id long, ts long, value double").coalesce(
            1
        ).write.mode("append").parquet(src)

        s1 = StatefulUserTotals(
            spark, src, str(tmp_path / "dst"), str(tmp_path / "ckpt")
        )
        s1.run_available()
        t1 = {r.user_id: r for r in s1.current_totals().collect()}
        assert t1[1].n_events == 2 and t1[1].sum_value_micro == 5_000_000
        assert t1[2].n_events == 1

        # second wave of files: user 1 again + new user 3
        rows2 = [(1, 3_000_000_000, 0.5), (3, 1_000_000_000, 9.0)]
        spark.createDataFrame(rows2, "user_id long, ts long, value double").coalesce(
            1
        ).write.mode("append").parquet(src)

        s2 = StatefulUserTotals(  # fresh object, same checkpoint
            spark, src, str(tmp_path / "dst"), str(tmp_path / "ckpt")
        )
        s2.run_available()
        t2 = {r.user_id: r for r in s2.current_totals().collect()}
        assert t2[1].n_events == 3  # 2 (from run 1's state) + 1 new
        assert t2[1].sum_value_micro == 5_500_000
        assert t2[1].last_ts_us == 3_000_000
        assert t2[3].n_events == 1
        assert t2[2].n_events == 1  # untouched key keeps its state


class TestWindowedRollup:
    BASE = 1704067200  # 2024-01-01T00:00:00Z

    def _write(self, spark, path, rows):
        """rows: (minutes_from_base, event_type, value) → one parquet file
        with the events schema (ts = ns-epoch long)."""
        data = [
            (i, (self.BASE + 60 * m) * 1_000_000_000, 1, et, v, "{}")
            for i, (m, et, v) in enumerate(rows)
        ]
        spark.createDataFrame(
            data,
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("append").parquet(path)

    def test_watermark_emit_late_and_drop(self, spark, tmp_path):
        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        ckpt = str(tmp_path / "ckpt")

        # run 1: hour-0 (2 rows) + hour-1 (2 rows); watermark → 01:40
        self._write(spark, src, [(10, "a", 1.5), (20, "a", 1.5),
                                 (90, "a", 1.5), (110, "a", 1.5)])
        ws = WindowedRollupStream(spark, src, dst, ckpt)
        ws.run_available()

        # run 2: hour-2 row advances watermark past hour-1's end;
        #   00:30 is LATER than the 01:40 watermark → dropped;
        #   01:45 is within watermark (hour-1 still open) → folded in.
        self._write(spark, src, [(150, "a", 1.5), (30, "a", 99.0),
                                 (105, "a", 1.5)])
        ws2 = WindowedRollupStream(spark, src, dst, ckpt)  # restart, same ckpt
        ws2.run_available()

        # run 3: hour-3 row advances watermark past hour-2's end
        self._write(spark, src, [(210, "a", 1.5)])
        ws3 = WindowedRollupStream(spark, src, dst, ckpt)
        ws3.run_available()

        got = {
            r.bucket_s: r
            for r in ws3.read_rollup().collect()
        }
        h = 3600
        # hour-0 emitted once, WITHOUT the too-late 99.0 row
        assert got[self.BASE + 0 * h].n_rows == 2
        assert got[self.BASE + 0 * h].sum_value_micro == 3_000_000
        # hour-1 includes the late-but-within-watermark 01:45 row
        assert got[self.BASE + 1 * h].n_rows == 3
        assert got[self.BASE + 1 * h].sum_value_micro == 4_500_000
        # hour-2 emitted after run 3; hour-3 still pending
        assert got[self.BASE + 2 * h].n_rows == 1
        assert self.BASE + 3 * h not in got
        # exactly-once: one row per emitted window
        assert ws3.read_rollup().count() == len(got)


class TestStreamingKmvSketch:
    def test_sketch_state_survives_restart_and_dups(self, spark, tmp_path):
        """The bottom-k state must merge across runs (fresh operator,
        same checkpoint) and be insensitive to re-delivered users: a
        second wave containing only already-seen ids must leave every
        sketch unchanged."""
        import hashlib

        from syncflux_spark.streaming.stateful import StreamingKmvSketch

        src = str(tmp_path / "src")
        rows1 = [(uid, 1_000_000_000, "click", 1.0) for uid in range(100)]
        spark.createDataFrame(
            rows1, "user_id long, ts long, event_type string, value double"
        ).coalesce(1).write.mode("append").parquet(src)

        s1 = StreamingKmvSketch(
            spark, src, str(tmp_path / "dst"), str(tmp_path / "ckpt")
        )
        s1.run_available()
        t1 = {r.event_type: r for r in s1.current_sketches().collect()}
        assert t1["click"].n_sample == 64
        expect_kth = sorted(
            int(hashlib.md5(str(u).encode()).hexdigest()[:12], 16)
            for u in range(100)
        )[63]
        assert t1["click"].kth_hash == expect_kth

        # wave 2: 50 re-delivered ids + 50 new ones
        rows2 = [(uid, 2_000_000_000, "click", 1.0) for uid in range(50, 150)]
        spark.createDataFrame(
            rows2, "user_id long, ts long, event_type string, value double"
        ).coalesce(1).write.mode("append").parquet(src)

        s2 = StreamingKmvSketch(  # fresh object, same checkpoint
            spark, src, str(tmp_path / "dst"), str(tmp_path / "ckpt")
        )
        s2.run_available()
        t2 = {r.event_type: r for r in s2.current_sketches().collect()}
        expect_kth2 = sorted(
            int(hashlib.md5(str(u).encode()).hexdigest()[:12], 16)
            for u in range(150)
        )[63]
        assert t2["click"].kth_hash == expect_kth2
        assert t2["click"].n_sample == 64


class TestStreamingSessionCloser:
    def test_timer_closes_quiet_user_and_restart_is_exactly_once(
        self, spark, tmp_path
    ):
        """A user who stops sending events must still get their
        session closed (event-time TIMER, not new data, triggers it);
        across a restart every session is emitted exactly once and the
        numbering continues."""
        from syncflux_spark.streaming.sessions import StreamingSessionCloser

        t0 = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in µs
        minute = 60_000_000

        def write(name, rows):
            spark.createDataFrame(
                [(u, us) for u, us in rows], "user_id long, us long"
            ).select(
                "user_id", F.timestamp_micros(F.col("us")).alias("ts")
            ).coalesce(1).write.mode("overwrite").parquet(
                str(tmp_path / f"stage_{name}")
            )
            import glob as g
            import shutil

            part = g.glob(str(tmp_path / f"stage_{name}" / "part-*.parquet"))[0]
            shutil.copy(part, str(tmp_path / "src" / f"{name}.parquet"))

        from pyspark.sql import functions as F

        (tmp_path / "src").mkdir()
        # wave 1: user 1 two events 10 min apart; user 2 one event
        write("a", [(1, t0), (1, t0 + 10 * minute), (2, t0)])
        # wave 2: user 1 again 2 h later (new session); user 2 QUIET
        write("b", [(1, t0 + 120 * minute)])

        op = StreamingSessionCloser(
            spark,
            str(tmp_path / "src"),
            str(tmp_path / "dst"),
            str(tmp_path / "ckpt"),
            max_files_per_trigger=1,
        )
        op.run_available()
        rows = {
            (r.user_id, r.session_id): r
            for r in op.closed_sessions().collect()
        }
        # both first sessions closed: user 1 by its own later event,
        # user 2 purely by the timer (no user-2 data after wave 1)
        assert set(rows) == {(1, 1), (2, 1)}
        assert rows[(1, 1)].start_us == t0
        assert rows[(1, 1)].end_us == t0 + 10 * minute
        assert rows[(1, 1)].n_events == 2
        assert rows[(2, 1)].n_events == 1

        # restart: sentinel flushes user 1's open second session
        write("c", [(1, t0 + 525_600 * minute), (2, t0 + 525_600 * minute)])
        op2 = StreamingSessionCloser(  # fresh object, same checkpoint
            spark,
            str(tmp_path / "src"),
            str(tmp_path / "dst"),
            str(tmp_path / "ckpt"),
            max_files_per_trigger=1,
        )
        op2.run_available()
        all_rows = op2.closed_sessions().collect()
        assert len(all_rows) == len(
            {(r.user_id, r.session_id) for r in all_rows}
        ), "a session was emitted twice"
        final = {(r.user_id, r.session_id): r for r in all_rows}
        assert set(final) == {(1, 1), (2, 1), (1, 2)}
        assert final[(1, 2)].start_us == t0 + 120 * minute
        assert final[(1, 2)].n_events == 1


class TestStreamingLshIndex:
    def test_index_matches_batch_and_survives_restart(self, spark, tmp_path):
        """The streamed per-bucket minimum must equal the batch
        groupBy-min over the same corpus (min-wins is delivery-
        insensitive), survive a restart (fresh operator, same
        checkpoint), and ignore re-delivered documents."""
        from pyspark.sql import functions as F

        from syncflux_spark.operators.dedup import band_keys
        from syncflux_spark.streaming.neardup import StreamingLshIndex

        schema = "doc_id long, text string"
        base = "the quick brown fox jumps over the lazy dog "
        rows1 = [
            (10, base * 3),
            (11, base * 3),  # exact dup of 10
            (12, "completely different content with its own shingles"),
            (13, "ab"),  # shorter than the shingle width: dropped
        ]
        src = str(tmp_path / "src")
        spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

        op = StreamingLshIndex(
            spark, src, str(tmp_path / "dst"), str(tmp_path / "ckpt")
        )
        op.run_available()

        batch_docs = spark.createDataFrame(rows1, schema)
        expect = {
            (r.band_id, r.band_key): r.m
            for r in band_keys(batch_docs)
            .groupBy("band_id", "band_key")
            .agg(F.min("doc_id").alias("m"))
            .collect()
        }
        got = {
            (r.band_id, r.band_key): r.min_doc_id
            for r in op.current_index().collect()
        }
        assert got == expect

        dec = {r.doc_id: r for r in op.decisions(batch_docs).collect()}
        assert set(dec) == {10, 11, 12}  # 13 has no shingles
        assert dec[10].canonical_id == 10 and not dec[10].is_dup
        assert dec[11].canonical_id == 10 and dec[11].is_dup
        assert dec[12].canonical_id == 12 and not dec[12].is_dup

        # wave 2: re-deliver doc 11 (no-op) + a new dup of 10 (id 20)
        rows2 = [(11, base * 3), (20, base * 3)]
        spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        op2 = StreamingLshIndex(  # fresh object, same checkpoint
            spark, src, str(tmp_path / "dst"), str(tmp_path / "ckpt")
        )
        op2.run_available()
        all_docs = spark.createDataFrame(rows1 + [(20, base * 3)], schema)
        dec2 = {r.doc_id: r for r in op2.decisions(all_docs).collect()}
        assert dec2[20].canonical_id == 10 and dec2[20].is_dup
        assert dec2[10].canonical_id == 10 and not dec2[10].is_dup

    def test_shard_marker_pins_checkpoint_and_none_derives(
        self, spark, tmp_path
    ):
        """n_shards=None (the r11 default) derives from the measured
        rule and persists the choice next to the checkpoint; a
        restart with None ADOPTS the marker (never re-derives from a
        grown corpus), and an explicit mismatch fails loudly instead
        of silently orphaning all bucket state (ADVICE r10)."""
        import os

        from syncflux_spark.streaming.neardup import (
            StreamingLshIndex,
            shards_for_buckets,
        )

        schema = "doc_id long, text string"
        rows = [(i, f"document number {i} with plenty of text") for i in range(6)]
        src = str(tmp_path / "src")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

        def mk(**kw):
            return StreamingLshIndex(
                spark, src, str(tmp_path / "dst"), str(tmp_path / "ckpt"), **kw
            )

        op = mk()  # n_shards=None
        op.run_available()
        marker = os.path.join(str(tmp_path / "ckpt"), "SYNCFLUX_N_SHARDS")
        derived = int(open(marker).read())
        assert derived == shards_for_buckets(
            spark.sparkContext.defaultParallelism, 2 * len(rows)
        )
        # restart with None adopts the marker even if the corpus grew
        spark.createDataFrame(
            [(100 + i, f"new arrival {i} text body") for i in range(4)], schema
        ).coalesce(1).write.mode("append").parquet(src)
        op2 = mk()
        op2.run_available()
        assert int(open(marker).read()) == derived
        # explicit mismatch: loud failure, state untouched
        import pytest as _pytest

        with _pytest.raises(ValueError, match="orphans all bucket state"):
            mk(n_shards=derived + 1).run_available()
        # explicit match: fine
        mk(n_shards=derived).run_available()

    def test_ingested_decisions_match_reban_probe(self, spark, tmp_path):
        """persist_bands=True: the probe over ingest-persisted band
        rows must produce byte-identical decisions to the re-banding
        probe, across a re-delivery (duplicate band rows collapse in
        the min)."""
        from syncflux_spark.streaming.neardup import StreamingLshIndex

        schema = "doc_id long, text string"
        base = "the quick brown fox jumps over the lazy dog "
        rows = [
            (10, base * 3),
            (11, base * 3),
            (12, "completely different content with its own shingles"),
        ]
        src = str(tmp_path / "src")
        df = spark.createDataFrame(rows, schema).coalesce(1)
        df.write.mode("append").parquet(src)
        df.write.mode("append").parquet(src)  # second delivery

        op = StreamingLshIndex(
            spark,
            src,
            str(tmp_path / "dst"),
            str(tmp_path / "ckpt"),
            max_files_per_trigger=1,
            persist_bands=True,
        )
        op.run_available()
        via_reban = sorted(
            tuple(r)
            for r in op.decisions(
                spark.createDataFrame(rows, schema)
            ).collect()
        )
        via_ingested = sorted(
            tuple(r) for r in op.decisions_ingested().collect()
        )
        assert via_ingested == via_reban
        assert len(via_ingested) == 3

    def test_ingested_bands_requires_flag(self, spark, tmp_path):
        import pytest as _pytest

        from syncflux_spark.streaming.neardup import StreamingLshIndex

        op = StreamingLshIndex(
            spark,
            str(tmp_path / "src"),
            str(tmp_path / "dst"),
            str(tmp_path / "ckpt"),
        )
        with _pytest.raises(ValueError, match="persist_bands"):
            op.ingested_bands()

    def test_markers_resolve_through_hadoop_fs_uri(self, spark, tmp_path):
        """Checkpoint markers must follow the checkpoint's OWN
        filesystem (ADVICE r11): a scheme'd ``file:`` URI — the same
        resolution class as hdfs://, s3a:// — must round-trip the
        n_shards marker (restart adopts it, no re-derive) instead of
        probing a driver-local literal path named after the URI."""
        import os

        from syncflux_spark.streaming.neardup import StreamingLshIndex

        schema = "doc_id long, text string"
        rows = [(i, f"document number {i} with plenty of text") for i in range(6)]
        src = str(tmp_path / "src")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
        ckpt_uri = "file:" + str(tmp_path / "ckpt")

        op = StreamingLshIndex(
            spark, src, str(tmp_path / "dst"), ckpt_uri
        )
        op.run_available()
        # the marker landed inside the resolved checkpoint dir, and no
        # bogus local directory literally named "file:..." was created
        marker = tmp_path / "ckpt" / "SYNCFLUX_N_SHARDS"
        assert marker.exists()
        derived = int(marker.read_text())
        assert not os.path.exists("file:" + str(tmp_path / "ckpt"))
        # grow the corpus; a None restart must ADOPT, not re-derive
        spark.createDataFrame(
            [(100 + i, f"new arrival {i} text body") for i in range(40)],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)
        op2 = StreamingLshIndex(
            spark, src, str(tmp_path / "dst"), ckpt_uri
        )
        op2.run_available()
        assert int(marker.read_text()) == derived

    def test_bands_coverage_marker_guards_both_directions(
        self, spark, tmp_path
    ):
        """The bands sink's from-batch-0 coverage is pinned in a
        checkpoint marker (ADVICE r11): enabling persist_bands on a
        checkpoint that already ingested without it fails loudly
        (the sink would cover a SUBSET), disabling it on a covered
        checkpoint fails loudly (later batches would ingest without
        band rows), and decisions_ingested refuses a checkpoint with
        no coverage claim."""
        import pytest as _pytest

        from syncflux_spark.streaming.neardup import StreamingLshIndex

        schema = "doc_id long, text string"
        base = "the quick brown fox jumps over the lazy dog "
        rows = [(10, base * 3), (11, base * 3)]
        src = str(tmp_path / "src")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

        def mk(**kw):
            return StreamingLshIndex(
                spark, src, str(tmp_path / "dst"), str(tmp_path / "ckpt"), **kw
            )

        mk().run_available()  # batch 0 ingested WITHOUT the bands sink
        spark.createDataFrame(
            [(20, base * 3)], schema
        ).coalesce(1).write.mode("append").parquet(src)
        with _pytest.raises(ValueError, match="subset"):
            mk(persist_bands=True).run_available()
        # the probe refuses the uncovered checkpoint too, even with
        # the flag set on the (fresh) operator object
        with _pytest.raises(ValueError, match="coverage"):
            mk(persist_bands=True).ingested_bands()

        # fresh checkpoint, covered from batch 0 → marker written
        cov = StreamingLshIndex(
            spark,
            src,
            str(tmp_path / "dst2"),
            str(tmp_path / "ckpt2"),
            persist_bands=True,
        )
        cov.run_available()
        assert (tmp_path / "ckpt2" / "SYNCFLUX_BANDS_SINCE").read_text() == "0"
        assert cov.decisions_ingested().count() == 3
        # ...and turning the sink OFF against it is refused
        off = StreamingLshIndex(
            spark, src, str(tmp_path / "dst2"), str(tmp_path / "ckpt2")
        )
        with _pytest.raises(ValueError, match="persist_bands=True"):
            off.run_available()

    def test_ingested_decisions_survive_restart_with_redelivery(
        self, spark, tmp_path
    ):
        """The r11 probe identity across the CHECKPOINT LIFECYCLE
        (VERDICT r11 #6): ingest, restart a fresh operator on the same
        checkpoint with re-delivered + new files, and assert (a) the
        persisted band parquet's duplicate rows collapse in the min,
        (b) decisions_ingested equals a cold decisions() re-band over
        the full corpus."""
        from pyspark.sql import functions as F

        from syncflux_spark.streaming.neardup import StreamingLshIndex

        schema = "doc_id long, text string"
        base = "the quick brown fox jumps over the lazy dog "
        rows1 = [
            (10, base * 3),
            (11, base * 3),
            (12, "completely different content with its own shingles"),
        ]
        src = str(tmp_path / "src")
        spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

        def mk():
            return StreamingLshIndex(
                spark,
                src,
                str(tmp_path / "dst"),
                str(tmp_path / "ckpt"),
                max_files_per_trigger=1,
                persist_bands=True,
            )

        mk().run_available()
        # restart: re-deliver docs 10+11 and add a new dup (20)
        rows2 = [(10, base * 3), (11, base * 3), (20, base * 3)]
        spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        op2 = mk()
        op2.run_available()

        bands = op2.ingested_bands()
        # doc 10 was delivered twice → its band rows appear once per
        # delivery; the min-agg probe must collapse them to ONE row
        per_delivery = (
            bands.where(F.col("doc_id") == 10)
            .groupBy("band_id", "band_key")
            .count()
        )
        assert per_delivery.count() > 0
        assert all(r["count"] == 2 for r in per_delivery.collect())

        all_docs = spark.createDataFrame(rows1 + [(20, base * 3)], schema)
        via_reban = sorted(
            tuple(r) for r in op2.decisions(all_docs).collect()
        )
        via_ingested = sorted(
            tuple(r) for r in op2.decisions_ingested().collect()
        )
        assert via_ingested == via_reban
        assert len(via_ingested) == 4
        dec = {r[0]: r for r in via_ingested}
        assert dec[20][1] == 10 and dec[20][2] is True


class TestStreamingSessionCloserEdges:
    def test_gap_boundary_duplicates_and_singletons(self, spark, tmp_path):
        """The batch islands rule is diff > gap SPLITS (diff == gap
        chains) — pin the closer to the exact boundary, plus duplicate
        timestamps and single-event sessions."""
        import glob as g
        import shutil

        from pyspark.sql import functions as F

        from syncflux_spark.streaming.sessions import StreamingSessionCloser

        t0 = 1_704_067_200_000_000
        gap = 1_800_000_000  # 30 min in µs (operator default)
        rows = [
            # exactly gap apart twice: ONE session of 3
            (1, t0), (1, t0 + gap), (1, t0 + 2 * gap),
            # gap+1 apart: TWO sessions
            (2, t0), (2, t0 + gap + 1),
            # duplicate timestamps: one session, n_events=3
            (3, t0), (3, t0), (3, t0),
            # singleton
            (4, t0),
        ]
        year_us = 31_536_000_000_000
        sentinel = [(u, t0 + year_us) for u in (1, 2, 3, 4)]

        (tmp_path / "src").mkdir()
        for name, batch in (("a_data", rows), ("b_flush", sentinel)):
            spark.createDataFrame(batch, "user_id long, us long").select(
                "user_id", F.timestamp_micros(F.col("us")).alias("ts")
            ).coalesce(1).write.mode("overwrite").parquet(
                str(tmp_path / f"stage_{name}")
            )
            part = g.glob(str(tmp_path / f"stage_{name}" / "part-*.parquet"))[0]
            shutil.copy(part, str(tmp_path / "src" / f"{name}.parquet"))

        op = StreamingSessionCloser(
            spark,
            str(tmp_path / "src"),
            str(tmp_path / "dst"),
            str(tmp_path / "ckpt"),
            max_files_per_trigger=1,
        )
        op.run_available()
        got = {
            (r.user_id, r.session_id): (r.start_us, r.end_us, r.n_events)
            for r in op.closed_sessions().collect()
        }
        assert got == {
            (1, 1): (t0, t0 + 2 * gap, 3),
            (2, 1): (t0, t0, 1),
            (2, 2): (t0 + gap + 1, t0 + gap + 1, 1),
            (3, 1): (t0, t0, 3),
            (4, 1): (t0, t0, 1),
        }


class TestSessionCloserFactsOnly:
    @staticmethod
    def _stage(spark, src_dir, waves, schema="user_id long, us long"):
        """Write each wave as one parquet file with strictly
        increasing mtimes so FileStreamSource delivery order is
        pinned."""
        import glob as g
        import os
        import shutil

        from pyspark.sql import functions as F

        src_dir.mkdir(parents=True, exist_ok=True)
        for i, (name, batch) in enumerate(waves):
            stage = src_dir.parent / f"stage_{name}"
            spark.createDataFrame(batch, schema).select(
                "user_id", F.timestamp_micros(F.col("us")).alias("ts")
            ).coalesce(1).write.mode("overwrite").parquet(str(stage))
            part = g.glob(str(stage / "part-*.parquet"))[0]
            dst = str(src_dir / f"{name}.parquet")
            shutil.copy(part, dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    def test_facts_match_numbered_output_minus_session_id(
        self, spark, tmp_path
    ):
        """numbering=False must emit exactly the numbered mode's
        sessions minus the id column, and a key whose state was
        REMOVED on drain must restart cleanly when it reappears."""
        from syncflux_spark.streaming.sessions import StreamingSessionCloser

        t0 = 1_704_067_200_000_000
        gap = 1_800_000_000
        year = 31_536_000_000_000
        rows = [
            (1, t0), (1, t0 + gap), (1, t0 + 2 * gap),
            (2, t0), (2, t0 + gap + 1),
            (3, t0),
        ]
        waves = [
            ("a_data", rows),
            # closes every open island above; users 1-3 DRAIN (their
            # sentinel island stays open only for user 9, the pump)
            ("b_flush", [(9, t0 + year)]),
            # user 1 REAPPEARS after its state row was removed
            ("c_return", [(1, t0 + year + gap + 1)]),
            ("d_flush", [(9, t0 + 2 * year)]),
        ]
        self._stage(spark, tmp_path / "src", waves)
        op = StreamingSessionCloser(
            spark,
            str(tmp_path / "src"),
            str(tmp_path / "dst"),
            str(tmp_path / "ckpt"),
            max_files_per_trigger=1,
            numbering=False,
        )
        op.run_available()
        df = op.closed_sessions()
        assert df.columns == ["user_id", "start_us", "end_us", "n_events"]
        got = sorted(tuple(r) for r in df.collect())
        assert got == sorted(
            [
                (1, t0, t0 + 2 * gap, 3),
                (2, t0, t0, 1),
                (2, t0 + gap + 1, t0 + gap + 1, 1),
                (3, t0, t0, 1),
                # the post-removal return closed as its own fact
                (1, t0 + year + gap + 1, t0 + year + gap + 1, 1),
                # the pump's first sentinel closed when its second
                # arrived a year later
                (9, t0 + year, t0 + year, 1),
            ]
        )

    def test_string_keyed_stream_works_end_to_end(self, spark, tmp_path):
        """The key column keeps its source type (ADVICE r9: the old
        hardcoded LongType schema broke string keys with an opaque
        Arrow error)."""
        from syncflux_spark.streaming.sessions import StreamingSessionCloser

        t0 = 1_704_067_200_000_000
        waves = [
            ("a_data", [("alice", t0), ("alice", t0 + 60_000_000)]),
            ("b_flush", [("pump", t0 + 31_536_000_000_000)]),
        ]
        self._stage(
            spark, tmp_path / "src", waves, schema="user_id string, us long"
        )
        op = StreamingSessionCloser(
            spark,
            str(tmp_path / "src"),
            str(tmp_path / "dst"),
            str(tmp_path / "ckpt"),
            max_files_per_trigger=1,
        )
        op.run_available()
        rows = op.closed_sessions().collect()
        assert [(r.user_id, r.session_id, r.n_events) for r in rows] == [
            ("alice", 1, 2)
        ]

    def test_facts_state_removal_matches_hdfs_on_rocksdb(
        self, spark, tmp_path
    ):
        """facts-only is the one operator that calls state.remove()
        on drained keys — a provider-specific codepath no other
        backend test exercises (numbering mode never removes). Same
        fixture on both backends must close identical sessions AND
        leave the identical (pump-only) store."""
        from syncflux_spark.streaming.sessions import StreamingSessionCloser

        t0 = 1_704_067_200_000_000
        gap = 1_800_000_000
        year = 31_536_000_000_000
        waves = [
            ("a_data", [(1, t0), (1, t0 + gap), (2, t0), (3, t0)]),
            ("b_flush", [(9, t0 + year)]),
            ("c_return", [(1, t0 + year + gap + 1)]),
            ("d_flush", [(9, t0 + 2 * year)]),
        ]
        results = {}
        for backend in ("hdfs", "rocksdb"):
            base = tmp_path / backend
            self._stage(spark, base / "src", waves)
            op = StreamingSessionCloser(
                spark,
                str(base / "src"),
                str(base / "dst"),
                str(base / "ckpt"),
                max_files_per_trigger=1,
                state_partitions=2,
                state_backend=backend,
                numbering=False,
            )
            op.run_available()
            closed = sorted(tuple(r) for r in op.closed_sessions().collect())
            state_keys = sorted(
                r.key.user_id
                for r in spark.read.format("statestore")
                .load(str(base / "ckpt"))
                .collect()
            )
            results[backend] = (closed, state_keys)
        assert results["rocksdb"] == results["hdfs"]
        closed, state_keys = results["hdfs"]
        assert len(closed) == 5  # 1's two islands, 2, 3, pump's first
        assert state_keys == [9], "drained keys must leave the store"

    def test_bad_key_or_time_type_fails_fast(self, spark, tmp_path):
        """Clear TypeError at startup, not an opaque analysis error
        deep inside applyInPandasWithState."""
        import pytest

        from syncflux_spark.streaming.sessions import StreamingSessionCloser

        src = str(tmp_path / "src")
        spark.createDataFrame(
            [(1, 1_704_067_200_000_000_000)], "user_id long, ts long"
        ).write.parquet(src)

        def mk(**kw):
            return StreamingSessionCloser(
                spark, src, str(tmp_path / "dst"), str(tmp_path / "ckpt"), **kw
            )

        with pytest.raises(TypeError, match="must be TimestampType"):
            mk().run_available()  # ns-long ts column
        with pytest.raises(TypeError, match="not in source schema"):
            mk(key_col="nope").run_available()


class TestSessionCloserRocksdbTimers:
    def test_event_time_timers_match_hdfs_backend(self, spark, tmp_path):
        """EventTimeTimeout timers live IN the state store — a
        provider with a different timer codepath could drop or
        double-fire them. Run the gap/duplicate/singleton fixture on
        both backends and require identical closed sessions."""
        import glob as g
        import shutil

        from pyspark.sql import functions as F

        from syncflux_spark.streaming.sessions import StreamingSessionCloser

        t0 = 1_704_067_200_000_000
        gap = 1_800_000_000
        rows = [
            (1, t0), (1, t0 + gap), (1, t0 + 2 * gap),
            (2, t0), (2, t0 + gap + 1),
            (3, t0), (3, t0), (3, t0),
            (4, t0),
        ]
        sentinel = [(u, t0 + 31_536_000_000_000) for u in (1, 2, 3, 4)]
        results = {}
        for backend in ("hdfs", "rocksdb"):
            base = tmp_path / backend
            (base / "src").mkdir(parents=True)
            for name, batch in (("a_data", rows), ("b_flush", sentinel)):
                spark.createDataFrame(
                    batch, "user_id long, us long"
                ).select(
                    "user_id", F.timestamp_micros(F.col("us")).alias("ts")
                ).coalesce(1).write.mode("overwrite").parquet(
                    str(base / f"stage_{name}")
                )
                part = g.glob(str(base / f"stage_{name}" / "part-*.parquet"))[0]
                shutil.copy(part, str(base / "src" / f"{name}.parquet"))
            op = StreamingSessionCloser(
                spark,
                str(base / "src"),
                str(base / "dst"),
                str(base / "ckpt"),
                max_files_per_trigger=1,
                state_partitions=2,
                state_backend=backend,
            )
            op.run_available()
            results[backend] = sorted(
                tuple(r) for r in op.closed_sessions().collect()
            )
        assert results["rocksdb"] == results["hdfs"]
        assert len(results["hdfs"]) == 5


class TestNeardupRocksdbShardMaps:
    def test_shard_map_state_matches_hdfs_backend(self, spark, tmp_path):
        """The index's state values are parallel ARRAYS (a shard's
        whole bucket map) — a large-value shape no other backend test
        exercises. Same corpus on both providers must yield the same
        decisions."""
        from syncflux_spark.streaming.neardup import StreamingLshIndex

        schema = "doc_id long, text string"
        base_txt = "the quick brown fox jumps over the lazy dog "
        rows = [
            (10, base_txt * 3),
            (11, base_txt * 3),
            (12, "completely different content with its own shingles"),
        ]
        results = {}
        for backend in ("hdfs", "rocksdb"):
            broot = tmp_path / backend
            src = str(broot / "src")
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            op = StreamingLshIndex(
                spark,
                src,
                str(broot / "dst"),
                str(broot / "ckpt"),
                state_partitions=2,
                state_backend=backend,
            )
            op.run_available()
            results[backend] = sorted(
                tuple(r)
                for r in op.decisions(
                    spark.createDataFrame(rows, schema)
                ).collect()
            )
        assert results["rocksdb"] == results["hdfs"]
        assert len(results["hdfs"]) == 3


class TestLshShardSizing:
    def test_measured_calibration_points(self):
        """Pin the sizing rule to the tools/measure_lsh_shards.py A/B
        (SCALE.md r10): at 32 cores the winner is 64 shards across
        every measured bucket count (7.1k/41k/84k), i.e. the
        2×parallelism floor binds until ~66k buckets and the quotient
        takes over after."""
        from syncflux_spark.streaming.neardup import shards_for_buckets

        assert shards_for_buckets(32, 7_136) == 64  # x1: floor binds
        assert shards_for_buckets(32, 41_065) == 64  # x10: floor binds
        assert shards_for_buckets(32, 84_019) == 82  # x30: quotient
        # dispatch cap: 8 shards/core no matter how many buckets
        assert shards_for_buckets(32, 10**9) == 256
        # cluster-scale: 8000 cores, 1e9 buckets → quotient in band
        assert shards_for_buckets(8_000, 10**9) == 64_000
        # degenerate inputs stay sane
        assert shards_for_buckets(4, 0) == 8
        import pytest

        with pytest.raises(ValueError):
            shards_for_buckets(4, -1)


class TestStreamingNeardupPlan:
    def test_probe_is_equi_join_no_python(self, spark, tmp_path):
        """The decisions() probe must plan as an equality join on the
        bucket key — never a nested-loop/cartesian — and the whole
        batch side stays JVM-side (band keys are built-in md5/substr
        expressions, no Python eval)."""
        from pyspark.sql import functions as F

        from syncflux_spark.operators.dedup import band_keys
        from syncflux_spark.streaming.neardup import StreamingLshIndex

        docs = spark.createDataFrame(
            [(i, f"document number {i} with some shared text") for i in range(20)],
            "doc_id long, text string",
        )
        # stand in for a streamed index: one committed batch directory
        band_keys(docs).groupBy("band_id", "band_key").agg(
            F.min("doc_id").alias("min_doc_id")
        ).write.parquet(str(tmp_path / "dst" / "batch=0"))
        op = StreamingLshIndex(
            spark,
            str(tmp_path / "src"),
            str(tmp_path / "dst"),
            str(tmp_path / "ckpt"),
        )
        plan = op.decisions(docs)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestCdcMergeStream:
    """Streaming MERGE: sequential batches across restarts equal the
    one-shot merge; replayed change files are no-ops."""

    @staticmethod
    def _base(spark, path):
        from syncflux_spark.txtable import TxTable

        rows = [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)]
        TxTable.create(
            spark, path,
            spark.createDataFrame(rows, "k long, status string, price double"),
        )

    @staticmethod
    def _changes(spark, path, rows):
        spark.createDataFrame(
            rows, "k long, op string, status string, price double"
        ).coalesce(1).write.mode("append").parquet(path)

    def test_cross_restart_merge(self, spark, tmp_path):
        from syncflux_spark.streaming.cdc import CdcMergeStream

        base = str(tmp_path / "base")
        ch = str(tmp_path / "ch")
        ckpt = str(tmp_path / "ckpt")
        self._base(spark, base)
        self._changes(spark, ch, [(2, "U", "b2", 22.0), (3, "D", None, None)])

        s1 = CdcMergeStream(spark, ch, base, ckpt, key_col="k")
        assert s1.run_available() == 1
        got = {r.k: (r.status, r.price) for r in s1.read_base().collect()}
        assert got == {1: ("a", 10.0), 2: ("b2", 22.0), 4: ("d", 40.0)}

        # job down; more changes arrive; restart with same checkpoint
        self._changes(
            spark, ch, [(5, "I", "e", 50.0), (4, "U", "d2", 44.0)]
        )
        s2 = CdcMergeStream(spark, ch, base, ckpt, key_col="k")
        assert s2.run_available() == 1  # only the NEW file is a batch
        got = {r.k: (r.status, r.price) for r in s2.read_base().collect()}
        assert got == {
            1: ("a", 10.0),
            2: ("b2", 22.0),
            4: ("d2", 44.0),
            5: ("e", 50.0),
        }

    def test_restart_without_new_changes_is_noop(self, spark, tmp_path):
        from syncflux_spark.streaming.cdc import CdcMergeStream

        base = str(tmp_path / "base")
        ch = str(tmp_path / "ch")
        ckpt = str(tmp_path / "ckpt")
        self._base(spark, base)
        self._changes(spark, ch, [(1, "D", None, None)])
        s1 = CdcMergeStream(spark, ch, base, ckpt, key_col="k")
        s1.run_available()
        before = sorted(map(tuple, s1.read_base().collect()))
        s2 = CdcMergeStream(spark, ch, base, ckpt, key_col="k")
        assert s2.run_available() == 0
        assert sorted(map(tuple, s2.read_base().collect())) == before

    def test_multi_file_same_key_applies_last(self, spark, tmp_path):
        """availableNow with no maxFilesPerTrigger folds all pending
        change files into ONE micro-batch; an I-then-U and a U-then-D
        sequence for one key across files must land as the final
        state, not as duplicate/conflicting merged rows."""
        import time

        from syncflux_spark.streaming.cdc import CdcMergeStream

        base = str(tmp_path / "base")
        ch = str(tmp_path / "ch")
        ckpt = str(tmp_path / "ckpt")
        self._base(spark, base)
        # file 1: insert k=7, update k=2
        self._changes(spark, ch, [(7, "I", "g", 70.0), (2, "U", "b2", 22.0)])
        time.sleep(1.1)  # distinct mtime → well-ordered file sequence
        # file 2: update the just-inserted k=7, delete the updated k=2
        self._changes(spark, ch, [(7, "U", "g2", 77.0), (2, "D", None, None)])

        s = CdcMergeStream(spark, ch, base, ckpt, key_col="k")
        assert s.run_available() == 1  # both files in one batch
        got = {r.k: (r.status, r.price) for r in s.read_base().collect()}
        assert got == {
            1: ("a", 10.0),
            3: ("c", 30.0),
            4: ("d", 40.0),
            7: ("g2", 77.0),
        }
        # exactly one row per key — no duplicate merge artifacts
        n = s.read_base().count()
        assert n == len(got)

    def test_same_key_twice_in_one_file_raises(self, spark, tmp_path):
        from syncflux_spark.operators.cdc import DuplicateChangeKeyError
        from syncflux_spark.streaming.cdc import CdcMergeStream

        base = str(tmp_path / "base")
        ch = str(tmp_path / "ch")
        ckpt = str(tmp_path / "ckpt")
        self._base(spark, base)
        self._changes(
            spark, ch, [(2, "U", "x", 1.0), (2, "D", None, None)]
        )
        s = CdcMergeStream(spark, ch, base, ckpt, key_col="k")
        with pytest.raises(
            Exception, match="ambiguous|DuplicateChangeKey"
        ):
            s.run_available()

    def test_explicit_seq_col_orders_within_file(self, spark, tmp_path):
        """A feed carrying its own LSN can sequence multiple changes
        for one key even inside a single file."""
        from syncflux_spark.streaming.cdc import CdcMergeStream

        base = str(tmp_path / "base")
        ch = str(tmp_path / "ch")
        ckpt = str(tmp_path / "ckpt")
        self._base(spark, base)
        spark.createDataFrame(
            [
                (2, 1, "U", "first", 1.0),
                (2, 2, "U", "last", 2.0),
                (5, 1, "I", "e", 50.0),
            ],
            "k long, lsn long, op string, status string, price double",
        ).coalesce(1).write.mode("append").parquet(ch)
        s = CdcMergeStream(spark, ch, base, ckpt, key_col="k", seq_col="lsn")
        s.run_available()
        got = {r.k: (r.status, r.price) for r in s.read_base().collect()}
        assert got[2] == ("last", 2.0)
        assert got[5] == ("e", 50.0)

    def test_replayed_batch_is_idempotent(self, spark, tmp_path):
        """Re-applying a batch by hand (simulating a crash between
        base swap and checkpoint commit) leaves the base unchanged."""
        from syncflux_spark.streaming.cdc import CdcMergeStream

        base = str(tmp_path / "base")
        ch = str(tmp_path / "ch")
        ckpt = str(tmp_path / "ckpt")
        self._base(spark, base)
        rows = [(2, "U", "b2", 22.0), (3, "D", None, None), (9, "I", "i", 90.0)]
        self._changes(spark, ch, rows)
        s = CdcMergeStream(spark, ch, base, ckpt, key_col="k")
        s.run_available()
        once = sorted(map(tuple, s.read_base().collect()))
        batch = spark.createDataFrame(
            rows, "k long, op string, status string, price double"
        )
        s._apply_batch(batch, batch_id=99)  # replay
        assert sorted(map(tuple, s.read_base().collect())) == once

    def test_merges_keep_at_most_two_bases_on_disk(self, spark, tmp_path):
        """Each merge deletes the base the previous merge replaced:
        three one-file batches leave the live base plus the one it
        replaced (the parent left all four), and the merged state is
        that of every batch applied."""
        from syncflux_spark.streaming.cdc import CdcMergeStream

        base = str(tmp_path / "base")
        ch = str(tmp_path / "ch")
        ckpt = str(tmp_path / "ckpt")
        self._base(spark, base)
        self._changes(spark, ch, [(2, "U", "b2", 22.0)])
        self._changes(spark, ch, [(3, "D", None, None)])
        self._changes(spark, ch, [(5, "I", "e", 50.0)])
        s = CdcMergeStream(
            spark, ch, base, ckpt, key_col="k", max_files_per_trigger=1
        )
        assert s.run_available() == 3
        assert len(os.listdir(os.path.join(base, "data"))) <= 2
        got = {r.k: (r.status, r.price) for r in s.read_base().collect()}
        assert got == {
            1: ("a", 10.0),
            2: ("b2", 22.0),
            4: ("d", 40.0),
            5: ("e", 50.0),
        }


class TestStreamingQuantileSketch:
    def test_state_survives_restart_and_matches_batch(self, spark, tmp_path):
        """The (priority, value) bottom-k state must merge across
        runs and be duplicate-insensitive, and the quantiles read off
        the streamed state must equal the batch sketch's exactly."""
        from syncflux_spark.operators.sketches import (
            qsk_build,
            qsk_quantiles,
        )
        from syncflux_spark.streaming.stateful import StreamingQuantileSketch

        src = str(tmp_path / "src")
        schema = "event_id long, ts long, event_type string, value double"
        rows1 = [(i, 1_000_000_000, "click", float(i % 37)) for i in range(400)]
        spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

        s1 = StreamingQuantileSketch(
            spark, src, str(tmp_path / "dst"), str(tmp_path / "ckpt")
        )
        s1.run_available()

        # wave 2: 200 re-delivered rows + 200 new ones, fresh operator
        rows2 = [(i, 2_000_000_000, "click", float(i % 37)) for i in range(200, 600)]
        spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        s2 = StreamingQuantileSketch(
            spark, src, str(tmp_path / "dst"), str(tmp_path / "ckpt")
        )
        s2.run_available()
        got = {r.event_type: r for r in s2.current_sketches().collect()}

        # batch reference over the DEDUPED union (rows 0..599 once)
        all_rows = [(i, 0, "click", float(i % 37)) for i in range(600)]
        batch = spark.createDataFrame(all_rows, schema)
        ref = qsk_quantiles(
            qsk_build(batch, "value", "event_id", ["event_type"], k=256),
            ["event_type"],
        ).collect()[0]
        g = got["click"]
        assert (g.n_sample, g.p50, g.p90, g.p99) == (
            ref.n_sample,
            ref.p50,
            ref.p90,
            ref.p99,
        )


class TestStatePartitionsKnob:
    """Pin utils.shuffle_partitions' streaming contract: the knob
    sizes the state store's SHARD COUNT at first batch, the session
    conf is restored afterwards, and the checkpoint freezes the count
    for every later run regardless of the session conf — the three
    facts the 5× streaming-family win rests on."""

    BASE = 1704067200

    def _write(self, spark, path, minutes):
        data = [
            (i, (self.BASE + 60 * m) * 1_000_000_000, 1, "a", 1.5, "{}")
            for i, m in enumerate(minutes)
        ]
        spark.createDataFrame(
            data,
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("append").parquet(path)

    def test_shard_count_pinned_and_conf_restored(self, spark, tmp_path):
        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        ckpt = str(tmp_path / "ckpt")
        self._write(spark, src, [10, 20, 90])

        before = spark.conf.get("spark.sql.shuffle.partitions")
        ws = WindowedRollupStream(spark, src, dst, ckpt, state_partitions=3)
        ws.run_available()
        # session conf untouched after the run
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
        state0 = os.path.join(ckpt, "state", "0")
        shards = sorted(int(d) for d in os.listdir(state0) if d.isdigit())
        assert shards == [0, 1, 2]

        # a restart WITHOUT the knob inherits the checkpoint-frozen
        # count, not the (larger) session conf — proving the dial must
        # be set before the FIRST run, as the docstring warns
        self._write(spark, src, [150, 210])
        ws2 = WindowedRollupStream(spark, src, dst, ckpt)
        ws2.run_available()
        shards2 = sorted(int(d) for d in os.listdir(state0) if d.isdigit())
        assert shards2 == [0, 1, 2]
        # and the rollup still emits correctly through the resize-free replay
        assert ws2.read_rollup().count() >= 2


class TestStateBackendKnob:
    """Pin utils.streaming_state's provider dial: RocksDB runs the
    same stream end-to-end with identical emitted results, leaves
    RocksDB artifacts in the checkpoint, restores the session conf,
    and rejects unknown backends."""

    BASE = 1704067200

    def _write(self, spark, path, minutes):
        data = [
            (i, (self.BASE + 60 * m) * 1_000_000_000, 1, "a", 1.5, "{}")
            for i, m in enumerate(minutes)
        ]
        spark.createDataFrame(
            data,
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("append").parquet(path)

    def test_rocksdb_end_to_end_matches_hdfs(self, spark, tmp_path):
        minutes = [10, 20, 90, 110, 150, 210]
        results = {}
        for backend in ("hdfs", "rocksdb"):
            src = str(tmp_path / backend / "src")
            self._write(spark, src, minutes)
            key = "spark.sql.streaming.stateStore.providerClass"
            before = spark.conf.get(key)
            ws = WindowedRollupStream(
                spark,
                src,
                str(tmp_path / backend / "dst"),
                str(tmp_path / backend / "ckpt"),
                state_partitions=2,
                state_backend=backend,
            )
            ws.run_available()
            assert spark.conf.get(key) == before  # restored
            results[backend] = sorted(
                (r.bucket_s, r.event_type, r.n_rows, r.sum_value_micro)
                for r in ws.read_rollup().collect()
            )
        # provider choice cannot change emitted data
        assert results["rocksdb"] == results["hdfs"]
        assert len(results["hdfs"]) >= 2

        # RocksDB leaves its own artifact layout (zip snapshots /
        # changelogs) under the shard dirs; HDFS leaves .delta files
        import glob

        rocks = glob.glob(
            str(tmp_path / "rocksdb" / "ckpt" / "state" / "0" / "*" / "*.zip")
        ) + glob.glob(
            str(tmp_path / "rocksdb" / "ckpt" / "state" / "0" / "*" / "*.changelog")
        )
        assert rocks, "no RocksDB snapshot artifacts found in the checkpoint"
        hdfs = glob.glob(
            str(tmp_path / "hdfs" / "ckpt" / "state" / "0" / "*" / "*.delta")
        )
        assert hdfs, "no HDFS-provider delta files found in the checkpoint"

    def test_unknown_backend_raises(self, spark, tmp_path):
        src = str(tmp_path / "src")
        self._write(spark, src, [10, 90])
        ws = WindowedRollupStream(
            spark, src, str(tmp_path / "dst"), str(tmp_path / "ckpt"),
            state_backend="bogus",
        )
        with pytest.raises(ValueError, match="state_backend"):
            ws.run_available()
