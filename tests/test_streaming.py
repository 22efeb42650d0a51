"""Streaming replication + monitor state machine tests (SURVEY §5.4:
gap-backfill parity — stop the sink, advance the source, restart,
assert the missed window is backfilled)."""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

from syncflux_spark.streaming import ClusterState, HAMonitor, ReplicationStream


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
        """A raising backfill leaves the cluster down with the gap
        intact; the next tick with the slave up retries the same gap
        and only a backfill that succeeds counts as a recovery."""
        t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
        slave_alive = {"v": True}
        fail = {"v": True}
        gaps = []

        def recover(s, e):
            gaps.append((s, e))
            if fail["v"]:
                raise RuntimeError("backfill failed")

        m = HAMonitor(
            master_probe=lambda: True,
            slave_probe=lambda: slave_alive["v"],
            recover=recover,
            check_interval=timedelta(seconds=10),
        )
        m.check_once(t0)
        slave_alive["v"] = False
        m.check_once(t0 + timedelta(seconds=10))
        slave_alive["v"] = True
        st = m.check_once(t0 + timedelta(seconds=20))  # recover raises
        assert st.cluster_state == ClusterState.CHECK_SLAVE_DOWN
        assert st.num_recovers == 0
        assert st.slave_last_ok == t0
        assert st.recovering_since is None

        fail["v"] = False
        st = m.check_once(t0 + timedelta(seconds=30))  # retry succeeds
        assert st.cluster_state == ClusterState.OK
        assert st.num_recovers == 1
        assert st.slave_last_ok == t0 + timedelta(seconds=30)
        gap_start = t0 - timedelta(seconds=10)
        assert gaps == [
            (gap_start, t0 + timedelta(seconds=20)),
            (gap_start, t0 + timedelta(seconds=30)),
        ]

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


def test_second_run_available_runs_only_its_micro_batches(spark, tmp_path):
    """The source schema is inferred once per stream instance: a second
    run_available starts no job from the calling thread (an inference
    job would run there, in the caller's job group); its micro-batches
    run in the stream's own group."""
    src, dst, ckpt = (str(tmp_path / d) for d in ("src", "dst", "ckpt"))
    _write_src(spark, src, range(5))
    stream = ReplicationStream(spark, src, dst, ckpt)
    stream.run_available()
    _write_src(spark, src, range(5, 9))
    sc = spark.sparkContext
    sc.setJobGroup("second-run", "caller")
    try:
        assert stream.run_available() == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("second-run") == []
    assert stream.read_replica().count() == 9
