"""Cluster health monitor + recovery state machine (status parity).

Re-expresses the reference's observable monitoring surface
(SURVEY §2.6):

- M1 ``InfluxMonitor``: periodic liveness probe per endpoint
  (pkg/agent/influxmonitor.go:164-187, probe 48-94).
- M2 ``HACluster.SuperVisor``/``checkCluster``: the
  ``OK → CHECK_SLAVE_DOWN → RECOVERING → OK`` state machine
  (pkg/agent/hacluster.go:259-390), including the missed-window
  bookkeeping (``SlaveLastOK - CheckInterval`` start,
  hacluster.go:310,321) and ``ClusterNumRecovers``.
- M4 ``GetStatus`` snapshot (hacluster.go:58-72).

With Structured Streaming the *data* recovery is the checkpoint's job
(see replicate.py); this state machine exists so the engine reports
the same operational states the reference exposes over its HTTP API.
Pure driver-side code — no data-plane cost.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from enum import Enum
from typing import Callable


class ClusterState(str, Enum):
    """hacluster.go:264-370 states."""

    OK = "OK"
    CHECK_SLAVE_DOWN = "CHECK_SLAVE_DOWN"
    RECOVERING = "RECOVERING"


@dataclass
class ClusterStatus:
    """ClusterStatus (pkg/agent/hacluster.go:46-56)."""

    cluster_state: ClusterState = ClusterState.OK
    master_state: bool = True
    slave_state: bool = True
    master_last_ok: datetime | None = None
    slave_last_ok: datetime | None = None
    num_recovers: int = 0
    last_recovery_duration: float = 0.0
    recovering_since: datetime | None = None


def _utcnow() -> datetime:
    return datetime.now(timezone.utc)


class HAMonitor:
    """Drives the state machine off two liveness probes.

    probes: callables returning bool (master alive / slave alive) —
    e.g. 'directory readable', 'SELECT 1 works', 'sink writable'.
    recover: callable(start, end) that backfills the missed window —
    normally ``ReplicationStream.run_available`` (which ignores the
    window because the checkpoint already knows it; the window is
    passed for report parity with hacluster.go:310-321).
    """

    def __init__(
        self,
        master_probe: Callable[[], bool],
        slave_probe: Callable[[], bool],
        recover: Callable[[datetime, datetime], None] | None = None,
        check_interval: timedelta = timedelta(seconds=10),
    ):
        self.master_probe = master_probe
        self.slave_probe = slave_probe
        self.recover = recover
        self.check_interval = check_interval
        self.status = ClusterStatus()
        self._lock = threading.RLock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    # -- M1: probe + update ------------------------------------------------
    def check_once(self, now: datetime | None = None) -> ClusterStatus:
        """One supervisor tick (checkCluster, hacluster.go:266-370).

        The probes and the backfill run outside the status lock, so
        ``get_status()`` never waits on them: the ``RECOVERING``
        transition is committed under the lock first, and other
        threads see it for as long as ``recover`` runs."""
        now = now or _utcnow()
        master_ok = self._safe(self.master_probe)
        slave_ok = self._safe(self.slave_probe)
        recovering = False
        with self._lock:
            st = self.status
            st.master_state = master_ok
            st.slave_state = slave_ok
            if master_ok:
                st.master_last_ok = now
            if st.cluster_state == ClusterState.OK:
                if slave_ok:
                    st.slave_last_ok = now
                else:
                    # hacluster.go:294-313: mark down; remember the
                    # last-known-good minus one interval as gap start
                    st.cluster_state = ClusterState.CHECK_SLAVE_DOWN
            elif st.cluster_state == ClusterState.CHECK_SLAVE_DOWN and slave_ok:
                st.cluster_state = ClusterState.RECOVERING
                st.recovering_since = now
                gap_start = (st.slave_last_ok or now) - self.check_interval
                recovering = True
            # a tick that meets RECOVERING (another tick's backfill is
            # still running) only refreshes the probe states
            if not recovering:
                return self.get_status()
        t0 = time.monotonic()
        if self.recover is not None:
            self._safe(lambda: self.recover(gap_start, now))
        with self._lock:
            st.last_recovery_duration = time.monotonic() - t0
            st.num_recovers += 1
            st.slave_last_ok = now
            st.cluster_state = ClusterState.OK
            st.recovering_since = None
            return self.get_status()

    @staticmethod
    def _safe(fn) -> bool:
        try:
            out = fn()
            return out is None or bool(out)  # None-returning recover → ok
        except Exception:  # noqa: BLE001 — probe failure means "down"
            return False

    # -- M4: snapshot -------------------------------------------------------
    def get_status(self) -> ClusterStatus:
        with self._lock:
            s = self.status
            return ClusterStatus(
                cluster_state=s.cluster_state,
                master_state=s.master_state,
                slave_state=s.slave_state,
                master_last_ok=s.master_last_ok,
                slave_last_ok=s.slave_last_ok,
                num_recovers=s.num_recovers,
                last_recovery_duration=s.last_recovery_duration,
                recovering_since=s.recovering_since,
            )

    # -- M1/M2 tickers ------------------------------------------------------
    def start(self) -> None:
        """Background supervision at check_interval cadence
        (StartMonitor/SuperVisor goroutines, influxmonitor.go:164,
        hacluster.go:259)."""
        if self._thread is not None:
            return
        self._stop.clear()

        def loop():
            while not self._stop.wait(self.check_interval.total_seconds()):
                self.check_once()

        self._thread = threading.Thread(target=loop, daemon=True, name="ha-monitor")
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
