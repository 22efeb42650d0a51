from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from syncflux_spark.session import get_spark

    s = get_spark("syncflux-tests", master="local[4]")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def events(spark, sf_dir):
    from syncflux_spark.sources.parquet import load_table

    return load_table(spark, sf_dir, "events")


class RoundTrips:
    """Counts py4j commands the Python side sends to the JVM while the
    ``with`` block runs, from any thread. Memory commands (py4j
    releasing JVM objects that Python garbage-collected) do not count:
    py4j sends them from its own thread whenever collection happens."""

    def __init__(self):
        import threading

        self.n = 0
        self._lock = threading.Lock()
        self._counting = False

    def __enter__(self):
        self.n, self._counting = 0, True
        return self

    def __exit__(self, *exc):
        self._counting = False

    def _count(self):
        if self._counting:
            with self._lock:
                self.n += 1


@pytest.fixture()
def py4j_round_trips(monkeypatch) -> RoundTrips:
    """A :class:`RoundTrips` wired into py4j's client-server connection
    for one test."""
    from py4j.clientserver import ClientServerConnection

    trips = RoundTrips()
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\n"):
            trips._count()
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    return trips
