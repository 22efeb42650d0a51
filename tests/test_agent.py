"""C3/C4 orchestration tests: replicate_data over a small
catalog warehouse — the agent-layer loop (hacluster.go:213-256) on top
of the chunk-sync engine."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest

from syncflux_spark.agent import replicate_data
from syncflux_spark.catalog import FieldSch, MeasurementSch, RetPol, SparkCatalog
from syncflux_spark.functions.time import copy_window, parse_duration
from syncflux_spark.operators.copy import read_copied

BASE = datetime(2024, 3, 1, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("agent_wh")
    cat = SparkCatalog(spark)
    db = "agentdb"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    cat.create_db(db)
    rp = RetPol(name="autogen", duration="720h", default=True)
    meas = MeasurementSch(
        name="cpu", fields={"usage": FieldSch("usage", "float")}, tags=["host"]
    )
    cat.create_measurement(db, rp, meas, location=str(root / "cpu"))
    rows = [
        (
            int((BASE + timedelta(hours=h)).timestamp() * 1e9),
            BASE + timedelta(hours=h),
            f"h{h % 2}",
            float(h),
        )
        for h in range(48)
    ]
    spark.createDataFrame(
        rows, "time_ns long, ts timestamp, host string, usage double"
    ).write.insertInto(f"`{db}`.`autogen__cpu`")
    yield cat, db
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_replicate_data_window(spark, warehouse, tmp_path):
    cat, db = warehouse
    schema = cat.get_schema(db_filter=f"^{db}$")
    reports = replicate_data(
        spark, cat, schema, str(tmp_path),
        lambda rp: (BASE, BASE + timedelta(hours=24)),
        chunk="12h", num_workers=2,
    )
    assert len(reports) == 1 and reports[0].bad_chunks == []
    back = read_copied(spark, f"{tmp_path}/{db}/autogen", "cpu")
    assert back.count() == 24  # half-open window: hours 0..23


def test_replicate_data_full_clamps_to_rp(spark, warehouse, tmp_path):
    cat, db = warehouse
    schema = cat.get_schema(db_filter=f"^{db}$")
    now = BASE + timedelta(hours=48)
    maxret = parse_duration("8760h")
    reports = replicate_data(
        spark, cat, schema, str(tmp_path),
        lambda rp: copy_window(rp.duration, maxret, now),
        chunk="24h", num_workers=2,
    )
    assert len(reports) == 1 and reports[0].bad_chunks == []
    back = read_copied(spark, f"{tmp_path}/{db}/autogen", "cpu")
    # RP duration 720h covers everything written
    assert back.count() == 48


class JobProbe:
    """Spark jobs run between two marker jobs, found through the status
    tracker by their job groups — jobs from any thread count."""

    def __init__(self, spark):
        self.sc, self.ids = spark.sparkContext, []

    def probe(self) -> None:
        group = f"job-probe-{len(self.ids)}"
        self.sc.setJobGroup(group, "job-id probe")
        try:
            self.sc.parallelize([0], 1).count()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.ids.append(self.sc.statusTracker().getJobIdsForGroup(group))

    def between(self) -> int:
        return min(self.ids[-1]) - max(self.ids[-2]) - 1


def test_warm_action_copy_runs_one_job_per_chunk_and_measurement(spark, tmp_path):
    """No schema inference, no separate cache job: a warm copy of one
    window runs exactly chunks × measurements Spark jobs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from syncflux_spark.agent import action_copy

    src = tmp_path / "src"
    src.mkdir()
    t0 = int(BASE.timestamp()) * 10**9
    for name in ("cpu", "mem"):
        ts = [t0 + k * 10**10 + s for s in range(4) for k in range(360)]
        pq.write_table(
            pa.table({"ts": pa.array(ts, pa.timestamp("ns")), "value": [float(t % 97) for t in ts]}),
            src / f"{name}.parquet", row_group_size=500,
        )

    def copy(i):
        s = BASE + timedelta(minutes=30 * i)
        return action_copy(spark, str(src), str(tmp_path / "dst"), s, s + timedelta(minutes=30),
                           chunk="10m", num_workers=2)

    copy(0)  # warm
    jobs = JobProbe(spark)
    jobs.probe()
    rep = copy(1)
    jobs.probe()
    assert rep.write_errors == 0 and rep.points == 2 * 4 * 180
    assert jobs.between() == 3 * 2
