"""Row-streaming TA folds: above ``fold_stream_threshold`` the fold
family must stop materializing per-series arrays (one collect_list
cell per series) and instead stream rollup rows with recurrence state
carried ACROSS Arrow batches — bit-identical to the in-row codegen
folds, bounded memory at 10⁷ buckets.
"""

from __future__ import annotations

from collections import Counter
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from syncflux_spark.influxql import InfluxQLEngine

NOW = datetime(2024, 2, 1, tzinfo=timezone.utc)

PROJS = [
    "exponential_moving_average(mean(value), 5)",
    "relative_strength_index(mean(value), 3)",
    "double_exponential_moving_average(mean(value), 5)",
    "triple_exponential_moving_average(mean(value), 5)",
    "triple_exponential_derivative(mean(value), 5)",
    "kaufmans_adaptive_moving_average(mean(value), 3)",
    "kaufmans_efficiency_ratio(mean(value), 3)",
]

STMT = (
    "SELECT {proj} FROM events "
    "WHERE time >= '2024-01-05' AND time < '2024-01-19' "
    "GROUP BY time(1d), event_type"
)


@pytest.fixture()
def engine(spark, events):
    return InfluxQLEngine(
        spark,
        tables={"events": events},
        tags={"events": ["event_type", "user_id"]},
        now=NOW,
    )


def _counter(df):
    return Counter(tuple(r) for r in df.collect())


class TestStreamMatchesArray:
    @pytest.mark.parametrize("proj", PROJS)
    def test_stream_path_bitexact(self, spark, engine, proj):
        """Force the streaming path (threshold 0) under a tiny Arrow
        batch size so state provably crosses batch boundaries, and
        compare bit-exact (as multisets: both paths sort by time, and
        same-time rows of different series have no defined relative
        order) against the in-row codegen fold."""
        engine.fold_stream_threshold = 10**18  # in-row codegen fold
        arr = _counter(engine.query(STMT.format(proj=proj)))
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        try:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
            engine.fold_stream_threshold = 0
            stream = _counter(engine.query(STMT.format(proj=proj)))
        finally:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old
            )
        assert stream == arr and len(arr) > 0

    @pytest.mark.parametrize("proj", PROJS)
    def test_null_buckets_stream(self, spark, proj):
        """Null-bucket semantics survive the streaming path (the same
        crafted series TestLinearFolds uses)."""
        base = datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()
        rows = []
        for d in range(14):
            ts_ns = int((base + d * 86400 + 3600) * 1e9)
            v = None if d in (4, 9) else float(10 + (d * 7) % 5)
            rows.append((ts_ns, v, "click"))
        df = spark.createDataFrame(
            rows, "ts_ns long, value double, event_type string"
        ).withColumn(
            "ts", F.timestamp_micros((F.col("ts_ns") / 1000).cast("long"))
        )
        eng = InfluxQLEngine(
            spark, tables={"events": df}, tags={"events": ["event_type"]},
            now=NOW,
        )
        eng.fold_stream_threshold = 10**18
        stmt = STMT.format(proj=proj)
        arr = _counter(eng.query(stmt))
        eng.fold_stream_threshold = 0
        stream = _counter(eng.query(stmt))
        assert stream == arr and len(arr) > 0

    @pytest.mark.parametrize(
        "proj",
        [
            "holt_winters(mean(value), 3, 0)",
            "holt_winters_with_fit(mean(value), 3, 0)",
            "holt_winters(mean(value), 4, 3)",  # seasonal S=3
        ],
    )
    def test_holt_winters_stream_with_forecasts(self, spark, engine, proj):
        """HW streams with the finisher hook: per-bucket fits (fit
        form) plus n_fc forecast rows PAST each series' end — both
        bit-equal to the in-row form, across tiny Arrow batches."""
        engine.fold_stream_threshold = 10**18
        arr = _counter(engine.query(STMT.format(proj=proj)))
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        try:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
            engine.fold_stream_threshold = 0
            stream = _counter(engine.query(STMT.format(proj=proj)))
        finally:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old
            )
        assert stream == arr and len(arr) > 0

    def test_threshold_picks_stream_plan(self, engine):
        """Above the threshold the plan is mapInPandas over rows — no
        collect_list aggregate (the array the fallback exists to
        avoid); below, the in-row plan stays."""
        engine.fold_stream_threshold = 5  # 14 daily buckets > 5
        plan = (
            engine.query(STMT.format(proj=PROJS[0]))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "collect_list" not in plan
        assert "MapInPandas" in plan or "mapInPandas" in plan.lower()
        engine.fold_stream_threshold = 1_000_000
        plan = (
            engine.query(STMT.format(proj=PROJS[0]))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "collect_list" in plan


class TestTenMillionBuckets:
    def test_10m_bucket_series_streams(self, spark):
        """The Done criterion: a 10⁷-bucket series completes through
        the streaming fold with O(arrow-batch) memory — the plan never
        builds the 10⁷-element array cell (no collect_list) — and the
        recurrence is bit-identical to a pure-Python replay of the
        same IEEE op sequence."""
        from syncflux_spark.functions.tafold import (
            ema_stepper,
            streaming_fold,
        )

        n = 10_000_000
        alpha, beta = 2.0 / 6.0, 1.0 - 2.0 / 6.0
        df = spark.range(n).select(
            F.col("id").alias("t"),
            (
                (F.col("id") % 997).cast("double") * F.lit(0.5)
                - F.lit(100.0)
            ).alias("v"),
        )
        res = streaming_fold(
            df, [], "t", "v", lambda: ema_stepper(alpha, beta)
        )
        assert "collect_list" not in (
            res._jdf.queryExecution().executedPlan().toString()
        )
        row = res.agg(
            F.count(F.lit(1)).alias("n"),
            F.max_by("v", "t").alias("last"),
        ).collect()[0]
        assert row["n"] == n
        # pure-Python replay of the identical op sequence — never
        # holding the series in memory either
        step = ema_stepper(alpha, beta)
        for i in range(n):
            last = step(float(i % 997) * 0.5 - 100.0)
        assert row["last"] == last  # bit-exact

    def test_series_boundaries_inside_one_batch(self, spark):
        """Key changes mid-batch must reset the stepper state."""
        from syncflux_spark.functions.tafold import (
            ema_stepper,
            streaming_fold,
        )

        alpha, beta = 0.5, 0.5
        rows = [
            (s, t, float(10 * s + t))
            for s in range(5)
            for t in range(6)
        ]
        df = spark.createDataFrame(rows, "s int, t int, v double")
        res = streaming_fold(
            df, ["s"], "t", "v", lambda: ema_stepper(alpha, beta)
        )
        got = {(r["s"], r["t"]): r["v"] for r in res.collect()}
        for s in range(5):
            step = ema_stepper(alpha, beta)
            for t in range(6):
                assert got[(s, t)] == step(float(10 * s + t))
