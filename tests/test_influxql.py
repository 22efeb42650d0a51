"""InfluxQL front-end: parser, compiler semantics, catalog routing.

The reference holds InfluxQL strings in its code (`show databases`
pkg/agent/client.go:161, the scan template pkg/agent/sync.go:162, DDL
client.go:84-156); syncflux users hold more of them in dashboards.
These tests pin the parse → DataFrame compilation against hand-built
DataFrame results on the driver fixture.
"""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from syncflux_spark.influxql import (
    InfluxQLEngine,
    InfluxQLError,
    SelectStmt,
    parse,
)

NOW = datetime(2024, 2, 1, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def engine(spark, events):
    return InfluxQLEngine(
        spark,
        tables={"events": events},
        tags={"events": ["event_type", "user_id"]},
        now=NOW,
    )


class TestParser:
    def test_scan_template_shape(self):
        # the exact statement shape the reference emits (sync.go:162)
        st = parse(
            'select * from "events" where time > 1704412800000000000 '
            "and time < 1704499200000000000 group by *"
        )
        assert isinstance(st, SelectStmt)
        assert st.group_star
        # influx 'time >' is exclusive: lo becomes ns+1 inclusive
        assert st.time.lo_ns == 1704412800000000001
        assert st.time.hi_ns == 1704499200000000000

    def test_time_bounds_inclusive_exclusive(self):
        st = parse("select count(value) from m where time >= '2024-01-05' and time <= '2024-01-06'")
        assert st.time.lo_ns == 1704412800 * 10**9
        # <= is inclusive → hi is ns+1 half-open
        assert st.time.hi_ns == 1704499200 * 10**9 + 1

    def test_now_arithmetic(self):
        st = parse("select count(v) from m where time >= now() - 1h", now=NOW)
        assert st.time.lo_ns == int(NOW.timestamp() * 1e9) - 3600 * 10**9

    def test_epoch_with_unit_time_literals(self):
        # the reference's sync scan emits 'time > %vs' — epoch SECONDS
        # with a trailing unit (sync.go:162); must not lex-fail as a
        # duration, and must stay ns-exact (no float round-trip)
        st = parse(
            'select * from "m" where time > 1755043200s and '
            "time < 1755046800s group by *"
        )
        assert st.time.lo_ns == 1755043200 * 10**9 + 1
        assert st.time.hi_ns == 1755046800 * 10**9
        st = parse("select v from m where time >= 1755043200123ms")
        assert st.time.lo_ns == 1755043200123 * 10**6
        st = parse("select v from m where time >= 1755043200123456u")
        assert st.time.lo_ns == 1755043200123456 * 10**3

    def test_rfc3339_offset_and_sub_micro_fraction(self):
        # explicit UTC offset honoured (not discarded), 9-digit
        # fractions legal and ns-exact
        st = parse("select v from m where time >= '2024-01-05T02:00:00+02:00'")
        assert st.time.lo_ns == 1704412800 * 10**9
        st = parse("select v from m where time >= '2024-01-05T00:00:00.123456789Z'")
        assert st.time.lo_ns == 1704412800 * 10**9 + 123456789
        with pytest.raises(InfluxQLError):
            parse("select v from m where time >= '2024-13-99T99:00:00Z'")

    def test_select_arithmetic_parses(self):
        from syncflux_spark.influxql import PBin, PCall, PNum, PVar

        st = parse('select mean("a") + mean("b") from m')
        e = st.projs[0].expr
        assert isinstance(e, PBin) and e.op == "+"
        assert isinstance(e.left, PCall) and e.left.proj.func == "mean"
        assert st.projs[0].out_name == "mean_mean"  # influx default name
        st = parse('select "value" * 2 as dbl from m')
        e = st.projs[0].expr
        assert isinstance(e, PBin) and e.op == "*"
        assert isinstance(e.left, PVar) and isinstance(e.right, PNum)
        assert st.projs[0].out_name == "dbl"
        # precedence: a + b*c parses b*c first; parens override
        st = parse("select a + b * c from m")
        assert st.projs[0].expr.op == "+" and st.projs[0].expr.right.op == "*"
        st = parse("select (a + b) * c from m")
        assert st.projs[0].expr.op == "*" and st.projs[0].expr.left.op == "+"

    def test_division_vs_regex_disambiguation(self):
        # '/' is division in projections even unspaced; /regex/ still
        # lexes after FROM and =~/!~
        st = parse("select a/2 + b/4 from m")
        assert st.projs[0].expr.op == "+"
        st = parse(r"select * from /ev.*/ where host =~ /web \d+/")
        assert st.measurement_regex == "ev.*"
        assert st.where.op == "regex"

    def test_bare_literal_projection_rejected(self):
        with pytest.raises(InfluxQLError):
            parse("select 42 from m")

    def test_microsecond_group_by_durations(self):
        st = parse("select mean(v) from m group by time(500u)")
        assert st.group_time_ns == 500_000
        st = parse("select mean(v) from m group by time(500us)")
        assert st.group_time_ns == 500_000

    def test_group_time_offset_and_fill(self):
        st = parse("select mean(v) from m group by time(1h,30m), host fill(previous)")
        assert st.group_time_ns == 3600 * 10**9
        assert st.group_offset_ns == 1800 * 10**9
        assert st.group_tags == ["host"]
        assert st.fill == "previous"

    def test_fill_number(self):
        st = parse("select mean(v) from m group by time(1h) fill(0)")
        assert st.fill == 0.0

    def test_quoted_identifiers_and_db_rp(self):
        st = parse('select "va l" from "my db".autogen."my meas"')
        assert st.db == "my db" and st.rp == "autogen"
        assert st.measurement == "my meas"
        assert st.projs[0].field == "va l"

    def test_regex_and_tag_predicates(self):
        st = parse("select v from m where host =~ /web.*/ and dc != 'eu' and v > 1.5")
        assert st.where is not None and st.where.op == "and"

    def test_percentile_requires_arg(self):
        with pytest.raises(InfluxQLError):
            parse("select percentile(v) from m")

    def test_time_under_or_rejected(self):
        with pytest.raises(InfluxQLError):
            parse("select v from m where time > now() or host = 'a'")

    def test_trailing_garbage_rejected(self):
        with pytest.raises(InfluxQLError):
            parse("select v from m limit 5 bogus")

    def test_show_statements(self):
        assert parse("SHOW DATABASES").what == "databases"
        st = parse('show retention policies on "db"')
        assert st.what == "retention policies" and st.db == "db"
        st = parse('show field keys on db from "m"')
        assert st.measurement == "m"

    def test_ddl_statements(self):
        st = parse(
            'CREATE DATABASE "d" WITH DURATION 720h REPLICATION 1 '
            'SHARD DURATION 24h NAME "rp"'
        )
        assert st.db == "d" and st.duration == "720h" and st.rp_name == "rp"
        st = parse('CREATE RETENTION POLICY "rp" ON "d" DURATION 72h REPLICATION 1 DEFAULT')
        assert st.verb == "create" and st.default and st.duration == "72h"
        st = parse('ALTER RETENTION POLICY "rp" ON "d" DEFAULT')
        assert st.verb == "alter" and st.default


class TestSelectSemantics:
    def test_raw_scan_matches_scan_time_range(self, engine, events):
        from syncflux_spark.sources.parquet import scan_time_range

        lo, hi = "2024-01-05 00:00:00", "2024-01-12 00:00:00"
        out = engine.query(
            f"select * from events where time >= '{lo}' and time < '{hi}'"
        )
        assert out.count() == scan_time_range(events, lo, hi).count()

    def test_time_range_reaches_scan(self, engine):
        out = engine.query(
            "select * from events where time >= '2024-01-05' and time < '2024-01-12'"
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        scan = plan[plan.index("FileScan"):]
        assert (
            "GreaterThanOrEqual(ts," in scan and "LessThan(ts," in scan
        ) or "1704412800000000000" in scan

    def test_mean_rollup_matches_dataframe(self, engine, events):
        out = engine.query(
            "select mean(value) as m, count(value) as n from events "
            "group by time(6h), event_type"
        ).collect()
        ns = F.col("ts_ns")
        iv = 6 * 3600 * 10**9
        exp = (
            events.groupBy(
                (ns - ns % F.lit(iv)).alias("time"), "event_type"
            )
            .agg(
                (F.sum("value") / F.count("value")).alias("m"),
                F.count("value").alias("n"),
            )
            .collect()
        )
        assert {(r.time, r.event_type): (r.m, r.n) for r in out} == {
            (r.time, r.event_type): (r.m, r.n) for r in exp
        }

    def test_agg_arithmetic_matches_dataframe(self, engine, events):
        out = engine.query(
            "select mean(value) * 2 as m2, "
            "(sum(value) + spread(value)) / count(value) as mix "
            "from events group by event_type"
        ).collect()
        exp = (
            events.groupBy("event_type")
            .agg(
                ((F.sum("value") / F.count("value")) * 2).alias("m2"),
                (
                    (F.sum("value") + (F.max("value") - F.min("value")))
                    / F.count("value")
                ).alias("mix"),
            )
            .collect()
        )
        assert {r.event_type: (r.m2, r.mix) for r in out} == {
            r.event_type: (r.m2, r.mix) for r in exp
        }

    def test_raw_arithmetic_null_propagates(self, spark):
        df = spark.createDataFrame(
            [(1, 10.0, 2.0), (2, None, 3.0)], "time long, a double, b double"
        )
        eng = InfluxQLEngine(spark, tables={"m": df}, tags={"m": []})
        rows = {
            r.time: r.s
            for r in eng.query("select a + b as s from m").collect()
        }
        assert rows[1] == 12.0
        assert rows[2] is None  # null operand → null, like InfluxQL

    def test_mixing_field_with_aggregate_rejected(self, engine):
        with pytest.raises(InfluxQLError, match="mixed with aggregates"):
            engine.query("select mean(value) + value from events").collect()

    def test_percentile_nearest_rank(self, engine, events):
        out = {
            r.event_type: (r.p90, r.med)
            for r in engine.query(
                "select percentile(value, 90) as p90, median(value) as med "
                "from events group by event_type"
            ).collect()
        }
        import math

        rows = events.select("event_type", "value").collect()
        by_type: dict[str, list[float]] = {}
        for r in rows:
            by_type.setdefault(r.event_type, []).append(r.value)
        for t, vals in by_type.items():
            vals.sort()
            p90 = vals[max(1, math.ceil(len(vals) * 0.9)) - 1]
            med = vals[max(1, math.ceil(len(vals) * 0.5)) - 1]
            assert out[t] == (p90, med), t

    def test_first_last(self, engine, events):
        out = engine.query(
            "select first(value) as f, last(value) as l from events "
            "where event_type = 'click'"
        ).collect()[0]
        clicks = events.where(F.col("event_type") == "click")
        exp_f = clicks.orderBy("ts_ns", "value").select("value").first().value
        exp_l = clicks.orderBy(
            F.desc("ts_ns"), F.desc("value")
        ).select("value").first().value
        assert (out.f, out.l) == (exp_f, exp_l)

    def test_mode_ties_to_lowest(self, spark):
        df = spark.createDataFrame(
            [(1.0,), (1.0,), (3.0,), (3.0,), (2.0,)], "value double"
        )
        eng = InfluxQLEngine(spark, tables={"m": df}, tags={"m": []})
        out = eng.query("select mode(value) as mo from m").collect()[0]
        assert out.mo == 1.0  # 1.0 and 3.0 tie at 2 → lowest wins

    def test_spread_stddev_distinct(self, engine, events):
        out = engine.query(
            "select spread(value) as sp, count(distinct(user_id)) as u "
            "from events"
        ).collect()[0]
        exp = events.agg(
            (F.max("value") - F.min("value")).alias("sp"),
            F.countDistinct("user_id").alias("u"),
        ).collect()[0]
        assert (out.sp, out.u) == (exp.sp, exp.u)

    def test_fill_zero_densifies(self, engine):
        out = engine.query(
            "select count(value) as n from events "
            "where time >= '2024-01-05' and time < '2024-01-12' "
            "group by time(1h), event_type fill(0)"
        )
        rows = out.collect()
        # full grid: every (hour, type) combo between min and max bucket
        times = {r.time for r in rows}
        types = {r.event_type for r in rows}
        assert len(rows) == len(times) * len(types)
        assert min(r.n for r in rows) == 0  # some slot really was empty

    def test_fill_previous(self, spark):
        df = spark.createDataFrame(
            [(0, 1.0), (3 * 3600 * 10**9, 7.0)], "ts_ns long, value double"
        ).withColumn("ts", F.timestamp_micros((F.col("ts_ns") / 1000).cast("long")))
        eng = InfluxQLEngine(spark, tables={"m": df}, tags={"m": []})
        rows = eng.query(
            "select sum(value) as s from m group by time(1h) fill(previous)"
        ).orderBy("time").collect()
        assert [r.s for r in rows] == [1.0, 1.0, 1.0, 7.0]

    def test_fill_linear(self, spark):
        df = spark.createDataFrame(
            [(0, 1.0), (4 * 3600 * 10**9, 9.0)], "ts_ns long, value double"
        ).withColumn("ts", F.timestamp_micros((F.col("ts_ns") / 1000).cast("long")))
        eng = InfluxQLEngine(spark, tables={"m": df}, tags={"m": []})
        rows = eng.query(
            "select max(value) as v from m group by time(1h) fill(linear)"
        ).orderBy("time").collect()
        assert [r.v for r in rows] == [1.0, 3.0, 5.0, 7.0, 9.0]

    def test_order_limit_offset(self, engine):
        top = engine.query(
            "select value from events where event_type = 'purchase' "
            "order by time desc limit 3"
        ).collect()
        nxt = engine.query(
            "select value from events where event_type = 'purchase' "
            "order by time desc limit 3 offset 3"
        ).collect()
        assert len(top) == 3 and len(nxt) == 3
        assert {r.time for r in top}.isdisjoint({r.time for r in nxt})

    def test_group_by_star_uses_registered_tags(self, engine):
        out = engine.query("select count(value) as n from events group by *")
        assert set(out.columns) == {"event_type", "user_id", "n"}


class TestWherePredicates:
    """InfluxDB 1.x WHERE parity sweep: tag regex (=~ / !~, partial
    match), typed field comparisons, AND/OR/parens composition, and
    the rejections (regex needs /…/, time regex unsupported, time
    under OR). The support matrix in README §InfluxQL documents
    exactly what these tests pin."""

    def test_tag_regex_partial_match(self, engine, events):
        out = engine.query(
            "select count(value) as n from events where event_type =~ /^p/"
        ).collect()
        exp = events.where(F.col("event_type").rlike("^p")).count()
        assert out[0].n == exp and exp > 0

    def test_tag_regex_negated(self, engine, events):
        out = engine.query(
            "select count(value) as n from events where event_type !~ /click|view/"
        ).collect()
        exp = events.where(~F.col("event_type").rlike("click|view")).count()
        assert out[0].n == exp and exp > 0

    def test_regex_on_numeric_tag_matches_string_form(self, engine, events):
        # InfluxDB tags are strings; a numeric tag column here matches
        # on its string rendering
        out = engine.query(
            "select count(value) as n from events where user_id =~ /^1$/"
        ).collect()
        exp = events.where(F.col("user_id").cast("string") == "1").count()
        assert out[0].n == exp

    def test_numeric_field_comparisons(self, engine, events):
        for op, col in (
            (">", F.col("value") > 100),
            ("<=", F.col("value") <= 100),
            ("!=", F.col("value") != 100),
        ):
            out = engine.query(
                f"select count(value) as n from events where value {op} 100"
            ).collect()
            assert out[0].n == events.where(col).count()

    def test_and_or_parens(self, engine, events):
        out = engine.query(
            "select count(value) as n from events where "
            "(event_type = 'click' or event_type = 'view') and value > 50"
        ).collect()
        exp = events.where(
            F.col("event_type").isin("click", "view") & (F.col("value") > 50)
        ).count()
        assert out[0].n == exp and exp > 0

    def test_tag_and_time_compose(self, engine, events):
        out = engine.query(
            "select count(value) as n from events where "
            "event_type = 'click' and time >= '2024-01-08' and time < '2024-01-15'"
        ).collect()
        exp = events.where(
            (F.col("event_type") == "click")
            & (F.col("ts_ns") >= 1704672000 * 10**9)
            & (F.col("ts_ns") < 1705276800 * 10**9)
        ).count()
        assert out[0].n == exp and exp > 0

    def test_where_field_arithmetic(self, engine, events):
        out = engine.query(
            "select count(value) as n from events where value * 2 > 300"
        ).collect()
        exp = events.where(F.col("value") * 2 > 300).count()
        assert out[0].n == exp and exp > 0

    def test_where_arithmetic_both_sides_and_parens(self, engine, events):
        out = engine.query(
            "select count(value) as n from events where "
            "(value + value) / 2 >= value * 1"
        ).collect()
        assert out[0].n == events.where(F.col("value").isNotNull()).count()

    def test_where_arithmetic_composes_with_time(self, engine, events):
        out = engine.query(
            "select count(value) as n from events where "
            "time >= '2024-01-08' and time < '2024-01-15' and value / 2 > 75"
        ).collect()
        exp = events.where(
            (F.col("ts_ns") >= 1704672000 * 10**9)
            & (F.col("ts_ns") < 1705276800 * 10**9)
            & (F.col("value") / 2 > 75)
        ).count()
        assert out[0].n == exp and exp > 0

    def test_where_aggregate_rejected(self):
        with pytest.raises(InfluxQLError, match="not allowed in WHERE"):
            parse("select v from m where mean(v) > 3")

    def test_regex_requires_regex_literal(self):
        with pytest.raises(InfluxQLError, match="requires /regex/"):
            parse("select v from m where host =~ 'web1'")

    def test_time_regex_rejected(self):
        with pytest.raises(InfluxQLError):
            parse("select v from m where time =~ /2024/")

    def test_boolean_field_equality(self, spark):
        df = spark.createDataFrame(
            [(1, True, 1.0), (2, False, 2.0), (3, True, 3.0)],
            "time long, flag boolean, v double",
        )
        eng = InfluxQLEngine(spark, tables={"m": df}, tags={"m": []})
        out = eng.query("select count(v) as n from m where flag = true").collect()
        assert out[0].n == 2

    def test_string_field_inequality(self, spark):
        df = spark.createDataFrame(
            [(1, "ok", 1.0), (2, "err", 2.0)], "time long, status string, v double"
        )
        eng = InfluxQLEngine(spark, tables={"m": df}, tags={"m": []})
        out = eng.query("select count(v) as n from m where status != 'err'").collect()
        assert out[0].n == 1


class TestCatalogRouting:
    @pytest.fixture()
    def cat_engine(self, spark, tmp_path):
        from syncflux_spark.catalog import (
            FieldSch,
            MeasurementSch,
            RetPol,
            SparkCatalog,
        )

        cat = SparkCatalog(spark)
        db = "iqldb"
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        cat.create_db(db)
        rp = RetPol(name="autogen", duration="0s", default=True)
        meas = MeasurementSch(
            name="cpu",
            fields={"usage": FieldSch("usage", "float")},
            tags=["host"],
        )
        cat.create_measurement(db, rp, meas, location=str(tmp_path / "cpu"))
        yield InfluxQLEngine(spark, catalog=cat)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")

    def test_show_databases(self, cat_engine):
        names = {r.name for r in cat_engine.query("show databases").collect()}
        assert "iqldb" in names

    def test_show_measurements_and_keys(self, cat_engine):
        ms = {r.name for r in cat_engine.query("show measurements on iqldb").collect()}
        assert ms == {"cpu"}
        fk = cat_engine.query('show field keys on iqldb from "cpu"').collect()
        assert [(r.fieldKey, r.fieldType) for r in fk] == [("usage", "float")]
        tk = cat_engine.query('show tag keys on iqldb from "cpu"').collect()
        assert [r.tagKey for r in tk] == ["host"]

    def test_show_retention_policies(self, cat_engine):
        rows = cat_engine.query("show retention policies on iqldb").collect()
        assert [(r.name, r["default"]) for r in rows] == [("autogen", True)]

    def test_create_database_routes(self, cat_engine, spark):
        cat_engine.query('create database "iql_new"')
        assert "iql_new" in {
            r.name for r in cat_engine.query("show databases").collect()
        }
        spark.sql("DROP DATABASE IF EXISTS iql_new CASCADE")


class TestContinuousQuery:
    """InfluxDB CQ parity: incremental materialization of complete
    buckets only, restart-safe via the target's own high-water mark."""

    CQ = (
        'CREATE CONTINUOUS QUERY "daily" ON "db" BEGIN '
        "SELECT count(value) AS n INTO \"events_daily\" FROM events "
        "GROUP BY time(1d), event_type END"
    )

    @staticmethod
    def _ns(s: str) -> int:
        from syncflux_spark.sources.parquet import _to_ns_epoch

        return _to_ns_epoch(s)

    def test_parse(self):
        from syncflux_spark.influxql import ContinuousQueryStmt

        st = parse(self.CQ)
        assert isinstance(st, ContinuousQueryStmt)
        assert st.name == "daily" and st.db == "db"
        assert st.select.into == "events_daily"
        assert st.select.group_time_ns == 86400 * 10**9

    def test_parse_requires_into_and_time(self):
        with pytest.raises(InfluxQLError):
            parse('CREATE CONTINUOUS QUERY "x" ON "d" BEGIN '
                  "SELECT count(v) FROM m GROUP BY time(1h) END")
        with pytest.raises(InfluxQLError):
            parse('CREATE CONTINUOUS QUERY "x" ON "d" BEGIN '
                  'SELECT count(v) INTO "t" FROM m END')

    def test_incremental_runs(self, engine, events, tmp_path):
        from syncflux_spark.streaming.continuous import ContinuousQuery

        cq = ContinuousQuery(engine, self.CQ, str(tmp_path / "daily"))
        n1 = cq.run(self._ns("2024-01-10 00:00:00"))
        assert n1 > 0
        # same now again → nothing new (idempotent scheduling)
        assert cq.run(self._ns("2024-01-10 00:00:00")) == 0
        # later now → only the newer buckets
        n2 = cq.run(self._ns("2024-01-20 00:00:00"))
        assert n2 > 0
        got = cq.read_target()
        hi = self._ns("2024-01-20 00:00:00")
        exp = (
            events.where(F.col("ts_ns") < hi)
            .groupBy(
                (F.col("ts_ns") - F.col("ts_ns") % F.lit(86400 * 10**9)).alias(
                    "time"
                ),
                "event_type",
            )
            .count()
        )
        assert got.count() == exp.count() == n1 + n2

    def test_partial_bucket_excluded(self, engine, tmp_path):
        from syncflux_spark.streaming.continuous import ContinuousQuery

        cq = ContinuousQuery(engine, self.CQ, str(tmp_path / "daily2"))
        # now mid-bucket: the 01-09 bucket is incomplete → max
        # materialized bucket must be 01-08
        cq.run(self._ns("2024-01-09 12:00:00"))
        mx = cq.read_target().agg(F.max("time").alias("m")).collect()[0].m
        assert mx == self._ns("2024-01-08 00:00:00")

    def test_matches_batch_rollup(self, engine, events, tmp_path):
        from syncflux_spark.streaming.continuous import ContinuousQuery

        cq = ContinuousQuery(engine, self.CQ, str(tmp_path / "daily3"))
        cq.run(self._ns("2024-03-01 00:00:00"))  # all buckets complete
        got = {
            (r.time, r.event_type): r.n for r in cq.read_target().collect()
        }
        exp = {
            (r.time, r.event_type): r.n
            for r in events.groupBy(
                (F.col("ts_ns") - F.col("ts_ns") % F.lit(86400 * 10**9)).alias(
                    "time"
                ),
                "event_type",
            )
            .agg(F.count("value").alias("n"))
            .collect()
        }
        assert got == exp


class TestTransformations:
    """Selector transformations (derivative / difference /
    moving_average) applied per series over the aggregated rollup."""

    def test_parse_transform(self):
        st = parse("select derivative(mean(v), 1h) from m group by time(1h)")
        p = st.projs[0]
        assert p.transform == "derivative" and p.func == "mean"
        assert p.transform_arg == 3600 * 10**9

    def test_transform_requires_aggregate(self, engine):
        # raw-field inner PARSES (raw transforms are legal) but a
        # GROUP BY time query must aggregate first — compile error
        with pytest.raises(InfluxQLError):
            engine.query(
                "select derivative(value, 1h) from events group by time(1h)"
            )

    def test_derivative_counts(self, engine, events):
        out = engine.query(
            "select derivative(count(value), 1d) as d from events "
            "where event_type = 'click' group by time(1d)"
        ).orderBy("time").collect()
        iv = 86400 * 10**9
        base = (
            events.where(F.col("event_type") == "click")
            .groupBy(
                (F.col("ts_ns") - F.col("ts_ns") % F.lit(iv)).alias("time")
            )
            .count()
            .orderBy("time")
            .collect()
        )
        # derivative at unit == interval is the plain first difference
        exp = [
            (b.time, float(b["count"] - a["count"]))
            for a, b in zip(base, base[1:])
        ]
        assert [(r.time, r.d) for r in out] == exp

    def test_non_negative_derivative_drops_negatives(self, engine):
        out = engine.query(
            "select non_negative_derivative(count(value), 1d) as d "
            "from events where event_type = 'click' group by time(1d)"
        ).collect()
        assert len(out) > 0 and all(r.d >= 0 for r in out)

    def test_moving_average_window(self, spark):
        rows = [(i * 3600 * 10**9, 1.0 * (i + 1)) for i in range(4)]
        df = spark.createDataFrame(rows, "ts_ns long, value double").withColumn(
            "ts", F.timestamp_micros((F.col("ts_ns") / 1000).cast("long"))
        )
        eng = InfluxQLEngine(spark, tables={"m": df}, tags={"m": []})
        out = eng.query(
            "select moving_average(sum(value), 2) as ma from m group by time(1h)"
        ).orderBy("time").collect()
        # sums per hour: 1,2,3,4 → 2-wide MA emitted from the 2nd: 1.5,2.5,3.5
        assert [r.ma for r in out] == [1.5, 2.5, 3.5]


class TestShowDataAndDelete:
    def test_show_tag_values(self, engine):
        out = engine.query(
            'show tag values from events with key = "event_type"'
        ).collect()
        assert {r.value for r in out} == {
            "click", "view", "purchase", "signup", "error"
        }
        assert all(r.key == "event_type" for r in out)

    def test_show_series(self, spark):
        df = spark.createDataFrame(
            [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0)],
            "host string, dc string, v double",
        )
        eng = InfluxQLEngine(spark, tables={"cpu": df}, tags={"cpu": ["host", "dc"]})
        keys = {r.key for r in eng.query("show series from cpu").collect()}
        assert keys == {"cpu,dc=x,host=a", "cpu,dc=y,host=a", "cpu,dc=x,host=b"}

    @pytest.fixture()
    def deletable(self, spark, tmp_path):
        from syncflux_spark.catalog import (
            FieldSch,
            MeasurementSch,
            RetPol,
            SparkCatalog,
        )

        cat = SparkCatalog(spark)
        db = "iqldel"
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        cat.create_db(db)
        rp = RetPol(name="autogen", duration="0s", default=True)
        meas = MeasurementSch(
            name="cpu", fields={"usage": FieldSch("usage", "float")}, tags=["host"]
        )
        cat.create_measurement(db, rp, meas, location=str(tmp_path / "cpu"))
        rows = [(i * 10**9, None, "h1", float(i)) for i in range(10)]
        spark.createDataFrame(
            rows, "time_ns long, ts timestamp, host string, usage double"
        ).write.insertInto(f"{db}.autogen__cpu")
        yield InfluxQLEngine(spark, catalog=cat, db=db)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")

    def test_delete_time_range(self, deletable, spark):
        res = deletable.query("delete from cpu where time < 5000000000").collect()
        assert res[0].rows_deleted == 5
        remaining = spark.table("iqldel.autogen__cpu").count()
        assert remaining == 5
        # idempotent: nothing left in range
        res2 = deletable.query("delete from cpu where time < 5000000000").collect()
        assert res2[0].rows_deleted == 0

    def test_delete_requires_time(self, deletable):
        with pytest.raises(InfluxQLError):
            deletable.query("delete from cpu")

    def test_drop_measurement(self, deletable, spark):
        deletable.query("drop measurement cpu")
        assert spark.catalog.listTables("iqldel") == []


class TestSubqueries:
    def test_parse_subquery(self):
        st = parse(
            "select max(m) from (select mean(value) as m from events "
            "group by time(1h), event_type) group by event_type"
        )
        assert st.sub is not None
        assert st.sub.group_time_ns == 3600 * 10**9
        assert st.group_tags == ["event_type"]

    def test_peak_hourly_mean(self, engine, events):
        out = {
            r.event_type: r.peak
            for r in engine.query(
                "select max(m) as peak from (select mean(value) as m "
                "from events group by time(1h), event_type) "
                "group by event_type"
            ).collect()
        }
        iv = 3600 * 10**9
        exp = {
            r.event_type: r.peak
            for r in events.groupBy(
                (F.col("ts_ns") - F.col("ts_ns") % F.lit(iv)).alias("t"),
                "event_type",
            )
            .agg((F.sum("value") / F.count("value")).alias("m"))
            .groupBy("event_type")
            .agg(F.max("m").alias("peak"))
            .collect()
        }
        assert out == exp

    def test_outer_time_filter_on_subquery(self, engine):
        inner = (
            "select count(value) as c from events group by time(1d), event_type"
        )
        full = engine.query(f"select sum(c) as s from ({inner})").collect()[0].s
        part = engine.query(
            f"select sum(c) as s from ({inner}) "
            "where time >= '2024-01-15'"
        ).collect()[0].s
        assert 0 < part < full

    def test_cumulative_sum(self, engine, events):
        out = engine.query(
            "select cumulative_sum(count(value)) as cs from events "
            "where event_type = 'click' group by time(1d)"
        ).orderBy("time").collect()
        base = (
            events.where(F.col("event_type") == "click")
            .groupBy(
                (
                    F.col("ts_ns") - F.col("ts_ns") % F.lit(86400 * 10**9)
                ).alias("time")
            )
            .count()
            .orderBy("time")
            .collect()
        )
        import itertools

        exp = list(itertools.accumulate(r["count"] for r in base))
        assert [r.cs for r in out] == exp


class TestSlimit:
    def test_parse(self):
        st = parse(
            "select count(v) from m group by time(1d), host "
            "limit 10 offset 2 slimit 3 soffset 1"
        )
        assert (st.limit, st.offset, st.slimit, st.soffset) == (10, 2, 3, 1)

    def test_slimit_keeps_first_series(self, engine):
        out = engine.query(
            "select count(value) as n from events "
            "group by time(1d), event_type slimit 2"
        )
        types = {r.event_type for r in out.collect()}
        assert types == {"click", "error"}  # lexicographically first 2

    def test_soffset_skips_series(self, engine):
        out = engine.query(
            "select count(value) as n from events "
            "group by time(1d), event_type slimit 2 soffset 1"
        )
        assert {r.event_type for r in out.collect()} == {"error", "purchase"}

    def test_slimit_requires_tags(self, engine):
        with pytest.raises(InfluxQLError):
            engine.query(
                "select count(value) from events group by time(1d) slimit 2"
            )

    @pytest.mark.parametrize(
        "proj",
        [
            "exponential_moving_average(mean(value), 5)",
            "relative_strength_index(mean(value), 3)",
            "chande_momentum_oscillator(mean(value), 3)",
            "triple_exponential_derivative(mean(value), 5)",
            "kaufmans_efficiency_ratio(mean(value), 3)",
            "holt_winters_with_fit(mean(value), 3, 0)",
            "holt_winters(mean(value), 4, 3)",
        ],
    )
    def test_ta_folds_keep_the_slimit_window(self, engine, proj):
        """A TA fold keeps the same series as the plain aggregate
        under the same SLIMIT/SOFFSET, in both of its forms."""
        q = (
            "select {} from events "
            "where time >= '2024-01-05' and time < '2024-01-19' "
            "group by time(1d), event_type slimit 2 soffset 1"
        )
        want = {r.event_type for r in engine.query(q.format("mean(value)")).collect()}
        assert len(want) == 2
        for threshold in (10**18, 0):
            engine.fold_stream_threshold = threshold
            try:
                got = {r.event_type for r in engine.query(q.format(proj)).collect()}
            finally:
                del engine.fold_stream_threshold
            assert got == want, threshold


class TestRawTransforms:
    def test_elapsed_per_series(self, engine, events):
        out = engine.query(
            "select elapsed(value, 1s) as e from events "
            "where event_type = 'click' group by user_id"
        ).collect()
        rows = (
            events.where(F.col("event_type") == "click")
            .select("user_id", "ts_ns")
            .collect()
        )
        by_user: dict[int, list[int]] = {}
        for r in rows:
            by_user.setdefault(r.user_id, []).append(r.ts_ns)
        exp = []
        for u, ts in by_user.items():
            ts.sort()
            exp += [(u, (b - a) // 10**9) for a, b in zip(ts, ts[1:])]
        got = [(r.user_id, r.e) for r in out]
        assert sorted(got) == sorted(exp)

    def test_raw_difference(self, spark):
        df = spark.createDataFrame(
            [(i * 10**9, float(v)) for i, v in enumerate([1, 4, 2, 9])],
            "ts_ns long, value double",
        ).withColumn("ts", F.timestamp_micros((F.col("ts_ns") / 1000).cast("long")))
        eng = InfluxQLEngine(spark, tables={"m": df}, tags={"m": []})
        out = eng.query("select difference(value) as d from m").orderBy("time").collect()
        assert [r.d for r in out] == [3.0, -2.0, 7.0]

    def test_raw_derivative_unit_scaling(self, spark):
        df = spark.createDataFrame(
            [(0, 0.0), (2 * 10**9, 10.0)], "ts_ns long, value double"
        ).withColumn("ts", F.timestamp_micros((F.col("ts_ns") / 1000).cast("long")))
        eng = InfluxQLEngine(spark, tables={"m": df}, tags={"m": []})
        out = eng.query("select derivative(value, 1s) as d from m").collect()
        assert [r.d for r in out] == [5.0]  # 10 over 2s, per second

    def test_mix_raw_and_transform_rejected(self, engine):
        with pytest.raises(InfluxQLError):
            engine.query("select value, difference(value) from events")

    def test_moving_average_needs_aggregate(self, engine):
        with pytest.raises(InfluxQLError):
            engine.query("select moving_average(value, 3) from events")


class TestEngineCqLifecycle:
    """CREATE / SHOW / DROP CONTINUOUS QUERY managed through InfluxQL
    text against the engine, with run_continuous_queries as the
    scheduling tick."""

    def test_lifecycle(self, spark, events, tmp_path):
        from syncflux_spark.sources.parquet import _to_ns_epoch

        eng = InfluxQLEngine(
            spark,
            tables={"events": events},
            tags={"events": ["event_type"]},
            cq_root=str(tmp_path),
        )
        eng.query(
            'CREATE CONTINUOUS QUERY "daily" ON "db" BEGIN '
            'SELECT count(value) AS n INTO "ev_daily" FROM events '
            "GROUP BY time(1d), event_type END"
        )
        shown = eng.query("SHOW CONTINUOUS QUERIES").collect()
        assert [(r.name, r.target) for r in shown] == [("daily", "ev_daily")]
        written = eng.run_continuous_queries(
            _to_ns_epoch("2024-01-10 00:00:00")
        )
        assert written["daily"] > 0
        # second tick at the same now: nothing new
        assert eng.run_continuous_queries(
            _to_ns_epoch("2024-01-10 00:00:00")
        ) == {"daily": 0}
        cq = eng.continuous_queries["daily"]
        assert cq.read_target().count() == written["daily"]
        eng.query('DROP CONTINUOUS QUERY "daily" ON "db"')
        assert eng.query("SHOW CONTINUOUS QUERIES").count() == 0

    def test_duplicate_name_rejected(self, spark, events, tmp_path):
        eng = InfluxQLEngine(
            spark, tables={"events": events}, tags={"events": []},
            cq_root=str(tmp_path),
        )
        stmt = ('CREATE CONTINUOUS QUERY "x" ON "d" BEGIN '
                'SELECT count(value) AS n INTO "t" FROM events '
                "GROUP BY time(1d) END")
        eng.query(stmt)
        with pytest.raises(InfluxQLError):
            eng.query(stmt)

    def test_requires_cq_root(self, spark, events):
        eng = InfluxQLEngine(spark, tables={"events": events})
        with pytest.raises(InfluxQLError):
            eng.query(
                'CREATE CONTINUOUS QUERY "x" ON "d" BEGIN '
                'SELECT count(value) AS n INTO "t" FROM events '
                "GROUP BY time(1d) END"
            )


def test_non_negative_difference(spark):
    df = spark.createDataFrame(
        [(i * 10**9, float(v)) for i, v in enumerate([5, 3, 8, 8])],
        "ts_ns long, value double",
    ).withColumn("ts", F.timestamp_micros((F.col("ts_ns") / 1000).cast("long")))
    eng = InfluxQLEngine(spark, tables={"m": df}, tags={"m": []})
    out = eng.query(
        "select non_negative_difference(value) as d from m"
    ).orderBy("time").collect()
    assert [r.d for r in out] == [5.0, 0.0]  # -2 dropped, 5 and 0 kept


class TestTopBottom:
    def test_top_per_bucket(self, engine, events):
        out = engine.query(
            "select top(value, 3) as v from events "
            "group by time(1d), event_type"
        ).collect()
        iv = 86400 * 10**9
        got: dict[tuple, list[float]] = {}
        for r in out:
            got.setdefault((r.time // iv, r.event_type), []).append(r.v)
        rows = events.select("ts_ns", "event_type", "value").collect()
        exp: dict[tuple, list[float]] = {}
        for r in rows:
            exp.setdefault((r.ts_ns // iv, r.event_type), []).append(r.value)
        for k, vals in exp.items():
            top3 = sorted(vals, reverse=True)[:3]
            assert sorted(got[k], reverse=True) == top3, k

    def test_bottom_single(self, engine, events):
        out = engine.query(
            "select bottom(value, 1) as v from events group by event_type"
        ).collect()
        exp = {
            r.event_type: r.mn
            for r in events.groupBy("event_type")
            .agg(F.min("value").alias("mn"))
            .collect()
        }
        assert {r.event_type: r.v for r in out} == exp

    def test_top_must_be_sole_projection(self, engine):
        with pytest.raises(InfluxQLError):
            engine.query("select top(value, 3), count(value) from events")

    def test_plans_as_window_group_limit(self, engine):
        plan = (
            engine.query(
                "select top(value, 3) as v from events "
                "group by time(1d), event_type"
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "WindowGroupLimit" in plan


class TestRegexMeasurement:
    @pytest.fixture()
    def multi_engine(self, spark, events):
        clicks = events.where(F.col("event_type") == "click")
        buys = events.where(F.col("event_type") == "purchase")
        return InfluxQLEngine(
            spark,
            tables={"ev_click": clicks, "ev_purchase": buys, "other": events},
            tags={"ev_click": ["user_id"], "ev_purchase": ["user_id"], "other": []},
        )

    def test_group_by_star_separates_measurements(self, multi_engine, events):
        out = multi_engine.query(
            "select count(value) as n from /^ev_/ group by *"
        ).collect()
        # group by * = measurement + shared tags (user_id)
        assert {r.measurement for r in out} == {"ev_click", "ev_purchase"}
        total = sum(r.n for r in out)
        exp = events.where(
            F.col("event_type").isin("click", "purchase")
        ).count()
        assert total == exp

    def test_aggregate_per_measurement(self, multi_engine):
        out = {
            r.measurement: r.n
            for r in multi_engine.query(
                "select count(value) as n from /^ev_/ group by measurement"
            ).collect()
        }
        assert set(out) == {"ev_click", "ev_purchase"} and all(
            v > 0 for v in out.values()
        )

    def test_no_match_raises(self, multi_engine):
        with pytest.raises(InfluxQLError):
            multi_engine.query("select count(value) from /^zzz/")


class TestCatalogSelect:
    """SELECT compiled against catalog-backed measurement tables
    (db.rp__m resolution via the session db context)."""

    @pytest.fixture()
    def cat_sel_engine(self, spark, tmp_path):
        from syncflux_spark.catalog import (
            FieldSch,
            MeasurementSch,
            RetPol,
            SparkCatalog,
        )

        cat = SparkCatalog(spark)
        db = "iqlsel"
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        cat.create_db(db)
        rp = RetPol(name="autogen", duration="0s", default=True)
        meas = MeasurementSch(
            name="cpu", fields={"usage": FieldSch("usage", "float")}, tags=["host"]
        )
        cat.create_measurement(db, rp, meas, location=str(tmp_path / "cpu"))
        rows = [
            (i * 3600 * 10**9, None, f"h{i % 2}", float(i)) for i in range(8)
        ]
        spark.createDataFrame(
            rows, "time_ns long, ts timestamp, host string, usage double"
        ).write.insertInto(f"{db}.autogen__cpu")
        yield InfluxQLEngine(spark, catalog=cat, db=db)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")

    def test_aggregate_over_catalog_table(self, cat_sel_engine):
        out = {
            r.host: (r.n, r.s)
            for r in cat_sel_engine.query(
                "select count(usage) as n, sum(usage) as s from cpu group by host"
            ).collect()
        }
        assert out == {"h0": (4, 0.0 + 2 + 4 + 6), "h1": (4, 1.0 + 3 + 5 + 7)}

    def test_three_part_name(self, cat_sel_engine):
        out = cat_sel_engine.query(
            'select count(usage) as n from iqlsel.autogen."cpu"'
        ).collect()
        assert out[0].n == 8


def test_wildcard_aggregate_expands_per_field(engine, events):
    out = engine.query(
        "select count(*) from events group by event_type"
    )
    # fields only: tags and the time columns are never counted
    assert set(out.columns) == {
        "event_type", "count_event_id", "count_value", "count_props",
    }
    row = {r.event_type: r.count_value for r in out.collect()}
    exp = {
        r.event_type: r.n
        for r in events.groupBy("event_type")
        .agg(F.count("value").alias("n"))
        .collect()
    }
    assert row == exp


class TestTieredRetention:
    """Downsample tiering: frequent materialization ticks create
    window dirs (the shard-group analog); expiry drops whole windows
    past each tier's retention without re-materializing them later."""

    CQ = (
        'CREATE CONTINUOUS QUERY "hourly" ON "db" BEGIN '
        "SELECT count(value) AS n INTO \"ev_hourly\" FROM events "
        "GROUP BY time(1h), event_type END"
    )

    @staticmethod
    def _ns(s: str) -> int:
        from syncflux_spark.sources.parquet import _to_ns_epoch

        return _to_ns_epoch(s)

    def test_tick_then_expire(self, engine, tmp_path):
        from syncflux_spark.streaming.continuous import (
            ExpiringContinuousQuery,
            TieredRetention,
        )

        cq = ExpiringContinuousQuery(engine, self.CQ, str(tmp_path / "t"))
        day = 86400 * 10**9
        tiers = TieredRetention([(cq, 10 * day)])
        # three ticks → three window dirs
        r1 = tiers.tick(self._ns("2024-01-08 00:00:00"))
        r2 = tiers.tick(self._ns("2024-01-16 00:00:00"))
        r3 = tiers.tick(self._ns("2024-01-24 00:00:00"))
        assert r1["hourly"]["rows_written"] > 0
        assert r2["hourly"]["rows_written"] > 0
        # first window [.., 01-08) fully before 01-24 - 10d = 01-14 → expired
        assert r3["hourly"]["windows_expired"] == 1
        remaining = cq.read_target()
        mn = remaining.agg(F.min("time").alias("m")).collect()[0].m
        assert mn >= self._ns("2024-01-08 00:00:00")

    def test_expiry_does_not_rematerialize(self, engine, tmp_path):
        from syncflux_spark.streaming.continuous import (
            ExpiringContinuousQuery,
        )

        cq = ExpiringContinuousQuery(engine, self.CQ, str(tmp_path / "t2"))
        cq.run(self._ns("2024-01-08 00:00:00"))
        n_before = cq.read_target().count()
        assert n_before > 0
        # expire EVERYTHING materialized so far
        assert cq.expire(self._ns("2024-01-08 00:00:00")) == 1
        # next run must resume above the marker, not re-create history
        cq.run(self._ns("2024-01-16 00:00:00"))
        remaining = cq.read_target()
        mn = remaining.agg(F.min("time").alias("m")).collect()[0].m
        assert mn >= self._ns("2024-01-08 00:00:00")

    def test_straddling_window_survives(self, engine, tmp_path):
        from syncflux_spark.streaming.continuous import (
            ExpiringContinuousQuery,
        )

        cq = ExpiringContinuousQuery(engine, self.CQ, str(tmp_path / "t3"))
        cq.run(self._ns("2024-01-08 00:00:00"))
        # cutoff inside the window: the whole window stays
        assert cq.expire(self._ns("2024-01-05 00:00:00")) == 0
        assert cq.read_target().count() > 0


class TestTableBackedShow:
    """SHOW MEASUREMENTS / TAG KEYS / FIELD KEYS against a
    tables-registered engine (serve mode has no catalog)."""

    def test_show_measurements(self, engine):
        out = engine.query("show measurements").collect()
        assert [r.name for r in out] == ["events"]

    def test_show_tag_keys(self, engine):
        out = engine.query("show tag keys from events").collect()
        assert [r.tagKey for r in out] == ["event_type", "user_id"]

    def test_show_field_keys(self, engine):
        out = {
            r.fieldKey: r.fieldType
            for r in engine.query("show field keys from events").collect()
        }
        assert out == {
            "event_id": "integer",
            "value": "float",
            "props": "string",
        }


class TestTimezone:
    """tz('<zone>') — local bucket alignment, UTC epoch output."""

    def test_parse(self):
        st = parse(
            "SELECT count(value) FROM events GROUP BY time(1d) "
            "tz('America/Chicago')"
        )
        assert st.tzname == "America/Chicago"

    def test_parse_rejects_unquoted(self):
        with pytest.raises(InfluxQLError):
            parse("SELECT count(value) FROM events GROUP BY time(1d) tz(UTC)")

    def test_fixed_offset_daily_buckets(self, engine, events):
        # Etc/GMT+5 == UTC-5 (POSIX sign): local midnight = 05:00 UTC
        out = engine.query(
            "SELECT count(value) AS n FROM events "
            "WHERE time >= '2024-01-08' AND time < '2024-01-12' "
            "GROUP BY time(1d) tz('Etc/GMT+5')"
        ).collect()
        day = 86400 * 10**9
        for r in out:
            assert (r.time - 5 * 3600 * 10**9) % day == 0
        # same rows as the hand-shifted DataFrame rollup
        lo = engine.query(
            "SELECT count(value) AS n FROM events "
            "WHERE time >= '2024-01-08' AND time < '2024-01-12' "
            "GROUP BY time(1d)"
        ).count()
        assert len(out) >= 1 and abs(len(out) - lo) <= 1

    def test_utc_zone_matches_plain(self, engine):
        q = (
            "SELECT count(value) AS n FROM events "
            "WHERE time >= '2024-01-08' AND time < '2024-01-10' "
            "GROUP BY time(6h)"
        )
        plain = {(r.time, r.n) for r in engine.query(q).collect()}
        tz = {
            (r.time, r.n)
            for r in engine.query(q + " tz('UTC')").collect()
        }
        assert plain == tz


class TestSelectInto:
    """Standalone SELECT ... INTO: write + register + re-query."""

    def test_requires_cq_root(self, engine):
        with pytest.raises(InfluxQLError, match="cq_root"):
            engine.query(
                'SELECT count(value) AS n INTO "t" FROM events '
                "GROUP BY time(1d)"
            )

    def test_roundtrip(self, spark, events, tmp_path):
        eng = InfluxQLEngine(
            spark,
            tables={"events": events},
            tags={"events": ["event_type", "user_id"]},
            now=NOW,
            cq_root=str(tmp_path),
        )
        ack = eng.query(
            'SELECT count(value) AS n INTO "ev_daily" FROM events '
            "GROUP BY time(1d), event_type"
        ).collect()
        assert ack[0].written > 0
        total = eng.query("SELECT sum(n) AS total FROM ev_daily").collect()
        assert total[0].total == events.where("value is not null").count()
        # tags survive: GROUP BY * on the target groups by event_type
        by_tag = eng.query(
            "SELECT sum(n) AS s FROM ev_daily GROUP BY event_type"
        ).collect()
        assert len(by_tag) == events.select("event_type").distinct().count()
        # idempotent re-run: same bucket count, not doubled
        n1 = eng.query("SELECT count(n) AS c FROM ev_daily").collect()[0].c
        eng.query(
            'SELECT count(value) AS n INTO "ev_daily" FROM events '
            "GROUP BY time(1d), event_type"
        ).collect()
        n2 = eng.query("SELECT count(n) AS c FROM ev_daily").collect()[0].c
        assert n1 == n2


class TestCardinality:
    """SHOW ... CARDINALITY family — exact distributed counts."""

    def test_series_cardinality(self, engine, events):
        got = engine.query("SHOW SERIES CARDINALITY FROM events").collect()
        want = events.select("event_type", "user_id").distinct().count()
        assert got[0]["count"] == want

    def test_series_cardinality_all_measurements(self, engine, events):
        got = engine.query("SHOW SERIES CARDINALITY").collect()
        want = events.select("event_type", "user_id").distinct().count()
        assert got[0]["count"] == want  # only one registered table

    def test_measurement_cardinality(self, engine):
        assert (
            engine.query("SHOW MEASUREMENT CARDINALITY").collect()[0]["count"]
            == 1
        )

    def test_tag_key_cardinality(self, engine):
        assert (
            engine.query("SHOW TAG KEY CARDINALITY FROM events").collect()[0][
                "count"
            ]
            == 2
        )

    def test_field_key_cardinality(self, engine):
        # event_id, value, props (ts/ts_ns excluded)
        assert (
            engine.query("SHOW FIELD KEY CARDINALITY FROM events").collect()[
                0
            ]["count"]
            == 3
        )

    def test_tag_values_cardinality(self, engine, events):
        got = engine.query(
            "SHOW TAG VALUES CARDINALITY FROM events WITH KEY = event_type"
        ).collect()
        assert got[0]["count"] == events.select("event_type").distinct().count()

    def test_unknown_measurement_rejected(self, engine):
        with pytest.raises(InfluxQLError):
            engine.query("SHOW SERIES CARDINALITY FROM nope")


class TestDeleteTagPredicates:
    """influx DELETE grammar: tag predicates (equality/regex) compose
    with time bounds; field predicates are rejected."""

    @pytest.fixture()
    def deletable(self, spark, tmp_path):
        from syncflux_spark.catalog import (
            FieldSch,
            MeasurementSch,
            RetPol,
            SparkCatalog,
        )

        cat = SparkCatalog(spark)
        db = "iqldel2"
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        cat.create_db(db)
        rp = RetPol(name="autogen", duration="0s", default=True)
        meas = MeasurementSch(
            name="cpu",
            fields={"usage": FieldSch("usage", "float")},
            tags=["host"],
        )
        cat.create_measurement(db, rp, meas, location=str(tmp_path / "cpu"))
        rows = [
            (i * 10**9, None, "h1" if i % 2 == 0 else "h2", float(i))
            for i in range(10)
        ]
        spark.createDataFrame(
            rows, "time_ns long, ts timestamp, host string, usage double"
        ).write.insertInto(f"{db}.autogen__cpu")
        yield InfluxQLEngine(spark, catalog=cat, db=db)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")

    def test_delete_by_tag(self, deletable, spark):
        res = deletable.query("delete from cpu where \"host\" = 'h2'").collect()
        assert res[0].rows_deleted == 5
        left = spark.table("iqldel2.autogen__cpu")
        assert left.count() == 5
        assert left.where("host = 'h2'").count() == 0

    def test_delete_tag_and_time(self, deletable, spark):
        res = deletable.query(
            "delete from cpu where \"host\" = 'h1' and time < 5000000000"
        ).collect()
        # h1 rows at t=0,2,4 s fall in range
        assert res[0].rows_deleted == 3
        left = spark.table("iqldel2.autogen__cpu")
        assert left.count() == 7
        assert left.where("host = 'h1'").count() == 2

    def test_delete_tag_regex(self, deletable, spark):
        res = deletable.query("delete from cpu where host =~ /h1/").collect()
        assert res[0].rows_deleted == 5
        assert spark.table("iqldel2.autogen__cpu").where(
            "host = 'h1'"
        ).count() == 0

    def test_field_predicate_rejected(self, deletable):
        with pytest.raises(InfluxQLError, match="tags only"):
            deletable.query("delete from cpu where usage > 3")

    def test_bare_delete_still_rejected(self, deletable):
        with pytest.raises(InfluxQLError):
            deletable.query("delete from cpu")


class TestIntegralSample:
    """integral() / sample() aggregates."""

    def test_integral_matches_hand_rollup(self, engine, events):
        from pyspark.sql import Window

        out = {
            r.event_type: r.area
            for r in engine.query(
                "SELECT integral(value, 1s) AS area FROM events "
                "GROUP BY event_type"
            ).collect()
        }
        w = Window.partitionBy("event_type").orderBy("ts_ns")
        seg = (F.col("value") + F.lag("value").over(w)).cast("double") * (
            F.col("ts_ns") - F.lag("ts_ns").over(w)
        ).cast("double")
        hand = {
            r.event_type: r.area
            for r in events.select("event_type", seg.alias("seg"))
            .where("seg is not null")
            .groupBy("event_type")
            .agg((F.sum("seg") / F.lit(2.0e9)).alias("area"))
            .collect()
        }
        for k, v in out.items():
            assert abs(v - hand[k]) < 1e-6 * max(1.0, abs(hand[k]))

    def test_integral_default_unit_is_seconds(self, engine):
        a = engine.query(
            "SELECT integral(value) AS x FROM events GROUP BY event_type"
        ).collect()
        b = engine.query(
            "SELECT integral(value, 1s) AS x FROM events GROUP BY event_type"
        ).collect()
        assert {(r.event_type, r.x) for r in a} == {
            (r.event_type, r.x) for r in b
        }

    def test_integral_rejects_mixing(self, engine):
        with pytest.raises(InfluxQLError):
            engine.query(
                "SELECT integral(value), mean(value) FROM events "
                "GROUP BY event_type"
            )

    def test_sample_deterministic_and_sized(self, engine, events):
        q = (
            "SELECT sample(value, 3) FROM events GROUP BY event_type"
        )
        a = [tuple(r) for r in engine.query(q).collect()]
        b = [tuple(r) for r in engine.query(q).collect()]
        assert a == b
        n_types = events.select("event_type").distinct().count()
        assert len(a) == 3 * n_types

    def test_sample_requires_count(self, engine):
        with pytest.raises(InfluxQLError):
            engine.query("SELECT sample(value) FROM events")


class TestDropRetentionPolicy:
    def test_drop_rp(self, spark, tmp_path):
        from syncflux_spark.catalog import (
            FieldSch,
            MeasurementSch,
            RetPol,
            SparkCatalog,
        )

        cat = SparkCatalog(spark)
        db = "iqldrp"
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        cat.create_db(db)
        meas = MeasurementSch(
            name="cpu", fields={"usage": FieldSch("usage", "float")}, tags=[]
        )
        for rp in ("autogen", "weekly"):
            cat.create_measurement(
                db,
                RetPol(name=rp, duration="0s", default=rp == "autogen"),
                meas,
                location=str(tmp_path / rp),
            )
        eng = InfluxQLEngine(spark, catalog=cat, db=db)
        eng.query('DROP RETENTION POLICY "weekly" ON iqldrp')
        left = [t.name for t in spark.catalog.listTables(db)]
        assert left == ["autogen__cpu"]
        with pytest.raises(InfluxQLError, match="not found"):
            eng.query('DROP RETENTION POLICY "weekly" ON iqldrp')
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


class TestExplain:
    def test_explain_returns_plan(self, engine):
        rows = engine.query(
            "EXPLAIN SELECT mean(value) FROM events "
            "WHERE time >= '2024-01-08' GROUP BY time(1h), event_type"
        ).collect()
        text = "\n".join(r.plan for r in rows)
        assert "HashAggregate" in text or "Aggregate" in text
        assert "Scan" in text

    def test_explain_analyze_runs(self, engine):
        rows = engine.query(
            "EXPLAIN ANALYZE SELECT count(value) FROM events"
        ).collect()
        assert len(rows) > 0


class TestFromCommaList:
    @pytest.fixture()
    def multi(self, spark, events):
        half = events.where("event_id % 2 = 0")
        other = events.where("event_id % 2 = 1")
        return InfluxQLEngine(
            spark,
            tables={"clicks": half, "views": other},
            tags={"clicks": ["event_type"], "views": ["event_type"]},
            now=NOW,
        )

    def test_union_counts(self, multi, events):
        out = {
            r.measurement: r.n
            for r in multi.query(
                "SELECT count(value) AS n FROM clicks, views "
                "GROUP BY measurement"
            ).collect()
        }
        assert set(out) == {"clicks", "views"}
        assert sum(out.values()) == events.where(
            "value is not null"
        ).count()

    def test_missing_names_contribute_nothing(self, multi, events):
        # influx semantics: a nonexistent measurement in the FROM list
        # silently contributes no series
        out = multi.query(
            "SELECT count(value) AS n FROM clicks, nope "
            "GROUP BY measurement"
        ).collect()
        assert [r.measurement for r in out] == ["clicks"]
        # and a regex metachar in a name must not widen the match:
        # 'cl.cks' is not a registered name, so only 'views' answers
        out2 = multi.query(
            'SELECT count(value) AS n FROM "cl.cks", views '
            "GROUP BY measurement"
        ).collect()
        assert [r.measurement for r in out2] == ["views"]


class TestMathFunctions:
    """InfluxQL 1.8 scalar math functions: raw-field, aggregate-result,
    and WHERE positions; arity validation; float-typed ceil/floor."""

    def test_parse_shapes(self):
        st = parse('SELECT round(sqrt("value") * 10) AS r FROM m')
        assert st.projs[0].out_name == "r"
        assert st.projs[0].expr is not None
        # default name is the outermost function
        st2 = parse('SELECT pow("value", 2) + abs("value") FROM m')
        assert st2.projs[0].out_name == "pow_abs"
        st3 = parse('SELECT atan2("y", "x") FROM m')
        assert st3.projs[0].out_name == "atan2"

    def test_arity_rejected(self):
        with pytest.raises(InfluxQLError):
            parse('SELECT abs("a", "b") FROM m')
        with pytest.raises(InfluxQLError):
            parse('SELECT pow("a") FROM m')
        with pytest.raises(InfluxQLError):
            parse('SELECT log("a", 2, 3) FROM m')

    def test_raw_math_values(self, engine, events):
        out = engine.query(
            "SELECT abs(value - 100) AS d, floor(value / 3) AS f "
            "FROM events WHERE time >= '2024-01-05' AND time < '2024-01-06' "
            "ORDER BY time LIMIT 20"
        ).collect()
        exp = (
            events.where(
                (F.col("ts") >= "2024-01-05") & (F.col("ts") < "2024-01-06")
            )
            .orderBy("ts")
            .select(
                F.abs(F.col("value") - 100).alias("d"),
                F.floor(F.col("value") / 3).cast("double").alias("f"),
            )
            .limit(20)
            .collect()
        )
        assert [(r.d, r.f) for r in out] == [(r.d, r.f) for r in exp]

    def test_math_of_aggregate_single_shuffle(self, engine, events):
        df = engine.query(
            "SELECT sqrt(mean(value)) AS sm FROM events "
            "WHERE time >= '2024-01-05' AND time < '2024-01-07' "
            "GROUP BY time(1d)"
        )
        rows = {r.time: r.sm for r in df.collect()}
        import math

        exp = (
            events.where(
                (F.col("ts") >= "2024-01-05") & (F.col("ts") < "2024-01-07")
            )
            .groupBy(F.date_trunc("day", "ts").alias("d"))
            .agg(F.avg("value").alias("m"))
            .collect()
        )
        for r in exp:
            key = int(r.d.replace(tzinfo=timezone.utc).timestamp() * 1e9)
            assert rows[key] == pytest.approx(math.sqrt(r.m))
        # one exchange: math-over-agg must not add a second shuffle
        # (count only the final plan — AQE's string repeats the plan
        # under '== Initial Plan ==')
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("Exchange") <= 2  # agg shuffle (+ final sort)

    def test_where_math_function(self, engine, events):
        n = engine.query(
            "SELECT count(value) AS n FROM events "
            "WHERE time >= '2024-01-05' AND time < '2024-01-07' "
            "AND abs(value - 100) < 50"
        ).collect()[0].n
        exp = events.where(
            (F.col("ts") >= "2024-01-05")
            & (F.col("ts") < "2024-01-07")
            & (F.abs(F.col("value") - 100) < 50)
        ).count()
        assert n == exp

    def test_unknown_function_still_rejected(self):
        with pytest.raises(InfluxQLError):
            parse('SELECT frobnicate("value") FROM m')


class TestHoltWinters:
    """holt_winters(func(v), N, S) transform: forecast shape, fitted
    variant, argument validation. Values are oracle-gated
    (influxql_holt_winters); these pin the dialect semantics."""

    def test_forecast_rows_and_spacing(self, engine, events):
        df = engine.query(
            "SELECT holt_winters(mean(value), 3, 0) FROM events "
            "WHERE time >= '2024-01-05' AND time < '2024-01-12' "
            "GROUP BY time(1d), event_type"
        )
        rows = df.collect()
        per_type: dict[str, list[int]] = {}
        for r in rows:
            per_type.setdefault(r.event_type, []).append(r.time)
        n_types = events.where(
            (F.col("ts") >= "2024-01-05") & (F.col("ts") < "2024-01-12")
        ).select("event_type").distinct().count()
        assert len(per_type) == n_types
        day = 86_400 * 10**9
        for times in per_type.values():
            assert len(times) == 3
            ts = sorted(times)
            assert ts[1] - ts[0] == day and ts[2] - ts[1] == day
        assert df.columns == ["time", "event_type", "holt_winters"]

    def test_with_fit_includes_input_buckets(self, engine):
        df = engine.query(
            "SELECT holt_winters_with_fit(mean(value), 2, 0) FROM events "
            "WHERE time >= '2024-01-05' AND time < '2024-01-12' "
            "GROUP BY time(1d)"
        )
        rows = df.collect()
        # 7 daily buckets fitted + 2 forecasts
        assert len(rows) == 9
        # first fitted value equals the first bucket's own mean
        # (seed state), to fixed-point micros
        first = rows[0]
        assert first.holt_winters_with_fit == pytest.approx(
            engine.query(
                "SELECT mean(value) AS m FROM events "
                "WHERE time >= '2024-01-05' AND time < '2024-01-06' "
                "GROUP BY time(1d)"
            ).collect()[0].m,
            abs=1e-6,
        )

    def test_argument_validation(self, engine):
        with pytest.raises(InfluxQLError, match="two"):
            engine.query(
                "SELECT holt_winters(mean(value), 3) FROM events "
                "WHERE time > 0 GROUP BY time(1d)"
            )
        # S > 0 is the seasonal form (TestSeasonalHoltWinters) — it
        # must compile, not raise
        assert (
            engine.query(
                "SELECT holt_winters(mean(value), 3, 4) FROM events "
                "WHERE time >= '2024-01-05' AND time < '2024-01-12' "
                "GROUP BY time(1d)"
            ).count()
            == 3
        )
        with pytest.raises(InfluxQLError, match="only projection"):
            engine.query(
                "SELECT holt_winters(mean(value), 3, 0), count(value) "
                "FROM events WHERE time > 0 GROUP BY time(1d)"
            )
        with pytest.raises(InfluxQLError, match="GROUP BY time"):
            engine.query(
                "SELECT holt_winters(mean(value), 3, 0) FROM events "
                "WHERE time > 0 GROUP BY event_type"
            )


class TestExponentialMovingAverage:
    def test_one_value_per_bucket(self, engine, events):
        df = engine.query(
            "SELECT exponential_moving_average(mean(value), 5) FROM events "
            "WHERE time >= '2024-01-05' AND time < '2024-01-12' "
            "GROUP BY time(1d)"
        )
        rows = df.collect()
        assert len(rows) == 7  # one per daily bucket, no warm-up gap
        assert df.columns == ["time", "exponential_moving_average"]

    def test_seed_and_recurrence(self, engine):
        means = {
            r.time: r.m
            for r in engine.query(
                "SELECT mean(value) AS m FROM events "
                "WHERE time >= '2024-01-05' AND time < '2024-01-08' "
                "GROUP BY time(1d)"
            ).collect()
        }
        out = {
            r.time: r.exponential_moving_average
            for r in engine.query(
                "SELECT exponential_moving_average(mean(value), 5) "
                "FROM events "
                "WHERE time >= '2024-01-05' AND time < '2024-01-08' "
                "GROUP BY time(1d)"
            ).collect()
        }
        ts = sorted(means)
        a, b = 2.0 / 6.0, 1.0 - 2.0 / 6.0
        ema = means[ts[0]]
        assert out[ts[0]] == ema  # EMA_1 = x_1
        for t in ts[1:]:
            ema = means[t] * a + ema * b
            assert out[t] == ema  # bit-exact fixed-order recurrence

    def test_validation(self, engine):
        with pytest.raises(InfluxQLError, match="GROUP BY time"):
            engine.query(
                "SELECT exponential_moving_average(mean(value), 5) "
                "FROM events WHERE time > 0 GROUP BY event_type"
            )
        with pytest.raises(InfluxQLError, match=">= 1"):
            engine.query(
                "SELECT exponential_moving_average(mean(value), 0) "
                "FROM events WHERE time > 0 GROUP BY time(1d)"
            )


class TestRelativeStrengthIndex:
    def test_warmup_and_range(self, engine):
        df = engine.query(
            "SELECT relative_strength_index(mean(value), 3) FROM events "
            "WHERE time >= '2024-01-05' AND time < '2024-01-12' "
            "GROUP BY time(1d)"
        )
        rows = df.collect()
        # 7 buckets, N=3 -> emitted from bucket 4
        assert len(rows) == 4
        for r in rows:
            assert r.relative_strength_index is None or (
                0.0 <= r.relative_strength_index <= 100.0
            )

    def test_monotone_series_saturates(self, spark):
        from syncflux_spark.influxql import InfluxQLEngine
        import pyspark.sql.functions as SF

        # strictly increasing series: all gains, no losses -> RSI 100
        df = spark.range(10).select(
            SF.timestamp_seconds(
                SF.lit(1704412800) + SF.col("id") * 3600
            ).alias("ts"),
            (SF.col("id") * 10 + 1).cast("double").alias("value"),
        )
        df = df.withColumn("ts_ns", SF.unix_micros("ts") * 1000)
        eng = InfluxQLEngine(spark, tables={"m": df}, tags={"m": []})
        out = eng.query(
            "SELECT relative_strength_index(mean(value), 3) FROM m "
            "WHERE time >= '2024-01-01' AND time < '2024-01-08' "
            "GROUP BY time(1h)"
        ).collect()
        assert len(out) == 10 - 3
        assert all(r.relative_strength_index == 100.0 for r in out)

    def test_validation(self, engine):
        with pytest.raises(InfluxQLError, match="GROUP BY time"):
            engine.query(
                "SELECT relative_strength_index(mean(value), 3) "
                "FROM events WHERE time > 0 GROUP BY event_type"
            )


class TestChandeMomentum:
    def test_warmup_and_identity_with_rsi_at_first_emission(self, engine):
        """At the FIRST emitted bucket both CMO and RSI see the same
        un-smoothed N diffs, so CMO = 2·RSI − 100 exactly there (they
        diverge afterwards: Wilder smoothing vs sliding window)."""
        q = (
            "SELECT {fn}(mean(value), 3) FROM events "
            "WHERE time >= '2024-01-05' AND time < '2024-01-12' "
            "GROUP BY time(1d)"
        )
        cmo = engine.query(q.format(fn="chande_momentum_oscillator")).collect()
        rsi = engine.query(q.format(fn="relative_strength_index")).collect()
        assert len(cmo) == len(rsi) == 4
        first_cmo = sorted(cmo, key=lambda r: r.time)[0]
        first_rsi = sorted(rsi, key=lambda r: r.time)[0]
        assert first_cmo.chande_momentum_oscillator == pytest.approx(
            2 * first_rsi.relative_strength_index - 100, abs=1e-9
        )
        for r in cmo:
            assert -100.0 <= r.chande_momentum_oscillator <= 100.0

    def test_validation(self, engine):
        with pytest.raises(InfluxQLError, match="GROUP BY time"):
            engine.query(
                "SELECT chande_momentum_oscillator(mean(value), 3) "
                "FROM events WHERE time > 0 GROUP BY event_type"
            )


class TestEmaCascadeFamily:
    def test_dema_reduces_to_ema_identity_when_alpha_1(self, spark):
        """N=1 → α=1: every cascade level equals the raw value, so
        DEMA = 2x − x = x and TEMA = x."""
        from syncflux_spark.influxql import InfluxQLEngine
        import pyspark.sql.functions as SF

        df = spark.range(6).select(
            SF.timestamp_seconds(
                SF.lit(1704412800) + SF.col("id") * 3600
            ).alias("ts"),
            (SF.col("id") * 7 + 3).cast("double").alias("value"),
        ).withColumn("ts_ns", SF.unix_micros("ts") * 1000)
        eng = InfluxQLEngine(spark, tables={"m": df}, tags={"m": []})
        for fn in (
            "double_exponential_moving_average",
            "triple_exponential_moving_average",
        ):
            out = eng.query(
                f"SELECT {fn}(mean(value), 1) FROM m "
                "WHERE time >= '2024-01-01' AND time < '2024-01-08' "
                "GROUP BY time(1h)"
            ).collect()
            assert [r[1] for r in out] == [3.0, 10.0, 17.0, 24.0, 31.0, 38.0]

    def test_trix_emits_from_second_bucket(self, engine):
        out = engine.query(
            "SELECT triple_exponential_derivative(mean(value), 5) "
            "FROM events "
            "WHERE time >= '2024-01-05' AND time < '2024-01-12' "
            "GROUP BY time(1d)"
        ).collect()
        assert len(out) == 6  # 7 buckets, from bucket 2

    def test_ker_bounds_and_kama_flat_series(self, spark):
        from syncflux_spark.influxql import InfluxQLEngine
        import pyspark.sql.functions as SF

        flat = spark.range(8).select(
            SF.timestamp_seconds(
                SF.lit(1704412800) + SF.col("id") * 3600
            ).alias("ts"),
            SF.lit(42.0).alias("value"),
        ).withColumn("ts_ns", SF.unix_micros("ts") * 1000)
        eng = InfluxQLEngine(spark, tables={"m": flat}, tags={"m": []})
        ker = eng.query(
            "SELECT kaufmans_efficiency_ratio(mean(value), 3) FROM m "
            "WHERE time >= '2024-01-01' AND time < '2024-01-08' "
            "GROUP BY time(1h)"
        ).collect()
        # flat window: denominator 0 -> null
        assert all(r[1] is None for r in ker)
        kama = eng.query(
            "SELECT kaufmans_adaptive_moving_average(mean(value), 3) FROM m "
            "WHERE time >= '2024-01-01' AND time < '2024-01-08' "
            "GROUP BY time(1h)"
        ).collect()
        # er0 = 0 on a flat series: kama must stay at the seed value
        assert all(r[1] == 42.0 for r in kama)

    def test_ker_in_unit_interval(self, engine):
        out = engine.query(
            "SELECT kaufmans_efficiency_ratio(mean(value), 3) FROM events "
            "WHERE time >= '2024-01-05' AND time < '2024-01-12' "
            "GROUP BY time(1d)"
        ).collect()
        assert len(out) == 4
        for r in out:
            assert r[1] is None or 0.0 <= r[1] <= 1.0


class TestSeasonalHoltWinters:
    def test_periodic_series_forecasts_the_pattern(self, spark):
        """A strongly periodic series (period 4) should forecast
        values that track the seasonal offsets, which the
        non-seasonal form flattens out."""
        from syncflux_spark.influxql import InfluxQLEngine
        import pyspark.sql.functions as SF

        # 24 points of [0, 100, 0, 100 ...] offset pattern
        df = spark.range(24).select(
            SF.timestamp_seconds(
                SF.lit(1704412800) + SF.col("id") * 3600
            ).alias("ts"),
            ((SF.col("id") % 2) * 100).cast("double").alias("value"),
        ).withColumn("ts_ns", SF.unix_micros("ts") * 1000)
        eng = InfluxQLEngine(spark, tables={"m": df}, tags={"m": []})
        out = eng.query(
            "SELECT holt_winters(mean(value), 4, 2) FROM m "
            "WHERE time >= '2024-01-01' AND time < '2024-01-08' "
            "GROUP BY time(1h)"
        ).collect()
        assert len(out) == 4
        vals = [r.holt_winters for r in out]
        # forecasts must alternate like the input: odd slots high
        assert vals[0] < vals[1] and vals[2] < vals[3]
        assert abs(vals[1] - vals[3]) < 30  # same-slot forecasts agree

    def test_forecast_count_and_spacing(self, engine):
        df = engine.query(
            "SELECT holt_winters(mean(value), 5, 4) FROM events "
            "WHERE time >= '2024-01-05' AND time < '2024-01-12' "
            "GROUP BY time(6h)"
        )
        rows = sorted(df.collect(), key=lambda r: r.time)
        assert len(rows) == 5
        step = 6 * 3600 * 10**9
        for a, b in zip(rows, rows[1:]):
            assert b.time - a.time == step

    def test_with_fit_seasonal_rejected(self, engine):
        with pytest.raises(InfluxQLError, match="S=0 only"):
            engine.query(
                "SELECT holt_winters_with_fit(mean(value), 2, 4) "
                "FROM events WHERE time > 0 GROUP BY time(1d)"
            )


class TestDropSeriesAndAdminShows:
    """DROP SERIES (whole-series removal via the DELETE machinery,
    time predicates rejected) and the SHOW STATS / SHOW DIAGNOSTICS
    admin surface."""

    @pytest.fixture()
    def dropable(self, spark, tmp_path):
        from syncflux_spark.catalog import (
            FieldSch,
            MeasurementSch,
            RetPol,
            SparkCatalog,
        )

        cat = SparkCatalog(spark)
        db = "iqldrop1"
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        cat.create_db(db)
        rp = RetPol(name="autogen", duration="0s", default=True)
        meas = MeasurementSch(
            name="cpu",
            fields={"usage": FieldSch("usage", "float")},
            tags=["host"],
        )
        cat.create_measurement(db, rp, meas, location=str(tmp_path / "cpu"))
        rows = [
            (i * 10**9, None, "h1" if i % 2 == 0 else "h2", float(i))
            for i in range(10)
        ]
        spark.createDataFrame(
            rows, "time_ns long, ts timestamp, host string, usage double"
        ).write.insertInto(f"{db}.autogen__cpu")
        yield InfluxQLEngine(spark, catalog=cat, db=db)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")

    def test_drop_series_removes_all_points_of_series(self, dropable, spark):
        res = dropable.query("DROP SERIES FROM cpu WHERE \"host\" = 'h2'").collect()
        assert res[0].rows_deleted == 5
        left = spark.table("iqldrop1.autogen__cpu")
        assert left.count() == 5
        assert left.where("host = 'h2'").count() == 0

    def test_bare_drop_series_removes_measurement_rows(self, dropable, spark):
        """DROP SERIES FROM m with no WHERE is valid InfluxQL: every
        series of the measurement goes (README's whole-series
        removal); bare DELETE stays guarded."""
        res = dropable.query("DROP SERIES FROM cpu").collect()
        assert res[0].rows_deleted == 10
        assert spark.table("iqldrop1.autogen__cpu").count() == 0
        with pytest.raises(InfluxQLError, match="predicate"):
            dropable.query("DELETE FROM cpu")

    def test_drop_series_rejects_time(self):
        with pytest.raises(InfluxQLError, match="time"):
            parse("DROP SERIES FROM cpu WHERE time > 0")

    def test_show_stats(self, engine, events):
        rows = {r.measurement: r for r in engine.query("SHOW STATS").collect()}
        assert rows["events"].n_rows == events.where(
            "value is not null"
        ).count() + events.where("value is null").count()
        exp_series = events.select("event_type", "user_id").distinct().count()
        assert rows["events"].n_series == exp_series

    def test_show_diagnostics(self, engine):
        rows = engine.query("SHOW DIAGNOSTICS").collect()
        kv = {(r.section, r.name): r.value for r in rows}
        assert kv[("build", "engine")] == "syncflux-spark"
        assert ("runtime", "shuffle_partitions") in kv


class TestFoldFamilyPlanDiscipline:
    """The TA fold transforms must stay JVM-side (no Python stages)
    and add at most the tag-collapse exchange + final sort beyond the
    rollup's own aggregation shuffle."""

    @pytest.mark.parametrize(
        "proj",
        [
            "exponential_moving_average(mean(value), 5)",
            "relative_strength_index(mean(value), 3)",
            "chande_momentum_oscillator(mean(value), 3)",
            "double_exponential_moving_average(mean(value), 5)",
            "kaufmans_adaptive_moving_average(mean(value), 3)",
            "holt_winters(mean(value), 3, 0)",
            "holt_winters(mean(value), 4, 4)",
        ],
    )
    def test_no_python_and_bounded_exchanges(self, engine, proj):
        df = engine.query(
            f"SELECT {proj} FROM events "
            "WHERE time >= '2024-01-05' AND time < '2024-01-12' "
            "GROUP BY time(1d), event_type"
        )
        plan = (
            df._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        # rollup agg + per-series collapse + final time sort
        assert plan.count("Exchange") <= 3, plan


class TestLinearFolds:
    """Above fold_stream_threshold (or with unbounded time ranges) the
    fold family switches from the O(B²) in-row folds to the linear
    row stream of functions/tafold.py. Its steppers replay the exact
    IEEE op sequence of the in-row folds, so both forms must be
    BIT-identical — on the real fixture and on a crafted series with
    null buckets. Rows compare sorted by (time, series): same-time
    rows of different series have no defined relative order."""

    PROJS = [
        "exponential_moving_average(mean(value), 5)",
        "relative_strength_index(mean(value), 3)",
        "double_exponential_moving_average(mean(value), 5)",
        "triple_exponential_moving_average(mean(value), 5)",
        "triple_exponential_derivative(mean(value), 5)",
        "kaufmans_adaptive_moving_average(mean(value), 3)",
        "holt_winters_with_fit(mean(value), 3, 0)",
    ]

    @staticmethod
    def _rows(engine, proj, threshold):
        engine.fold_stream_threshold = threshold
        try:
            df = engine.query(
                f"SELECT {proj} FROM events "
                "WHERE time >= '2024-01-05' AND time < '2024-01-19' "
                "GROUP BY time(1d), event_type"
            )
            return sorted((tuple(r) for r in df.collect()), key=lambda r: r[:-1])
        finally:
            del engine.fold_stream_threshold  # back to the class value

    @pytest.mark.parametrize("proj", PROJS)
    def test_linear_matches_codegen_bitexact(self, engine, proj):
        codegen = self._rows(engine, proj, 10**18)
        linear = self._rows(engine, proj, 0)
        assert codegen == linear  # exact float equality, not approx

    @pytest.mark.parametrize("proj", PROJS)
    def test_null_buckets_match(self, spark, proj):
        """Buckets whose aggregate is null (all-null values) exercise
        each kernel's null semantics: EMA/cascade prefix-poisoning,
        RSI/KAMA greatest()/otherwise(0.0) recovery."""
        base = datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()
        rows = []
        for d in range(14):
            ts_ns = int((base + d * 86400 + 3600) * 1e9)
            # days 4 and 9: rows exist but value is null
            v = None if d in (4, 9) else float(10 + (d * 7) % 5)
            rows.append((ts_ns, v, "click"))
        df = spark.createDataFrame(
            rows, "ts_ns long, value double, event_type string"
        ).withColumn("ts", F.timestamp_micros((F.col("ts_ns") / 1000).cast("long")))
        eng = InfluxQLEngine(
            spark, tables={"events": df}, tags={"events": ["event_type"]}, now=NOW
        )
        codegen = self._rows(eng, proj, 10**18)
        linear = self._rows(eng, proj, 0)
        assert codegen == linear
        assert len(codegen) > 0

    def test_unbounded_range_takes_linear_path(self, engine):
        """No upper time bound → bucket count unknowable at plan time
        → the scale-safe row stream, visible as a MapInPandas stage."""
        df = engine.query(
            "SELECT exponential_moving_average(mean(value), 5) "
            "FROM events WHERE time > '2024-01-05' "
            "GROUP BY time(1d), event_type"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan

    def test_thousand_buckets_hand_off_to_stream(self, spark):
        """~1,000 one-minute buckets are far above the in-row fold's
        break-even, so KAMA streams rows through mapInPandas instead
        of collapsing each series into a collect_list array."""
        base = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1e9)
        df = spark.range(1000).select(
            (F.lit(base) + F.col("id") * F.lit(60 * 10**9)).alias("ts_ns"),
            (F.col("id") % 13).cast("double").alias("value"),
            F.lit("click").alias("event_type"),
        ).withColumn("ts", F.timestamp_micros((F.col("ts_ns") / 1000).cast("long")))
        eng = InfluxQLEngine(
            spark, tables={"events": df}, tags={"events": ["event_type"]}, now=NOW
        )
        out = eng.query(
            "SELECT kaufmans_adaptive_moving_average(mean(value), 3) "
            "FROM events WHERE time >= '2024-01-01T00:00:00Z' "
            "AND time < '2024-01-01T16:40:00Z' GROUP BY time(1m), event_type"
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan
        assert "collect_list" not in plan
        assert out.count() == 1000 - 3

    def test_100k_buckets_completes_linear(self, spark):
        """525k-bucket-scale regression: the O(B²) form can't finish
        this in any budget (~10¹⁰ fold steps); the linear row stream
        must do it in seconds."""
        import time as _time

        n = 100_000
        base = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1e9)
        iv = 60 * 10**9
        df = spark.range(n).select(
            (F.lit(base) + F.col("id") * F.lit(iv) + F.lit(10**9)).alias("ts_ns"),
            (F.col("id") % 17).cast("double").alias("value"),
            F.lit("click").alias("event_type"),
        ).withColumn("ts", F.timestamp_micros((F.col("ts_ns") / 1000).cast("long")))
        eng = InfluxQLEngine(
            spark, tables={"events": df}, tags={"events": ["event_type"]},
            now=datetime(2024, 4, 1, tzinfo=timezone.utc),
        )
        eng.fold_stream_threshold = 0
        t0 = _time.monotonic()
        out = eng.query(
            "SELECT exponential_moving_average(mean(value), 9) FROM events "
            "WHERE time >= '2024-01-01' AND time < '2024-04-01' "
            "GROUP BY time(1m), event_type"
        )
        rows = out.count()
        elapsed = _time.monotonic() - t0
        assert rows == n
        assert elapsed < 120, f"linear fold took {elapsed:.1f}s"


class TestNumericRangeGuards:
    """Out-of-range literals in remote input must reject via
    InfluxQLError, never surface Py4J/Overflow errors."""

    @pytest.mark.parametrize(
        "q",
        [
            "SELECT value FROM events WHERE time > 99999999999999999999999999",
            "SELECT value FROM events WHERE time > 17550432000000000009999999s",
            "SELECT value FROM events LIMIT 99999999999999999999999999",
            "SELECT mean(value) FROM events WHERE time > 0 "
            "GROUP BY time(99999999999999999999w)",
            "SELECT mean(value) FROM events WHERE time > 0 "
            "GROUP BY time(1d, 999999999999999999999w)",
            "SELECT value FROM events WHERE time > now() - 99999999999999999999w",
            "SELECT derivative(mean(value), 999999999999999999999w) "
            "FROM events WHERE time > 0 GROUP BY time(1d)",
        ],
    )
    def test_out_of_range_rejected(self, engine, q):
        with pytest.raises(InfluxQLError, match="out of range"):
            engine.query(q).count()

    def test_huge_limit_clamps_not_crashes(self, engine, events):
        n = engine.query("SELECT value FROM events LIMIT 5000000000").count()
        assert n == events.where("value is not null").count()


class TestScientificNotation:
    """InfluxQL float literals accept exponents (1.5e-2, 1E3)."""

    def test_where_and_projection(self, engine, events):
        n = engine.query(
            "SELECT value FROM events WHERE value > 1.5e-2"
        ).count()
        assert n == events.where("value > 0.015").count()
        rows = engine.query("SELECT value * 1e2 AS v FROM events LIMIT 3").collect()
        assert len(rows) == 3

    def test_float_time_literal_rejected(self, engine):
        with pytest.raises(InfluxQLError, match="integer epoch"):
            engine.query("SELECT value FROM events WHERE time > 1.5")

    def test_parse_shapes(self):
        st = parse("SELECT percentile(value, 9.9e1) FROM events")
        assert st.projs[0].arg == 99.0


class TestShowKillQueries:
    """SHOW QUERIES / KILL QUERY: running-query admin backed by Spark
    job groups (cancellation is real, not bookkeeping)."""

    def test_show_queries_empty(self, engine):
        assert engine.query("SHOW QUERIES").collect() == []

    def test_tracked_listing_shape(self, engine):
        with engine.tracked("SELECT count(value) FROM events") as qid:
            rows = engine.query("SHOW QUERIES").collect()
            assert [r.qid for r in rows] == [qid]
            r = rows[0]
            assert r.query.startswith("SELECT count")
            assert r.duration.endswith("s")
        assert engine.query("SHOW QUERIES").collect() == []

    def test_kill_unknown_qid(self, engine):
        with pytest.raises(InfluxQLError, match="no such query id"):
            engine.query("KILL QUERY 424242")

    def test_kill_cancels_running_job(self, spark, engine):
        """KILL must abort the victim's in-flight Spark jobs: a
        long-running count registered under tracked() dies with a
        cancellation error once another session kills its qid."""
        import threading
        import time

        state = {}

        def victim():
            try:
                with engine.tracked("SELECT slow FROM synthetic") as qid:
                    state["qid"] = qid
                    # a genuinely long job: ~10^10-row aggregation
                    spark.range(10**10).selectExpr("sum(id)").collect()
                state["done"] = "finished"
            except Exception as e:
                state["done"] = f"cancelled:{type(e).__name__}"

        t = threading.Thread(target=victim)
        t.start()
        for _ in range(100):  # wait for registration
            if "qid" in state:
                break
            time.sleep(0.1)
        assert "qid" in state
        time.sleep(0.5)  # let the job actually start
        engine.query(f"KILL QUERY {state['qid']}")
        t.join(timeout=60)
        assert not t.is_alive()
        assert state["done"].startswith("cancelled:")

    def test_first_queries_get_distinct_qids(self, spark, events, monkeypatch):
        """A second query that starts while the first one is still being
        registered gets its own qid, and SHOW QUERIES lists each query
        while it runs. The hook runs the second query inside the first
        ``threading.Lock()`` call that ``tracked`` makes, the window in
        which two HTTP handler threads once built two registries."""
        import sys
        import threading

        engine = InfluxQLEngine(spark, tables={"events": events}, now=NOW)
        ran = []

        def run(text):
            with engine.tracked(text) as qid:
                listed = engine.query("SHOW QUERIES").collect()
                ran.append((qid, text, {(r.qid, r.query) for r in listed}))

        real_lock, fired = threading.Lock, []

        def lock_running_second_query():
            if not fired and sys._getframe(1).f_code.co_name == "tracked":
                fired.append(True)
                run("SELECT second FROM events")
            return real_lock()

        monkeypatch.setattr(threading, "Lock", lock_running_second_query)
        run("SELECT first FROM events")
        if not fired:  # the registry exists before any query starts
            run("SELECT second FROM events")
        assert len({qid for qid, _, _ in ran}) == 2, ran
        for qid, text, listed in ran:
            assert (qid, text) in listed

    def test_kill_leaves_other_engines_query_running(self, spark, events):
        """Two engines in one process both number their first query 1.
        Their job groups must differ, so KILL QUERY 1 on one engine
        cancels its own query and leaves the other engine's query 1
        running."""
        import threading
        import time

        sc = spark.sparkContext
        engines = [
            InfluxQLEngine(spark, tables={"events": events}, now=NOW)
            for _ in range(2)
        ]
        state: dict[int, dict] = {0: {}, 1: {}}

        def run(i):
            eng, st = engines[i], state[i]
            try:
                with eng.tracked("SELECT slow FROM synthetic") as qid:
                    st["qid"], st["group"] = qid, eng._active[qid]["group"]
                    # one task that runs until it is cancelled
                    spark.range(0, 10**13, 1, 1).selectExpr("sum(id)").collect()
                st["done"] = "finished"
            except Exception as e:
                st["done"] = f"cancelled:{type(e).__name__}"

        threads = [threading.Thread(target=run, args=(i,)) for i in (0, 1)]
        for t in threads:
            t.start()
        try:
            for _ in range(200):  # both registered and their jobs started
                if all(
                    "group" in st and sc.statusTracker().getJobIdsForGroup(st["group"])
                    for st in state.values()
                ):
                    break
                time.sleep(0.05)
            assert state[0]["qid"] == state[1]["qid"] == 1
            assert state[0]["group"] != state[1]["group"]
            engines[0].query("KILL QUERY 1")
            threads[0].join(timeout=60)
            assert state[0]["done"].startswith("cancelled:")
            threads[1].join(timeout=2)
            assert threads[1].is_alive() and "done" not in state[1], state[1]
            engines[1].query("KILL QUERY 1")
            threads[1].join(timeout=60)
            assert state[1]["done"].startswith("cancelled:")
        finally:
            for st in state.values():
                if "group" in st:
                    sc.cancelJobGroup(st["group"])
            for t in threads:
                t.join(timeout=60)


class TestSmallInputAggregate:
    """``GROUP BY time()`` over an input that fits one file partition
    reads it as one partition: one Spark job, no exchange, the same
    result as the multi-partition plan."""

    Q = (
        'SELECT mean("value"), count("value"), max("count") FROM "m" '
        "WHERE time >= 1704067200s AND time < 1704070800s "
        'GROUP BY time(1m), "region"'
    )
    PARTITION_BYTES = "spark.sql.files.maxPartitionBytes"

    @pytest.fixture(scope="class")
    def engine(self, spark, tmp_path_factory):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from syncflux_spark.sources.parquet import load_table

        rng = np.random.default_rng(3)
        n = 4 * 360  # 4 series, one point every 10 s for an hour
        t0 = 1_704_067_200_000_000  # 2024-01-01, µs
        root = tmp_path_factory.mktemp("small_agg")
        pq.write_table(
            pa.table({
                "ts": pa.array(t0 + np.arange(n) // 4 * 10_000_000,
                               pa.timestamp("us", tz="UTC")),
                "host": [f"h{i % 4}" for i in range(n)],
                "region": [f"r{i % 2}" for i in range(n)],
                "value": rng.normal(50, 20, n),
                "count": rng.integers(0, 1000, n),
            }),
            str(root / "m.parquet"),
            row_group_size=128,  # several splits once partitions shrink
        )
        table = load_table(spark, str(root), "m")
        return InfluxQLEngine(spark, tables={"m": table}, tags={"m": ["host", "region"]})

    @staticmethod
    def _plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    @staticmethod
    def _by_key(rows) -> dict:
        return {(r.time, r.region): r for r in rows}

    def test_one_job_and_same_result_as_multi_partition_plan(self, spark, engine):
        sc = spark.sparkContext
        with engine.tracked(self.Q) as qid:
            group = engine._active[qid]["group"]
            df = engine.query(self.Q)
            one = self._by_key(df.collect())
        assert "Coalesce 1" in self._plan(df)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1

        old = spark.conf.get(self.PARTITION_BYTES)
        spark.conf.set(self.PARTITION_BYTES, "1k")
        try:
            df = engine.query(self.Q)
            many = self._by_key(df.collect())
            plan = self._plan(df)
        finally:
            spark.conf.set(self.PARTITION_BYTES, old)
        assert "Exchange" in plan and "Coalesce" not in plan, plan
        assert len(one) == 60 * 2 and one.keys() == many.keys()
        for k, r in one.items():
            assert (r["count"], r["max"]) == (many[k]["count"], many[k]["max"])
            assert r["mean"] == pytest.approx(many[k]["mean"], rel=1e-12)

    def test_raw_scan_never_coalesces(self, engine):
        df = engine.query('SELECT * FROM "m" WHERE time >= 1704067200s '
                          "AND time < 1704067800s")
        assert "Coalesce" not in self._plan(df)

    def test_compile_round_trip_budget(self, engine, py4j_round_trips):
        """Compiling the benchmark's dashboard aggregate stays within
        200 py4j round trips (it took ~470 with PySpark's DataFrame
        debugging on)."""
        engine.query(self.Q)
        with py4j_round_trips:
            engine.query(self.Q)
        assert py4j_round_trips.n <= 200, py4j_round_trips.n
