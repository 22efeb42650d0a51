"""Line-protocol codec tests: spec escaping, sparse fields, typed
parse (the reference's wire format — pkg/agent/client.go:471-477 write
path, client.go:430-466 typed decode)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from syncflux_spark.sources.line_protocol import (
    parse_line_protocol,
    to_line_protocol,
)

TAGS = ["host", "dc"]
FIELDS = {
    "n": "integer",
    "temp": "float",
    "ok": "boolean",
    "note": "string",
}


def _roundtrip(spark, rows):
    df = spark.createDataFrame(
        rows, "host string, dc string, n long, temp double, ok boolean, "
        "note string, ts_ns long"
    )
    lines = to_line_protocol(df, "m", TAGS, FIELDS)
    return df, parse_line_protocol(lines, TAGS, FIELDS)


class TestRoundtrip:
    def test_plain_values(self, spark):
        rows = [("h1", "east", 42, 1.5, True, "fine", 1_000_000_001)]
        df, back = _roundtrip(spark, rows)
        r = back.collect()[0]
        assert r.measurement == "m"
        assert (r.host, r.dc, r.n, r.temp, r.ok, r.note, r.ts_ns) == rows[0]

    def test_evil_escaping(self, spark):
        # tag with comma/space/equals; string field with quotes,
        # backslashes, commas, equals, spaces — all spec escapes at once
        rows = [
            (
                "us west,zone=1",
                "a\\b",
                -7,
                -0.25,
                False,
                'say "hi", x=y 5\\n',
                7_000_000_000_000,
            )
        ]
        df, back = _roundtrip(spark, rows)
        r = back.collect()[0]
        assert r.host == "us west,zone=1"
        assert r.dc == "a\\b"
        assert r.n == -7 and r.temp == -0.25 and r.ok is False
        assert r.note == 'say "hi", x=y 5\\n'
        assert r.ts_ns == 7_000_000_000_000

    def test_sparse_fields_omitted_and_null_on_read(self, spark):
        rows = [("h", "d", None, 2.0, None, None, 5)]
        df, back = _roundtrip(spark, rows)
        line = to_line_protocol(df, "m", TAGS, FIELDS).collect()[0].line
        assert "n=" not in line and "ok=" not in line and "note=" not in line
        r = back.collect()[0]
        assert r.n is None and r.ok is None and r.note is None
        assert r.temp == 2.0

    def test_string_field_containing_field_syntax(self, spark):
        # a quoted value that LOOKS like more fields must not split
        rows = [("h", "d", 1, 1.0, True, 'temp=99,n=0i "x" 123', 9)]
        _, back = _roundtrip(spark, rows)
        r = back.collect()[0]
        assert r.note == 'temp=99,n=0i "x" 123'
        assert r.n == 1 and r.temp == 1.0  # real fields unharmed

    def test_float_roundtrip_exact(self, spark):
        vals = [0.1, 1e-300, 6.02214076e23, 3.141592653589793, -0.0]
        rows = [("h", "d", None, v, None, None, i) for i, v in enumerate(vals)]
        _, back = _roundtrip(spark, rows)
        got = {r.ts_ns: r.temp for r in back.collect()}
        for i, v in enumerate(vals):
            assert got[i] == v  # Java shortest-repr string survives cast

    def test_undeclared_ignored_missing_null(self, spark):
        lines = spark.createDataFrame(
            [('weather,host=h1,extra=z temp=1.5,ghost="g" 42',)], ["line"]
        )
        out = parse_line_protocol(lines, TAGS, FIELDS).collect()[0]
        assert out.measurement == "weather"
        assert out.host == "h1" and out.dc is None  # declared-absent → null
        assert out.temp == 1.5 and out.note is None
        assert out.ts_ns == 42

    def test_escaped_measurement(self, spark):
        df = spark.createDataFrame(
            [("h", "d", 1, 1.0, True, "x", 1)],
            "host string, dc string, n long, temp double, ok boolean, "
            "note string, ts_ns long",
        )
        lines = to_line_protocol(df, "my meas,1", TAGS, FIELDS)
        assert lines.collect()[0].line.startswith(r"my\ meas\,1,host=h")
        out = parse_line_protocol(lines, TAGS, FIELDS).collect()[0]
        assert out.measurement == "my meas,1"

    def test_no_python_udf_in_plan(self, spark):
        df = spark.createDataFrame(
            [("h", "d", 1, 1.0, True, "x", 1)],
            "host string, dc string, n long, temp double, ok boolean, "
            "note string, ts_ns long",
        )
        plan = parse_line_protocol(
            to_line_protocol(df, "m", TAGS, FIELDS), TAGS, FIELDS
        )._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestFieldTypeConflicts:
    """InfluxDB 1.x rejects a write whose value syntax conflicts with
    the field's declared type (HTTP 400 'field type conflict') — it
    must never surface as an executor-side cast exception."""

    @pytest.fixture()
    def sink(self, spark, tmp_path):
        from syncflux_spark.sources.line_protocol import LineProtocolSink

        return LineProtocolSink(
            spark, str(tmp_path),
            {"m": (["h"], {"n": "integer", "s": "string",
                           "f": "float", "b": "boolean"})},
        )

    @pytest.mark.parametrize(
        "line",
        [
            "m,h=a n=1.5 1700000000000000000",      # float into integer
            "m,h=a n=5 1700000000000000000",        # missing i suffix
            'm,h=a s=12 1700000000000000000',       # number into string
            "m,h=a f=12i 1700000000000000000",      # integer into float
            "m,h=a b=maybe 1700000000000000000",    # junk into boolean
        ],
    )
    def test_conflicts_rejected_as_value_error(self, sink, line):
        with pytest.raises(ValueError, match="field type conflict"):
            sink.write(line)

    def test_valid_types_still_land(self, sink, spark):
        n = sink.write(
            'm,h=a n=5i,s="ok",f=1.5,b=true 1700000000000000000'
        )
        assert n == 1
        row = sink.read_measurement("m").collect()[0]
        assert (row.n, row.s, row.f, row.b) == (5, "ok", 1.5, True)

    def test_http_write_maps_conflict_to_400(self, spark, tmp_path):
        import urllib.error
        import urllib.request

        from syncflux_spark.sources.line_protocol import LineProtocolSink
        from syncflux_spark.streaming.monitor import HAMonitor
        from syncflux_spark.webui.api import StatusServer

        sink = LineProtocolSink(
            spark, str(tmp_path), {"m": (["h"], {"n": "integer"})}
        )
        mon = HAMonitor(master_probe=lambda: True, slave_probe=lambda: True)
        mon.check_once()
        srv = StatusServer(mon, port=0, write_sink=sink)
        port = srv.start()
        try:
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}/write",
                data=b"m,h=a n=1.5 1700000000000000000",
            )
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(req)
            assert ei.value.code == 400
            assert "conflict" in ei.value.read().decode()
        finally:
            srv.stop()


class TestStagedWrite:
    """``LineProtocolSink.write`` parses each measurement once, in one
    Spark job that writes a hidden stage, and publishes the staged
    part files by rename only when the whole body passes."""

    SCHEMAS = {
        "cpu": (["h"], {"v": "float"}),
        "mem": (["h"], {"n": "integer"}),
    }

    @pytest.fixture()
    def sink(self, spark, tmp_path):
        from syncflux_spark.sources.line_protocol import LineProtocolSink

        return LineProtocolSink(spark, str(tmp_path), self.SCHEMAS)

    @staticmethod
    def _entries(sink):
        """Every file and directory name under the sink's root."""
        import os

        return sorted(
            os.path.relpath(os.path.join(d, n), sink.root)
            for d, dirs, files in os.walk(sink.root)
            for n in dirs + files
        )

    def test_single_measurement_write_runs_one_job(self, sink, spark):
        body = "\n".join(
            f"cpu,h=a v={i}.5 {1700000000000000000 + i}" for i in range(500)
        )
        sc = spark.sparkContext
        sc.setJobGroup("lp-one-job", "lp-one-job")
        try:
            assert sink.write(body) == 500
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup("lp-one-job")) == 1

    def test_accepted_rows_sit_directly_under_measurement_dir(self, sink):
        import glob
        import os

        sink.write("cpu,h=a v=1.5 1700000000000000000\n"
                   "mem,h=a n=2i 1700000000000000000")
        for meas in ("cpu", "mem"):
            d = os.path.join(sink.root, meas)
            assert glob.glob(os.path.join(d, "part-*.parquet"))
            assert [e for e in os.listdir(d) if os.path.isdir(os.path.join(d, e))] == []
        assert sink.read_measurement("mem").collect()[0].n == 2

    @pytest.mark.parametrize(
        "body, match",
        [
            ("cpu,h=a v=1.5", "missing a timestamp"),
            ("cpu,h=a v=1i 1700000000000000000", "field type conflict"),
        ],
    )
    def test_rejected_body_leaves_no_part_file_and_no_stage(self, sink, body, match):
        with pytest.raises(ValueError, match=match):
            sink.write(body)
        assert not [e for e in self._entries(sink)
                    if e.endswith(".parquet") or ".write-" in e]

    def test_rejected_body_lands_nothing(self, sink):
        """A conflict on the second measurement of a body keeps the
        first measurement's valid rows off disk too."""
        with pytest.raises(ValueError, match="field type conflict"):
            sink.write("cpu,h=a v=1.5 1700000000000000000\n"
                       "mem,h=a n=1.5 1700000000000000000")
        assert not [e for e in self._entries(sink)
                    if e.endswith(".parquet") or ".write-" in e]

    def test_orphaned_stage_is_hidden_and_swept(self, sink, spark):
        import os
        import time

        from syncflux_spark.operators.compact import (
            clean_stale_staging,
            data_file_count,
            dataset_bytes,
        )

        sink.write("cpu,h=a v=1.5 1700000000000000000")
        meas_dir = os.path.join(sink.root, "cpu")
        files, nbytes = data_file_count(meas_dir), dataset_bytes(meas_dir)
        # a writer that crashed after its stage write, before publish
        orphan = os.path.join(meas_dir, ".write-dead")
        spark.createDataFrame([("b", 9.5, 1)], "h string, v double, ts_ns long") \
            .write.parquet(orphan)
        assert [r.h for r in sink.read_measurement("cpu").collect()] == ["a"]
        assert (data_file_count(meas_dir), dataset_bytes(meas_dir)) == (files, nbytes)

        assert clean_stale_staging(meas_dir, older_than_s=3600) == []
        old = time.time() - 7200
        os.utime(orphan, (old, old))
        assert clean_stale_staging(meas_dir, older_than_s=3600) == [orphan]
        assert not os.path.exists(orphan)
        assert [r.h for r in sink.read_measurement("cpu").collect()] == ["a"]

    def test_compaction_loses_no_acknowledged_write(self, sink, spark):
        """A writer thread beside five ``compact_parquet`` passes, one
        every ~1.2 s: every point a write acknowledged reads back.
        A write whose stage a swap moved away fails instead."""
        import os
        import threading

        from syncflux_spark.operators.compact import compact_parquet

        meas_dir = os.path.join(sink.root, "cpu")
        sink.write("cpu,h=seed v=0.5 1600000000000000000")
        acked = {1600000000000000000}
        done = threading.Event()
        attempts = []

        def writer():
            b = 0
            while not done.is_set():
                ts = [1700000000000000000 + b * 1000 + i for i in range(20)]
                body = "\n".join(f"cpu,h=w v={b}.5 {t}" for t in ts)
                b += 1
                try:
                    sink.write(body)
                except Exception:  # noqa: BLE001 — not acknowledged
                    attempts.append(False)
                    continue
                acked.update(ts)
                attempts.append(True)

        t = threading.Thread(target=writer)
        t.start()
        try:
            for _ in range(5):
                done.wait(1.2)
                compact_parquet(spark, meas_dir, target_file_bytes=10**9)
        finally:
            done.set()
            t.join(timeout=120)
        assert not t.is_alive()
        got = {r.ts_ns for r in sink.read_measurement("cpu").select("ts_ns").collect()}
        assert sum(attempts) >= 2, attempts
        assert acked <= got, f"{len(acked - got)} acknowledged points lost"
        assert got <= acked  # nothing unacknowledged landed either

    def test_stage_moved_by_compaction_answers_500(self, sink, spark, monkeypatch):
        """A compaction swap between the stage write and the publish
        takes the stage with the old directory: the write answers 500
        (counted as a write error), never 204, and lands nothing."""
        import os
        import urllib.error
        import urllib.request

        from syncflux_spark.operators.compact import compact_parquet
        from syncflux_spark.streaming.monitor import HAMonitor
        from syncflux_spark.webui.api import StatusServer

        sink.write("cpu,h=a v=1.5 1700000000000000000")
        publish = type(sink)._publish

        def swap_then_publish(self, stages):
            compact_parquet(spark, os.path.join(self.root, "cpu"))
            publish(self, stages)

        monkeypatch.setattr(type(sink), "_publish", swap_then_publish)
        mon = HAMonitor(master_probe=lambda: True, slave_probe=lambda: True)
        mon.check_once()
        srv = StatusServer(mon, port=0, write_sink=sink)
        port = srv.start()
        try:
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}/write",
                data=b"cpu,h=b v=2.5 1700000000000000001",
            )
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(req)
            assert ei.value.code == 500
            assert "moved away" in ei.value.read().decode()
            with urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics") as r:
                metrics = r.read().decode()
            assert "syncflux_write_errors_total 1" in metrics
        finally:
            srv.stop()
        assert [r.h for r in sink.read_measurement("cpu").collect()] == ["a"]

    def test_write_hands_spark_no_python_rows(self, sink, spark, monkeypatch):
        """The body reaches Spark as text files, not as a local list
        that PySpark pickles through a Python worker."""
        from pyspark import SparkContext

        def boom(*_a, **_k):
            raise AssertionError("Python rows handed to Spark")

        monkeypatch.setattr(spark, "createDataFrame", boom)
        monkeypatch.setattr(SparkContext, "parallelize", boom)
        assert sink.write("cpu,h=a v=1.5 1700000000000000000\n"
                          "mem,h=a n=2i 1700000000000000000") == 2
        monkeypatch.undo()
        assert sink.read_measurement("cpu").collect()[0].v == 1.5

    def test_non_ascii_escapes_and_crlf_round_trip(self, spark, tmp_path):
        from syncflux_spark.sources.line_protocol import LineProtocolSink

        sink = LineProtocolSink(
            spark, str(tmp_path), {"cpu": (["h"], {"s": "string", "v": "float"})}
        )
        body = (
            'cpu,h=µ\\,x\\ y s="日本 \\"q\\", z=1",v=1.5 1700000000000000000\r\n'
            "\r\n"
            'cpu,h=東京 s="µs",v=-2 1700000000000000001\r\n'
            "   \r\n"
        )
        assert sink.write(body) == 2
        got = {(r.h, r.s, r.v, r.ts_ns) for r in sink.read_measurement("cpu").collect()}
        assert got == {
            ("µ,x y", '日本 "q", z=1', 1.5, 1700000000000000000),
            ("東京", "µs", -2.0, 1700000000000000001),
        }

    @pytest.mark.parametrize("n_lines", [1, 3])  # the session has 4 cores
    def test_body_shorter_than_parallelism_lands(
        self, sink, spark, monkeypatch, n_lines
    ):
        """A body with fewer lines than the default parallelism lands
        every line, and no ``_lines`` entry is ever published."""
        import os

        published = []
        publish = type(sink)._publish

        def publish_and_list(self, stages):
            publish(self, stages)
            published.extend(os.listdir(os.path.join(self.root, "cpu")))

        monkeypatch.setattr(type(sink), "_publish", publish_and_list)
        assert n_lines < spark.sparkContext.defaultParallelism
        ts = [1700000000000000000 + i for i in range(n_lines)]
        body = "\n".join(f"cpu,h=a v={i}.5 {t}" for i, t in enumerate(ts))
        assert sink.write(body) == n_lines
        rows = sink.read_measurement("cpu").collect()
        assert sorted((r.ts_ns, r.v) for r in rows) == [
            (t, i + 0.5) for i, t in enumerate(ts)
        ]
        assert published
        assert not [e for e in published if e == "_lines" or e.endswith(".lp")]
        assert not [e for e in self._entries(sink)
                    if "_lines" in e or e.endswith(".lp")]

    def test_repeated_field_key_keeps_last_value(self, sink):
        """``v=1,v=2`` reads as v=2 and the body's other lines land
        with it (the parent failed the whole body with a 500)."""
        assert sink.write("cpu,h=a v=1,v=2 1700000000000000000\n"
                          "cpu,h=b v=3 1700000000000000001") == 2
        got = {(r.h, r.v) for r in sink.read_measurement("cpu").collect()}
        assert got == {("a", 2.0), ("b", 3.0)}

    @pytest.mark.parametrize(
        "body, precision",
        [
            ("cpu,h=a v=1 99999999999999999999", "ns"),  # beyond a long
            ("cpu,h=a v=1 1700000000000000000", "s"),  # overflows when scaled
        ],
    )
    def test_out_of_range_timestamp_answers_400(self, sink, body, precision):
        import urllib.error
        import urllib.request

        from syncflux_spark.streaming.monitor import HAMonitor
        from syncflux_spark.webui.api import StatusServer

        mon = HAMonitor(master_probe=lambda: True, slave_probe=lambda: True)
        mon.check_once()
        srv = StatusServer(mon, port=0, write_sink=sink)
        port = srv.start()
        try:
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}/write?precision={precision}",
                data=f"cpu,h=ok v=0.5 1\n{body}".encode(),
            )
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(req)
            assert ei.value.code == 400
            assert "out of range" in ei.value.read().decode()
        finally:
            srv.stop()
        assert not [e for e in self._entries(sink)
                    if e.endswith(".parquet") or ".write-" in e]
