"""CLI surface tests (SURVEY §2.9): the four actions end-to-end on a
temp warehouse, driving the same agent layer the reference's main.go
dispatches to (main.go:293-306)."""

from __future__ import annotations

import json

import pytest

from syncflux_spark.cli import build_parser, main


def test_parser_defaults():
    args = build_parser().parse_args(["-action", "copy"])
    assert args.chunk == "5m" and args.meas == ".*"
    assert args.start == "-24h" and args.num_workers == 4


def test_copy_requires_roots(capsys):
    rc = main(["-action", "copy", "-master", "local[2]"])
    assert rc == 2


def test_action_copy_roundtrip(spark, sf_dir, tmp_path, capsys):
    from syncflux_spark.agent import action_copy, discover_measurements
    from syncflux_spark.operators.copy import read_copied

    ms = discover_measurements(spark, sf_dir, "^events$")
    assert list(ms) == ["events"]
    rep = action_copy(
        spark, sf_dir, str(tmp_path),
        __import__("datetime").datetime(2024, 1, 1),
        __import__("datetime").datetime(2024, 2, 1),
        meas_filter="^events$", chunk="240h", num_workers=2,
    )
    assert rep.bad_chunks == []
    back = read_copied(spark, str(tmp_path), "events")
    assert back.count() == rep.points > 0


def test_action_copy_tx_and_maintain(spark, sf_dir, tmp_path, capsys):
    """The copy sink end-to-end from the CLI surface: copy into
    TxTables, then the maintain sweep (compaction + retention +
    vacuum + log vacuum) over the destination."""
    import os
    from datetime import datetime

    from syncflux_spark.agent import action_copy
    from syncflux_spark.operators.copy import read_copied

    rep = action_copy(
        spark, sf_dir, str(tmp_path),
        datetime(2024, 1, 1), datetime(2024, 2, 1),
        meas_filter="^events$", chunk="240h", num_workers=2,
    )
    assert rep.bad_chunks == []
    assert os.path.isdir(tmp_path / "events" / "_txlog")
    n = read_copied(spark, str(tmp_path), "events").count()
    assert n == rep.points > 0
    rc = main([
        "-action", "maintain", "-dst-root", str(tmp_path),
        "-master", "local[2]",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["events"]["format"] == "tx"
    # data intact after the sweep (retention off by default)
    assert read_copied(spark, str(tmp_path), "events").count() == n
    # retention pass: everything is older than 1h relative to NOW
    rc = main([
        "-action", "maintain", "-dst-root", str(tmp_path),
        "-retention-duration", "1h", "-master", "local[2]",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["events"]["retention"]["dropped_groups"] >= 1


def test_action_replicaschema_rename(spark, tmp_path):
    from syncflux_spark.agent import action_replicaschema
    from syncflux_spark.catalog import RetPol, SparkCatalog

    cat = SparkCatalog(spark)
    db = f"clidb_{tmp_path.name.replace('-', '_')}"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    cat.create_db(db)
    rp = RetPol(name="autogen", duration="0s", default=True)
    from syncflux_spark.catalog import FieldSch, MeasurementSch

    meas = MeasurementSch(
        name="cpu", fields={"usage": FieldSch("usage", "float")}, tags=["host"]
    )
    cat.create_measurement(db, rp, meas, location=str(tmp_path / "cpu"))
    schema = action_replicaschema(
        cat, db_filter=f"^{db}$", new_db=f"{db}_replica",
        location_root=str(tmp_path / "replica"),
    )
    assert [d.target_name for d in schema] == [f"{db}_replica"]
    tables = [t.name for t in spark.catalog.listTables(f"{db}_replica")]
    assert any("cpu" in t for t in tables)
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"DROP DATABASE IF EXISTS {db}_replica CASCADE")


def test_hamonitor_once(spark, sf_dir, tmp_path):
    from syncflux_spark.functions.time import parse_duration
    from syncflux_spark.streaming.monitor import HAMonitor

    mon = HAMonitor(
        lambda: True, lambda: True, check_interval=parse_duration("10s")
    )
    st = mon.check_once()
    assert st.master_state and st.slave_state


def test_version_flag(capsys):
    rc = main(["-version"])
    assert rc == 0
    assert capsys.readouterr().out.startswith("syncflux_spark v")


def test_config_file_defaults_and_flag_precedence(tmp_path):
    """Config fills unset flags (reference key names, including the
    sample file's data-chuck-duration spelling); explicit flags win."""
    from syncflux_spark.cli import _apply_config, build_parser
    from syncflux_spark.config import load_config

    conf = tmp_path / "syncflux.toml"
    conf.write_text(
        """
[General]
 master-db = "wh01"
 slave-db = "wh02"
 data-chuck-duration = "2m"
 num-workers = 7
 check-interval = "30s"

[http]
 bind-addr = "127.0.0.1:9999"

[[influxdb]]
 name = "wh01"
 location = "/data/src"

[[influxdb]]
 name = "wh02"
 location = "/data/dst"
"""
    )
    cfg = load_config(str(conf))
    assert cfg.general.data_chunk_duration == "2m"
    assert cfg.master_location == "/data/src"
    assert cfg.http.port == 9999

    parser = build_parser()
    args = parser.parse_args(["-action", "copy", "-config", str(conf)])
    _apply_config(parser, args)
    assert args.chunk == "2m" and args.num_workers == 7
    assert args.check_interval == "30s" and args.http_port == 9999
    assert args.src_root == "/data/src" and args.dst_root == "/data/dst"

    # explicit flags beat the file
    args2 = parser.parse_args(
        ["-action", "copy", "-config", str(conf), "-chunk", "9m",
         "-src-root", "/elsewhere"]
    )
    _apply_config(parser, args2)
    assert args2.chunk == "9m" and args2.src_root == "/elsewhere"
    assert args2.dst_root == "/data/dst"


def test_config_driven_copy_end_to_end(spark, sf_dir, tmp_path, capsys):
    """The reference workflow: everything from the config file, only
    the action and window on the command line."""
    dst = tmp_path / "dst"
    conf = tmp_path / "syncflux.toml"
    conf.write_text(
        f"""
[General]
 master-db = "src"
 slave-db = "dst"
 data-chunk-duration = "240h"
 num-workers = 2

[[influxdb]]
 name = "src"
 location = "{sf_dir}"

[[influxdb]]
 name = "dst"
 location = "{dst}"
"""
    )
    rc = main(
        ["-action", "copy", "-config", str(conf), "-meas", "^events$",
         "-start", "2024-01-01T00:00:00+00:00",
         "-end", "2024-02-01T00:00:00+00:00",
         "-pidfile", str(tmp_path / "pid" / "syncflux.pid")]
    )
    assert rc == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["points"] > 0 and not rep["bad_chunks"]
    assert (tmp_path / "pid" / "syncflux.pid").read_text().isdigit()


class TestServeAction:
    def test_build_server_query_and_write(self, spark, sf_dir, tmp_path):
        import json
        import urllib.parse
        import urllib.request

        from syncflux_spark.cli import build_server

        srv = build_server(spark, sf_dir, str(tmp_path / "wr"), port=0)
        try:
            q = urllib.parse.quote("show databases")
            with urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}/query?q={q}"
            ) as r:
                names = {
                    v[0]
                    for v in json.loads(r.read())["results"][0]["series"][0][
                        "values"
                    ]
                }
            assert {"events", "orders", "documents"} <= names
            # the reference's exact scan template runs against us
            q = urllib.parse.quote(
                'select * from "events" where time > 1704412800000000000 '
                "and time < 1704499200000000000 group by *"
            )
            with urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}/query?q={q}"
            ) as r:
                series = json.loads(r.read())["results"][0]["series"][0]
            assert len(series["values"]) > 0
            # and WriteDB-style line protocol lands typed
            body = "events,event_type=click value=1.5 1704412800000000001"
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/write", data=body.encode()
            )
            with urllib.request.urlopen(req) as r:
                assert r.status == 204
            back = srv.write_sink.read_measurement("events")
            assert back.count() == 1 and back.first().value == 1.5
        finally:
            srv.stop()

    def test_build_server_serves_static_ui(self, spark, sf_dir, tmp_path):
        import urllib.request

        from syncflux_spark.cli import build_server

        pub = tmp_path / "public"
        pub.mkdir()
        (pub / "index.html").write_text("<html>cli ui</html>")
        srv = build_server(
            spark, sf_dir, None, port=0, public_path=str(pub)
        )
        try:
            with urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}/"
            ) as r:
                assert r.status == 200 and b"cli ui" in r.read()
        finally:
            srv.stop()

    def test_serve_once_smoke(self, spark, sf_dir, capsys):
        import json

        from syncflux_spark.cli import main

        rc = main([
            "-action", "serve", "-src-root", sf_dir, "-once",
            "-http-port", "0",
        ])
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert "events" in out["measurements"] and not out["writable"]
