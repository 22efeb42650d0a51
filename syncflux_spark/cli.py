"""CLI surface parity (SURVEY §2.9, pkg/main.go:77-119).

The reference's flags, re-expressed for the Spark engine::

    python -m syncflux_spark -action copy -src-root SRC -dst-root DST \
        [-meas REGEX] [-start T] [-end T] [-chunk 5m] [-num-workers 4]
    python -m syncflux_spark -action replicaschema [-db RE] [-rp RE] \
        [-meas RE] [-newdb NAME] [-newrp NAME]
    python -m syncflux_spark -action fullcopy ...   (schema + data)
    python -m syncflux_spark -action hamonitor -src-root SRC -dst-root DST \
        [-once] [-http-port 4090]

Time flags accept the reference's grammar (X3 parseInputTime,
pkg/util.go:9-28): integer epoch-seconds, ``-1h``-style relative
durations, or RFC3339. Defaults: start=now-24h, end=now
(main.go:47-49). Durations accept Go syntax (``5m``, ``8760h``).

``-config FILE`` loads a reference-format TOML config
(syncflux_spark.config); precedence is explicit flags > config file >
built-in defaults, matching main.go's viper wiring. ``-master-db`` /
``-slave-db`` select [[influxdb]] entries whose ``location`` becomes
src/dst root (the reference spells these flags -master/-slave;
``-master`` here is the Spark master URL, so the *-db suffix
disambiguates). ``-version`` prints the version and exits; ``-pidfile``
writes the PID (main.go:55-75); ``-logmode``/``-logs`` are accepted
for surface parity.
"""

from __future__ import annotations

import argparse
import json
import sys
from datetime import datetime, timezone


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="syncflux_spark", description="PySpark-native syncflux engine"
    )
    # single-dash long flags, matching the Go CLI surface (main.go:77-119)
    p.add_argument("-action", default=None,
                   choices=["copy", "replicaschema", "fullcopy", "hamonitor",
                            "serve", "maintain"])
    p.add_argument("-config", default=None, help="TOML config file")
    p.add_argument("-version", action="store_true",
                   help="display the version and exit")
    p.add_argument("-master-db", dest="master_db", default="",
                   help="config [[influxdb]] entry to read from")
    p.add_argument("-slave-db", dest="slave_db", default="",
                   help="config [[influxdb]] entry to write to")
    p.add_argument("-pidfile", default="", help="path to pid file")
    p.add_argument("-logmode", default="console",
                   help="log mode [console/file]")
    p.add_argument("-logs", default="./log", help="log directory")
    p.add_argument("-src-root", dest="src_root", default=None,
                   help="source warehouse dir of {measurement}.parquet")
    p.add_argument("-dst-root", dest="dst_root", default=None,
                   help="destination root dir")
    p.add_argument("-db", default=".*", help="database regex filter")
    p.add_argument("-rp", default=".*", help="retention-policy regex filter")
    p.add_argument("-meas", default=".*", help="measurement regex filter")
    p.add_argument("-newdb", default="", help="rename target database")
    p.add_argument("-newrp", default="", help="rename target default RP")
    p.add_argument("-chunk", default="5m", help="chunk duration (Go syntax)")
    p.add_argument("-start", default="-24h", help="window start (epoch s | -dur | RFC3339)")
    p.add_argument("-end", default="+0s", help="window end")
    p.add_argument("-full", action="store_true",
                   help="copy the full RP retention window")
    p.add_argument("-max-retention-interval", dest="max_retention",
                   default="8760h")
    p.add_argument("-num-workers", dest="num_workers", type=int, default=4)
    p.add_argument("-check-interval", dest="check_interval", default="10s")
    p.add_argument("-http-port", dest="http_port", type=int, default=4090)
    p.add_argument("-public-path", dest="public_path", default=None,
                   help="static UI root served at / (index.html index; "
                        "disabled when unset, like the reference)")
    p.add_argument("-once", action="store_true",
                   help="hamonitor: one supervision cycle, then exit")
    p.add_argument("-retention-duration", dest="retention_duration",
                   default="0s",
                   help="maintain: drop data older than this from tx "
                        "tables (0s = retention off)")
    p.add_argument("-master", default="local[*]", help="Spark master URL")
    p.add_argument("-v", action="count", default=0)
    return p


def _window(args) -> tuple[datetime, datetime]:
    from syncflux_spark.functions.time import parse_input_time

    now = datetime.now(timezone.utc)
    return parse_input_time(args.start, now=now), parse_input_time(args.end, now=now)


def _apply_config(parser: argparse.ArgumentParser, args) -> None:
    """Fill flag values from the config file wherever the user kept the
    built-in default — explicit flags win, file beats defaults (the
    reference's flag/viper precedence, main.go:121-170)."""
    from syncflux_spark.config import load_config

    cfg = load_config(args.config)
    g = cfg.general

    def fill(attr: str, value) -> None:
        if value in ("", None):
            return
        if getattr(args, attr) == parser.get_default(attr):
            setattr(args, attr, value)

    fill("chunk", g.data_chunk_duration)
    fill("num_workers", g.num_workers)
    fill("check_interval", g.check_interval)
    fill("max_retention", g.max_retention_interval)
    fill("master_db", g.master_db)
    fill("slave_db", g.slave_db)
    fill("http_port", cfg.http.port)
    # warehouse roots resolve through the (possibly flag-overridden)
    # entry names
    src = cfg.warehouse(args.master_db)
    dst = cfg.warehouse(args.slave_db)
    if src:
        fill("src_root", src.location)
    if dst:
        fill("dst_root", dst.location)


def _write_pidfile(path: str) -> None:
    """main.go:55-75: ensure the directory, write our PID."""
    import os

    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(str(os.getpid()))


def main(argv: list[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    if args.version:
        from syncflux_spark import __version__

        print(f"syncflux_spark v{__version__}")
        return 0
    if args.action is None:
        parser.error("-action is required (or use -version)")
    if args.config:
        _apply_config(parser, args)
    if args.pidfile:
        _write_pidfile(args.pidfile)
    from pyspark.sql import SparkSession

    from syncflux_spark.session import get_spark

    # only stop a session we created — under pytest (or any embedding
    # process) get_spark returns the shared active session, and
    # stopping it would kill the caller's JVM state
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark("syncflux-cli", master=args.master)

    try:
        if args.action == "copy":
            return _run_copy(spark, args)
        if args.action == "replicaschema":
            return _run_replicaschema(spark, args)
        if args.action == "fullcopy":
            _run_replicaschema(spark, args)
            return _run_copy(spark, args)
        if args.action == "hamonitor":
            return _run_hamonitor(spark, args)
        if args.action == "serve":
            return _run_serve(spark, args)
        if args.action == "maintain":
            return _run_maintain(spark, args)
        return 2
    finally:
        if owns_session:
            spark.stop()


def _run_copy(spark, args) -> int:
    from syncflux_spark.agent import action_copy

    if not (args.src_root and args.dst_root):
        print("copy requires -src-root and -dst-root", file=sys.stderr)
        return 2
    if args.full:
        start = datetime.fromtimestamp(0, tz=timezone.utc)
        end = datetime.now(timezone.utc)
        from syncflux_spark.functions.time import parse_duration

        start = max(start, end - parse_duration(args.max_retention))
    else:
        start, end = _window(args)
    rep = action_copy(
        spark, args.src_root, args.dst_root, start, end,
        meas_filter=args.meas, chunk=args.chunk, num_workers=args.num_workers,
    )
    print(json.dumps(rep.as_dict()))
    return 0 if not rep.bad_chunks else 1


def _run_maintain(spark, args) -> int:
    """Extended action (no reference equivalent — the reference
    delegates storage upkeep to InfluxDB): one maintenance sweep over
    a copy destination. Per TxTable (every copy destination):
    retention (when -retention-duration > 0: log-only expiry via
    TxTable.expire_below), per-window compaction (compact_tx_tagged),
    data vacuum and commit-log vacuum. Plain parquet directories (the
    /write sink's) compact whole via compact_parquet. Prints a JSON
    report per table."""
    import os
    import re

    from syncflux_spark.functions.time import parse_duration

    if not args.dst_root:
        print("maintain requires -dst-root", file=sys.stderr)
        return 2
    ret = parse_duration(args.retention_duration)
    cutoff_ns = None
    if ret.total_seconds() > 0:
        cutoff_ns = int(
            (datetime.now(timezone.utc) - ret).timestamp() * 1e9
        )
    meas_re = re.compile(args.meas)
    report: dict = {}
    for name in sorted(os.listdir(args.dst_root)):
        path = os.path.join(args.dst_root, name)
        if not os.path.isdir(path) or not meas_re.match(name):
            continue
        if os.path.isdir(os.path.join(path, "_txlog")):
            from syncflux_spark.operators.compact import compact_tx_tagged
            from syncflux_spark.txtable import TxTable

            t = TxTable(spark, path)
            r: dict = {"format": "tx"}
            if cutoff_ns is not None:
                r["retention"] = t.expire_below("ts_ns", cutoff_ns)
            r["compacted_windows"] = compact_tx_tagged(
                spark, path, stats_cols=["ts_ns"]
            )
            r["vacuumed_groups"] = len(t.vacuum())
            r["vacuumed_log_docs"] = len(t.vacuum_log())
            report[name] = r
        else:
            from syncflux_spark.operators.compact import (
                clean_stale_staging,
                compact_parquet,
            )

            report[name] = {
                "format": "dir",
                "files": compact_parquet(spark, path),
                "stale_staging_removed": len(clean_stale_staging(path)),
            }
    print(json.dumps(report))
    return 0


def _run_replicaschema(spark, args) -> int:
    from syncflux_spark.agent import action_replicaschema
    from syncflux_spark.catalog import SparkCatalog

    schema = action_replicaschema(
        SparkCatalog(spark),
        db_filter=args.db, rp_filter=args.rp, meas_filter=args.meas,
        new_db=args.newdb, new_rp=args.newrp,
    )
    print(json.dumps({
        "databases": [
            {"name": db.name, "target": db.target_name,
             "rps": {rp.name: sorted(rp.measurements) for rp in db.rps.values()}}
            for db in schema
        ]
    }))
    return 0


def _run_hamonitor(spark, args) -> int:
    """M1-M4 wiring: health probes over both warehouses + status API.
    ``-once`` runs a single supervision cycle and prints the cluster
    status (the daemon loop is HAMonitor.start / StatusServer.start)."""
    from syncflux_spark.agent import discover_measurements
    from syncflux_spark.streaming.monitor import HAMonitor
    from syncflux_spark.webui.api import StatusServer

    if not (args.src_root and args.dst_root):
        print("hamonitor requires -src-root and -dst-root", file=sys.stderr)
        return 2

    def probe_master() -> bool:
        return bool(discover_measurements(spark, args.src_root))

    def probe_slave() -> bool:
        import os

        return os.path.isdir(args.dst_root)

    from syncflux_spark.functions.time import parse_duration

    mon = HAMonitor(
        probe_master,
        probe_slave,
        check_interval=parse_duration(args.check_interval),
    )
    if args.once:
        import dataclasses

        status = mon.check_once()
        print(json.dumps(dataclasses.asdict(status), default=str))
        return 0
    server = StatusServer(mon, port=args.http_port)
    port = server.start()
    mon.start()
    print(json.dumps({"listening": port}))
    try:
        import time as _t

        while True:
            _t.sleep(3600)
    except KeyboardInterrupt:
        mon.stop()
        server.stop()
    return 0


def build_server(
    spark,
    src_root: str,
    dst_root: str | None,
    port: int = 0,
    public_path: str | None = None,
):
    """Stand up the engine as an InfluxDB 1.x endpoint: every
    ``{name}.parquet`` under ``src_root`` becomes a queryable
    measurement (string columns are its tags), ``/query`` serves
    InfluxQL over them, and — when ``dst_root`` is given — ``/write``
    ingests line protocol into per-measurement dirs whose schemas are
    derived from the source tables. Returns the started StatusServer
    (caller stops it)."""
    import glob
    import os

    from syncflux_spark.catalog import SPARK_TO_INFLUX
    from syncflux_spark.influxql import InfluxQLEngine
    from syncflux_spark.sources.line_protocol import LineProtocolSink
    from syncflux_spark.sources.parquet import load_table
    from syncflux_spark.streaming.monitor import HAMonitor
    from syncflux_spark.webui.api import StatusServer

    tables, tags, schemas = {}, {}, {}
    for path in sorted(glob.glob(os.path.join(src_root, "*.parquet"))):
        name = os.path.splitext(os.path.basename(path))[0]
        df = load_table(spark, src_root, name)
        tables[name] = df
        dts = dict(df.dtypes)
        tgs = [c for c, t in df.dtypes if t == "string"]
        tags[name] = tgs
        fields = {
            c: SPARK_TO_INFLUX[t]
            for c, t in dts.items()
            if c not in tgs and c not in ("ts", "ts_ns") and t in SPARK_TO_INFLUX
        }
        schemas[name] = (tgs, fields)
    monitor = HAMonitor(
        master_probe=lambda: True,
        slave_probe=lambda: dst_root is None or os.path.isdir(dst_root),
    )
    monitor.check_once()
    sink = (
        LineProtocolSink(spark, dst_root, schemas) if dst_root else None
    )
    engine = InfluxQLEngine(spark, tables=tables, tags=tags)
    server = StatusServer(
        monitor, port=port, query_engine=engine, write_sink=sink,
        public_path=public_path,
    )
    server.start()
    return server


def _run_serve(spark, args) -> int:
    """-action serve: be the InfluxDB side of a syncflux pair — the
    reference's DBclient can probe (`show databases`), read
    (ReadDB's scan template via /query), and write (WriteDB's line
    protocol via /write) against this process."""
    if not args.src_root:
        print("serve requires -src-root", file=sys.stderr)
        return 2
    server = build_server(
        spark, args.src_root, args.dst_root, port=args.http_port,
        public_path=args.public_path,
    )
    print(json.dumps({
        "serving": server.port,
        "measurements": sorted(server.query_engine.tables),
        "writable": server.write_sink is not None,
    }))
    if args.once:
        server.stop()
        return 0
    try:
        import time as _t

        while True:
            _t.sleep(3600)
    except KeyboardInterrupt:
        server.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
