"""Server bootstrap for serve_mixed: runs the engine's CLI
(``syncflux_spark.cli.main([... "-action", "serve" ...])``) in this
process. With ``--trace 1`` it first installs span wrappers around the
layers a request crosses and writes the spans to ``--spans`` when the
server shuts down (SIGINT). Both modes launch the same way, so the
difference between a traced and an untraced run is the tracing cost.

    python3 perfbench/serve_boot.py --trace 1 --spans OUT.json -- \\
        -action serve -src-root SRC -dst-root DST -http-port 0
"""

from __future__ import annotations

import argparse
import sys

from tracing import Tracer


def install(tracer: Tracer) -> None:
    import syncflux_spark.cli as cli
    import syncflux_spark.session as session
    from syncflux_spark.influxql import InfluxQLEngine
    from syncflux_spark.sources.line_protocol import LineProtocolSink
    from syncflux_spark.webui.api import StatusServer

    spark_ref = []
    get_spark = session.get_spark

    def traced_get_spark(*a, **k):
        spark = get_spark(*a, **k)
        spark_ref.append(spark)
        df_cls = type(spark.range(1))
        tracer.wrap(df_cls, "collect", "spark.collect")
        tracer.probe_jobs(spark)
        return spark

    session.get_spark = traced_get_spark

    stop = StatusServer.stop

    def traced_stop(self):
        if spark_ref:
            tracer.probe_jobs(spark_ref[0])
        stop(self)

    StatusServer.stop = traced_stop

    tracer.wrap(cli, "build_server", "cli.build_server")
    tracer.wrap(InfluxQLEngine, "query", "influxql.query")
    tracer.wrap(
        StatusServer, "_run_query", "webui.run_query",
        arg_attrs=lambda a, k: {
            "kind": "agg" if "group by time" in a[1].lower() else "scan"
        },
    )
    tracer.wrap(LineProtocolSink, "write", "line_protocol.write")

    handler_cls = StatusServer._handler_cls

    def traced_handler_cls(self):
        base = handler_cls(self)

        class Traced(base):
            def _traced(self, method):
                with tracer.op(self.headers.get("X-Bench-Op")):
                    with tracer.span("webui.request"):
                        method(self)

            def do_GET(self):
                self._traced(base.do_GET)

            def do_POST(self):
                self._traced(base.do_POST)

        return Traced

    StatusServer._handler_cls = traced_handler_cls


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", default=None)
    ap.add_argument("cli_args", nargs=argparse.REMAINDER)
    a = ap.parse_args()
    argv = a.cli_args[1:] if a.cli_args[:1] == ["--"] else a.cli_args
    tracer = Tracer()
    if a.trace:
        install(tracer)
    from syncflux_spark import cli

    rc = cli.main(argv)
    if a.trace and a.spans:
        tracer.dump(a.spans)
    return rc


if __name__ == "__main__":
    sys.exit(main())
