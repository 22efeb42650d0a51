"""HTTP status API — endpoint parity with the reference's webui
(SURVEY §2.8, pkg/webui/api.go + webserver.go):

- ``GET  /api/health/``      → JSON ClusterStatus (api.go:16,24-28)
- ``GET  /api/health/<id>``  → stub "hola" (api.go:17,47-51)
- ``POST /api/action/<id>``  → auth'd stub "hola" (api.go:18,54-61)
- ``GET  /api/queryactive``  → names of alive nodes (api.go:19,30-45)
- ``POST /login`` / ``/logout`` → session-cookie auth vs configured
  admin user/password (webserver.go:173-208; config
  pkg/config/mainconfig.go:39-44)

Plus one endpoint the reference *consumes* rather than serves:
``GET/POST /query?q=<influxql>`` answering in the InfluxDB 1.x JSON
shape (``results[].series[]{name,columns,values}`` — the exact
structure the reference's DBclient decodes, pkg/agent/client.go:
383-478). With it, this engine can stand on either end of a syncflux
pair: the reference's health probe (`show databases`,
influxmonitor.go:48-94) and scan template (sync.go:162) both run
against us.

Stdlib ``http.server`` on a driver thread — zero dependencies, no
data-plane involvement beyond the capped /query collect. Cookie-
session auth is deliberately minimal (matches the reference's
memory-session scheme, websession.go).
"""

from __future__ import annotations

import json
import mimetypes
import os
import secrets
import threading
import urllib.parse
from dataclasses import asdict
from datetime import datetime
from enum import Enum
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from syncflux_spark.streaming.monitor import HAMonitor


def _jsonable(obj):
    if isinstance(obj, Enum):
        return obj.value
    if isinstance(obj, datetime):
        return obj.isoformat()
    raise TypeError(type(obj))


class StatusServer:
    """Embeds the status API around an :class:`HAMonitor`."""

    def __init__(
        self,
        monitor: HAMonitor,
        node_names: dict[str, str] | None = None,
        admin_user: str = "admin",
        admin_passwd: str = "admin",
        host: str = "127.0.0.1",
        port: int = 4090,
        query_engine=None,
        max_query_rows: int = 10_000,
        write_sink=None,
        public_path: str | None = None,
    ):
        self.monitor = monitor
        self.node_names = node_names or {"master": "master", "slave": "slave"}
        self.admin_user = admin_user
        self.admin_passwd = admin_passwd
        self.host = host
        self.port = port
        #: optional InfluxQLEngine serving /query; the collect is
        #: capped at max_query_rows (the reference reads chunked at
        #: 10k rows, client.go:343-344 — same order of magnitude)
        self.query_engine = query_engine
        self.max_query_rows = max_query_rows
        #: optional LineProtocolSink serving POST /write — the
        #: receiving end of the reference's WriteDB (client.go:531-559)
        self.write_sink = write_sink
        #: static UI root (reference: macaron.Static(publicPath,
        #: IndexFile: "index.html"), pkg/webui/webserver.go:81-95);
        #: None disables static serving
        self.public_path = public_path
        self._sessions: set[str] = set()
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        #: /metrics counters (Prometheus text format)
        self._metrics_lock = threading.Lock()
        self._counters = {
            "queries_total": 0,
            "query_errors_total": 0,
            "points_written_total": 0,
            "write_errors_total": 0,
        }

    def _count(self, name: str, n: int = 1) -> None:
        with self._metrics_lock:
            self._counters[name] += n

    def _metrics_text(self) -> str:
        """Prometheus exposition format — the operational surface
        InfluxDB 1.x exposes at /metrics; counters only, no client
        library needed."""
        with self._metrics_lock:
            snap = dict(self._counters)
        st = self.monitor.get_status()
        lines = []
        for k, v in sorted(snap.items()):
            lines.append(f"# TYPE syncflux_{k} counter")
            lines.append(f"syncflux_{k} {v}")
        lines.append("# TYPE syncflux_cluster_up gauge")
        cs = getattr(st.cluster_state, "value", st.cluster_state)
        lines.append(f"syncflux_cluster_up {1 if cs == 'OK' else 0}")
        return "\n".join(lines) + "\n"

    @staticmethod
    def _to_csv(body: dict) -> str:
        """InfluxDB 1.x CSV response shape (``Accept:
        application/csv``): header ``name,tags,<columns>``; one row
        per value row; the tags cell is comma-joined k=v pairs."""
        import csv
        import io

        out = io.StringIO()
        w = csv.writer(out)
        for res in body.get("results", []):
            for s in res.get("series", []):
                w.writerow(["name", "tags"] + list(s["columns"]))
                tags = ",".join(
                    f"{k}={v}" for k, v in sorted(s.get("tags", {}).items())
                )
                for row in s["values"]:
                    w.writerow(
                        [s["name"], tags]
                        + ["" if v is None else v for v in row]
                    )
        return out.getvalue()

    _EPOCH_DIV = {"ns": 1, "u": 1_000, "us": 1_000, "ms": 1_000_000, "s": 1_000_000_000, "m": 60 * 10**9, "h": 3600 * 10**9}

    def _run_query(self, q: str, epoch: str | None = None) -> tuple[int, dict]:
        """Execute InfluxQL text → (http status, InfluxDB 1.x response
        body): ``{"results":[{"statement_id":i,"series":[{name,
        columns,values}]}]}`` — the shape the reference's ReadDB
        decodes (client.go:383-478). Multi-statement input
        (``stmt1;stmt2``) yields one results entry per statement,
        with per-statement errors in-place like InfluxDB."""
        from syncflux_spark.influxql import (
            InfluxQLError,
            SelectStmt,
            parse,
            split_statements,
        )

        if self.query_engine is None:
            return 503, {"error": "no query engine attached"}
        stmts = split_statements(q)
        if not stmts:
            return 400, {"error": "empty query"}
        results = []
        for i, stmt in enumerate(stmts):
            try:
                st = parse(stmt)
                with self.query_engine.tracked(stmt):
                    df = self.query_engine.query(stmt)
                    rows = df.limit(self.max_query_rows).collect()
                name = (
                    st.measurement
                    if isinstance(st, SelectStmt)
                    else getattr(st, "what", "results").replace(" ", "_")
                )
                tag_cols = self.query_engine.response_tag_columns(
                    st, list(df.columns)
                )
                series_list = self._build_series(
                    list(df.columns), rows, name, tag_cols
                )
                err = self._apply_epoch(series_list, epoch)
                if err:
                    return 400, err
                results.append({"statement_id": i, "series": series_list})
            except InfluxQLError as ex:
                if len(stmts) == 1:
                    return 400, {"error": str(ex)}
                results.append({"statement_id": i, "error": str(ex)})
            except Exception as ex:  # compile/execute failure
                if len(stmts) == 1:
                    return 400, {"error": f"{type(ex).__name__}: {ex}"}
                results.append(
                    {"statement_id": i, "error": f"{type(ex).__name__}: {ex}"}
                )
        return 200, {"results": results}

    @staticmethod
    def _build_series(
        columns: list, rows: list, name: str, tag_cols: list
    ) -> list[dict]:
        """Rows → InfluxDB 1.x series list. With ``tag_cols``
        (GROUP BY * / tags): one series per tag combination with a
        'tags' object, tag columns excluded from columns/values — the
        shape a ReadDB-style consumer needs so tags stay tags."""
        if tag_cols:
            ti = [columns.index(c) for c in tag_cols]
            vi = [i2 for i2, c in enumerate(columns) if c not in tag_cols]
            val_cols = [columns[i2] for i2 in vi]
            by_combo: dict[tuple, list] = {}
            for r in rows:
                by_combo.setdefault(
                    tuple(r[i2] for i2 in ti), []
                ).append([r[i2] for i2 in vi])
            return [
                {
                    "name": (
                        str(combo[tag_cols.index("measurement")])
                        if "measurement" in tag_cols
                        else name
                    ),
                    "tags": {
                        c: ("" if v is None else str(v))
                        for c, v in zip(tag_cols, combo)
                        if c != "measurement"
                    },
                    "columns": val_cols,
                    "values": vals,
                }
                for combo, vals in sorted(
                    by_combo.items(),
                    key=lambda kv: tuple(
                        "" if x is None else str(x) for x in kv[0]
                    ),
                )
            ]
        return [
            {
                "name": name,
                "columns": list(columns),
                "values": [list(r) for r in rows],
            }
        ]

    def _apply_epoch(self, series_list: list, epoch: str | None):
        if epoch is None:
            return None
        div = self._EPOCH_DIV.get(epoch)
        if div is None:
            return {"error": f"bad epoch {epoch!r}"}
        for ser in series_list:
            if "time" in ser["columns"]:
                tix = ser["columns"].index("time")
                for v in ser["values"]:
                    if v[tix] is not None:
                        v[tix] = int(v[tix]) // div
        return None

    def _run_query_chunked(self, q: str, epoch: str | None, chunk_size: int):
        """Execute ONE InfluxQL statement and yield InfluxDB 1.x
        chunked-response documents: each chunk is a complete
        ``{"results": [...]}`` body holding at most ``chunk_size``
        rows, with ``"partial": true`` on every chunk but the last —
        the shape ``/query?chunked=true`` clients stream-decode.

        Rows pull through ``toLocalIterator`` so driver memory holds
        ONE partition at a time, not the result set — chunked is the
        export path for results that exceed ``max_query_rows``, which
        deliberately does NOT apply here."""
        from syncflux_spark.influxql import (
            SelectStmt,
            parse,
            split_statements,
        )

        stmts = split_statements(q)
        if len(stmts) != 1:
            raise ValueError(
                "chunked=true supports exactly one statement per request"
            )
        st = parse(stmts[0])
        df = self.query_engine.query(stmts[0])
        name = (
            st.measurement
            if isinstance(st, SelectStmt)
            else getattr(st, "what", "results").replace(" ", "_")
        )
        tag_cols = self.query_engine.response_tag_columns(
            st, list(df.columns)
        )
        columns = list(df.columns)

        def chunks():
            # tracked for SHOW QUERIES / KILL QUERY for the whole
            # streaming lifetime, not just plan construction
            with self.query_engine.tracked(stmts[0]):
                buf: list = []
                for row in df.toLocalIterator():
                    buf.append(row)
                    if len(buf) >= chunk_size:
                        yield buf
                        buf = []
                yield buf  # final (possibly empty) chunk closes the stream

        it = chunks()
        prev = next(it)
        for batch in it:
            # prev is non-final → partial
            series = self._build_series(columns, prev, name, tag_cols)
            err = self._apply_epoch(series, epoch)
            if err:
                raise ValueError(err["error"])
            for s in series:
                s["partial"] = True
            yield {"results": [{"statement_id": 0, "series": series,
                                "partial": True}]}
            prev = batch
        series = self._build_series(columns, prev, name, tag_cols)
        err = self._apply_epoch(series, epoch)
        if err:
            raise ValueError(err["error"])
        yield {"results": [{"statement_id": 0, "series": series}]}

    # -- handlers -----------------------------------------------------------
    def _handler_cls(self):
        server = self

        class Handler(BaseHTTPRequestHandler):
            # chunked Transfer-Encoding is an HTTP/1.1 feature; the
            # default HTTP/1.0 status line makes Go net/http and curl
            # treat the hex chunk-size lines as body bytes. Safe to
            # pin: every non-chunked response carries Content-Length.
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):  # silence request logging
                pass

            def _send(self, code: int, payload, content_type="application/json"):
                body = (
                    json.dumps(payload, default=_jsonable)
                    if content_type == "application/json"
                    else payload
                ).encode()
                enc = None
                # gzip response bodies for clients that ask (InfluxDB
                # 1.x honors Accept-Encoding on /query); tiny bodies
                # aren't worth the header overhead
                if (
                    "gzip" in self.headers.get("Accept-Encoding", "")
                    and len(body) > 512
                ):
                    import gzip as _gz

                    body = _gz.compress(body)
                    enc = "gzip"
                self.send_response(code)
                self.send_header("Content-Type", content_type)
                if enc:
                    self.send_header("Content-Encoding", enc)
                self.send_header("Content-Length", str(len(body)))
                for h, v in getattr(self, "_extra_headers", []):
                    self.send_header(h, v)
                self.end_headers()
                self.wfile.write(body)

            def _authed(self) -> bool:
                cookie = self.headers.get("Cookie", "")
                return any(
                    c.strip().removeprefix("syncflux-sess=") in server._sessions
                    for c in cookie.split(";")
                    if c.strip().startswith("syncflux-sess=")
                )

            def _query_param(self, name: str = "q") -> str | None:
                parsed = urllib.parse.urlparse(self.path)
                qs = urllib.parse.parse_qs(parsed.query)
                vals = qs.get(name)
                return vals[0] if vals else None

            def _send_chunked_query(self, q: str) -> None:
                """/query?chunked=true: stream newline-delimited JSON
                response documents with HTTP chunked framing (the
                InfluxDB 1.x export protocol; urllib/requests decode
                the framing transparently)."""
                if server.query_engine is None:
                    self._send(503, {"error": "no query engine attached"})
                    return
                try:
                    size = int(self._query_param("chunk_size") or 10_000)
                    if size < 1:
                        raise ValueError("chunk_size must be >= 1")
                    gen = server._run_query_chunked(
                        q, self._query_param("epoch"), size
                    )
                    first = next(gen)  # surface errors before headers
                except Exception as ex:
                    self._send(400, {"error": str(ex)})
                    return
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Transfer-Encoding", "chunked")
                self.end_headers()

                def emit(doc):
                    data = (json.dumps(doc) + "\n").encode()
                    self.wfile.write(f"{len(data):X}\r\n".encode())
                    self.wfile.write(data)
                    self.wfile.write(b"\r\n")

                emit(first)
                for doc in gen:
                    emit(doc)
                self.wfile.write(b"0\r\n\r\n")

            def do_GET(self):
                if self.path.startswith("/query"):
                    q = self._query_param()
                    if not q:
                        self._send(400, {"error": "missing q parameter"})
                        return
                    if (self._query_param("chunked") or "").lower() == "true":
                        self._send_chunked_query(q)
                        return
                    code, body = server._run_query(
                        q, epoch=self._query_param("epoch")
                    )
                    server._count("queries_total")
                    if code != 200:
                        server._count("query_errors_total")
                    if (
                        code == 200
                        and "application/csv" in self.headers.get("Accept", "")
                    ):
                        self._send(200, server._to_csv(body), "application/csv")
                        return
                    self._send(code, body)
                elif self.path == "/api/health/" or self.path == "/api/health":
                    st = server.monitor.get_status()
                    self._send(200, asdict(st))
                elif self.path.startswith("/api/health/"):
                    self._send(200, "hola", "text/plain")  # api.go:47-51 stub
                elif self.path == "/ping" or self.path.startswith("/ping?"):
                    # the Influx client's Ping() (the reference's
                    # InitPing liveness probe, pkg/agent/
                    # influxmonitor.go:48-63) expects 204 + the
                    # version header
                    self.send_response(204)
                    self.send_header(
                        "X-Influxdb-Version", "1.8.10-syncflux-spark"
                    )
                    self.end_headers()
                elif self.path == "/metrics":
                    self._send(
                        200, server._metrics_text(),
                        "text/plain; version=0.0.4",
                    )
                elif self.path == "/api/queryactive":
                    st = server.monitor.get_status()
                    alive = []
                    if st.master_state:
                        alive.append(server.node_names["master"])
                    if st.slave_state:
                        alive.append(server.node_names["slave"])
                    self._send(200, alive)
                elif server.public_path is not None:
                    self._serve_static()
                else:
                    self._send(404, {"error": "not found"})

            def _serve_static(self) -> None:
                """Static UI assets rooted at public_path with an
                index.html index (reference: macaron.Static,
                pkg/webui/webserver.go:81-95). Traversal-safe: the
                resolved path must stay under the root."""
                rel = urllib.parse.urlparse(self.path).path.lstrip("/")
                rel = urllib.parse.unquote(rel)
                root = os.path.realpath(server.public_path)
                target = os.path.realpath(os.path.join(root, rel))
                if target != root and not target.startswith(root + os.sep):
                    self._send(404, {"error": "not found"})
                    return
                if os.path.isdir(target):
                    target = os.path.join(target, "index.html")
                if not os.path.isfile(target):
                    self._send(404, {"error": "not found"})
                    return
                ctype = (
                    mimetypes.guess_type(target)[0]
                    or "application/octet-stream"
                )
                with open(target, "rb") as f:
                    body = f.read()
                self.send_response(200)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_HEAD(self):
                if self.path == "/ping" or self.path.startswith("/ping?"):
                    self.send_response(204)
                    self.send_header(
                        "X-Influxdb-Version", "1.8.10-syncflux-spark"
                    )
                    self.end_headers()
                else:
                    self.send_response(404)
                    self.send_header("Content-Length", "0")
                    self.end_headers()

            def do_POST(self):
                if self.path.startswith("/write"):
                    if server.write_sink is None:
                        self._send(503, {"error": "no write sink attached"})
                        return
                    n = int(self.headers.get("Content-Length", 0))
                    raw = self.rfile.read(n) if n else b""
                    # influx clients (and Telegraf by default) gzip
                    # their batches
                    if self.headers.get("Content-Encoding") == "gzip":
                        import gzip as _gzip

                        try:
                            raw = _gzip.decompress(raw)
                        except OSError:
                            self._send(400, {"error": "bad gzip body"})
                            return
                    body = raw.decode()
                    precision = self._query_param("precision") or "ns"
                    try:
                        written = server.write_sink.write(
                            body, precision=precision
                        )
                    except ValueError as ex:
                        server._count("write_errors_total")
                        self._send(400, {"error": str(ex)})
                        return
                    except Exception as ex:  # noqa: BLE001 — never a 204
                        server._count("write_errors_total")
                        self._send(500, {"error": f"{type(ex).__name__}: {ex}"})
                        return
                    server._count("points_written_total", written)
                    # influx answers 204 No Content on success
                    self.send_response(204)
                    self.send_header("X-Points-Written", str(written))
                    self.end_headers()
                elif self.path.startswith("/query"):
                    # influx clients POST with q in the query string or
                    # a form-encoded body (client.go issues both)
                    q = self._query_param()
                    if not q:
                        n = int(self.headers.get("Content-Length", 0))
                        body = self.rfile.read(n).decode() if n else ""
                        qs = urllib.parse.parse_qs(body)
                        q = (qs.get("q") or [None])[0]
                    if not q:
                        self._send(400, {"error": "missing q parameter"})
                        return
                    if (self._query_param("chunked") or "").lower() == "true":
                        self._send_chunked_query(q)
                        return
                    code, body = server._run_query(
                        q, epoch=self._query_param("epoch")
                    )
                    server._count("queries_total")
                    if code != 200:
                        server._count("query_errors_total")
                    if (
                        code == 200
                        and "application/csv" in self.headers.get("Accept", "")
                    ):
                        self._send(200, server._to_csv(body), "application/csv")
                        return
                    self._send(code, body)
                elif self.path == "/login":
                    n = int(self.headers.get("Content-Length", 0))
                    try:
                        creds = json.loads(self.rfile.read(n) or b"{}")
                    except json.JSONDecodeError:
                        self._send(400, {"error": "bad json"})
                        return
                    if (
                        creds.get("username") == server.admin_user
                        and creds.get("password") == server.admin_passwd
                    ):
                        tok = secrets.token_hex(16)
                        server._sessions.add(tok)
                        self._extra_headers = [
                            ("Set-Cookie", f"syncflux-sess={tok}; HttpOnly")
                        ]
                        self._send(200, {"message": "ok"})
                    else:
                        self._send(401, {"error": "bad credentials"})
                elif self.path == "/logout":
                    cookie = self.headers.get("Cookie", "")
                    for c in cookie.split(";"):
                        c = c.strip()
                        if c.startswith("syncflux-sess="):
                            server._sessions.discard(c.removeprefix("syncflux-sess="))
                    self._send(200, {"message": "bye"})
                elif self.path.startswith("/api/action/"):
                    if not self._authed():
                        self._send(401, {"error": "auth required"})
                    else:
                        self._send(200, "hola", "text/plain")  # api.go:54-61 stub
                else:
                    self._send(404, {"error": "not found"})

        return Handler

    # -- lifecycle ----------------------------------------------------------
    def start(self) -> int:
        """Bind + serve on a daemon thread; returns the bound port
        (``port=0`` picks a free one — handy in tests)."""
        self._httpd = ThreadingHTTPServer((self.host, self.port), self._handler_cls())
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True, name="status-api"
        )
        self._thread.start()
        return self.port

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
