"""serve_mixed: the engine as the InfluxDB end of a syncflux pair.

The server runs in its own process, launched through the CLI
(``-action serve``, see serve_boot.py). The client is this process:

* 2 closed-loop connections (the reference's DBclient waits for each
  reply) sending a fixed 4:3:3 mix of
  - scan-template reads ``select * from "m" where time > a and
    time < b group by *`` over 5 m windows (the text sync.go emits),
  - dashboard aggregates ``GROUP BY time(1m), region`` over 1 h,
  - ``/write`` bodies of 10,000 line-protocol points (the reference's
    max-points-on-single-write default).
  The two connections run in lockstep rounds: both send one request,
  and the next round starts when both replies are in. A cycle of
  rounds (CYCLE) fixes which requests share the server, so a read's
  latency does not depend on how the two loops happen to drift
  against each other. Only whole cycles run: a cycle starts while the
  run's seconds last;
* 1 open-loop connection sending ``/ping`` at 10/s, the way the
  monitor's ticker probes, timed from each ping's due time. The
  reference probes each node once per 10 s check-interval; 10/s is
  what 100 such monitors send one node, and it gives a run >= 100
  pings, so ten lie beyond the p90.

Checks: each scan's row count and each aggregate's values equal DuckDB
over the generated files; the rows under ``-dst-root`` equal the
acknowledged written points."""

from __future__ import annotations

import http.client
import json
import os
import signal
import subprocess
import sys
import threading
import urllib.parse

import numpy as np

import common
import gen
import layers
from common import now

DATA_HOURS = 6
PING_HZ = 10.0
BODY_POINTS = 10_000
MEAS = tuple(sorted(gen.SERIES))
#: one cycle of lockstep rounds, (connection 0, connection 1) per
#: round: scan:agg:write = 4:3:3. Reads name their measurement; every
#: measurement is scanned once per cycle, each write goes to the
#: measurement of its body. Scans run beside scans, so the scan median
#: is not at the mercy of where a write's parse happens to be; a write
#: runs beside an aggregate once per cycle, and beside a write once.
CYCLE = (
    (("write", None), ("write", None)),
    (("scan", "cpu"), ("scan", "disk")),
    (("scan", "mem"), ("scan", "net")),
    (("agg", "cpu"), ("agg", "disk")),
    (("agg", "mem"), ("write", None)),
)
CLIENTS = len(CYCLE[0])
#: cycles of the warm-up pass in set-up: the first requests after
#: launch take the engine's first-use costs
WARM_CYCLES = 1
WRITES_PER_CYCLE = sum(kind == "write" for rnd in CYCLE for kind, _ in rnd)
T0_S = gen.T0_NS // 10**9
TIMEOUT_S = 120.0


# -- inputs -------------------------------------------------------------------
def write_points(seed: int, b: int) -> dict:
    """Body ``b``'s points: one measurement, a time range of its own
    after the served data, every point with a non-null ``value`` (a
    line needs at least one field)."""
    name = MEAS[b % len(MEAS)]
    hosts, regions = gen.series_tags(name, gen.SERIES[name])
    slots = -(-BODY_POINTS // len(hosts))
    t0 = gen.T0_NS + (DATA_HOURS + 1 + b) * gen.HOUR_NS
    cols = gen.points(np.random.default_rng([seed, 4, b]), hosts, regions, t0, slots,
                      force_value=True)
    nulls = cols.pop("_nulls")
    out = {"measurement": name}
    for k, v in cols.items():
        out[k] = v[:BODY_POINTS]
    out["nulls"] = {k: v[:BODY_POINTS] for k, v in nulls.items()}
    return out


def line_protocol(p: dict) -> bytes:
    """Line protocol for one body. The engine serves string columns as
    tags, so ``status`` travels as a tag."""
    name, nl = p["measurement"], p["nulls"]
    lines = []
    for host, region, value, count, ok, status, ts, c_n, ok_n, st_n in zip(
        p["host"].tolist(), p["region"].tolist(), p["value"].tolist(),
        p["count"].tolist(), p["ok"].tolist(), p["status"].tolist(),
        p["ts_ns"].tolist(), nl["count"].tolist(), nl["ok"].tolist(),
        nl["status"].tolist(),
    ):
        head = f"{name},host={host},region={region}"
        if not st_n:
            head += f",status={status}"
        fields = f"value={value!r}"
        if not c_n:
            fields += f",count={count}i"
        if not ok_n:
            fields += ",ok=true" if ok else ",ok=false"
        lines.append(f"{head} {fields} {ts}")
    return "\n".join(lines).encode()


def points_frame(p: dict):
    import pandas as pd

    df = pd.DataFrame({c: p[c] for c in common.ROW_COLS})
    for f in ("value", "count", "ok", "status"):
        df[f] = df[f].astype(object).where(~p["nulls"][f], None)
    df["measurement"] = p["measurement"]
    return df


class Bodies:
    """Write bodies by number, the first ``pool`` made in advance;
    thread-safe."""

    def __init__(self, seed: int, pool: int):
        self.seed = seed
        self.made = {b: line_protocol(write_points(seed, b)) for b in range(pool)}
        self.lock = threading.Lock()

    def get(self, b: int) -> bytes:
        with self.lock:
            body = self.made.pop(b, None)
        return body if body is not None else line_protocol(write_points(self.seed, b))


# -- server -------------------------------------------------------------------
def launch(src: str, dst: str, traced: bool, spans: str, log) -> tuple[subprocess.Popen, int]:
    cmd = [
        sys.executable, "-u", os.path.join(common.BENCH_DIR, "serve_boot.py"),
        "--trace", str(int(traced)), "--spans", spans, "--",
        "-action", "serve", "-src-root", src, "-dst-root", dst,
        "-http-port", "0", "-master", f"local[{common.ENGINE_CORES}]",
    ]
    proc = subprocess.Popen(cmd, cwd=common.ROOT, env=common.program_env(),
                            stdout=subprocess.PIPE, stderr=log, text=True)
    # the CLI announces its port as one JSON line; the JVM may print
    # other lines first
    for line in proc.stdout:
        if line.startswith('{"serving"'):
            return proc, int(json.loads(line)["serving"])
    stop(proc)
    raise RuntimeError("server exited before serving")


def stop(proc: subprocess.Popen) -> None:
    """Shut the server down the way an operator does (SIGINT), then make
    sure nothing it started (the JVM) outlives it."""
    kids = common.descendants(proc.pid)
    if proc.poll() is None:
        proc.send_signal(signal.SIGINT)
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if proc.stdout:
        proc.stdout.close()
    common.reap(kids)


# -- client -------------------------------------------------------------------
class Client:
    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=TIMEOUT_S)

    def request(self, method: str, path: str, body=None, op=None):
        """(status, body bytes, seconds); status 0 on a transport error."""
        headers = {"X-Bench-Op": str(op)} if op is not None else {}
        t = now()
        try:
            self.conn.request(method, path, body=body, headers=headers)
            r = self.conn.getresponse()
            data = r.read()
            return r.status, data, now() - t
        except (OSError, http.client.HTTPException):
            self.conn.close()
            return 0, b"", now() - t

    def close(self) -> None:
        self.conn.close()


def query_path(q: str) -> str:
    return "/query?" + urllib.parse.urlencode({"q": q, "epoch": "ns"})


def scan_op(rng, name: str) -> dict:
    a = T0_S + 300 * int(rng.integers(0, DATA_HOURS * 12))
    q = f'select * from "{name}" where time > {a}s and time < {a + 300}s group by *'
    return {"kind": "scan", "measurement": name, "a": a, "b": a + 300, "q": q}


def agg_op(rng, name: str) -> dict:
    a = T0_S + 60 * int(rng.integers(0, (DATA_HOURS - 1) * 60))
    q = (f'select mean("value"), count("value"), max("count") from "{name}" '
         f'where time >= {a}s and time < {a + 3600}s group by time(1m), "region"')
    return {"kind": "agg", "measurement": name, "a": a, "b": a + 3600, "q": q}


def planned(seed: int, r: int, i: int) -> dict:
    """Connection ``i``'s request in round ``r``: the kind and
    measurement from CYCLE, the time window from the seed. Write bodies
    are numbered in round order."""
    cycle, pos = divmod(r, len(CYCLE))
    kind, name = CYCLE[pos][i]
    if kind == "write":
        before = sum(k == "write" for rnd in CYCLE[:pos] for k, _ in rnd)
        before += sum(k == "write" for k, _ in CYCLE[pos][:i])
        return {"kind": "write", "body": cycle * WRITES_PER_CYCLE + before}
    rng = np.random.default_rng([seed, 3, r, i])
    return (scan_op if kind == "scan" else agg_op)(rng, name)


class Rounds:
    """Starts both connections' requests of a round together, from
    round ``first`` (a cycle boundary). A new cycle starts only while
    ``more(round)`` holds; the first always runs."""

    def __init__(self, first: int, more):
        self.first = first
        self.more = more
        self.next = first
        self.round = -1
        self.go = True
        self.barrier = threading.Barrier(CLIENTS, action=self._decide)

    def _decide(self) -> None:
        self.go = (self.next % len(CYCLE) != 0 or self.next == self.first
                   or self.more(self.next))
        self.round = self.next
        self.next += 1

    def wait(self):
        """The round to run, or None when the run is over (or the other
        connection's thread has failed)."""
        try:
            self.barrier.wait()
        except threading.BrokenBarrierError:
            return None
        return self.round if self.go else None


def closed_loop(port, seed, i, rounds, bodies, out, op_ids):
    c = Client(port)
    try:
        while (r := rounds.wait()) is not None:
            rec = planned(seed, r, i)
            op_id = next(op_ids)
            if rec["kind"] == "write":
                status, data, dt = c.request(
                    "POST", "/write?precision=ns", bodies.get(rec["body"]), op_id)
            else:
                status, data, dt = c.request("GET", query_path(rec["q"]), None, op_id)
                rec["data"] = data
            rec.update(op=op_id, status=status, s=dt, end=now())
            out.append(rec)
    finally:
        rounds.barrier.abort()
        c.close()


def run_cycles(port, seed, rounds: Rounds, bodies, op_ids) -> list[dict]:
    """Both connections' requests for the rounds ``rounds`` hands out."""
    out: list[dict] = []
    loops = [threading.Thread(target=closed_loop,
                              args=(port, seed, i, rounds, bodies, out, op_ids))
             for i in range(CLIENTS)]
    for t in loops:
        t.start()
    for t in loops:
        t.join()
    return out


def open_loop_ping(port, start, done, out):
    """Pings due every 1/PING_HZ s from ``start`` until ``done`` is set."""
    c = Client(port)
    period = 1.0 / PING_HZ
    i = 0
    while True:
        due = start + i * period
        if done.wait(max(due - now(), 0.0)):
            break
        sent = now()
        status, _, _ = c.request("GET", "/ping")
        out.append({"status": status, "ms": (now() - due) * 1e3,
                    "late_ms": (sent - due) * 1e3})
        i += 1
    c.close()


# -- checks -------------------------------------------------------------------
def check_reads(src: str, recs: list[dict]) -> int:
    """Failed reads: non-200, or rows/values differing from DuckDB."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    con = duckdb.connect()
    for name in MEAS:
        tbl = pq.read_table(os.path.join(src, f"{name}.parquet"))
        tbl = tbl.append_column("ts_ns", tbl["ts"].cast(pa.int64()))
        con.register(name, tbl)
    bad = 0
    for r in recs:
        ok = r["status"] == 200
        if ok:
            try:
                res = json.loads(r["data"])["results"][0]
                series = res.get("series", [])
                ok = (_scan_ok if r["kind"] == "scan" else _agg_ok)(con, r, series)
            except (ValueError, KeyError, IndexError, TypeError):
                ok = False
        if not ok:
            bad += 1
            print(f"serve_mixed check: {r['kind']} {r.get('q')!r} failed "
                  f"(status {r['status']})", file=sys.stderr)
    con.close()
    return bad


def _scan_ok(con, r, series) -> bool:
    got = sum(len(s["values"]) for s in series)
    want = con.execute(
        f'select count(*) from "{r["measurement"]}" where ts_ns > ? and ts_ns < ?',
        [r["a"] * 10**9, r["b"] * 10**9],
    ).fetchone()[0]
    return got == want


def _agg_ok(con, r, series) -> bool:
    rows = con.execute(
        f'select region, ts_ns // 60000000000 * 60000000000 as t, avg(value), '
        f'count(value), max("count") from "{r["measurement"]}" '
        f"where ts_ns >= ? and ts_ns < ? group by 1, 2",
        [r["a"] * 10**9, r["b"] * 10**9],
    ).fetchall()
    want = {(reg, t): (m, n, mx) for reg, t, m, n, mx in rows}
    got = {}
    for s in series:
        cols = s["columns"]
        ti, mi, ci, xi = (cols.index(c) for c in ("time", "mean", "count", "max"))
        for v in s["values"]:
            if v[ci]:
                got[(s["tags"]["region"], int(v[ti]))] = (v[mi], v[ci], v[xi])
    if got.keys() != want.keys():
        return False
    for key, (m, n, mx) in want.items():
        gm, gn, gx = got[key]
        if gn != n or gx != mx or not np.isclose(gm, m, rtol=1e-9, atol=0.0):
            return False
    return True


def check_writes(seed: int, dst: str, acked: list[int]) -> list[str]:
    """Rows under ``dst`` must equal the acknowledged points."""
    import duckdb
    import pandas as pd

    want = common.digest(
        pd.concat([points_frame(write_points(seed, b)) for b in sorted(acked)],
                  ignore_index=True) if acked else pd.DataFrame(columns=[*common.ROW_COLS, "measurement"]),
        extra=("measurement",),
    )
    con = duckdb.connect()
    try:
        got_df = con.execute(
            "select ts_ns, host, region, value, count, ok, status, "
            "regexp_extract(filename, '([^/]+)/[^/]+$', 1) as measurement "
            "from read_parquet(?, filename = true)",
            [os.path.join(dst, "*", "*.parquet")],
        ).df()
        got = common.digest(got_df, extra=("measurement",))
    except duckdb.Error as ex:
        return [f"cannot read written rows: {ex}"]
    finally:
        con.close()
    if got != want:
        return [f"dst holds {got[0]} rows/hash {got[1]:x}, acknowledged "
                f"writes hold {want[0]}/{want[1]:x}"]
    return []


# -- run ----------------------------------------------------------------------
def run(seed: int, seconds: float, traced: bool) -> None:
    import itertools

    from tracing import span_cost_us

    root = common.fresh_dir("serve_mixed")
    src, dst = os.path.join(root, "src"), os.path.join(root, "dst")
    spans_path = os.path.join(root, "spans.json")
    subprocess.run(
        [sys.executable, os.path.join(common.BENCH_DIR, "gen.py"), "--seed", str(seed),
         "--out", src, "--hours", str(DATA_HOURS)],
        check=True,
    )
    # every body a run can send is made before it starts (a cycle
    # takes over 2 s); more would be made on demand
    bodies = Bodies(seed, WRITES_PER_CYCLE * (WARM_CYCLES + int(seconds // 2) + 2))
    op_ids = itertools.count(1)

    log = open(os.path.join(root, "server.log"), "w")
    t_setup = now()
    proc, port = launch(src, dst, traced, spans_path, log)
    try:
        warm_rounds = WARM_CYCLES * len(CYCLE)
        warm = run_cycles(port, seed, Rounds(0, lambda r: r < warm_rounds), bodies, op_ids)
        setup_s = now() - t_setup

        pings: list[dict] = []
        ticks = common.cpu_ticks()
        t_run = now()
        done = threading.Event()
        pinger = threading.Thread(target=open_loop_ping, args=(port, t_run, done, pings))
        pinger.start()
        deadline = t_run + seconds
        recs = run_cycles(port, seed, Rounds(warm_rounds, lambda r: now() < deadline),
                          bodies, op_ids)
        done.set()
        pinger.join()
        steal = common.steal_pct(ticks, common.cpu_ticks())
        rss = common.peak_rss_mb(proc.pid)
    finally:
        stop(proc)
        log.close()

    reads = [r for r in recs if r["kind"] != "write"]
    writes = [r for r in recs if r["kind"] == "write"]
    # the warm-up's requests are checked and counted like the others
    all_writes = [r for r in warm if r["kind"] == "write"] + writes
    acked = [r["body"] for r in all_writes if r["status"] == 204]
    common.write_manifest("serve_mixed", seed=seed, acked=acked)
    bad_reads = check_reads(src, [r for r in warm if r["kind"] != "write"] + reads)
    bad_writes = sum(1 for r in all_writes if r["status"] != 204)
    problems = check_writes(seed, dst, acked)
    for p in problems:
        print(f"serve_mixed check: {p}", file=sys.stderr)
    bad_pings = sum(1 for p in pings if p["status"] != 204)
    failed = bad_reads + bad_writes + bad_pings + len(problems)
    attempted = len(warm) + len(recs) + len(pings)

    read_ms = [r["s"] * 1e3 for r in reads]
    throughput = len(recs) / (max(r["end"] for r in recs) - t_run)
    if not traced:
        # an aggregate takes about twice a scan, so one median over both
        # lands between the two classes and jumps with the mix; the
        # read latency is the mean of the two class medians
        by_kind = {k: [r["s"] * 1e3 for r in reads if r["kind"] == k] for k in ("scan", "agg")}
        metrics = layers.with_units({
            "setup_s": setup_s,
            "peak_rss_mb": rss,
            "throughput_per_s": throughput,
            "op_p50_ms": (common.pct(by_kind["scan"], 50) + common.pct(by_kind["agg"], 50)) / 2,
        })
    else:
        with open(spans_path) as f:
            dump = json.load(f)
        spans = dump["spans"]
        ids = dump["job_ids"]
        jobs = max(ids[-1] - ids[0] - 1, 0) if len(ids) >= 2 else 0
        names = {s["id"]: s["name"] for s in spans}
        # spans of the measured requests (and of no request: set-up),
        # without the collects that are not a /query's
        measured = {str(r["op"]) for r in recs}
        query_spans = [s for s in spans
                       if (s["op"] is None or s["op"] in measured)
                       and (s["name"] != "spark.collect"
                            or names.get(s["parent"]) == "webui.run_query")]
        inner: dict = {}
        for s in query_spans:
            if s["name"] in ("influxql.query", "spark.collect"):
                inner[s["op"]] = inner.get(s["op"], 0.0) + (s["end"] - s["start"]) * 1e3
        cost = span_cost_us()
        write_ms = [r["s"] * 1e3 for r in writes]
        server_s = sum(s["end"] - s["start"] for s in spans if s["name"] == "webui.request")
        metrics = layers.per_layer(query_spans, {
            "webui.self_p50_ms": common.pct(
                [r["s"] * 1e3 - inner.get(str(r["op"]), 0.0) for r in reads], 50),
            "webui.response_bytes": common.pct([len(r["data"]) for r in reads], 50),
            "line_protocol.files_appended": sum(
                1 for d, _, fs in os.walk(dst) for f in fs if f.endswith(".parquet")),
            "spark.jobs": jobs,
            "spark.jobs_per_op": jobs / (len(recs) + len(warm)),
            "client.op_p90_ms": common.pct([r["s"] * 1e3 for r in recs], 90),
            "client.query_p90_ms": common.pct(read_ms, 90),
            "client.write_p50_ms": common.pct(write_ms, 50),
            "client.write_p90_ms": common.pct(write_ms, 90),
            "client.ping_p90_ms": common.pct([p["ms"] for p in pings], 90),
            "client.op_samples": len(recs),
            "gen.ping_late_ms": common.pct([p["late_ms"] for p in pings], 90),
            "host.steal_pct": steal,
            "trace.span_cost_us": cost,
            "trace.overhead_pct": 100.0 * len(spans) * cost / 1e6 / server_s if server_s else 0.0,
            "trace.throughput_per_s": throughput,
        })
        metrics["trace.spans"] = (float(len(spans)), "count")
    common.emit(failed == 0 and not problems, attempted, failed, metrics)
