"""copy_backfill: the slave side of a syncflux pair, in one engine
process. Each cycle

1. copies one 30-minute window with ``agent.action_copy`` at the
   reference defaults: 5 m chunks, 4 workers, ``dir`` sink (wl_copy.py);
2. recovers one outage: ``HAMonitor`` sees the slave down, a 10-file
   backlog lands, the slave comes back, and the tick that recovers it
   through a tx ``ReplicationStream`` is timed (wl_backfill.py).

Only whole cycles run: a cycle starts while the run's seconds last.
Set-up is the engine's start, the stream's first run and WARM_CYCLES
cycles into a scratch destination. Checks: the copy equals DuckDB over
the generated files on the copied half-open windows, and the replica
equals every landed file."""

from __future__ import annotations

import os
import subprocess
import sys

import common
import gen
import layers
import wl_backfill
import wl_copy
from common import now

#: cycles of the warm-up pass in set-up: the first copy and the first
#: recovery after the start take the engine's first-use costs
WARM_CYCLES = 1


def install_tracing(tracer) -> None:
    wl_copy.install_tracing(tracer)
    wl_backfill.install_tracing(tracer)


def run(seed: int, seconds: float, traced: bool) -> None:
    from syncflux_spark.agent import action_copy
    from tracing import Tracer, span_cost_us

    root = common.fresh_dir("copy_backfill")
    src = os.path.join(root, "copy-src")
    dst = os.path.join(root, "copy-dst")
    warm_dst = os.path.join(root, "copy-warm")
    bf_root = os.path.join(root, "backfill")
    subprocess.run(
        [sys.executable, os.path.join(common.BENCH_DIR, "gen.py"), "--seed", str(seed),
         "--out", src, "--hours", str(wl_copy.DATA_HOURS)],
        check=True,
    )
    wl_backfill.prepare(seed, bf_root)
    common.apply_program_env()
    tracer = Tracer()

    def copy(i: int, to: str):
        return action_copy(spark, src, to, *wl_copy.window(i),
                           chunk=wl_copy.CHUNK, num_workers=wl_copy.NUM_WORKERS)

    t_setup = now()
    spark = common.start_spark()
    bf = wl_backfill.Backfill(spark, seed, bf_root, tracer)
    for i in range(WARM_CYCLES):
        copy(i, warm_dst)
        bf.outage()
        bf.recovery()
    setup_s = now() - t_setup

    if traced:
        install_tracing(tracer)
        tracer.probe_jobs(spark)

    attempted = failed = 0
    copy_s = 0.0
    points = 0
    chunk_ms: list[float] = []
    recovery_s: list[float] = []
    batches: list[int] = []
    i = 0
    ticks = common.cpu_ticks()
    t_run = now()
    while now() - t_run < seconds:
        t = now()
        rep = copy(i, dst)
        copy_s += now() - t
        attempted += len(rep.chunks) * len(gen.SERIES)
        failed += rep.read_errors + rep.write_errors
        chunk_ms += [c.elapsed * 1e3 for c in rep.chunks]
        i += 1

        # the stream's foreachBatch runs on threads the engine starts,
        # so the op of its spans is the process-wide one
        tracer.global_op = f"down-{bf.rounds + 1}"
        with tracer.op(tracer.global_op):
            bf.outage()
        tracer.global_op = bf.rounds
        with tracer.op(bf.rounds):
            dt, n_batches, ok = bf.recovery()
        tracer.global_op = None
        recovery_s.append(dt)
        points += rep.points + wl_backfill.POINTS_PER_ROUND
        batches.append(n_batches)
        attempted += 1
        failed += not ok
    steal = common.steal_pct(ticks, common.cpu_ticks())
    rss = common.peak_rss_mb(os.getpid())
    if traced:
        tracer.probe_jobs(spark)
        tracer.uninstall()

    lo_ns, hi_ns = wl_copy.copied_ns(i)
    common.write_manifest("copy_backfill", lo_ns=lo_ns, hi_ns=hi_ns)
    problems, rows = wl_copy.check(spark, src, dst, lo_ns, hi_ns)
    problems += wl_backfill.check(bf.stream, bf.src)
    common.stop_spark(spark)
    for p in bf.errors + problems:
        print(f"copy_backfill check: {p}", file=sys.stderr)

    backfill_points = len(recovery_s) * wl_backfill.POINTS_PER_ROUND
    busy_s = copy_s + sum(recovery_s)
    throughput = points / busy_s
    if not traced:
        metrics = layers.with_units({
            "setup_s": setup_s,
            "peak_rss_mb": rss,
            "throughput_per_s": throughput,
            # a recovery takes about three chunks, so one median over
            # both would sit on one class: the mean of the two medians
            "op_p50_ms": (common.pct(chunk_ms, 50) + common.pct(recovery_s, 50) * 1e3) / 2,
        })
    else:
        files = [os.path.join(d, f) for d, _, fs in os.walk(dst)
                 for f in fs if f.endswith(".parquet")]
        nbytes = sum(os.path.getsize(f) for f in files)
        ranges = sum(1 for s in tracer.spans if s["name"] == "copy.range")
        jobs = tracer.jobs_between_probes()
        cost = span_cost_us()
        n_batches = sum(batches)
        metrics = layers.per_layer(tracer.spans, {
            "copy.files_written": len(files),
            "copy.bytes_per_point": nbytes / rows if rows else 0.0,
            "txtable.log_files": len(os.listdir(os.path.join(bf.dst, "_txlog"))),
            "txtable.data_groups": len(os.listdir(os.path.join(bf.dst, "data"))),
            "replicate.batches_per_recovery": n_batches / len(recovery_s),
            "replicate.points_per_batch": backfill_points / n_batches if n_batches else 0.0,
            "spark.jobs": jobs,
            "spark.jobs_per_op": jobs / (ranges + len(recovery_s)),
            "client.op_p90_ms": (common.pct(chunk_ms, 90) + common.pct(recovery_s, 90) * 1e3) / 2,
            "client.op_samples": len(chunk_ms) + len(recovery_s),
            "host.steal_pct": steal,
            "trace.span_cost_us": cost,
            "trace.overhead_pct": 100.0 * len(tracer.spans) * cost / 1e6 / busy_s,
            "trace.throughput_per_s": throughput,
        })
    common.emit(not problems and not bf.errors and failed == 0, attempted, failed, metrics)
