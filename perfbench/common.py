"""Shared plumbing for the benchmark: where it may write, how it starts
the engine, what it reads from ``/proc``, and how it hashes rows so
the program's output can be compared with an oracle in any order."""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np

#: the checkout the benchmark runs in (``python3 perfbench/run.py`` is
#: started from its root); every byte the benchmark writes lands under
#: WORK inside it
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
NPROC = len(os.sched_getaffinity(0))
#: the engine's task slots: half the cores, so the JVM's compiler and
#: collector and the Python processes have cores of their own. At
#: local[nproc] the VM ran near saturation and the serve latencies'
#: run-to-run spread doubled (LAYERS.md)
ENGINE_CORES = max(1, NPROC // 2)

#: canonical row layout the digests compare
ROW_COLS = ("ts_ns", "host", "region", "value", "count", "ok", "status")

now = time.perf_counter


def fail_setup(msg: str) -> None:
    """Exit non-zero without a result line."""
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def require_program() -> None:
    """The program is built from the checkout itself; without it there
    is nothing to measure."""
    if not os.path.isfile(os.path.join(ROOT, "syncflux_spark", "__init__.py")):
        fail_setup(f"no syncflux_spark package under {ROOT}")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


#: driver JVM heap sizing: the default collector (G1) with the initial
#: heap at the 2 GiB maximum and a fixed young generation, so the JVM's
#: resident memory follows what the program retains rather than G1's
#: heap-growth heuristics (which moved peak RSS by a third between
#: identical runs)
DRIVER_JAVA_OPTIONS = "-Xms2g -Xmn384m"


def program_env() -> dict[str, str]:
    """Environment for the engine: ENGINE_CORES parallelism and a 2 GiB
    driver heap through the engine's own knobs, the driver JVM's
    collector, and every temp/spill directory inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(ENGINE_CORES),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            f'--conf "spark.driver.extraJavaOptions={DRIVER_JAVA_OPTIONS}" pyspark-shell'
        ),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=ROOT,
    )
    return env


def apply_program_env() -> None:
    os.environ.update(program_env())


def fresh_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def write_manifest(workload: str, **facts) -> None:
    """What a run's output check needs, kept beside the output so the
    check can be replayed on a tampered copy (selftest.py)."""
    with open(os.path.join(WORK, workload, "manifest.json"), "w") as f:
        json.dump(facts, f)


def read_manifest(workload: str) -> dict:
    with open(os.path.join(WORK, workload, "manifest.json")) as f:
        return json.load(f)


def start_spark():
    """The engine's SparkSession at ``local[ENGINE_CORES]`` (the session
    factory the CLI uses), with the console progress bar off."""
    from syncflux_spark import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{ENGINE_CORES}]",
        conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the engine, end its JVM (the gateway exits when its stdin
    closes) and every process below it, and wait until they are gone."""
    import subprocess

    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    reap(kids)


# -- /proc ------------------------------------------------------------------
def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM and its Python
    workers for a PySpark driver)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def reap(pids: list[int], grace: float = 10.0) -> None:
    """Wait up to ``grace`` seconds for ``pids`` to exit, then kill the
    rest and wait until they are gone."""
    import signal

    deadline = time.monotonic() + grace
    alive = list(pids)
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and _status_kb(p, "VmRSS")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def peak_rss_mb(pid: int) -> float:
    """High-water RSS (VmHWM) of ``pid`` plus its live descendants."""
    kb = _status_kb(pid, "VmHWM") + sum(
        _status_kb(c, "VmHWM") for c in descendants(pid)
    )
    return kb / 1024.0


def cpu_ticks() -> list[int]:
    """Host-wide CPU time counters (the ``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two cpu_ticks() readings that the
    hypervisor gave to other guests: contention the run could not see
    otherwise."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


# -- statistics -------------------------------------------------------------
def pct(values, q: float) -> float:
    """Percentile by linear interpolation; 0.0 for no samples."""
    if len(values) == 0:
        return 0.0
    return float(np.percentile(np.asarray(values, dtype=float), q))


# -- row digests ------------------------------------------------------------
def canonical(df):
    """Pandas frame (from Spark, DuckDB or generator arrays) -> the
    ROW_COLS layout with one dtype per column, so equal rows hash
    equal whatever produced them."""
    import pandas as pd

    out = pd.DataFrame(index=range(len(df)))
    for c in ROW_COLS:
        s = df[c].reset_index(drop=True)
        if c == "ts_ns":
            out[c] = s.astype("int64")
        elif c in ("host", "region", "status"):
            out[c] = s.astype(object).where(s.notna(), None)
        elif c == "value":
            out[c] = s.astype("float64")
        elif c == "count":
            out[c] = s.astype("Float64").astype("Int64")
        else:
            out[c] = s.astype("boolean")
    return out


def digest(df, extra: tuple[str, ...] = ()) -> tuple[int, int]:
    """(rows, order-insensitive 64-bit hash) of a frame: the wrapping
    sum of per-row hashes, so it ignores row order and counts
    duplicates."""
    import pandas as pd

    c = canonical(df)
    for e in extra:
        c[e] = df[e].reset_index(drop=True).astype(object)
    if len(c) == 0:
        return 0, 0
    h = pd.util.hash_pandas_object(c, index=False).to_numpy(dtype=np.uint64)
    return len(c), int(h.sum(dtype=np.uint64))


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """The result line: last line of stdout. A run that attempted
    nothing is not a result."""
    if attempted < 1:
        correct, attempted, failed = False, 1, 1
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": {
                    k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
                },
            }
        ),
        flush=True,
    )
