"""Tracing overhead: run workloads untraced and traced on the same
seeds and compare the untraced ``throughput_per_s`` with the traced
run's ``trace.throughput_per_s``. From the root of a checkout::

    python3 perfbench/overhead.py --seeds 1 2 3 --seconds 15

Prints one line per workload: medians of both and the relative
difference (positive = the traced run is slower).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

import common
from run import WORKLOADS


def result(workload: str, seed: int, seconds: float, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(common.BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=common.ROOT, capture_output=True, text=True, check=True,
    )
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", default=list(WORKLOADS), choices=WORKLOADS)
    ap.add_argument("--seeds", nargs="+", type=int, default=[1, 2, 3])
    ap.add_argument("--seconds", type=float, default=15)
    a = ap.parse_args()
    for w in a.workloads:
        plain, traced, est = [], [], []
        for s in a.seeds:
            plain.append(result(w, s, a.seconds, 0)["metrics"]["throughput_per_s"]["value"])
            m = result(w, s, a.seconds, 1)["metrics"]
            traced.append(m["trace.throughput_per_s"]["value"])
            est.append(m["trace.overhead_pct"]["value"])
        p, t = statistics.median(plain), statistics.median(traced)
        print(f"{w}: untraced {p:.4g}/s  traced {t:.4g}/s  "
              f"slower by {100 * (p - t) / p:+.1f}%  "
              f"(span-cost estimate {statistics.median(est):.3f}%, seeds {a.seeds})")


if __name__ == "__main__":
    main()
