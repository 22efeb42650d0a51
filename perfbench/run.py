"""Benchmark entry point. From the root of a checkout::

    python3 perfbench/run.py --workload copy_backfill --seed 1 --seconds 20 --trace 0

Workloads: ``copy_backfill``, ``serve_mixed`` (see ``BENCHMARK.json``
and ``perfbench/LAYERS.md``). The last line of
stdout is the JSON result; ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer metrics of a traced run. Exits
non-zero without a result when the program is not in the checkout.
"""

from __future__ import annotations

import argparse

import common

WORKLOADS = ("copy_backfill", "serve_mixed")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    common.require_program()
    if a.workload == "copy_backfill":
        import wl_copy_backfill as wl
    else:
        import wl_serve as wl
    wl.run(a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    main()
