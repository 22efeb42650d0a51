"""Self-test of the benchmark's output checks: a check that cannot see
lost data cannot guard against it.

For each workload it makes one short run, then replays that run's
check on a copy of the output: the untouched copy must pass, and a
copy with one piece of data removed must fail —

* copy_backfill: one copied window's parquet file deleted, and one
  file of one replica data group deleted;
* serve_mixed: one acknowledged write's parquet file deleted.

From the root of a checkout::

    python3 perfbench/selftest.py

Exits 0 when every check behaves, 1 otherwise.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys

import common


def short_run(workload: str) -> bool:
    p = subprocess.run(
        [sys.executable, os.path.join(common.BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", "0"],
        cwd=common.ROOT, capture_output=True, text=True,
    )
    last = p.stdout.strip().splitlines()[-1:] or [""]
    return p.returncode == 0 and '"correct": true' in last[0]


def tampered(workload: str, part: str, victim_glob: str) -> tuple[str, str, str]:
    """(intact copy, tampered copy, deleted file) of a run's output."""
    src = os.path.join(common.WORK, workload, part)
    intact = common.fresh_dir("selftest", workload, "intact")
    broken = common.fresh_dir("selftest", workload, "broken")
    shutil.copytree(src, intact, dirs_exist_ok=True)
    shutil.copytree(src, broken, dirs_exist_ok=True)
    victims = sorted(glob.glob(os.path.join(broken, victim_glob), recursive=True))
    if not victims:
        raise SystemExit(f"selftest: nothing matches {victim_glob} under {broken}")
    os.remove(victims[len(victims) // 2])
    return intact, broken, victims[len(victims) // 2]


def main() -> int:
    common.require_program()
    results: list[tuple[str, bool]] = []

    for w in ("copy_backfill", "serve_mixed"):
        results.append((f"{w}: short run passes its check", short_run(w)))

    common.apply_program_env()
    spark = common.start_spark()

    import wl_backfill
    import wl_copy
    import wl_serve
    from syncflux_spark.streaming.replicate import ReplicationStream

    m = common.read_manifest("copy_backfill")
    src = os.path.join(common.WORK, "copy_backfill", "copy-src")
    intact, broken, gone = tampered("copy_backfill", "copy-dst", "*/win=*/*.parquet")
    ok_intact = not wl_copy.check(spark, src, intact, m["lo_ns"], m["hi_ns"])[0]
    ok_broken = not wl_copy.check(spark, src, broken, m["lo_ns"], m["hi_ns"])[0]
    results += [("copy_backfill: intact copy passes", ok_intact),
                (f"copy_backfill: copy without {os.path.relpath(gone, broken)} fails",
                 not ok_broken)]

    src = os.path.join(common.WORK, "copy_backfill", "backfill", "src")
    intact, broken, gone = tampered("copy_backfill", "backfill/dst", "data/*/*.parquet")

    def replica(path):
        return ReplicationStream(spark, src, path, path + "-ckpt", table_format="tx")

    ok_intact = not wl_backfill.check(replica(intact), src)
    ok_broken = not wl_backfill.check(replica(broken), src)
    results += [("copy_backfill: intact replica passes", ok_intact),
                (f"copy_backfill: replica without {os.path.relpath(gone, broken)} fails",
                 not ok_broken)]

    m = common.read_manifest("serve_mixed")
    intact, broken, gone = tampered("serve_mixed", "dst", "*/*.parquet")
    ok_intact = not wl_serve.check_writes(m["seed"], intact, m["acked"])
    ok_broken = not wl_serve.check_writes(m["seed"], broken, m["acked"])
    results += [("serve_mixed: intact dst passes", ok_intact),
                (f"serve_mixed: dst without {os.path.relpath(gone, broken)} fails", not ok_broken)]
    common.stop_spark(spark)

    for name, ok in results:
        print(f"{'PASS' if ok else 'FAIL'}  {name}")
    return 0 if all(ok for _, ok in results) else 1


if __name__ == "__main__":
    sys.exit(main())
