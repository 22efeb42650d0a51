"""Seeded generator for the InfluxDB 1.x data model.

Every workload's input comes from here and depends only on ``--seed``:

* tag columns ``host`` and ``region``;
* typed fields ``value`` (float), ``count`` (integer), ``ok`` (boolean)
  and ``status`` (string), each ~10% null (sparse fields);
* ns-epoch time, one point per series per 10 s slot at a random ns
  offset, with about half of the slots that start on a 5 m boundary
  pinned exactly to it, so half-open windows are exercised;
* ``cpu`` carries 4x the series of the other measurements.

Sizes are fixed; the seed only moves offsets, values and nulls, so
every seed asks the program for the same amount of work.

Run as a script to write the measurement files of one workload::

    python3 perfbench/gen.py --seed 1 --out DIR --hours 24
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: measurement -> series count (``cpu`` has 4x the others)
SERIES = {"cpu": 128, "disk": 32, "mem": 32, "net": 32}
REGIONS = ("ap-south", "eu-west", "us-east", "us-west")
STATUS = ("ok", "warn", "crit", "unknown")
SLOT_NS = 10 * 10**9
CHUNK_NS = 300 * 10**9
HOUR_NS = 3600 * 10**9
#: 2024-03-01T00:00:00Z, on a 5 m boundary
T0_NS = 1_709_251_200 * 10**9
NULL_SHARE = 0.10

FIELDS = ("value", "count", "ok", "status")


def _rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, *salt])


def series_tags(name: str, n: int) -> tuple[list[str], list[str]]:
    hosts = [f"{name}-h{i:03d}" for i in range(n)]
    regions = [REGIONS[i % len(REGIONS)] for i in range(n)]
    return hosts, regions


def points(
    rng: np.random.Generator,
    hosts: list[str],
    regions: list[str],
    t0_ns: int,
    slots: int,
    boundary_pins: bool = True,
    force_value: bool = False,
) -> dict[str, np.ndarray]:
    """One point per series per 10 s slot over ``slots`` slots from
    ``t0_ns``. Returns column arrays; nulls are masked arrays' masks
    (``None`` entries for strings)."""
    ns = len(hosts)
    n = ns * slots
    k = np.tile(np.arange(slots, dtype=np.int64), ns)
    s = np.repeat(np.arange(ns), slots)
    base = t0_ns + k * SLOT_NS
    off = rng.integers(1, SLOT_NS, size=n, dtype=np.int64)
    if boundary_pins:
        on_boundary = (base % CHUNK_NS) == 0
        off[on_boundary & (rng.random(n) < 0.5)] = 0
    ts = base + off
    cols: dict[str, np.ndarray] = {
        "ts_ns": ts,
        "host": np.asarray(hosts, dtype=object)[s],
        "region": np.asarray(regions, dtype=object)[s],
        "value": np.round(rng.normal(50.0, 15.0, size=n), 6),
        "count": rng.integers(0, 100_000, size=n, dtype=np.int64),
        "ok": rng.random(n) < 0.9,
        "status": np.asarray(STATUS, dtype=object)[rng.integers(0, 4, size=n)],
    }
    nulls = {f: rng.random(n) < NULL_SHARE for f in FIELDS}
    if force_value:
        nulls["value"][:] = False
    cols["_nulls"] = nulls  # type: ignore[assignment]
    return cols


def to_arrow(cols: dict, ts_as: str = "timestamp") -> pa.Table:
    """Column arrays -> arrow table. ``ts_as="timestamp"`` stores time
    as parquet TIMESTAMP(NANOS) column ``ts`` (how a measurement file
    arrives); ``ts_as="long"`` as an int64 ``ts_ns`` column."""
    nulls = cols["_nulls"]
    if ts_as == "timestamp":
        tcol = ("ts", pa.array(cols["ts_ns"], type=pa.timestamp("ns")))
    else:
        tcol = ("ts_ns", pa.array(cols["ts_ns"], type=pa.int64()))
    arrays = [
        tcol,
        ("host", pa.array(cols["host"], type=pa.string())),
        ("region", pa.array(cols["region"], type=pa.string())),
        ("value", pa.array(cols["value"], mask=nulls["value"], type=pa.float64())),
        ("count", pa.array(cols["count"], mask=nulls["count"], type=pa.int64())),
        ("ok", pa.array(cols["ok"], mask=nulls["ok"], type=pa.bool_())),
        ("status", pa.array(cols["status"], mask=nulls["status"], type=pa.string())),
    ]
    return pa.table(dict(arrays))


def write_measurements(seed: int, out: str, hours: int) -> dict[str, int]:
    """``{out}/{name}.parquet`` for every measurement over
    ``[T0, T0 + hours)``; returns name -> rows."""
    os.makedirs(out, exist_ok=True)
    slots = hours * HOUR_NS // SLOT_NS
    rows = {}
    for i, (name, n) in enumerate(sorted(SERIES.items())):
        hosts, regions = series_tags(name, n)
        cols = points(_rng(seed, 1, i), hosts, regions, T0_NS, slots)
        tbl = to_arrow(cols, "timestamp")
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"), row_group_size=1 << 17)
        rows[name] = tbl.num_rows
    return rows


def backlog_files(
    seed: int, round_no: int, files: int, series: int, slots: int
) -> list[pa.Table]:
    """The fixed backlog landed in one outage round: ``files`` files of
    ``series x slots`` points each, later in time than every earlier
    round, with ``ts_ns`` as the time column."""
    hosts, regions = series_tags("cpu", series)
    out = []
    for f in range(files):
        t0 = T0_NS + ((round_no * files + f) * slots) * SLOT_NS
        cols = points(_rng(seed, 2, round_no, f), hosts, regions, t0, slots)
        out.append(to_arrow(cols, "long"))
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--hours", type=int, required=True)
    a = ap.parse_args()
    write_measurements(a.seed, a.out, a.hours)


if __name__ == "__main__":
    main()
