"""Agent orchestration: the reference's four CLI actions re-expressed
over the Spark engine.

Maps pkg/agent/agent.go's entry points (``Copy`` agent.go:210-240,
``ReplSch`` agent.go:147-174, ``SchCopy`` agent.go:176-208,
``HAMonitorStart`` agent.go:242-271) onto the catalog + copy + monitor
layers. Where the reference drives two live InfluxDB servers over
HTTP, this engine drives Spark tables: a "server" is a warehouse
(catalog database or a directory of parquet measurements), and the
data plane is ``spark.read → filter → write`` per measurement
(SURVEY §3.1).
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from syncflux_spark.catalog import InfluxSchDb, RetPol, SparkCatalog
from syncflux_spark.operators.copy import SyncReport, sync_dbrp
from syncflux_spark.sources.parquet import load_table


def discover_measurements(
    spark: SparkSession, src_root: str, meas_filter: str = ".*"
) -> dict[str, DataFrame]:
    """Path-based measurement discovery (S5 over a directory source):
    every ``{name}.parquet`` under ``src_root`` whose name matches the
    regex — the same regex overlay the reference applies in GetSchema
    (hacluster.go:140-143). Returns name → typed DataFrame
    (ns-timestamp handling via load_table)."""
    rx = re.compile(meas_filter)
    out: dict[str, DataFrame] = {}
    for entry in sorted(os.listdir(src_root)):
        if not entry.endswith(".parquet"):
            continue
        name = entry[: -len(".parquet")]
        if rx.match(name):
            out[name] = load_table(spark, src_root, name)
    return out


def replicate_data(
    spark: SparkSession,
    catalog: SparkCatalog,
    schema: list[InfluxSchDb],
    dst_root: str,
    window: Callable[[RetPol], tuple[datetime, datetime]],
    chunk="5m",
    **sync_kwargs,
) -> list[SyncReport]:
    """C3 ``ReplicateData`` / C4 ``ReplicateDataFull``
    (hacluster.go:213-256): for each DB × RP in the schema, chunk-sync
    every measurement of that RP over ``window(rp)`` into
    ``{dst_root}/{target_db}/{rp}/``. C3 passes a fixed
    ``lambda rp: (start, end)``; C4 derives it from the RP's duration
    with ``lambda rp: copy_window(rp.duration, maxret, now)`` (infinite
    RPs clamped to ``maxret``, X4 GetFirstLastTime, client.go:24-38).
    Each (db, rp) gets its own SyncReport (C5 accounting), recovery
    per C2."""
    reports: list[SyncReport] = []
    for db in schema:
        for rp in db.rps.values():
            ms = {
                name: catalog.measurement_df(db.name, name, rp.name)
                for name in rp.measurements
            }
            if not ms:
                continue
            start, end = window(rp)
            dst = os.path.join(dst_root, db.target_name, rp.name)
            rep = sync_dbrp(spark, ms, dst, start, end, chunk=chunk, **sync_kwargs)
            rep.src = f"{db.name}.{rp.name}"
            reports.append(rep)
    return reports


def action_copy(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    start: datetime,
    end: datetime,
    meas_filter: str = ".*",
    chunk="5m",
    num_workers: int = 4,
) -> SyncReport:
    """`-action copy` (agent.go:210-240) over directory warehouses:
    discover measurements by regex, chunk-sync the window into one
    TxTable per measurement (operators/copy.py)."""
    ms = discover_measurements(spark, src_root, meas_filter)
    return sync_dbrp(
        spark, ms, dst_root, start, end, chunk=chunk, num_workers=num_workers,
        src_label=src_root,
    )


def action_replicaschema(
    catalog: SparkCatalog,
    db_filter: str = ".*",
    rp_filter: str = ".*",
    meas_filter: str = ".*",
    new_db: str = "",
    new_rp: str = "",
    location_root: str | None = None,
) -> list[InfluxSchDb]:
    """`-action replicaschema` (agent.go:147-174): GetSchema with
    regex filters + rename overlay, then D4 ReplicateSchema."""
    schema = catalog.get_schema(db_filter, rp_filter, meas_filter, new_db, new_rp)
    catalog.replicate_schema(schema, location_root=location_root)
    return schema
