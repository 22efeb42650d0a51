"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every knob here is chosen for a
large multi-executor cluster: AQE handles runtime re-planning and skew,
shuffle partitions are sized for the local harness (override
``spark.sql.shuffle.partitions`` on a real cluster), Arrow makes any
unavoidable pandas-UDF exchange cheap, and the session timezone is
pinned to UTC so timestamp semantics match the ns-epoch data model of
the reference (pkg/agent/client.go:312-327 converts ns-epoch → UTC).

PySpark's DataFrame debugging (``spark.python.sql.dataFrameDebugging.
enabled``) is off. With it on, every DataFrame, Column and
``functions`` call records its Python call site in the JVM, which
costs several py4j round trips per call: compiling a ``GROUP BY
time()`` aggregate made ~470 round trips with it on and ~140 with it
off. The cost of turning it off: a Spark error no longer names the
Python line that built the failing expression in its query context.
To get that back while debugging, build the first session of the
process with
``get_spark(conf={"spark.python.sql.dataFrameDebugging.enabled":
"true"})`` — PySpark reads the setting once per process, from the
first session that a DataFrame call sees.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "syncflux-spark",
    master: str | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Config rationale (all equally valid on a 1000-executor cluster):
    - AQE on: runtime coalescing of shuffle partitions + skew-join
      splitting replaces hand-tuned partition counts at 100 TB.
    - ``autoBroadcastJoinThreshold`` left at default (10 MB) but joins
      against small dims explicitly call ``broadcast()`` so the plan is
      stable regardless of stats.
    - Arrow enabled: any pandas UDF path is Arrow-batched, never
      row-at-a-time pickling.
    - UTC session timezone: timestamps are stored/compared as UTC;
      matches DuckDB oracle behavior and InfluxDB's epoch semantics.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", DEFAULT_CPUS)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # parquet timestamps → TIMESTAMP (UTC), not TIMESTAMP_NTZ, so
        # epoch functions (unix_micros) work and semantics match DuckDB
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "10m")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # caller overrides apply LAST (e.g. the measurement harnesses
    # re-enable the UI to read stage shuffle metrics over REST; a
    # cluster deployment overrides shuffle partitions / memory).
    # Session-level settings only bind if no session exists yet —
    # getOrCreate() ignores them otherwise, same as any builder conf.
    for k, v in (conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
