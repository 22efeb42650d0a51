"""Time-series operators over measurement tables.

These give the engine the query surface an InfluxDB operator actually
uses day-to-day (``GROUP BY time(5m), *``-style rollups, per-series
last, gap detection) — the analytical complement of the
reference's replication plane, expressed over the same data model
(tags are columns; "per series" == grouped by tag columns,
cf. ``group by *`` at pkg/agent/sync.go:162).

Scale notes
-----------
* ``downsample`` is a single hash aggregation: partial (map-side)
  aggregation happens before the shuffle, so the shuffle carries one
  row per (series × bucket), not per point. At 100 TB this is the
  canonical rollup shape; skewed series are handled by AQE skew split.
* ``last_per_series`` uses ``max_by`` aggregation — one shuffle, no
  window sort. The window-function formulation would
  sort every partition; ``max_by`` keeps it a hash agg.
* ``gap_detect`` genuinely needs per-series ordering → one shuffle +
  per-series sort via a window. Partitioning is by series key, which
  is the natural (and only) parallel axis.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from syncflux_spark.functions.time import time_bucket


def downsample(
    df: DataFrame,
    width_seconds: int,
    tags: Sequence[str],
    value_col: str = "value",
    time_col: str = "ts",
) -> DataFrame:
    """InfluxQL ``SELECT mean(v), min(v), max(v), count(v), sum(v)
    FROM m GROUP BY time(w), *`` equivalent: one hash-agg per
    (series, bucket)."""
    bucket = time_bucket(time_col, width_seconds).alias("bucket_ts")
    v = F.col(value_col)
    return (
        df.groupBy(bucket, *[F.col(t) for t in tags])
        .agg(
            F.count(v).alias("n_points"),
            F.min(v).alias("min_value"),
            F.max(v).alias("max_value"),
            F.sum(v).alias("sum_value"),
            (F.sum(v) / F.count(v)).alias("mean_value"),
        )
    )


def last_per_series(
    df: DataFrame,
    tags: Sequence[str],
    value_col: str = "value",
    time_col: str = "ts",
) -> DataFrame:
    """Influx ``last()``: latest point per series. ``max_by`` with the
    timestamp as ordering key — a hash aggregation, not a window sort.
    Ties on the timestamp break by largest value (max_by on a struct),
    making the result deterministic and oracle-reproducible."""
    pair = F.struct(F.col(time_col), F.col(value_col))
    return df.groupBy(*tags).agg(
        F.max(time_col).alias("last_ts"),
        F.max_by(F.col(value_col), pair).alias("last_value"),
    )


def gap_detect(
    df: DataFrame,
    tags: Sequence[str],
    threshold_seconds: int,
    time_col: str = "ts",
) -> DataFrame:
    """Find intra-series gaps larger than ``threshold_seconds`` — the
    data-plane view of the reference's downtime-gap detection
    (pkg/agent/hacluster.go:305-342 derives the missed window from
    monitor timestamps; here gaps are derived from the data itself).
    Returns (tags…, gap_start, gap_end, gap_seconds)."""
    w = Window.partitionBy(*tags).orderBy(time_col)
    nxt = F.lead(time_col).over(w)
    gap = F.unix_timestamp(nxt) - F.unix_timestamp(F.col(time_col))
    return (
        df.select(
            *tags,
            F.col(time_col).alias("gap_start"),
            nxt.alias("gap_end"),
            gap.alias("gap_seconds"),
        )
        .where(F.col("gap_seconds") > threshold_seconds)
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    time_col: str = "ts",
    right_value_cols: Sequence[str] = ("value",),
    suffix: str = "_asof",
) -> DataFrame:
    """As-of (backward) join: for every left row, the latest right row
    with ``right.time <= left.time`` on the same key — the canonical
    time-series enrichment Spark lacks as a built-in (DuckDB: ``ASOF
    JOIN``; Pandas: ``merge_asof``).

    Implemented as union + running ``last(..., ignorenulls)`` window
    rather than a range join: one shuffle on the key, one per-key sort,
    and — crucially at 100 TB — no per-left-row range probe and no
    candidate blow-up on wide time gaps. Left-join semantics:
    unmatched left rows keep nulls.

    The right side must be unique per (key, time) for determinism —
    pre-aggregate it if needed (equal-time right rows otherwise make
    "the" latest row ambiguous in any engine).
    """
    keys = list(key_cols)
    rv = F.struct(
        F.col(time_col).alias(f"{time_col}{suffix}"),
        *[F.col(c).alias(f"{c}{suffix}") for c in right_value_cols],
    )
    r2 = right.select(
        *keys, F.col(time_col), rv.alias("_rv"), F.lit(0).alias("_side")
    )
    left_payload = [c for c in left.columns if c not in keys and c != time_col]
    rv_type = r2.schema["_rv"].dataType
    l2 = left.select(
        *keys,
        F.col(time_col),
        F.lit(None).cast(rv_type).alias("_rv"),
        F.lit(1).alias("_side"),
        *left_payload,
    )
    # align schemas: right side carries nulls for the left payload
    r2 = r2.select(
        *keys, time_col, "_rv", "_side",
        *[F.lit(None).cast(l2.schema[c].dataType).alias(c) for c in left_payload],
    )
    u = l2.unionByName(r2)
    # right rows sort before left rows at equal timestamps (_side 0 < 1)
    # so a same-instant right row is visible to the left row (<=, not <)
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(time_col), F.col("_side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.withColumn("_m", F.last("_rv", ignorenulls=True).over(w))
    out_cols = (
        keys
        + [time_col]
        + left_payload
        + [F.col(f"_m.{f.name}").alias(f.name) for f in rv_type.fields]
    )
    return filled.where(F.col("_side") == 1).select(*out_cols)


def sessionize(
    df: DataFrame,
    key_cols: Sequence[str],
    gap_seconds: int,
    time_col: str = "ts",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap to
    the previous event on the same key exceeds ``gap_seconds``.
    Returns the input plus a per-key ``session_id`` (1-based, in time
    order).

    One shuffle on the key + one per-key sort shared by the lag and
    the running sum (same window frame ⇒ single Window exec).
    ``order_tiebreak`` (e.g. an event id) makes equal-timestamp
    ordering deterministic.
    """
    keys = list(key_cols)
    order = [F.col(time_col)] + (
        [F.col(order_tiebreak)] if order_tiebreak else []
    )
    w = Window.partitionBy(*keys).orderBy(*order)
    us = F.unix_micros(F.col(time_col))
    prev = F.lag(us).over(w)
    new_sess = (
        prev.isNull() | ((us - prev) > gap_seconds * 1_000_000)
    ).cast("long")
    run = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn("session_id", F.sum(new_sess).over(run))
