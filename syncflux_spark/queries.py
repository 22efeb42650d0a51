"""Query registry: every declared operator as (Spark impl, DuckDB oracle).

This is the engine's public query surface, graded by the driver's
correctness gate (row-count + schema + order-insensitive value hash at
sf0.01). Design rules that make cross-engine hashing possible:

* **Integer-exact aggregation.** Sums of 2-decimal money columns go
  through a cents-integer transform (``round(x*100)::bigint``) so the
  aggregate is exact integer arithmetic — immune to float summation
  order — and only the final division back to a double happens in
  float (single IEEE op on identical operands → bit-identical).
  Overflow headroom: cents×cents×cents products are ≲1e11/row, so
  int64 holds sums up to ~1e7 rows/group; at larger scale switch the
  accumulator to decimal(38,0).
* **Timestamps leave as epoch µs longs** (``unix_micros`` /
  ``epoch_us``) — no timestamp-precision or timezone ambiguity.
* **Hashes are md5 hex strings** — identical in every engine;
  lexicographic min == numeric min for fixed-width hex.
* **Every computed integer is cast to long/BIGINT** on both sides so
  schemas agree (Spark ``size()`` is int32, DuckDB ``len()`` is int64).
* **Dot products accumulate in array order in doubles** on both
  sides → bit-identical cosines (verified: DuckDB list_dot_product ==
  in-order fold).

Reference parity: the ts_* queries cover the InfluxQL surface the
reference emits (SURVEY §2.1-§2.6); the q* queries cover the
relational algebra of the extended engine; dedup/text/knn queries are
the LLM-pipeline surface (BASELINE.json north star).
"""

from __future__ import annotations

import math
import os as _os
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from syncflux_spark.functions.text import (
    LANG_MARKERS,
    quality_metrics,
    token_count,
    word_fingerprint,
    words,
)
from syncflux_spark.functions.vectors import dot, norm
from syncflux_spark.operators import dedup as dd
from syncflux_spark.operators import sampling as smp
from syncflux_spark.sources.parquet import load_table


@dataclass
class Query:
    spark: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # None → non-SQL-expressible (weaker rows-only check)


REGISTRY: dict[str, Query] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = Query(spark=fn, sql=sql)
        return fn

    return deco


# helper: integer-cents transforms -----------------------------------------


def cents(col: str) -> F.Column:
    return F.round(F.col(col) * 100).cast("long")


def _sql_cents(col: str) -> str:
    return f"CAST(ROUND({col} * 100) AS BIGINT)"


def micros_amt(col: str) -> F.Column:
    return F.round(F.col(col) * 1_000_000).cast("long")


def _sql_micros(col: str) -> str:
    return f"CAST(ROUND({col} * 1000000) AS BIGINT)"


EV_WIN = ("2024-01-08 00:00:00", "2024-01-15 00:00:00")


# ===========================================================================
# Time-series surface (reference parity: SURVEY §2.1-§2.6 over `events`)
# ===========================================================================


@register(
    "ts_scan_range",
    f"""
    SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, user_id,
           event_type, value, props
    FROM events
    WHERE ts >= TIMESTAMP '{EV_WIN[0]}' AND ts < TIMESTAMP '{EV_WIN[1]}'
    """,
)
def ts_scan_range(spark, sf):
    """S1/S2 typed scan (pkg/agent/client.go:329-485, sync.go:162):
    half-open time-range read of one measurement, full projection.
    The range predicate rides the canonical ts_ns long so it reaches
    the parquet reader as a row-group-pruning range filter."""
    from syncflux_spark.sources.parquet import scan_time_range

    ev = load_table(spark, sf, "events")
    return (
        scan_time_range(ev, EV_WIN[0], EV_WIN[1])
        .select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
    )


@register(
    "ts_series_discovery",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def ts_series_discovery(spark, sf):
    """`show series` analog: distinct tag sets (SURVEY §1.1 Series).
    Map-side partial distinct collapses before the shuffle."""
    return load_table(spark, sf, "events").select("user_id", "event_type").distinct()


@register(
    "ts_series_stats",
    """
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(epoch_us(MIN(ts)) AS BIGINT) AS first_us,
           CAST(epoch_us(MAX(ts)) AS BIGINT) AS last_us
    FROM events GROUP BY user_id, event_type
    """,
)
def ts_series_stats(spark, sf):
    """Per-series cardinality + time range (GetFirstLastTime analog,
    pkg/agent/client.go:24-38, applied per series)."""
    ev = load_table(spark, sf, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.unix_micros(F.min("ts")).alias("first_us"),
        F.unix_micros(F.max("ts")).alias("last_us"),
    )


@register(
    "ts_measurement_stats",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(COUNT(DISTINCT (user_id, event_type)) AS BIGINT) AS n_series,
           CAST(epoch_us(MIN(ts)) AS BIGINT) AS first_us,
           CAST(epoch_us(MAX(ts)) AS BIGINT) AS last_us
    FROM events
    """,
)
def ts_measurement_stats(spark, sf):
    """Whole-measurement stats: the planning inputs for a full copy
    (window + cardinality, C4 ReplicateDataFull hacluster.go:236-256)."""
    ev = load_table(spark, sf, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.count_distinct("user_id", "event_type").alias("n_series"),
        F.unix_micros(F.min("ts")).alias("first_us"),
        F.unix_micros(F.max("ts")).alias("last_us"),
    )


@register(
    "ts_chunk_counts",
    """
    SELECT CAST(e_s - e_s % 86400 AS BIGINT) AS chunk_start_s,
           CAST(COUNT(*) AS BIGINT) AS n_points
    FROM (SELECT epoch_us(ts) // 1000000 AS e_s FROM events)
    GROUP BY 1
    """,
)
def ts_chunk_counts(spark, sf):
    """Points per copy chunk (1-day chunks): the data-plane view of C1
    chunk planning + C5 ChunkReport accounting (sync.go:118-196)."""
    ev = load_table(spark, sf, "events")
    e_s = F.unix_timestamp("ts")
    return ev.groupBy(
        (e_s - e_s % F.lit(86400)).cast("long").alias("chunk_start_s")
    ).agg(F.count(F.lit(1)).alias("n_points"))


@register(
    "ts_downsample_1h",
    f"""
    SELECT event_type,
           CAST(e_s - e_s % 3600 AS BIGINT) AS bucket_s,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           CAST(SUM(v_micro) AS BIGINT) / 1000000.0 AS sum_value,
           (CAST(SUM(v_micro) AS BIGINT) / 1000000.0) / COUNT(*) AS mean_value
    FROM (SELECT event_type, value, epoch_us(ts) // 1000000 AS e_s,
                 {_sql_micros('value')} AS v_micro
          FROM events)
    GROUP BY event_type, bucket_s
    """,
)
def ts_downsample_1h(spark, sf):
    """InfluxQL `GROUP BY time(1h), *` rollup — the continuous-query /
    downsample workload. One partial-agg shuffle; sums ride integer
    micro-units for cross-engine exactness."""
    ev = load_table(spark, sf, "events")
    e_s = F.unix_timestamp("ts")
    vm = micros_amt("value")
    return ev.groupBy(
        "event_type",
        (e_s - e_s % F.lit(3600)).cast("long").alias("bucket_s"),
    ).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        (F.sum(vm) / F.lit(1_000_000.0)).alias("sum_value"),
        ((F.sum(vm) / F.lit(1_000_000.0)) / F.count(F.lit(1))).alias("mean_value"),
    )


@register(
    "ts_last_per_series",
    """
    SELECT user_id, event_type,
           CAST(epoch_us(ts) AS BIGINT) AS last_ts_us, value AS last_value
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts DESC, value DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def ts_last_per_series(spark, sf):
    """Influx `last()` per series — hash-agg via max_by (no window
    sort; the oracle uses the window formulation, same result)."""
    ev = load_table(spark, sf, "events")
    pair = F.struct(F.col("ts"), F.col("value"))
    return ev.groupBy("user_id", "event_type").agg(
        F.unix_micros(F.max("ts")).alias("last_ts_us"),
        F.max_by(F.col("value"), pair).alias("last_value"),
    )


@register(
    "ts_first_per_series",
    """
    SELECT user_id, event_type,
           CAST(epoch_us(ts) AS BIGINT) AS first_ts_us, value AS first_value
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts ASC, value ASC) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def ts_first_per_series(spark, sf):
    ev = load_table(spark, sf, "events")
    pair = F.struct(F.col("ts"), F.col("value"))
    return ev.groupBy("user_id", "event_type").agg(
        F.unix_micros(F.min("ts")).alias("first_ts_us"),
        F.min_by(F.col("value"), pair).alias("first_value"),
    )


@register(
    "ts_gap_detect",
    """
    SELECT event_type,
           CAST(epoch_us(gap_start) AS BIGINT) AS gap_start_us,
           CAST(epoch_us(gap_end) AS BIGINT) AS gap_end_us,
           CAST(epoch_us(gap_end) // 1000000 - epoch_us(gap_start) // 1000000
                AS BIGINT) AS gap_seconds
    FROM (SELECT event_type, ts AS gap_start,
                 lead(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id)
                   AS gap_end
          FROM events)
    WHERE epoch_us(gap_end) // 1000000 - epoch_us(gap_start) // 1000000 > 1800
    """,
)
def ts_gap_detect(spark, sf):
    """Downtime-gap detection from the data itself — the analytical
    twin of the monitor's missed-window math
    (pkg/agent/hacluster.go:305-342). Needs per-series ordering → one
    shuffle on the series key + window sort."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    gap_s = (F.unix_timestamp(nxt) - F.unix_timestamp(F.col("ts"))).cast("long")
    return (
        ev.select(
            "event_type",
            F.unix_micros(F.col("ts")).alias("gap_start_us"),
            F.unix_micros(nxt).alias("gap_end_us"),
            gap_s.alias("gap_seconds"),
        )
        .where(F.col("gap_seconds") > 1800)
    )


@register(
    "ts_field_coercion",
    """
    SELECT event_id,
           CAST(FLOOR(value) AS BIGINT) AS value_floor,
           value > 250 AS is_high,
           CAST(LENGTH(props) AS BIGINT) AS props_len,
           CAST(user_id AS VARCHAR) AS user_tag
    FROM events
    """,
)
def ts_field_coercion(spark, sf):
    """X5 typed coercion (pkg/agent/client.go:430-466): per-field cast
    to the declared type — floor (not cast) for float→int so both
    engines truncate identically."""
    ev = load_table(spark, sf, "events")
    return ev.select(
        "event_id",
        F.floor("value").cast("long").alias("value_floor"),
        (F.col("value") > 250).alias("is_high"),
        F.length("props").cast("long").alias("props_len"),
        F.col("user_id").cast("string").alias("user_tag"),
    )


@register(
    "ts_copy_roundtrip",
    f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({_sql_micros('value')}) AS BIGINT) AS sum_value_micro
    FROM events
    WHERE ts >= TIMESTAMP '{EV_WIN[0]}' AND ts < TIMESTAMP '{EV_WIN[1]}'
    GROUP BY event_type
    """,
)
def ts_copy_roundtrip(spark, sf):
    """End-to-end copy operator (C1/K1, SURVEY §7.4 minimum slice):
    actually copies the window to a scratch sink, reads it back, and
    aggregates — proving the copied bytes, not the source, match the
    oracle. The window lands as a window-tagged TxTable commit
    (snapshot isolation + OCC, per-window ts_ns stats in the
    checkpointed commit log, txtable.py)."""
    from syncflux_spark.operators.copy import copy_range, read_copied

    ev = load_table(spark, sf, "events")
    dst = tempfile.mkdtemp(prefix="sf_copyq_")
    copy_range(ev, f"{dst}/events", EV_WIN[0], EV_WIN[1])
    back = read_copied(spark, dst, "events")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(micros_amt("value")).alias("sum_value_micro"),
    )


@register(
    "ts_copy_roundtrip_tx",
    f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({_sql_micros('value')}) AS BIGINT) AS sum_value_micro
    FROM events
    WHERE ts >= TIMESTAMP '{EV_WIN[0]}' AND ts < TIMESTAMP '{EV_WIN[1]}'
    GROUP BY event_type
    """,
)
def ts_copy_roundtrip_tx(spark, sf):
    """ts_copy_roundtrip with the window REPLAYED once before reading
    back: the second copy_range commit replaces the window-tagged
    groups of the first, so the oracle match proves replace_tagged
    idempotency end-to-end — a duplicated window would double
    n_rows."""
    from syncflux_spark.operators.copy import copy_range, read_copied

    ev = load_table(spark, sf, "events")
    dst = tempfile.mkdtemp(prefix="sf_copytx_")
    copy_range(ev, f"{dst}/events", EV_WIN[0], EV_WIN[1])
    # deliberate replay — replaced, not duplicated
    copy_range(ev, f"{dst}/events", EV_WIN[0], EV_WIN[1])
    back = read_copied(spark, dst, "events")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(micros_amt("value")).alias("sum_value_micro"),
    )


# ===========================================================================
# Relational surface (TPC-H-shaped; extended-engine coverage)
# ===========================================================================


@register(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(price_c) AS BIGINT) / 100.0 AS sum_base_price,
           CAST(SUM(price_c * (100 - disc_c)) AS BIGINT) / 10000.0 AS sum_disc_price,
           CAST(SUM(price_c * (100 - disc_c) * (100 + tax_c)) AS BIGINT) / 1000000.0 AS sum_charge,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
           (CAST(SUM(price_c) AS BIGINT) / 100.0) / COUNT(*) AS avg_price,
           (CAST(SUM(disc_c) AS BIGINT) / 100.0) / COUNT(*) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM (SELECT l_returnflag, l_linestatus, l_quantity,
                 {_sql_cents('l_extendedprice')} AS price_c,
                 {_sql_cents('l_discount')} AS disc_c,
                 {_sql_cents('l_tax')} AS tax_c
          FROM lineitem
          WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00')
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf):
    """TPC-H Q1: the canonical scan→filter→hash-agg. Filter pushes to
    parquet; partial aggregation means the shuffle carries 4 rows, not
    6M. Money math in integer cents for cross-engine exactness."""
    li = load_table(spark, sf, "lineitem")
    price_c = cents("l_extendedprice")
    disc_c = cents("l_discount")
    tax_c = cents("l_tax")
    qty = F.col("l_quantity").cast("long")
    cnt = F.count(F.lit(1))
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            (F.sum(price_c) / F.lit(100.0)).alias("sum_base_price"),
            (F.sum(price_c * (F.lit(100) - disc_c)) / F.lit(10000.0)).alias(
                "sum_disc_price"
            ),
            (
                F.sum(price_c * (F.lit(100) - disc_c) * (F.lit(100) + tax_c))
                / F.lit(1000000.0)
            ).alias("sum_charge"),
            (F.sum(qty) / cnt.cast("double")).alias("avg_qty"),
            ((F.sum(price_c) / F.lit(100.0)) / cnt).alias("avg_price"),
            ((F.sum(disc_c) / F.lit(100.0)) / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           CAST(SUM(price_c * (100 - disc_c)) AS BIGINT) / 10000.0 AS revenue,
           CAST(epoch_us(o_orderdate) AS BIGINT) AS o_orderdate_us,
           o_orderpriority
    FROM (SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
                 {_sql_cents('l.l_extendedprice')} AS price_c,
                 {_sql_cents('l.l_discount')} AS disc_c
          FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
          JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          WHERE c.c_mktsegment = 'BUILDING'
            AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            AND l.l_shipdate > TIMESTAMP '1997-01-01 00:00:00')
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf):
    """TPC-H Q3: selective dim filter → join → agg → top-k. The
    customer side is broadcast (small after the segment filter); the
    orders⋈lineitem join shuffles on orderkey. Deterministic top-10
    via (revenue desc, orderkey) ordering."""
    c = load_table(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf, "orders").where(
        F.col("o_orderdate") < "1997-01-01 00:00:00"
    )
    li = load_table(spark, sf, "lineitem").where(
        F.col("l_shipdate") > "1997-01-01 00:00:00"
    )
    price_c = cents("l_extendedprice")
    disc_c = cents("l_discount")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(price_c * (F.lit(100) - disc_c)) / F.lit(10000.0)).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.unix_micros("o_orderdate").alias("o_orderdate_us"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark, sf):
    """TPC-H Q4: EXISTS decorrelates to a left-semi join — shuffles
    only the join keys, never materializes the subquery."""
    o = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01 00:00:00")
        & (F.col("o_orderdate") < "1997-01-01 00:00:00")
    )
    li = load_table(spark, sf, "lineitem")
    sat = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return sat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "q5_local_supplier_volume",
    f"""
    SELECT n.n_name,
           CAST(SUM(pc.price_c * (100 - pc.disc_c)) AS BIGINT) / 10000.0 AS revenue
    FROM (SELECT l.l_orderkey, l.l_suppkey,
                 {_sql_cents('l.l_extendedprice')} AS price_c,
                 {_sql_cents('l.l_discount')} AS disc_c
          FROM lineitem l) pc
    JOIN orders o ON pc.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON pc.l_suppkey = s.s_suppkey
         AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark, sf):
    """TPC-H Q5: 6-way join. region/nation/supplier/customer broadcast
    (small dims); the only big shuffle is orders⋈lineitem on
    orderkey. Join order left to Catalyst + AQE."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01 00:00:00")
        & (F.col("o_orderdate") < "1998-01-01 00:00:00")
    )
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").where(F.col("r_name") == "ASIA")
    price_c = cents("l_extendedprice")
    disc_c = cents("l_discount")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg((F.sum(price_c * (F.lit(100) - disc_c)) / F.lit(10000.0)).alias("revenue"))
    )


@register(
    "q6_revenue_forecast",
    f"""
    SELECT CAST(SUM(price_c * disc_c) AS BIGINT) / 10000.0 AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM (SELECT {_sql_cents('l_extendedprice')} AS price_c,
                 {_sql_cents('l_discount')} AS disc_c
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
            AND l_discount >= 0.05 AND l_discount <= 0.07
            AND l_quantity < 24)
    """,
)
def q6_revenue_forecast(spark, sf):
    """TPC-H Q6: pure filter→agg — the pushdown showcase. All four
    predicates reach the parquet reader (PushedFilters); zero shuffle
    (single global agg of a partial-agg per partition)."""
    li = load_table(spark, sf, "lineitem")
    price_c = cents("l_extendedprice")
    disc_c = cents("l_discount")
    return (
        li.where(
            (F.col("l_shipdate") >= "1996-01-01 00:00:00")
            & (F.col("l_shipdate") < "1997-01-01 00:00:00")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(price_c * disc_c) / F.lit(10000.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q14_promo_share",
    f"""
    SELECT 100.0 * CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                             THEN pc.price_c * (100 - pc.disc_c)
                             ELSE 0 END) AS BIGINT)
           / CAST(SUM(pc.price_c * (100 - pc.disc_c)) AS BIGINT) AS promo_share,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM (SELECT l_partkey,
                 {_sql_cents('l_extendedprice')} AS price_c,
                 {_sql_cents('l_discount')} AS disc_c
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00') pc
    JOIN part p ON pc.l_partkey = p.p_partkey
    """,
)
def q14_promo_share(spark, sf):
    """TPC-H Q14: conditional aggregation over a broadcast join with
    the part dim. The share is a ratio of exact integer sums → one
    deterministic division."""
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01 00:00:00")
        & (F.col("l_shipdate") < "1997-07-01 00:00:00")
    )
    p = load_table(spark, sf, "part")
    price_c = cents("l_extendedprice")
    disc_c = cents("l_discount")
    disc_price = price_c * (F.lit(100) - disc_c)
    promo = F.when(F.col("p_type").like("PROMO%"), disc_price).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0) * F.sum(promo) / F.sum(disc_price)
            ).alias("promo_share"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "top_customers_by_revenue",
    f"""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM({_sql_cents('o.o_totalprice')}) AS BIGINT) / 100.0 AS total_spend,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY total_spend DESC, c_custkey
    LIMIT 10
    """,
)
def top_customers_by_revenue(spark, sf):
    """Top-k over a join-agg: broadcast customer dim, shuffle only the
    grouped orders. Deterministic top-10 by (spend desc, custkey)."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            (F.sum(cents("o_totalprice")) / F.lit(100.0)).alias("total_spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.desc("total_spend"), F.asc("c_custkey"))
        .limit(10)
    )


@register(
    "orders_per_month",
    f"""
    SELECT CAST(epoch_us(date_trunc('month', o_orderdate)) AS BIGINT) AS month_us,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({_sql_cents('o_totalprice')}) AS BIGINT) / 100.0 AS month_revenue
    FROM orders GROUP BY 1
    """,
)
def orders_per_month(spark, sf):
    """Calendar rollup (date_trunc month) — partial-agg friendly."""
    o = load_table(spark, sf, "orders")
    return o.groupBy(
        F.unix_micros(F.date_trunc("month", "o_orderdate")).alias("month_us")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(cents("o_totalprice")) / F.lit(100.0)).alias("month_revenue"),
    )


@register(
    "cumulative_spend_per_customer",
    f"""
    SELECT o_custkey, o_orderkey,
           CAST(epoch_us(o_orderdate) AS BIGINT) AS o_orderdate_us,
           CAST(SUM({_sql_cents('o_totalprice')}) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) / 100.0 AS cum_spend
    FROM orders
    """,
)
def cumulative_spend_per_customer(spark, sf):
    """Running total per customer — window aggregation with an
    explicit ROWS frame and total ordering (orderdate, orderkey) so
    the cumulative integer sums are engine-independent."""
    o = load_table(spark, sf, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.unix_micros("o_orderdate").alias("o_orderdate_us"),
        (F.sum(cents("o_totalprice")).over(w) / F.lit(100.0)).alias("cum_spend"),
    )


# ===========================================================================
# Dedup / text-analysis surface (documents)
# ===========================================================================


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS digest, CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_dups
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark, sf):
    """Exact dedup: hash-groupBy on content digest (map-side partial
    agg → shuffle carries one row per distinct doc)."""
    return dd.exact_dedup_groups(load_table(spark, sf, "documents"))


@register(
    "dedup_normalized",
    r"""
    SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS digest,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_dups
    FROM documents
    GROUP BY 1
    """,
)
def dedup_normalized(spark, sf):
    """Normalized exact dedup (case-fold + whitespace collapse)."""
    return dd.normalized_dedup_groups(load_table(spark, sf, "documents"))


def _sql_shingles(k: int = 5) -> str:
    """Shared CTE body: (doc_id, s) = all k-char shingles per doc."""
    return (
        f"SELECT doc_id, substr(text, CAST(i AS INTEGER), {k}) AS s "
        f"FROM documents, unnest(range(1, greatest(length(text)-{k - 1}, 0)+1)) AS t(i)"
    )


#: One digest per shingle, sliced into 8×4-hex-char lanes —
#: mirrors operators/dedup.py::minhash_signatures bit-for-bit.
_HS_SQL = "SELECT doc_id, md5(s) AS h FROM (SELECT DISTINCT doc_id, s FROM sh)"

_MH_SELECT = ", ".join(
    f"min(substr(h, {1 + dd.LANE_WIDTH * i}, {dd.LANE_WIDTH})) AS mh{i}"
    for i in range(dd.N_MINHASH)
)

_BANDS_SQL = " UNION ALL ".join(
    "SELECT doc_id, {b} AS band_id, {key} AS band_key FROM sig".format(
        b=b,
        key=" || '|' || ".join(
            f"mh{b * dd.BAND_SIZE + j}" for j in range(dd.BAND_SIZE)
        ),
    )
    for b in range(dd.N_MINHASH // dd.BAND_SIZE)
)


def _sql_capped_cand(cap: int | tuple[int, int]) -> str:
    """Banded candidate generation WITH the hot-bucket star-collapse
    dial, as oracle SQL over a ``bands`` CTE: buckets of c <= cap emit
    the clique, buckets of c > cap emit the star around the bucket
    minimum — O(c) instead of O(c²) for the hot tail
    (operators/dedup.py::_bands_to_pairs).

    ``cap`` is either an int literal (the pinned dial) or a
    ``(floor, ceiling)`` tuple — the AUTO position (the r11 default):
    cap = clamp(discrete-p99 bucket size, floor, ceiling), the
    verbatim SQL mirror of operators/dedup.py::resolve_auto_cap —
    p99 = the smallest bucket size whose cumulative bucket frequency
    reaches ceil(0.99 × n_buckets), resolved from the count-of-counts
    histogram exactly as the Spark side does, so the derivation
    arithmetic itself is value-hash-gated by the ``*_auto``
    registered queries."""
    if isinstance(cap, tuple):
        floor, ceiling = cap
        extra = f""",
         chist AS (SELECT c AS bc, COUNT(*) AS f FROM stats GROUP BY c),
         capv AS (SELECT LEAST({ceiling}, GREATEST({floor}, COALESCE(
                    (SELECT MIN(bc)
                     FROM (SELECT bc, SUM(f) OVER (ORDER BY bc) AS cf
                           FROM chist)
                     WHERE cf >= CEIL({dd.AUTO_CAP_P}
                                      * (SELECT SUM(f) FROM chist))),
                    {floor}))) AS cap)"""
        cap_expr = "(SELECT cap FROM capv)"
    else:
        extra, cap_expr = "", str(cap)
    return f"""stats AS (SELECT band_id, band_key, COUNT(*) AS c,
                          MIN(doc_id) AS m
                   FROM bands GROUP BY band_id, band_key){extra},
         hot AS (SELECT band_id, band_key, c, m FROM stats
                 WHERE c > {cap_expr}),
         cold AS (SELECT b.* FROM bands b
                  ANTI JOIN hot h
                    ON h.band_id = b.band_id AND h.band_key = b.band_key),
         cand AS (SELECT DISTINCT id_a, id_b FROM (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM cold a JOIN cold b
             ON a.band_id = b.band_id AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id
           UNION ALL
           SELECT h.m, b.doc_id FROM bands b
           JOIN hot h ON h.band_id = b.band_id AND h.band_key = b.band_key
           WHERE b.doc_id > h.m) t(id_a, id_b))"""


#: the production AUTO dial position: every banded-candidate oracle
#: below carries this chain so parity holds at ANY scale the gate
#: runs, binding or not (at the driver/bench scales the resolved cap
#: is the 64 floor and no band bucket exceeds 20, so cand == the
#: plain uncapped self-join bit-for-bit — measured censuses in
#: SCALE.md r11)
_AUTO_CAND_SQL = _sql_capped_cand((dd.AUTO_CAP_FLOOR, dd.AUTO_CAP_CEILING))


@register(
    "minhash_signatures",
    f"""
    WITH sh AS ({_sql_shingles()}),
         hs AS ({_HS_SQL})
    SELECT doc_id, {_MH_SELECT} FROM hs GROUP BY doc_id
    """,
)
def minhash_signatures(spark, sf):
    """MinHash signatures (8 seeded md5-string min-hashes over 5-char
    shingles) — the narrow, shuffle-free stage of LSH dedup."""
    return dd.minhash_signatures(load_table(spark, sf, "documents"))


@register(
    "lsh_candidate_pairs",
    f"""
    WITH sh AS ({_sql_shingles()}),
         hs AS ({_HS_SQL}),
         sig AS (SELECT doc_id, {_MH_SELECT} FROM hs GROUP BY doc_id),
         bands AS ({_BANDS_SQL}),
         {_AUTO_CAND_SQL}
    SELECT id_a, id_b FROM cand
    """,
)
def lsh_candidate_pairs(spark, sf):
    """LSH banding self-join: candidate near-dup pairs without the
    O(n²) cross product — the join shuffles on high-entropy band
    keys. Runs the r11 DEFAULT dial (bucket_cap='auto'): the oracle
    carries the same census-derived cap chain, so parity holds
    whether or not the star-collapse engages (at gate scale it does
    not — max band bucket 4 ≪ the 64 floor — and the operator
    returns the exact uncapped plan)."""
    return dd.lsh_candidate_pairs(load_table(spark, sf, "documents"))


@register(
    "doc_novelty",
    f"""
    WITH sh AS ({_sql_shingles()}),
         dsh AS (SELECT DISTINCT doc_id, s FROM sh),
         dfreq AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df
                   FROM dsh GROUP BY s)
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           CAST(SUM(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(COUNT(*) AS BIGINT) AS novelty
    FROM dsh d JOIN dfreq f ON f.s = d.s
    GROUP BY d.doc_id
    """,
)
def doc_novelty(spark, sf):
    """Novelty score: the fraction of a document's distinct
    5-shingles that appear NOWHERE else in the corpus — the inverse
    of boilerplate saturation, and a cheap data-mixing signal (a
    corpus whose mean novelty collapses is feeding the model the same
    n-grams again). Shape: one explode of per-doc distinct shingles,
    a map-side-combined document-frequency aggregate, a shuffle join
    back on the shingle key, and a per-doc aggregate — no self-join,
    no pairs; cost is linear in corpus shingle volume. The df side at
    100 TB is the same incremental index incremental_dedup reads.
    Integer counts ride to one final division."""
    docs = load_table(spark, sf, "documents")
    # 64-bit shingle fingerprints before the shuffle (the
    # jaccard_verify trick): the window key is a long, not a 5-char
    # string; df counts are collision-exact to ~m²/2⁶⁵ per doc
    ex = dd.shingle_sets(docs).select(
        "doc_id", F.explode("_sh").alias("_raw")
    ).select("doc_id", F.xxhash64("_raw").alias("s"))
    # document frequency as a WINDOW over the shingle key, not a
    # groupBy + join-back (same rewrite as duplicate_spans): one
    # shuffle on s attaches df in the same pass. Gain here is modest
    # (~10% — Spark's ReusedExchange already shared the old form's
    # two s-shuffles; the md5+explode volume dominates), but the plan
    # drops an aggregate and a join outright. A corpus-saturating hot
    # shingle buffers one window partition; that spills, and
    # rows-per-shingle is bounded by n_docs since shingles are
    # per-doc distinct.
    hw = Window.partitionBy("s")
    with_df = ex.withColumn("df", F.count(F.lit(1)).over(hw).cast("long"))
    uniq = F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).cast("long")
    return (
        with_df.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            uniq.alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_unique",
            (F.col("n_unique") / F.col("n_shingles")).alias("novelty"),
        )
    )


@register(
    "dedup_graph_triangles",
    f"""
    WITH sh AS ({_sql_shingles()}),
         hs AS ({_HS_SQL}),
         sig AS (SELECT doc_id, {_MH_SELECT} FROM hs GROUP BY doc_id),
         bands AS ({_BANDS_SQL}),
         {_AUTO_CAND_SQL},
         e AS (SELECT id_a, id_b FROM cand),
         tri AS (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
                 FROM e e1
                 JOIN e e2 ON e2.id_a = e1.id_b
                 JOIN e e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT unnest([a, b, c]) AS doc_id FROM tri)
    GROUP BY doc_id
    """,
)
def dedup_graph_triangles(spark, sf):
    """Triangle participation over the LSH candidate graph
    (operators/graph.py::triangle_counts): dense duplicate cliques
    light up with high counts, bridge documents joining two clusters
    stay low — the cluster-density diagnostic for dedup QA."""
    from syncflux_spark.operators.graph import triangle_counts

    pairs = dd.lsh_candidate_pairs(load_table(spark, sf, "documents"))
    return triangle_counts(pairs)


@register(
    "dedup_graph_clustering",
    f"""
    WITH sh AS ({_sql_shingles()}),
         hs AS ({_HS_SQL}),
         sig AS (SELECT doc_id, {_MH_SELECT} FROM hs GROUP BY doc_id),
         bands AS ({_BANDS_SQL}),
         {_AUTO_CAND_SQL},
         e AS (SELECT id_a, id_b FROM cand),
         deg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree
                 FROM (SELECT id_a AS doc_id FROM e
                       UNION ALL SELECT id_b FROM e)
                 GROUP BY doc_id),
         tri AS (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
                 FROM e e1
                 JOIN e e2 ON e2.id_a = e1.id_b
                 JOIN e e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
         tc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
                FROM (SELECT unnest([a, b, c]) AS doc_id FROM tri)
                GROUP BY doc_id)
    SELECT d.doc_id, d.degree,
           CAST(COALESCE(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.degree >= 2
                THEN 2.0::DOUBLE * CAST(COALESCE(tc.n_triangles, 0) AS BIGINT)
                     / CAST(d.degree * (d.degree - 1) AS BIGINT)
                ELSE 0.0::DOUBLE END AS clustering
    FROM deg d LEFT JOIN tc ON tc.doc_id = d.doc_id
    """,
)
def dedup_graph_clustering(spark, sf):
    """Local clustering coefficient over the LSH candidate graph:
    triangles through a node over its possible wedge pairs,
    C(v) = 2·T(v) / (deg(v)·(deg(v)−1)) — ~1 inside duplicate
    cliques, →0 for bridge/chain nodes, so thresholding C(v) is the
    cheap classifier between "true duplicate cluster" and "chained
    borderline matches" before committing to a merge. Degree is one
    explode+agg over the edge list; triangles reuse
    operators/graph.py::triangle_counts; the combination is a single
    left join plus one fixed float expression (2.0·T then ÷) on
    exact integers."""
    from syncflux_spark.operators.graph import triangle_counts
    from syncflux_spark.utils import eager_persist

    pairs = eager_persist(
        dd.lsh_candidate_pairs(load_table(spark, sf, "documents"))
    )  # feeds degree, and three scans inside triangle_counts
    deg = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    tc = triangle_counts(pairs)
    d = F.col("degree")
    t = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
    return deg.join(tc, "doc_id", "left").select(
        "doc_id",
        "degree",
        t.alias("n_triangles"),
        F.when(d >= 2, F.lit(2.0) * t / (d * (d - 1)).cast("long"))
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


#: Strict banding: the SAME 8 md5 lanes in ONE band of 8 (candidate
#: probability J⁸ vs the default 1-(1-J⁴)²) — the LSH precision dial
#: named by the x1/x3/x10 slope run (SCALE.md): on vocabulary-
#: homogeneous corpora the 2×4 banding's candidate graph saturates
#: (~n², 1.25M candidates at x10) and every consumer of the graph
#: (verify joins, triangle QA) inherits that mass. One band of 8
#: targets the J≳0.9 near-exact regime; border pairs the narrow band
#: misses are the exact-verify stage's job in a composed pipeline.
_BANDS_SQL_STRICT = (
    "SELECT doc_id, 0 AS band_id, "
    + " || '|' || ".join(f"mh{j}" for j in range(dd.N_MINHASH))
    + " AS band_key FROM sig"
)


@register(
    "lsh_candidate_pairs_strict",
    f"""
    WITH sh AS ({_sql_shingles()}),
         hs AS ({_HS_SQL}),
         sig AS (SELECT doc_id, {_MH_SELECT} FROM hs GROUP BY doc_id),
         bands AS ({_BANDS_SQL_STRICT}),
         {_AUTO_CAND_SQL}
    SELECT id_a, id_b FROM cand
    """,
)
def lsh_candidate_pairs_strict(spark, sf):
    """LSH banding at the strict dial position: all 8 minhash lanes
    in one band (p = J⁸), the rows-per-band analog of the 32-bit
    simhash variant — same plan shape as lsh_candidate_pairs (one
    band-key self-join), but the band explode emits ONE row per doc
    instead of two and false-candidate mass drops ~quadratically on
    homogeneous corpora. Registered so the dial position is
    oracle-gated and slope-measured, not a design argument."""
    return dd.lsh_candidate_pairs(
        load_table(spark, sf, "documents"), band_size=dd.N_MINHASH
    )


#: the registered pinned-dial position: cap=3 BINDS on the driver
#: corpus (sf0.01 max bucket = 4), so the star path is
#: value-hash-exercised by the driver gate; the production default is
#: now bucket_cap="auto" (see _AUTO_CAND_SQL / the operator docstring).
_BUCKET_CAP = 3

#: the AUTO dial with clamps tight enough to BIND at gate scale
#: (floor 2 / ceiling 3 on a corpus whose band buckets reach 4, with
#: p99 = 1): the census → histogram → p99 → clamp derivation — the
#: whole r11 auto path, hot and cold branches both populated — rides
#: the driver's full value-hash gate through lsh_candidate_pairs_auto.
_AUTO_BIND = (2, 3)


@register(
    "lsh_candidate_pairs_capped",
    f"""
    WITH sh AS ({_sql_shingles()}),
         hs AS ({_HS_SQL}),
         sig AS (SELECT doc_id, {_MH_SELECT} FROM hs GROUP BY doc_id),
         bands AS ({_BANDS_SQL}),
         {_sql_capped_cand(_BUCKET_CAP)}
    SELECT id_a, id_b FROM cand
    """,
)
def lsh_candidate_pairs_capped(spark, sf):
    """LSH banding with the HOT-BUCKET STAR-COLLAPSE dial engaged
    (bucket_cap: buckets above the cap emit (bucket-min, member)
    star edges instead of the O(c²) clique). This is the measured
    answer to the r10 x100 wall: 500k homogeneous docs put 62% of
    120.9M candidate pairs in 33 buckets and the uncapped verify
    shuffle spilled past the machine's disk (SCALE.md r10) —
    star-collapse keeps the hot tail linear while preserving
    component connectivity exactly. Registered at cap=3 so the star
    path BINDS on the driver corpus (max bucket there is 4) and its
    values ride the full hash gate; production caps are O(hundreds).
    Plan: one map-side-combined bucket count, hot set broadcast back
    (hot buckets are few by definition) — no wide shuffle added."""
    return dd.lsh_candidate_pairs(
        load_table(spark, sf, "documents"), bucket_cap=_BUCKET_CAP
    )


@register(
    "lsh_candidate_pairs_auto",
    f"""
    WITH sh AS ({_sql_shingles()}),
         hs AS ({_HS_SQL}),
         sig AS (SELECT doc_id, {_MH_SELECT} FROM hs GROUP BY doc_id),
         bands AS ({_BANDS_SQL}),
         {_sql_capped_cand(_AUTO_BIND)}
    SELECT id_a, id_b FROM cand
    """,
)
def lsh_candidate_pairs_auto(spark, sf):
    """The AUTO dial derivation under the full value-hash gate, with
    clamps tight enough to BIND at gate scale (floor 2 / ceiling 3;
    the driver corpus's band census is 853 singletons, 61 pairs, 8
    bigger buckets up to 4 — discrete p99 = 2, resolved cap = 2 — so
    buckets of 3-4 emit stars while 2-buckets emit cliques: BOTH
    branches of the auto path populated). The oracle replays the entire
    derivation — census → count-of-counts histogram → discrete p99 →
    clamp — in SQL (operators/dedup.py::resolve_auto_cap), so the
    arithmetic the production default rests on is driver-gated, not
    just unit-tested. The production clamps (64/512) ride every other
    banded oracle via _AUTO_CAND_SQL but never bind at gate scale by
    design; this query is where the binding path is exercised."""
    return dd.lsh_candidate_pairs(
        load_table(spark, sf, "documents"),
        auto_floor=_AUTO_BIND[0],
        auto_ceiling=_AUTO_BIND[1],
    )


#: census → histogram shared by the two census diagnostics below
_HIST_SQL = """stats AS (SELECT band_id, band_key, COUNT(*) AS c
                   FROM bands GROUP BY band_id, band_key),
         hist AS (SELECT c, COUNT(*) AS f FROM stats GROUP BY c),
         tot AS (SELECT SUM(f) AS nb,
                        SUM(f * ((c * (c - 1)) // 2)) AS tp FROM hist)"""

_CENSUS_SELECT_SQL = """
    SELECT CAST(c AS BIGINT) AS bucket_size,
           CAST(f AS BIGINT) AS n_buckets,
           CAST(c * f AS BIGINT) AS rows_mass,
           CAST(f * ((c * (c - 1)) // 2) AS BIGINT) AS pair_mass,
           CASE WHEN (SELECT tp FROM tot) = 0 THEN 0.0
                ELSE CAST(f * ((c * (c - 1)) // 2) AS DOUBLE)
                     / CAST((SELECT tp FROM tot) AS DOUBLE) END AS pair_share,
           CAST(SUM(f) OVER (ORDER BY c) AS DOUBLE)
             / CAST((SELECT nb FROM tot) AS DOUBLE) AS cum_bucket_frac
    FROM hist
"""


def _bucket_census_frame(stats: DataFrame) -> DataFrame:
    """(…, c) per-bucket counts → per-distinct-bucket-size census:
    (bucket_size, n_buckets, rows_mass, pair_mass, pair_share,
    cum_bucket_frac). All mass columns are exact integer arithmetic;
    the two shares are single divisions of exact longs. The windows
    run over the count-of-counts HISTOGRAM — O(distinct bucket
    sizes) rows however large the corpus — so the global sort they
    imply is a no-op at any scale."""
    hist = stats.groupBy("c").agg(F.count(F.lit(1)).alias("f"))
    pair_mass = (F.col("f") * F.expr("c * (c - 1) DIV 2")).cast("long")
    base = hist.select(
        F.col("c").cast("long").alias("bucket_size"),
        F.col("f").cast("long").alias("n_buckets"),
        (F.col("c") * F.col("f")).cast("long").alias("rows_mass"),
        pair_mass.alias("pair_mass"),
    )
    w_tot = Window.partitionBy()
    w_cum = (
        Window.partitionBy()
        .orderBy("bucket_size")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tp = F.sum("pair_mass").over(w_tot)
    nb = F.sum("n_buckets").over(w_tot)
    return base.select(
        "bucket_size",
        "n_buckets",
        "rows_mass",
        "pair_mass",
        F.when(tp == 0, F.lit(0.0))
        .otherwise(F.col("pair_mass") / tp)
        .alias("pair_share"),
        (F.sum("n_buckets").over(w_cum) / nb).alias("cum_bucket_frac"),
    )


@register(
    "lsh_bucket_census",
    f"""
    WITH sh AS ({_sql_shingles()}),
         hs AS ({_HS_SQL}),
         sig AS (SELECT doc_id, {_MH_SELECT} FROM hs GROUP BY doc_id),
         bands AS ({_BANDS_SQL}),
         {_HIST_SQL}
    {_CENSUS_SELECT_SQL}
    """,
)
def lsh_bucket_census(spark, sf):
    """The pre-flight skew diagnostic a user runs BEFORE near-dup at
    scale — the exact table the r10 x100 postmortem computed ad hoc
    (33 buckets > 1000 members = 62% of 120.9M candidate pairs): per
    distinct band-bucket size, how many buckets, how many rows and
    candidate pairs they carry, each size's share of total pair mass,
    and the cumulative bucket fraction (so the discrete p99 the auto
    cap resolves is readable straight off the row where
    cum_bucket_frac first reaches 0.99). One map-side-combined
    groupBy over band keys plus windows over the count-of-counts
    histogram — the identical derivation input
    operators/dedup.py::auto_cap_stats consumes."""
    docs = load_table(spark, sf, "documents")
    bands = dd.band_keys(docs)
    stats = bands.groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).alias("c")
    )
    return _bucket_census_frame(stats)


@register(
    "lsh_auto_cap",
    f"""
    WITH sh AS ({_sql_shingles()}),
         hs AS ({_HS_SQL}),
         sig AS (SELECT doc_id, {_MH_SELECT} FROM hs GROUP BY doc_id),
         bands AS ({_BANDS_SQL}),
         stats AS (SELECT band_id, band_key, COUNT(*) AS c
                   FROM bands GROUP BY band_id, band_key),
         chist AS (SELECT c AS bc, COUNT(*) AS f FROM stats GROUP BY c),
         p99 AS (SELECT COALESCE(
                   (SELECT MIN(bc)
                    FROM (SELECT bc, SUM(f) OVER (ORDER BY bc) AS cf
                          FROM chist)
                    WHERE cf >= CEIL({dd.AUTO_CAP_P}
                                     * (SELECT SUM(f) FROM chist))),
                   0) AS v)
    SELECT CAST(COALESCE((SELECT SUM(f) FROM chist), 0) AS BIGINT)
             AS n_buckets,
           CAST(COALESCE((SELECT MAX(bc) FROM chist), 0) AS BIGINT)
             AS max_bucket,
           CAST((SELECT v FROM p99) AS BIGINT) AS p99,
           CAST(LEAST({dd.AUTO_CAP_CEILING},
                      GREATEST({dd.AUTO_CAP_FLOOR}, (SELECT v FROM p99)))
                AS BIGINT) AS cap
    """,
)
def lsh_auto_cap(spark, sf):
    """The auto-cap DECISION itself as a 1-row query: (n_buckets,
    max_bucket, discrete p99, resolved cap) at the production clamps
    — what a pipeline operator reads to know whether the default dial
    will engage on their corpus and at what value (cap < max_bucket ⟹
    star-collapse will fire). Spark resolves from the collected
    count-of-counts histogram (operators/dedup.py::auto_cap_stats, the
    same code path every auto-capped operator runs); the oracle
    replays the identical arithmetic in SQL — so the production
    derivation is driver-gated even though the production clamps
    never BIND at gate scale (the binding path is
    lsh_candidate_pairs_auto's job)."""
    docs = load_table(spark, sf, "documents")
    bands = dd.band_keys(docs)
    hist = [
        (int(r["_c"]), int(r["_f"]))
        for r in bands.groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("_c")
        .agg(F.count(F.lit(1)).alias("_f"))
        .collect()
    ]
    n_buckets, max_bucket, p99, cap = dd.auto_cap_stats(hist)
    return spark.createDataFrame(
        [(n_buckets, max_bucket, p99, cap)],
        "n_buckets long, max_bucket long, p99 long, cap long",
    )


def _capped_edges_sql(cap: int | tuple[int, int]) -> str:
    """Verified near-dup edges (exact Jaccard >= 0.5) over the capped
    candidate chain — the oracle building block shared by
    dedup_near_keep_capped and doc_pagerank_capped."""
    return f"""
    WITH sh AS ({_sql_shingles()}),
         hs AS ({_HS_SQL}),
         sig AS (SELECT doc_id, {_MH_SELECT} FROM hs GROUP BY doc_id),
         bands AS ({_BANDS_SQL}),
         {_sql_capped_cand(cap)},
         dsh AS (SELECT DISTINCT doc_id, s FROM sh),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
         inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
                   FROM cand c
                   JOIN dsh x ON x.doc_id = c.id_a
                   JOIN dsh y ON y.doc_id = c.id_b AND y.s = x.s
                   GROUP BY c.id_a, c.id_b)
    SELECT i.id_a, i.id_b
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE CAST(i.n_inter AS BIGINT)
          / CAST(sa.n + sb.n - i.n_inter AS BIGINT) >= 0.5
    """


def _register_capped_keep():
    keep_sql = _keep_sql_from_components(_capped_edges_sql(_BUCKET_CAP))

    @register("dedup_near_keep_capped", keep_sql)
    def dedup_near_keep_capped(spark, sf):
        """dedup_near_keep at the hot-bucket star-collapse dial
        position: the query that DIED at x100 (disk wall: >78 GB of
        verify-shuffle spill from 33 hot buckets, SCALE.md r10), with
        candidate generation capped so over-cap buckets emit star
        edges around their minimum. Star edges still face the Jaccard
        ≥ 0.5 verify, so a failing star edge can split a hot cluster
        the clique would have held — the documented recall trade,
        confined to over-cap buckets; everywhere else the output is
        IDENTICAL to dedup_near_keep. cap=3 binds on the driver
        corpus; oracle = the same recursive-CTE closure over the
        capped-verified edge set."""
        comp = dd.duplicate_components(
            load_table(spark, sf, "documents"),
            threshold=0.5,
            bucket_cap=_BUCKET_CAP,
        )
        return comp.groupBy(F.col("component").alias("keep_id")).agg(
            F.count(F.lit(1)).alias("group_size")
        )


@register(
    "dedup_rate_by_source",
    """
    WITH d AS (SELECT doc_id, source, md5(text) AS digest FROM documents),
    keep AS (SELECT digest, MIN(doc_id) AS keep_id FROM d GROUP BY digest)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN d.doc_id != k.keep_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN d.doc_id != k.keep_id THEN 1 ELSE 0 END)
                AS BIGINT) / CAST(COUNT(*) AS BIGINT) AS dup_rate
    FROM d JOIN keep k ON k.digest = d.digest
    GROUP BY d.source
    """,
)
def dedup_rate_by_source(spark, sf):
    """Dedup health dashboard: per ingest source, how many documents
    the exact-dedup pass would drop (keep = lowest doc_id per
    digest) and the resulting dup rate — the per-feed quality signal
    that tells a pipeline operator WHICH crawler or dump is feeding
    them copies, before paying for near-dup passes on it. One digest
    aggregate + one digest join, both map-side combined; the same
    shape as dedup_exact with the report pivoted onto metadata."""
    docs = load_table(spark, sf, "documents")
    d = docs.select("doc_id", "source", F.md5("text").alias("digest"))
    keep = d.groupBy("digest").agg(F.min("doc_id").alias("keep_id"))
    dropped = F.sum(
        F.when(F.col("doc_id") != F.col("keep_id"), 1).otherwise(0)
    ).cast("long")
    return (
        d.join(keep, "digest")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            dropped.alias("n_dropped"),
        )
        .select(
            "source",
            "n_docs",
            "n_dropped",
            (F.col("n_dropped") / F.col("n_docs")).alias("dup_rate"),
        )
    )


@register(
    "dedup_incremental",
    f"""
    WITH sh AS ({_sql_shingles()}),
         hs AS ({_HS_SQL}),
         sig AS (SELECT doc_id, {_MH_SELECT} FROM hs GROUP BY doc_id),
         bands AS ({_BANDS_SQL}),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM bands a JOIN bands b
                    ON a.band_id = b.band_id AND a.band_key = b.band_key
                   AND a.doc_id % 10 = 0 AND b.doc_id % 10 != 0),
         dsh AS (SELECT DISTINCT doc_id, s FROM sh),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
         inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
                   FROM cand c
                   JOIN dsh x ON x.doc_id = c.id_a
                   JOIN dsh y ON y.doc_id = c.id_b AND y.s = x.s
                   GROUP BY c.id_a, c.id_b),
         nears AS (SELECT DISTINCT i.id_a
                   FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a
                   JOIN sizes sb ON sb.doc_id = i.id_b
                   WHERE CAST(i.n_inter AS BIGINT)
                         / CAST(sa.n + sb.n - i.n_inter AS BIGINT) >= 0.5),
         exacts AS (SELECT DISTINCT b.doc_id
                    FROM documents b JOIN documents c
                      ON md5(b.text) = md5(c.text)
                     AND b.doc_id % 10 = 0 AND c.doc_id % 10 != 0)
    SELECT d.doc_id,
           CAST(CASE WHEN e.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS exact_dup,
           CAST(CASE WHEN n.id_a IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS near_dup,
           CAST(CASE WHEN e.doc_id IS NULL AND n.id_a IS NULL
                THEN 1 ELSE 0 END AS BIGINT) AS accepted
    FROM documents d
    LEFT JOIN exacts e ON e.doc_id = d.doc_id
    LEFT JOIN nears n ON n.id_a = d.doc_id
    WHERE d.doc_id % 10 = 0
    """,
)
def dedup_incremental(spark, sf):
    """Steady-state ingest dedup: the batch (doc_id % 10 == 0) gated
    against the kept corpus (the rest) — exact digest probe + LSH
    band batch×corpus join + Jaccard verify, per-doc 0/1 admission
    flags. The band join's cost scales with the BATCH, not corpus²
    (operators/dedup.py::incremental_dedup)."""
    docs = load_table(spark, sf, "documents")
    batch = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    return dd.incremental_dedup(batch, corpus)


@register(
    "dedup_incremental_indexed",
    f"""
    WITH sh AS ({_sql_shingles()}),
         hs AS ({_HS_SQL}),
         sig AS (SELECT doc_id, {_MH_SELECT} FROM hs GROUP BY doc_id),
         bands AS ({_BANDS_SQL}),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM bands a JOIN bands b
                    ON a.band_id = b.band_id AND a.band_key = b.band_key
                   AND a.doc_id % 10 = 0 AND b.doc_id % 10 != 0),
         dsh AS (SELECT DISTINCT doc_id, s FROM sh),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
         inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
                   FROM cand c
                   JOIN dsh x ON x.doc_id = c.id_a
                   JOIN dsh y ON y.doc_id = c.id_b AND y.s = x.s
                   GROUP BY c.id_a, c.id_b),
         nears AS (SELECT DISTINCT i.id_a
                   FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a
                   JOIN sizes sb ON sb.doc_id = i.id_b
                   WHERE CAST(i.n_inter AS BIGINT)
                         / CAST(sa.n + sb.n - i.n_inter AS BIGINT) >= 0.5),
         exacts AS (SELECT DISTINCT b.doc_id
                    FROM documents b JOIN documents c
                      ON md5(b.text) = md5(c.text)
                     AND b.doc_id % 10 = 0 AND c.doc_id % 10 != 0)
    SELECT d.doc_id,
           CAST(CASE WHEN e.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS exact_dup,
           CAST(CASE WHEN n.id_a IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS near_dup,
           CAST(CASE WHEN e.doc_id IS NULL AND n.id_a IS NULL
                THEN 1 ELSE 0 END AS BIGINT) AS accepted
    FROM documents d
    LEFT JOIN exacts e ON e.doc_id = d.doc_id
    LEFT JOIN nears n ON n.id_a = d.doc_id
    WHERE d.doc_id % 10 = 0
    """,
)
def dedup_incremental_indexed(spark, sf):
    """Steady-state ingest dedup against PERSISTED corpus indexes
    (operators/dedup.py::build_dedup_index): digest + band tables are
    built once per corpus (cached on disk, keyed by the fixture's
    path+mtime — a rebuilt testdata set invalidates it) and every
    batch reads them instead of re-shingling the corpus; corpus text
    is touched only for semi-join-pruned candidate verification.
    Flags must equal the recompute path (`dedup_incremental`) —
    same oracle, plus a direct parity test."""
    import hashlib
    import os
    import tempfile

    docs = load_table(spark, sf, "documents")
    batch = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    src = os.path.join(sf, "documents.parquet")
    key = hashlib.md5(
        f"{os.path.abspath(src)}:{os.path.getmtime(src)}".encode()
    ).hexdigest()[:16]
    idx = os.path.join(tempfile.gettempdir(), f"sf_dedup_idx_{key}")
    if not (
        os.path.exists(f"{idx}/digests/_SUCCESS")
        and os.path.exists(f"{idx}/bands/_SUCCESS")
    ):
        dd.build_dedup_index(corpus, idx)
    return dd.incremental_dedup_indexed(batch, corpus, idx)


@register(
    "containment_pairs",
    f"""
    WITH sh AS ({_sql_shingles()}),
         hs AS ({_HS_SQL}),
         sig AS (SELECT doc_id, {_MH_SELECT} FROM hs GROUP BY doc_id),
         bands AS ({_BANDS_SQL}),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM bands a JOIN bands b
                    ON a.band_id = b.band_id AND a.band_key = b.band_key
                       AND a.doc_id < b.doc_id),
         dsh AS (SELECT DISTINCT doc_id, s FROM sh),
         sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
                   FROM dsh GROUP BY doc_id),
         inter AS (SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
                   FROM cand c
                   JOIN dsh x ON x.doc_id = c.id_a
                   JOIN dsh y ON y.doc_id = c.id_b AND y.s = x.s
                   GROUP BY c.id_a, c.id_b)
    SELECT i.id_a, i.id_b, i.n_inter,
           sa.n AS n_a, sb.n AS n_b,
           CAST(i.n_inter AS DOUBLE) / CAST(sa.n AS DOUBLE) AS c_ab,
           CAST(i.n_inter AS DOUBLE) / CAST(sb.n AS DOUBLE) AS c_ba
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.n AS DOUBLE) >= 0.8
       OR CAST(i.n_inter AS DOUBLE) / CAST(sb.n AS DOUBLE) >= 0.8
    """,
)
def containment_pairs(spark, sf):
    """Asymmetric shingle containment over LSH candidates — the
    quote/excerpt detector symmetric Jaccard misses (candidate-
    generation caveat for extreme size skew documented at
    operators/dedup.py::containment_pairs)."""
    return dd.containment_pairs(load_table(spark, sf, "documents"))


@register(
    "ngram_jaccard_pairs",
    f"""
    WITH sh AS ({_sql_shingles()}),
         hs AS ({_HS_SQL}),
         sig AS (SELECT doc_id, {_MH_SELECT} FROM hs GROUP BY doc_id),
         bands AS ({_BANDS_SQL}),
         {_AUTO_CAND_SQL},
         dsh AS (SELECT DISTINCT doc_id, s FROM sh),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
         inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
                   FROM cand c
                   JOIN dsh x ON x.doc_id = c.id_a
                   JOIN dsh y ON y.doc_id = c.id_b AND y.s = x.s
                   GROUP BY c.id_a, c.id_b)
    SELECT i.id_a, i.id_b,
           CAST(i.n_inter AS BIGINT) AS n_inter,
           CAST(sa.n + sb.n - i.n_inter AS BIGINT) AS n_union,
           CAST(i.n_inter AS BIGINT) / CAST(sa.n + sb.n - i.n_inter AS BIGINT)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE CAST(i.n_inter AS BIGINT)
          / CAST(sa.n + sb.n - i.n_inter AS BIGINT) >= 0.5
    """,
)
def ngram_jaccard_pairs(spark, sf):
    """Full near-dup pipeline: LSH candidates → exact shingle Jaccard
    ≥ 0.5. Verification cost is bounded by the candidate set."""
    return dd.ngram_jaccard_pairs(
        load_table(spark, sf, "documents"), threshold=0.5
    ).select("id_a", "id_b",
             F.col("n_inter").cast("long").alias("n_inter"),
             F.col("n_union").cast("long").alias("n_union"),
             "jaccard")


@register("ngram_jaccard_pairs_strfp", REGISTRY["ngram_jaccard_pairs"].sql)
def ngram_jaccard_pairs_strfp(spark, sf):
    """Same pipeline with the verify-side fingerprint dial on raw
    shingle STRINGS instead of 64-bit hashes (dedup.py::
    verify_fingerprint_mode): counts are identical by construction,
    so both dial positions share one oracle; the bench records both
    so the local-vs-network-shuffle tradeoff stays measured."""
    return dd.ngram_jaccard_pairs(
        load_table(spark, sf, "documents"),
        threshold=0.5,
        fingerprint="string",
    ).select("id_a", "id_b",
             F.col("n_inter").cast("long").alias("n_inter"),
             F.col("n_union").cast("long").alias("n_union"),
             "jaccard")


@register(
    "dedup_graph_triangles_verified",
    f"""
    WITH e AS (SELECT id_a, id_b FROM ({REGISTRY["ngram_jaccard_pairs"].sql})),
         tri AS (SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
                 FROM e e1
                 JOIN e e2 ON e2.id_a = e1.id_b
                 JOIN e e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT unnest([a, b, c]) AS doc_id FROM tri)
    GROUP BY doc_id
    """,
)
def dedup_graph_triangles_verified(spark, sf):
    """Triangle participation over the VERIFIED near-dup graph
    (exact Jaccard ≥ 0.5 edges) instead of the raw LSH candidate
    graph — the collision-heavy-corpus form the slope run called for:
    candidate-graph triangle mass rides banding false positives
    cubically (363M participations at x10 on the homogeneous
    fixture), while the verified graph carries only true duplicate
    structure, so QA cost tracks the ANSWER size. The verified edge
    list is persisted once and scanned three times inside the
    triangle join."""
    from syncflux_spark.operators.graph import triangle_counts
    from syncflux_spark.utils import eager_persist

    pairs = eager_persist(
        dd.ngram_jaccard_pairs(
            load_table(spark, sf, "documents"), threshold=0.5
        ).select("id_a", "id_b")
    )
    return triangle_counts(pairs)


@register(
    "word_jaccard_pairs",
    r"""
    WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
                  FROM documents),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
         shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
                    FROM toks a JOIN toks b ON a.w = b.w AND a.doc_id < b.doc_id
                    GROUP BY a.doc_id, b.doc_id)
    SELECT s.id_a, s.id_b, CAST(s.n_inter AS BIGINT) AS n_inter,
           CAST(sa.n + sb.n - s.n_inter AS BIGINT) AS n_union,
           CAST(s.n_inter AS BIGINT) / CAST(sa.n + sb.n - s.n_inter AS BIGINT)
             AS jaccard
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.id_a
    JOIN sizes sb ON sb.doc_id = s.id_b
    WHERE CAST(s.n_inter AS BIGINT)
          / CAST(sa.n + sb.n - s.n_inter AS BIGINT) >= 0.8
    """,
)
def word_jaccard_pairs(spark, sf):
    """Word-set Jaccard ≥ 0.8 via inverted-index join (shuffles on
    words, not on the pair cross-product)."""
    return dd.word_jaccard_all_pairs(
        load_table(spark, sf, "documents"), threshold=0.8
    ).select("id_a", "id_b",
             F.col("n_inter").cast("long").alias("n_inter"),
             F.col("n_union").cast("long").alias("n_union"),
             "jaccard")


_SQL_WORDS = r"string_split_regex(trim(text), '\s+')"

_SPLIT_FRACTIONS = {"train": 0.9, "val": 0.05, "test": 0.05}


@register(
    "doc_split_assign",
    f"""
    SELECT doc_id,
           {smp.sql_split_case(_SPLIT_FRACTIONS)} AS split
    FROM documents
    """,
)
def doc_split_assign(spark, sf):
    """Deterministic train/val/test assignment by salted content hash
    (operators/sampling.py::split_assign): a document's split is a
    pure function of its id — stable across runs, partitionings and
    corpus growth, unlike df.sample's per-partition seeding. Pure
    column expression, no shuffle."""
    docs = load_table(spark, sf, "documents")
    return smp.split_assign(docs, _SPLIT_FRACTIONS).select("doc_id", "split")


@register(
    "doc_sample_10pct",
    f"""
    SELECT doc_id FROM documents
    WHERE {smp.sql_bucket('doc_id', 'sample-v1')} < '1999'
    """,
)
def doc_sample_10pct(spark, sf):
    """Deterministic ~10% corpus sample (hash-thresholded, nested:
    a higher rate with the same salt is a superset —
    operators/sampling.py::deterministic_sample)."""
    docs = load_table(spark, sf, "documents")
    return smp.deterministic_sample(docs, 0.1).select("doc_id")


_STRAT_RATES = {"en": 0.3}


@register(
    "doc_stratified_sample",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE {smp.sql_stratified_where(_STRAT_RATES, 'lang', default_rate=1.0)}
    """,
)
def doc_stratified_sample(spark, sf):
    """Corpus rebalancing: deterministically downsample the dominant
    language ('en' → 30%) while keeping every other class whole —
    per-class salted-hash thresholds, stable under repartition and
    corpus growth (operators/sampling.py::stratified_sample)."""
    docs = load_table(spark, sf, "documents")
    return smp.stratified_sample(
        docs, _STRAT_RATES, "lang", default_rate=1.0
    ).select("doc_id", "lang")


@register(
    "source_quota_cap",
    f"""
    SELECT doc_id, source, class_rank FROM (
      SELECT doc_id, source,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY {smp.sql_bucket('doc_id', 'quota-v1')}, doc_id)
               AS BIGINT) AS class_rank
      FROM documents)
    WHERE class_rank <= 10
    """,
)
def source_quota_cap(spark, sf):
    """C4-style per-domain quota: keep at most 10 docs per source,
    chosen by deterministic salted-hash rank — stable under re-runs,
    nested as the cap rises (operators/sampling.py::quota_cap)."""
    docs = load_table(spark, sf, "documents")
    return smp.quota_cap(docs, 10, "source").select(
        "doc_id", "source", "class_rank"
    )


@register(
    "doc_pack_bins",
    r"""
    SELECT doc_id, source, n_tokens,
           CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens,
           CAST((SUM(n_tokens) OVER w - n_tokens) // 500 AS BIGINT) AS bin
    FROM (SELECT doc_id, source,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                   AS n_tokens
          FROM documents)
    WINDOW w AS (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def doc_pack_bins(spark, sf):
    """Sequence packing: concat-then-chunk each source's token stream
    into 500-token context windows, each doc assigned the bin where it
    starts — per-shard window cumsum, no global sort
    (operators/sampling.py::pack_bins)."""
    docs = load_table(spark, sf, "documents").withColumn(
        "n_tokens", token_count("text").cast("long")
    )
    return smp.pack_bins(docs, 500, "n_tokens", "source")


@register(
    "token_stats",
    f"""
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_chars,
           CAST(len({_SQL_WORDS}) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct({_SQL_WORDS})) AS BIGINT) AS n_distinct_tokens,
           CAST(list_sum(list_transform({_SQL_WORDS}, w -> LENGTH(w))) AS BIGINT)
             / CAST(len({_SQL_WORDS}) AS BIGINT) AS mean_word_len,
           CAST(len(list_distinct({_SQL_WORDS})) AS BIGINT)
             / CAST(len({_SQL_WORDS}) AS BIGINT) AS distinct_ratio
    FROM documents
    """,
)
def token_stats(spark, sf):
    """Token counting + repetition stats — narrow per-row transforms,
    zero shuffle."""
    docs = load_table(spark, sf, "documents")
    m = quality_metrics("text")
    ws = words("text")
    sum_len = F.aggregate(ws, F.lit(0).cast("long"), lambda a, w: a + F.length(w))
    return docs.select(
        "doc_id",
        m["n_chars"].alias("n_chars"),
        m["n_tokens"].cast("long").alias("n_tokens"),
        m["n_distinct_tokens"].cast("long").alias("n_distinct_tokens"),
        (sum_len / F.size(ws).cast("long")).alias("mean_word_len"),
        (F.size(F.array_distinct(ws)).cast("long") / F.size(ws).cast("long")).alias(
            "distinct_ratio"
        ),
    )


@register(
    "quality_scores",
    f"""
    SELECT doc_id, n_tokens, distinct_ratio, quality_score,
           quality_score >= 3 AS passes
    FROM (
      SELECT doc_id,
             CAST(len({_SQL_WORDS}) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct({_SQL_WORDS})) AS BIGINT)
               / CAST(len({_SQL_WORDS}) AS BIGINT) AS distinct_ratio,
             CAST(CASE WHEN len({_SQL_WORDS}) >= 10 THEN 1 ELSE 0 END
             + CASE WHEN LENGTH(text) >= 50 THEN 1 ELSE 0 END
             + CASE WHEN CAST(len(list_distinct({_SQL_WORDS})) AS BIGINT)
                         / CAST(len({_SQL_WORDS}) AS BIGINT) >= 0.3
                    THEN 1 ELSE 0 END
             + CASE WHEN CAST(list_sum(list_transform({_SQL_WORDS},
                                                      w -> LENGTH(w))) AS BIGINT)
                         / CAST(len({_SQL_WORDS}) AS BIGINT) >= 3
                    THEN 1 ELSE 0 END AS BIGINT) AS quality_score
      FROM documents)
    """,
)
def quality_scores(spark, sf):
    """Composite quality gate: integer rubric (length, size, diversity,
    word-length checks) — deterministic and filterable at scale."""
    from syncflux_spark.operators.textops import quality_score

    return quality_score(load_table(spark, sf, "documents"))


@register(
    "corpus_filter_report",
    f"""
    WITH m AS (
      SELECT source,
             LENGTH(text) AS n_chars,
             CAST(len({_SQL_WORDS}) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct({_SQL_WORDS})) AS BIGINT) AS n_distinct,
             CAST(list_sum(list_transform({_SQL_WORDS}, w -> LENGTH(w)))
                  AS BIGINT) AS sum_wlen
      FROM documents
    ),
    r AS (
      SELECT source,
             CASE WHEN n_chars < 50 THEN 'too_short'
                  WHEN n_tokens < 10 THEN 'too_few_tokens'
                  WHEN CAST(n_distinct AS BIGINT) / CAST(n_tokens AS BIGINT)
                       < 0.3 THEN 'low_diversity'
                  WHEN CAST(sum_wlen AS BIGINT) / CAST(n_tokens AS BIGINT)
                       < 3 THEN 'short_words'
                  ELSE 'kept' END AS reason
      FROM m
    ),
    c AS (SELECT source, reason, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM r GROUP BY source, reason)
    SELECT source, reason, n_docs,
           CAST(SUM(n_docs) OVER (PARTITION BY source) AS BIGINT)
             AS source_total,
           CAST(n_docs AS BIGINT)
             / CAST(SUM(n_docs) OVER (PARTITION BY source) AS BIGINT) AS share
    FROM c
    """,
)
def corpus_filter_report(spark, sf):
    """The filter-pass audit every corpus pipeline ships with its
    dataset card: per ingest source, documents bucketed by the FIRST
    quality rule they fail (length → token count → lexical diversity
    → word length, the C4/Gopher-style cascade) or 'kept', with each
    bucket's share of the source. First-failure attribution (a CASE
    cascade, not independent flags) is what makes the report
    actionable — it tells the operator which rule to tune per feed
    without double counting. Single scan, one (source, reason)
    aggregate, per-source totals ride a whole-partition window of
    exact ints."""
    docs = load_table(spark, sf, "documents")
    ws = words("text")
    n_chars = F.length("text")
    n_tokens = F.size(ws).cast("long")
    n_distinct = F.size(F.array_distinct(ws)).cast("long")
    sum_wlen = F.aggregate(
        ws, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    reason = (
        F.when(n_chars < 50, F.lit("too_short"))
        .when(n_tokens < 10, F.lit("too_few_tokens"))
        .when(n_distinct / n_tokens < 0.3, F.lit("low_diversity"))
        .when(sum_wlen / n_tokens < 3, F.lit("short_words"))
        .otherwise(F.lit("kept"))
    )
    c = (
        docs.select("source", reason.alias("reason"))
        .groupBy("source", "reason")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    w = Window.partitionBy("source")
    tot = F.sum("n_docs").over(w).cast("long")
    return c.select(
        "source",
        "reason",
        "n_docs",
        tot.alias("source_total"),
        (F.col("n_docs") / tot).alias("share"),
    )


@register(
    "gopher_quality_flags",
    f"""
    SELECT doc_id,
           n_words,
           mean_word_len,
           alpha_ratio,
           n_stopwords,
           n_words BETWEEN 50 AND 100000 AS flag_word_count,
           mean_word_len BETWEEN 3.0 AND 10.0 AS flag_word_len,
           CAST(n_symbols AS BIGINT) / n_words <= 0.1 AS flag_symbol_ratio,
           alpha_ratio >= 0.8 AS flag_alpha_words,
           n_stopwords >= 2 AS flag_stopwords,
           (n_words BETWEEN 50 AND 100000)
             AND (mean_word_len BETWEEN 3.0 AND 10.0)
             AND (CAST(n_symbols AS BIGINT) / n_words <= 0.1)
             AND alpha_ratio >= 0.8
             AND n_stopwords >= 2 AS passes
    FROM (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(ws, w -> LENGTH(w))) AS BIGINT)
               / CAST(len(ws) AS BIGINT) AS mean_word_len,
             (LENGTH(text) - LENGTH(REPLACE(text, '#', '')))
               + (LENGTH(text) - LENGTH(REPLACE(text, '…', ''))) AS n_symbols,
             CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
                  AS BIGINT) / CAST(len(ws) AS BIGINT) AS alpha_ratio,
             CAST(len(list_intersect(list_distinct(ws),
                  ['the','be','to','of','and','that','have','with']))
                  AS BIGINT) AS n_stopwords
      FROM (SELECT doc_id, text, {_SQL_WORDS} AS ws FROM documents))
    """,
)
def gopher_quality_flags(spark, sf):
    """The Gopher pretraining-text quality rules (Rae et al. 2021 app.
    A1.1) as one per-document flag row — word-count and word-length
    bounds, symbol ratio, alphabetic-word ratio, stopword presence,
    and their AND. Zero shuffles: every rule is an in-row fold over
    the token array, so the gate costs one corpus scan at any scale."""
    from syncflux_spark.operators.textops import gopher_quality_flags as op

    return op(load_table(spark, sf, "documents"))


@register(
    "c4_filter_flags",
    f"""
    SELECT doc_id,
           n_sentences,
           n_lines,
           CAST(kept AS BIGINT) / n_lines AS kept_line_ratio,
           n_blocked_words,
           n_sentences >= 3 AS flag_sentences,
           n_blocked_words = 0 AS flag_blocklist,
           NOT has_brace AS flag_no_code,
           NOT has_lorem AS flag_no_lorem,
           n_sentences >= 3 AND n_blocked_words = 0
             AND NOT has_brace AND NOT has_lorem AS passes
    FROM (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '[.!?]'),
                  s -> LENGTH(trim(s)) > 0)) AS BIGINT) AS n_sentences,
             CAST(len(string_split_regex(text, '\n')) AS BIGINT) AS n_lines,
             len(list_filter(string_split_regex(text, '\n'),
                 l -> regexp_matches(l, '[.!?]\\s*$')
                      AND len(string_split_regex(trim(l), '\\s+')) >= 5))
               AS kept,
             CAST(len(list_intersect(list_distinct({_SQL_WORDS}),
                  ['slow','small'])) AS BIGINT) AS n_blocked_words,
             contains(lower(text), 'lorem ipsum') AS has_lorem,
             contains(text, '{{') AS has_brace
      FROM documents)
    """,
)
def c4_filter_flags(spark, sf):
    """The C4 cleaning rules (Raffel et al. 2020 §2.2) per document:
    sentence-count floor, word-exact blocklist hit count, code and
    placeholder markers, and the terminal-punctuation line keep
    ratio. Like the Gopher gate this is pure per-row column math —
    the blocklist rides the expression as an array literal (at real
    blocklist sizes it would broadcast-join a token explode
    instead)."""
    from syncflux_spark.operators.textops import c4_filter_flags as op

    return op(
        load_table(spark, sf, "documents"), blocklist=["slow", "small"]
    )


@register(
    "vocab_growth_curve",
    f"""
    WITH mx AS (SELECT MAX(doc_id) + 1 AS nd FROM documents),
    toks AS (SELECT doc_id, unnest({_SQL_WORDS}) AS w FROM documents),
    per_doc AS (SELECT d.doc_id,
                       LEAST(d.doc_id * 10 // mx.nd, 9) AS decile,
                       CAST(len({_SQL_WORDS}) AS BIGINT) AS n_tokens
                FROM documents d CROSS JOIN mx),
    tok_dec AS (SELECT decile, CAST(SUM(n_tokens) AS BIGINT) AS toks
                FROM per_doc GROUP BY decile),
    firsts AS (SELECT w, MIN(doc_id) AS first_doc FROM toks GROUP BY w),
    new_dec AS (SELECT LEAST(f.first_doc * 10 // mx.nd, 9) AS decile,
                       CAST(COUNT(*) AS BIGINT) AS new_types
                FROM firsts f CROSS JOIN mx GROUP BY decile),
    g AS (SELECT t.decile, t.toks, COALESCE(n.new_types, 0) AS new_types
          FROM tok_dec t LEFT JOIN new_dec n ON n.decile = t.decile)
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(SUM(toks) OVER o AS BIGINT) AS tokens_cum,
           CAST(SUM(new_types) OVER o AS BIGINT) AS types_cum,
           CAST(SUM(new_types) OVER o AS BIGINT)
             / CAST(SUM(toks) OVER o AS BIGINT) AS type_token_ratio
    FROM g
    WINDOW o AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
    """,
)
def vocab_growth_curve(spark, sf):
    """Heaps-law vocabulary growth: cumulative distinct word types vs
    cumulative token volume at 10 corpus checkpoints (doc-id
    deciles) — the curve that says whether more data is still buying
    vocabulary (healthy crawl) or flattening into repetition
    (saturated/duplicated feed). Each type is attributed to the
    decile of its FIRST occurrence — one vocab-sized min-aggregate —
    so the cumulative counts are two 10-row window sums, not 10
    rescans. Everything integer; one division per checkpoint."""
    docs = load_table(spark, sf, "documents")
    nd = docs.agg((F.max("doc_id") + 1).alias("nd"))
    per_doc = (
        docs.crossJoin(F.broadcast(nd))
        .select(
            F.least((F.col("doc_id") * 10 / F.col("nd")).cast("long"), F.lit(9))
            .alias("decile"),
            F.size(words("text")).cast("long").alias("n_tokens"),
        )
        .groupBy("decile")
        .agg(F.sum("n_tokens").cast("long").alias("toks"))
    )
    firsts = (
        docs.select("doc_id", F.explode(words("text")).alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    new_dec = (
        firsts.crossJoin(F.broadcast(nd))
        .select(
            F.least(
                (F.col("first_doc") * 10 / F.col("nd")).cast("long"), F.lit(9)
            ).alias("decile")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("long").alias("new_types"))
    )
    g = per_doc.join(new_dec, "decile", "left").select(
        "decile",
        "toks",
        F.coalesce("new_types", F.lit(0)).cast("long").alias("new_types"),
    )
    o = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    tc = F.sum("toks").over(o).cast("long")
    yc = F.sum("new_types").over(o).cast("long")
    return g.select(
        "decile",
        tc.alias("tokens_cum"),
        yc.alias("types_cum"),
        (yc / tc).alias("type_token_ratio"),
    )


def _sql_substr_count(needle: str) -> str:
    pad = "' ' || text || ' '"
    esc = needle.replace("'", "''")
    return (
        f"CAST((LENGTH({pad}) - LENGTH(replace({pad}, '{esc}', '')))"
        f" / {len(needle)} AS BIGINT)"
    )


def _sql_lang_detect() -> str:
    score_cols = ", ".join(
        " + ".join(_sql_substr_count(m) for m in markers) + f" AS score_{lang}"
        for lang, markers in LANG_MARKERS.items()
    )
    # replicate the Python fold in functions/text.py::lang_id exactly:
    # reverse-alphabetical iteration, strict > to displace.
    best = "'und'"
    best_score = "CAST(0 AS BIGINT)"
    for lang in sorted(LANG_MARKERS, reverse=True):
        best = f"CASE WHEN score_{lang} > {best_score} THEN '{lang}' ELSE {best} END"
        best_score = (
            f"CASE WHEN score_{lang} > {best_score} THEN score_{lang} "
            f"ELSE {best_score} END"
        )
    ordered = ", ".join(f"score_{lang}" for lang in sorted(LANG_MARKERS))
    return f"""
    SELECT doc_id, {ordered}, {best} AS pred_lang
    FROM (SELECT doc_id, {score_cols} FROM documents)
    """


@register("lang_detect", _sql_lang_detect())
def lang_detect(spark, sf):
    """Marker-stopword language ID (n-gram heuristic): per-language
    integer scores + argmax with deterministic tie-break."""
    from syncflux_spark.operators.textops import detect_language

    return detect_language(load_table(spark, sf, "documents"))


@register(
    "corpus_overview",
    r"""
    WITH d AS (
      SELECT doc_id, lang, md5(text) AS digest,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tokens,
             CAST(len(list_distinct(string_split_regex(trim(text), '\s+')))
                  AS BIGINT) AS n_distinct
      FROM documents),
    langs AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
              FROM d GROUP BY lang),
    lg AS (SELECT CAST(SUM(n * n) AS BIGINT) AS sq,
                  CAST(SUM(n) AS BIGINT) AS tot FROM langs)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(d.n_tokens) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT d.digest) AS BIGINT) AS n_distinct_docs,
           1.0 - CAST(COUNT(DISTINCT d.digest) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS exact_dup_rate,
           CAST(SUM(d.n_distinct) AS DOUBLE)
             / CAST(SUM(d.n_tokens) AS DOUBLE) AS corpus_distinct_ratio,
           1.0 - CAST(MAX(lg.sq) AS DOUBLE)
                   / CAST(MAX(lg.tot) * MAX(lg.tot) AS DOUBLE)
             AS lang_gini
    FROM d CROSS JOIN lg
    """,
)
def corpus_overview(spark, sf):
    """The one-row dataset card a curation team reads first: corpus
    size, total tokens, exact-duplicate rate (1 − distinct digests /
    docs), corpus-level distinct-token ratio, and language diversity
    as Gini impurity (1 − Σ share² — deliberately log-free, so every
    metric is integer sums + single rational divisions and
    bit-identical cross-engine). One scan, two partial aggs, a 1-row
    broadcast; at 100 TB this is the cheapest query in the registry
    per byte scanned."""
    ws = F.split(F.trim(F.col("text")), r"\s+")
    d = load_table(spark, sf, "documents").select(
        "lang",
        F.md5("text").alias("digest"),
        F.size(ws).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(ws)).cast("long").alias("n_distinct"),
    )
    langs = d.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    lg = langs.agg(
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sq"),
        F.sum("n").cast("long").alias("tot"),
    )
    return (
        d.crossJoin(F.broadcast(lg))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.countDistinct("digest").cast("long").alias("n_distinct_docs"),
            (
                F.lit(1.0)
                - F.countDistinct("digest").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("exact_dup_rate"),
            (
                F.sum("n_distinct").cast("double")
                / F.sum("n_tokens").cast("double")
            ).alias("corpus_distinct_ratio"),
            (
                F.lit(1.0)
                - F.max("sq").cast("double")
                / (F.max("tot") * F.max("tot")).cast("double")
            ).alias("lang_gini"),
        )
    )


@register(
    "regex_token_stats",
    r"""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
             AS n_ws_tokens,
           CAST(len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT)
             AS n_regex_tokens,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT)
             AS n_number_runs,
           CAST(len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS DOUBLE)
             / CAST(GREATEST(len(string_split_regex(trim(text), '\s+')), 1)
                    AS DOUBLE) AS tokens_per_word
    FROM documents
    """,
)
def regex_token_stats(spark, sf):
    """GPT-style regex pre-tokenization counts — the BPE-ish
    complement to whitespace token_stats: letter runs, digit runs,
    and isolated punctuation each count as one pre-token (the
    ASCII-safe core of the GPT-2 pattern), and tokens_per_word is the
    fertility proxy dataset builders budget sequence lengths with.
    Pure codegen regexp over one scan — no shuffle, no Python."""
    docs = load_table(spark, sf, "documents")
    pat = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
    n_ws = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    n_re = F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), 0)).cast("long")
    return docs.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_re.alias("n_regex_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[0-9]+"), 0))
        .cast("long")
        .alias("n_number_runs"),
        (
            n_re.cast("double") / F.greatest(n_ws, F.lit(1)).cast("double")
        ).alias("tokens_per_word"),
    )


@register(
    "lang_confusion_matrix",
    f"""
    WITH pred AS ({_sql_lang_detect()}),
    j AS (SELECT d.lang AS label_lang, p.pred_lang
          FROM documents d JOIN pred p USING (doc_id)),
    tot AS (SELECT label_lang, CAST(COUNT(*) AS BIGINT) AS label_n
            FROM j GROUP BY label_lang)
    SELECT j.label_lang, j.pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS DOUBLE) / CAST(t.label_n AS DOUBLE) AS recall
    FROM j JOIN tot t USING (label_lang)
    GROUP BY j.label_lang, j.pred_lang, t.label_n
    """,
)
def lang_confusion_matrix(spark, sf):
    """Language-ID quality audit: the confusion matrix of the
    heuristic detector against the corpus's labeled ``lang`` column —
    (label, predicted, count, per-label recall share). The
    data-quality report every multilingual pipeline runs before
    trusting a lang filter; one detector scan + two partial-agg
    shuffles on tiny (label, pred) keys. Recall is an integer-count
    division — bit-identical cross-engine."""
    from syncflux_spark.operators.textops import detect_language

    docs = load_table(spark, sf, "documents")
    pred = detect_language(docs).select("doc_id", "pred_lang")
    j = docs.select("doc_id", F.col("lang").alias("label_lang")).join(
        pred, "doc_id"
    )
    tot = j.groupBy("label_lang").agg(
        F.count(F.lit(1)).cast("long").alias("label_n")
    )
    return (
        j.groupBy("label_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .join(tot, "label_lang")
        .select(
            "label_lang",
            "pred_lang",
            "n",
            (F.col("n").cast("double") / F.col("label_n").cast("double")).alias(
                "recall"
            ),
        )
    )


@register(
    "doc_fingerprint",
    f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct({_SQL_WORDS})), ' '))
             AS fingerprint,
           CAST(len({_SQL_WORDS}) AS BIGINT) AS n_tokens
    FROM documents
    """,
)
def doc_fingerprint(spark, sf):
    """Order-insensitive word-set fingerprint (md5 over the sorted
    distinct vocabulary)."""
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        word_fingerprint("text").alias("fingerprint"),
        token_count("text").cast("long").alias("n_tokens"),
    )


def _sql_simhash_bits(n_bits: int, nibble_bit: int = 3) -> str:
    # one md5 per token shared across every bit's vote (bit b reads
    # hex char b+1), mirroring functions/vectors.py::simhash_bits.
    # nibble_bit 3 votes on the nibble's top bit (char >= '8'),
    # nibble_bit 2 on its second bit (char in 4-7 or c-f) — the two
    # independent coins a 64-bit fingerprint draws from one digest.
    if nibble_bit == 3:
        pred = "substr(h, {c}, 1) >= '8'"
    else:
        pred = (
            "((substr(h, {c}, 1) >= '4' AND substr(h, {c}, 1) <= '7') "
            "OR substr(h, {c}, 1) >= 'c')"
        )
    return " + ".join(
        f"CASE WHEN 2 * len(list_filter(hx, "
        f"h -> {pred.format(c=b + 1)})) > len(hx) "
        f"THEN {1 << b} ELSE 0 END"
        for b in range(n_bits)
    )


def _sql_simhash(n_bits: int = 16) -> str:
    w = _SQL_WORDS
    return f"""
    SELECT doc_id, CAST({_sql_simhash_bits(n_bits)} AS BIGINT) AS simhash
    FROM (SELECT doc_id, list_transform({w}, t -> md5(t)) AS hx
          FROM documents)
    """


@register("simhash_fingerprint", _sql_simhash())
def simhash_fingerprint(spark, sf):
    """16-bit SimHash over word tokens (±1 votes from md5 parity) —
    Hamming-close fingerprints ⇒ near-dup candidates. The digest
    array is a separate projection so each bit's filter reads it
    instead of re-hashing (vectors.simhash_bits_hex)."""
    from syncflux_spark.functions.vectors import simhash_bits_hex

    docs = load_table(spark, sf, "documents")
    toks = words("text")
    return docs.select(
        "doc_id",
        F.transform(toks, lambda t: F.md5(t)).alias("_hx"),
        F.size(toks).alias("_nt"),
    ).select(
        "doc_id", simhash_bits_hex("_hx", F.col("_nt"), 16).alias("simhash")
    )


@register(
    "simhash_near_pairs",
    f"""
    WITH fp AS ({_sql_simhash()}),
    bands AS (
      SELECT doc_id, simhash, b.band_id,
             (simhash >> (band_id * 4)) & 15 AS band_bits
      FROM fp, (VALUES (0), (1), (2), (3)) AS b(band_id))
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_bits = b.band_bits
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def simhash_near_pairs(spark, sf):
    """Hamming-≤3 SimHash pairs via pigeonhole band buckets (4 bands ×
    4 bits: ≤3 differing bits ⇒ some band identical → exact recall),
    verified by bit_count(a XOR b)
    (operators/dedup.py::simhash_near_pairs)."""
    docs = load_table(spark, sf, "documents")
    return dd.simhash_near_pairs(docs, max_hamming=3)


@register(
    "simhash_near_pairs_wide",
    f"""
    WITH fp AS ({_sql_simhash(32)}),
    bands AS (
      SELECT doc_id, simhash, b.band_id,
             (simhash >> (band_id * 8)) & 255 AS band_bits
      FROM fp, (VALUES (0), (1), (2), (3)) AS b(band_id))
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_bits = b.band_bits
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def simhash_near_pairs_wide(spark, sf):
    """The 16-bit query's documented scale dial, exercised: a 32-bit
    fingerprint (4 bands × 8 bits, same pigeonhole exact recall at
    Hamming ≤ 3) for corpora where 16 bits saturate. The r7 slope run
    measured the saturation — 27% of ALL doc pairs fall within
    Hamming ≤ 3 of a 16-bit simhash on a vocabulary-homogeneous 50k
    corpus, so the ANSWER grows quadratically (alpha 1.49, x10 = 64s);
    doubling the fingerprint makes near-collision mean near-identical
    again and the output linear. Same operator, same oracle shape —
    only n_bits turns (operators/dedup.py::simhash_near_pairs)."""
    docs = load_table(spark, sf, "documents")
    return dd.simhash_near_pairs(docs, n_bits=32, max_hamming=3)


@register(
    "simhash_near_pairs_wide64",
    f"""
    WITH fp AS (
      SELECT doc_id,
             CAST({_sql_simhash_bits(32, 3)} AS BIGINT) AS lo,
             CAST({_sql_simhash_bits(32, 2)} AS BIGINT) AS hi
      FROM (SELECT doc_id, list_transform({_SQL_WORDS}, t -> md5(t)) AS hx
            FROM documents)),
    bands AS (
      SELECT doc_id, lo, hi, b.band_id,
             CASE WHEN b.band_id < 2
                  THEN (lo >> (band_id * 16)) & 65535
                  ELSE (hi >> ((band_id - 2) * 16)) & 65535 END AS band_bits
      FROM fp, (VALUES (0), (1), (2), (3)) AS b(band_id))
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
                AS BIGINT) AS hamming
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_bits = b.band_bits
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
    """,
)
def simhash_near_pairs_wide64(spark, sf):
    """The width dial's PRODUCTION position: a 64-bit fingerprint
    (Manku et al., WWW'07 — the width web-scale simhash dedup ships
    with), banded 4 × 16 bits, exact Hamming ≤ 3 recall by pigeonhole.
    Motivated by a measured wall: the x30 slope run (150k homogeneous
    docs) put the 32-bit form at 247s with 3.9 BILLION band-join input
    pairs — 8-bit bands over a vocabulary-homogeneous corpus collide
    ~n² no matter the constant, so the dial must widen the BAND
    (2^16 buckets/band here), not just the fingerprint. Stored as two
    32-bit longs (lo = nibble top-bit votes, hi = second-bit votes,
    one shared md5 pass per token; a single 64-bit bitmap would need
    bit 63 — signed-BIGINT overflow in both engines' SQL). Same plan
    shape as the 16/32-bit forms: one band-key self-join
    (operators/dedup.py::simhash_near_pairs n_bits=64)."""
    docs = load_table(spark, sf, "documents")
    return dd.simhash_near_pairs(docs, n_bits=64, max_hamming=3)


#: transitive closure of the verified near-dup graph — DuckDB computes
#: it with a recursive CTE; Spark with iterative label propagation
_COMPONENTS_SQL_TEMPLATE = """
    WITH RECURSIVE edges AS ({edges}),
    sym AS (SELECT id_a AS a, id_b AS b FROM edges
            UNION ALL SELECT id_b, id_a FROM edges),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.id
    )
    SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS component
    FROM reach GROUP BY id
"""


def _keep_sql_from_components(edges_sql: str) -> str:
    """Rewrite the components closure into the keep/group-size report
    (one canonical representative per component with its cluster
    size). Shared by dedup_near_keep and dedup_near_keep_capped; the
    assert turns a drifted template (a silently no-op .replace —
    ADVICE r10) into an import-time failure instead of a confusing
    oracle column mismatch at gate time."""
    base = _COMPONENTS_SQL_TEMPLATE.format(edges=edges_sql)
    keep = base.replace(
        "SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS component\n"
        "    FROM reach GROUP BY id",
        "SELECT CAST(component AS BIGINT) AS keep_id,\n"
        "           CAST(COUNT(*) AS BIGINT) AS group_size\n"
        "    FROM (SELECT id, MIN(r) AS component FROM reach GROUP BY id)\n"
        "    GROUP BY component",
    )
    assert keep != base, (
        "_COMPONENTS_SQL_TEMPLATE drifted: the keep rewrite no-oped — "
        "update _keep_sql_from_components' replace target"
    )
    return keep


def _register_components():
    edges_sql = REGISTRY["ngram_jaccard_pairs"].sql

    @register(
        "dedup_components",
        _COMPONENTS_SQL_TEMPLATE.format(edges=edges_sql),
    )
    def dedup_components(spark, sf):
        """Near-dup clusters as connected components: min-reachable-id
        label per document over Jaccard ≥ 0.5 edges. Spark runs
        iterative label propagation (driver-coordinated rounds, one
        shuffle each, Pregel-style); the oracle computes the same
        closure with a recursive CTE — matching hashes validate a
        genuinely iterative distributed algorithm."""
        return dd.duplicate_components(
            load_table(spark, sf, "documents"), threshold=0.5
        )

    keep_sql = _keep_sql_from_components(edges_sql)

    @register("dedup_near_keep", keep_sql)
    def dedup_near_keep(spark, sf):
        """The APPLIED form of near-dup clustering: one canonical
        representative per component (the min-id member) with its
        cluster size — the doc list a curation pipeline actually
        keeps. One extra partial-agg shuffle on top of
        dedup_components' label propagation."""
        comp = dd.duplicate_components(
            load_table(spark, sf, "documents"), threshold=0.5
        )
        return comp.groupBy(F.col("component").alias("keep_id")).agg(
            F.count(F.lit(1)).alias("group_size")
        )

    comp_sql = _COMPONENTS_SQL_TEMPLATE.format(edges=edges_sql)
    keep_longest_sql = f"""
    WITH comp AS ({comp_sql}),
    ranked AS (
      SELECT comp.component, comp.doc_id, d.n_chars,
             COUNT(*) OVER (PARTITION BY comp.component) AS gs,
             ROW_NUMBER() OVER (PARTITION BY comp.component
                                ORDER BY d.n_chars DESC, comp.doc_id) AS rn
      FROM comp JOIN documents d ON d.doc_id = comp.doc_id)
    SELECT CAST(component AS BIGINT) AS cluster_id,
           CAST(doc_id AS BIGINT) AS keep_id,
           CAST(n_chars AS BIGINT) AS keep_n_chars,
           CAST(gs AS BIGINT) AS group_size
    FROM ranked WHERE rn = 1
    """

    @register("dedup_keep_longest", keep_longest_sql)
    def dedup_keep_longest(spark, sf):
        """Canonical selection by QUALITY, not id: per near-dup
        component keep the longest member (n_chars argmax, min-id
        tiebreak) — the production keep rule when duplicates are
        truncations/excerpts of one another and min-id would keep the
        fragment. One window shuffle on the component label on top of
        dedup_components; the n_chars annotation join carries only
        (id, length) and broadcasts under AQE at any corpus size."""
        docs = load_table(spark, sf, "documents")
        comp = dd.duplicate_components(docs, threshold=0.5)
        joined = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
        w = Window.partitionBy("component").orderBy(
            F.desc("n_chars"), F.asc("doc_id")
        )
        return (
            joined.withColumn("rn", F.row_number().over(w))
            .withColumn("gs", F.count(F.lit(1)).over(Window.partitionBy("component")))
            .where(F.col("rn") == 1)
            .select(
                F.col("component").alias("cluster_id"),
                F.col("doc_id").alias("keep_id"),
                F.col("n_chars").alias("keep_n_chars"),
                F.col("gs").cast("long").alias("group_size"),
            )
        )


_register_components()
_register_capped_keep()  # needs _COMPONENTS_SQL_TEMPLATE above


# ===========================================================================
# Embedding similarity surface
# ===========================================================================

_SQL_VEC = "embedding::DOUBLE[]"
_SQL_COS = (
    "list_dot_product(a.v, b.v) / "
    "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
)


@register(
    "emb_quantize_int8",
    f"""
    WITH v AS (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings),
    s AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
          FROM v),
    d AS (SELECT vec_id, v, scale,
                 list_transform(list_transform(v, x -> floor(x / scale + 0.5)),
                                q -> q * scale) AS dq
          FROM s WHERE scale > 0)
    SELECT vec_id, scale,
           sqrt(list_dot_product(v, v) - 2 * list_dot_product(v, dq)
                + list_dot_product(dq, dq)) AS err_l2,
           list_dot_product(v, dq)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(dq, dq)))
             AS recon_cos
    FROM d
    """,
)
def emb_quantize_int8(spark, sf):
    """Symmetric int8 scalar quantization of the embedding column
    (functions/vectors.py::quantize_int8): per-vector scale = max|v|/127,
    explicit floor(x+0.5) rounding (round() half-mode differs between
    engines; floor never does). Emits reconstruction diagnostics —
    L2 error and original↔dequantized cosine — as scalars; the int8
    payload itself is 4× smaller than float32, which at 100 TB decides
    whether the ANN working set fits executor memory. Pure HOF column
    math, no shuffle, no UDF."""
    from syncflux_spark.functions.vectors import (
        as_double,
        dequantize,
        int8_scale,
        quantize_int8,
    )

    emb = load_table(spark, sf, "embeddings")
    s = emb.select(
        "vec_id",
        as_double("embedding").alias("v"),
        int8_scale("embedding").alias("scale"),
    ).where(F.col("scale") > 0)
    d = s.select(
        "vec_id",
        "v",
        "scale",
        dequantize(quantize_int8("v", F.col("scale")), F.col("scale")).alias("dq"),
    )
    return d.select(
        "vec_id",
        "scale",
        F.sqrt(
            dot("v", "v") - F.lit(2) * dot("v", "dq") + dot("dq", "dq")
        ).alias("err_l2"),
        (dot("v", "dq") / (F.sqrt(dot("v", "v")) * F.sqrt(dot("dq", "dq")))).alias(
            "recon_cos"
        ),
    )


@register(
    "vocab_top_terms",
    f"""
    SELECT w AS word, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq,
           CAST(COUNT(*) AS BIGINT) AS total_tf
    FROM (SELECT doc_id, unnest({_SQL_WORDS}) AS w FROM documents)
    GROUP BY w
    ORDER BY doc_freq DESC, word
    LIMIT 100
    """,
)
def vocab_top_terms(spark, sf):
    """Top-100 vocabulary terms by document frequency — the stop-word/
    domain profile consulted before dedup caps and quality filters.
    Plans as TakeOrderedAndProject (per-partition heaps), never a
    global sort (operators/textops.py::vocab_top_terms)."""
    from syncflux_spark.operators.textops import vocab_top_terms as _vt

    return _vt(load_table(spark, sf, "documents"), k=100)


@register(
    "bigram_top_terms",
    f"""
    WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
    bg AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS bg
           FROM (SELECT doc_id, ws,
                        unnest(generate_series(1, len(ws) - 1)) AS i FROM w))
    SELECT bg AS bigram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq,
           CAST(COUNT(*) AS BIGINT) AS total_tf
    FROM bg
    GROUP BY bg
    ORDER BY doc_freq DESC, bigram
    LIMIT 100
    """,
)
def bigram_top_terms(spark, sf):
    """Top-100 corpus bigrams by document frequency — the phrase-level
    boilerplate profile (license blurbs, navigation chrome) consulted
    alongside the unigram vocabulary. Words staged before the shingle
    lambda; top-k plans as TakeOrderedAndProject
    (operators/textops.py::bigram_top_terms)."""
    from syncflux_spark.operators.textops import bigram_top_terms as _bt

    return _bt(load_table(spark, sf, "documents"), k=100)


@register(
    "doc_chunk_windows",
    f"""
    WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
    c AS (SELECT doc_id, CAST((start - 1) // 24 AS BIGINT) AS chunk_id,
                 ws[start:start+31] AS cw
          FROM (SELECT doc_id, ws,
                       unnest(generate_series(1, len(ws), 24)) AS start
                FROM w))
    SELECT doc_id, chunk_id, CAST(len(cw) AS BIGINT) AS n_tokens,
           md5(array_to_string(cw, ' ')) AS chunk_hash
    FROM c
    """,
)
def doc_chunk_windows(spark, sf):
    """Context-window chunking for training prep: each document split
    into 32-token windows with stride 24 (8-token overlap), emitted as
    (doc_id, chunk_id, n_tokens, chunk_hash). Pure in-row array ops —
    a sequence of chunk starts exploded, each chunk a slice of the
    staged words array; map-only, no shuffle, the 1→N expansion is
    bounded by tokens/stride. The oracle verifies exact chunk BYTES
    via md5."""
    docs = load_table(spark, sf, "documents")
    staged = docs.select("doc_id", words("text").alias("ws"))
    ch = staged.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws"), F.lit(24)),
                lambda s: F.slice("ws", s, 32),
            )
        ).alias("chunk_id", "cw"),
    )
    return ch.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size("cw").cast("long").alias("n_tokens"),
        F.md5(F.array_join("cw", " ")).alias("chunk_hash"),
    )


@register(
    "corpus_mixture_stats",
    f"""
    WITH t AS (SELECT source, lang,
                      CAST(len({_SQL_WORDS}) AS BIGINT) AS n_tok
               FROM documents),
    g AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_tok) AS BIGINT) AS n_tokens
          FROM t GROUP BY source, lang)
    SELECT source, lang, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE)
             / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS token_share
    FROM g
    """,
)
def corpus_mixture_stats(spark, sf):
    """Mixture composition report: docs / tokens / corpus token share
    per (source, lang) — the table a data-mixing plan is written
    against. One partial-agg shuffle to group; the share divides by a
    window total over the GROUP-level frame (a handful of rows), so
    the corpus is scanned once; exact integer token sums, single
    division."""
    docs = load_table(spark, sf, "documents")
    g = (
        docs.select("source", "lang", F.size(words("text")).cast("long").alias("n_tok"))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )
    total = F.sum("n_tokens").over(Window.partitionBy())
    return g.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / total.cast("double")).alias("token_share"),
    )


@register(
    "doc_size_weighted_sample",
    f"""
    WITH w AS (SELECT doc_id, CAST(len({_SQL_WORDS}) AS BIGINT) AS n_tok
               FROM documents)
    SELECT doc_id, n_tok,
           least(greatest(CAST(n_tok AS DOUBLE) / 400.0::DOUBLE,
                          0.1::DOUBLE), 1.0::DOUBLE) AS keep_p
    FROM w
    WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))
               AS BIGINT)
          < CAST(least(greatest(CAST(n_tok AS DOUBLE) / 400.0::DOUBLE,
                                0.1::DOUBLE), 1.0::DOUBLE)
                 * 281474976710656.0::DOUBLE AS BIGINT)
    """,
)
def doc_size_weighted_sample(spark, sf):
    """Deterministic weighted sampling: keep probability proportional
    to document length (clamped to [0.1, 1]) — sampling ∝ size, the
    standard mixing lever for length-skewed corpora. The coin is the
    doc_id's md5-derived 48-bit fraction compared against p·2^48 as an
    exact integer threshold — reproducible across engines, runs and
    partitionings, no RNG state. Map-only, no shuffle."""
    docs = load_table(spark, sf, "documents")
    w = docs.select("doc_id", F.size(words("text")).cast("long").alias("n_tok"))
    p = F.least(
        F.greatest(F.col("n_tok").cast("double") / F.lit(400.0), F.lit(0.1)),
        F.lit(1.0),
    )
    coin = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10
    ).cast("long")
    thresh = (p * F.lit(281474976710656.0)).cast("long")
    return w.select("doc_id", "n_tok", p.alias("keep_p")).where(coin < thresh)


@register(
    "token_diversity",
    f"""
    WITH tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
                FROM (SELECT doc_id, unnest({_SQL_WORDS}) AS w FROM documents)
                GROUP BY doc_id, w),
    g AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
                 CAST(COUNT(*) AS BIGINT) AS n_types,
                 CAST(SUM(tf * tf) AS BIGINT) AS sum_tf2
          FROM tf GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_types,
           CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
           1.0::DOUBLE - CAST(sum_tf2 AS DOUBLE)
             / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)) AS gini
    FROM g WHERE n_tokens > 0
    """,
)
def token_diversity(spark, sf):
    """Per-doc lexical diversity: type-token ratio + Gini impurity of
    the token distribution (log-free entropy stand-in, exact-rational).
    The Spark side folds the sorted words array in-row — no explode,
    no shuffle; the oracle states the same semantics relationally and
    exact integers make them identical
    (operators/textops.py::token_diversity)."""
    from syncflux_spark.operators.textops import token_diversity as _td

    return _td(load_table(spark, sf, "documents"))


@register(
    "lm_predictability",
    f"""
    WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
    bg AS (SELECT doc_id, i, array_to_string(ws[i:i+1], ' ') AS bg
           FROM (SELECT doc_id, ws,
                        unnest(generate_series(1, len(ws) - 1)) AS i FROM w)),
    cb AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c_bg FROM bg GROUP BY bg),
    cw AS (SELECT split_part(bg, ' ', 1) AS w1,
                  CAST(SUM(c_bg) AS BIGINT) AS c_w1 FROM cb GROUP BY w1),
    pt AS (SELECT cb.bg, CAST(c_bg AS DOUBLE) / CAST(c_w1 AS DOUBLE) AS p
           FROM cb JOIN cw ON split_part(cb.bg, ' ', 1) = cw.w1),
    j AS (SELECT doc_id, i, p FROM bg JOIN pt USING (bg))
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           list_reduce([0.0::DOUBLE] || list(p ORDER BY i), (acc, x) -> acc + x)
             / CAST(COUNT(*) AS DOUBLE) AS mean_prob
    FROM j GROUP BY doc_id
    """,
)
def lm_predictability(spark, sf):
    """Per-doc mean in-corpus bigram transition probability — the
    log-free statistical-LM quality filter (CCNet-style): shuffled or
    off-domain text scores low. Probabilities are single divisions of
    exact counts, summed per doc in bigram-position order via an
    in-row fold (operators/textops.py::lm_predictability)."""
    from syncflux_spark.operators.textops import lm_predictability as _lm

    return _lm(load_table(spark, sf, "documents"))


@register(
    "bm25_search",
    f"""
    WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
    dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM w),
    tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, unnest(ws) AS t FROM w)
           WHERE t IN ('batch', 'scan', 'window')
           GROUP BY doc_id, t),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(dl) AS BIGINT) AS total_dl FROM dl),
    dfq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
    sc AS (SELECT tf.doc_id, tf.t,
             ((CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5::DOUBLE)
              / (CAST(df AS DOUBLE) + 0.5::DOUBLE))
             * (CAST(tf AS DOUBLE) * 2.2::DOUBLE)
             / (CAST(tf AS DOUBLE) + 1.2::DOUBLE *
                (0.25::DOUBLE + 0.75::DOUBLE *
                 (CAST(dl AS DOUBLE)
                  / (CAST(total_dl AS DOUBLE) / CAST(n AS DOUBLE))))) AS s
           FROM tf JOIN dl USING (doc_id) CROSS JOIN stats JOIN dfq USING (t))
    SELECT doc_id,
           COALESCE(MAX(CASE WHEN t = 'batch' THEN s END), 0.0::DOUBLE)
         + COALESCE(MAX(CASE WHEN t = 'scan' THEN s END), 0.0::DOUBLE)
         + COALESCE(MAX(CASE WHEN t = 'window' THEN s END), 0.0::DOUBLE)
           AS score
    FROM sc GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 50
    """,
)
def bm25_search(spark, sf):
    """Keyword search over the corpus: top-50 docs by BM25 score for
    the query bag {{batch, scan, window}} (k1=1.2, b=0.75; log-free
    rational idf — ranking-identical, libm-free so both engines agree
    bitwise). The corpus-sized token stream is filtered to the query
    terms before any shuffle; corpus scalars broadcast; top-k is a
    per-partition heap (operators/textops.py::bm25_rank)."""
    from syncflux_spark.operators.textops import bm25_rank

    return bm25_rank(
        load_table(spark, sf, "documents"), terms=["batch", "scan", "window"]
    )


@register(
    "pii_scrub_stats",
    r"""
    WITH staged AS (
      SELECT doc_id,
             trim(text) || ' user' || CAST(doc_id AS VARCHAR)
               || '@example.com https://h' || CAST(doc_id % 97 AS VARCHAR)
               || '.example.com/p/' || CAST(doc_id AS VARCHAR)
               || CASE WHEN doc_id % 3 = 0
                       THEN ' ref 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END AS t
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t, 'https?://[^\s]+')) AS BIGINT) AS n_url,
           CAST(len(regexp_extract_all(t, '\b\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 'https?://[^\s]+', '<URL>', 'g'),
                 '\b\d{3}-\d{4}\b', '<PHONE>', 'g')) AS scrub_hash
    FROM staged
    """,
)
def pii_scrub_stats(spark, sf):
    """PII redaction pass over the corpus: mask emails / URLs / phone
    fragments, count masks per doc, hash the scrubbed text. The
    fixture corpus is PII-free by construction, so the query first
    injects deterministic doc_id-derived PII spans — the masks are
    then non-trivial and the oracle verifies the exact scrubbed bytes.
    Map-only whole-stage-codegen pass, no UDFs, no shuffle
    (operators/textops.py::scrub_pii)."""
    from syncflux_spark.operators.textops import scrub_pii

    docs = load_table(spark, sf, "documents")
    did = F.col("doc_id").cast("string")
    phone = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit(" ref 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    staged = docs.select(
        "doc_id",
        F.concat(
            F.trim(F.col("text")),
            F.lit(" user"),
            did,
            F.lit("@example.com https://h"),
            (F.col("doc_id") % 97).cast("string"),
            F.lit(".example.com/p/"),
            did,
            phone,
        ).alias("text"),
    )
    out = scrub_pii(staged)
    return out.select(
        "doc_id",
        "n_email",
        "n_url",
        "n_phone",
        F.md5(F.col("scrubbed")).alias("scrub_hash"),
    )


@register(
    "benchmark_contamination",
    r"""
    WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
               FROM documents),
    sh AS (SELECT doc_id, array_to_string(ws[i:i+3], ' ') AS s
           FROM (SELECT doc_id, ws,
                        unnest(generate_series(1, len(ws) - 3)) AS i FROM w)),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
    tr AS (SELECT DISTINCT doc_id, s FROM sh WHERE doc_id % 20 != 0)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
    FROM tr JOIN bench USING (s)
    GROUP BY doc_id
    """,
)
def benchmark_contamination(spark, sf):
    """Decontamination gate: training docs (doc_id % 20 != 0) sharing
    any 4-word shingle with the held-out benchmark slice (doc_id % 20
    == 0), with distinct-shared-shingle counts. Benchmark shingles are
    broadcast — one map-side probe of the training corpus, no shuffle
    of the big side (operators/dedup.py::contamination_check)."""
    docs = load_table(spark, sf, "documents")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    train = docs.where(F.col("doc_id") % 20 != 0)
    return dd.contamination_check(train, bench, k=4)


@register(
    "doc_top_terms",
    f"""
    WITH tf AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM
        (SELECT doc_id, unnest({_SQL_WORDS}) AS w FROM documents)
      GROUP BY doc_id, w),
    dfreq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w)
    SELECT doc_id, term, tf, df, rank FROM (
      SELECT tf.doc_id, tf.w AS term, tf.tf, dfreq.df,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf DESC, dfreq.df ASC, tf.w ASC) AS BIGINT) AS rank
      FROM tf JOIN dfreq USING (w))
    WHERE rank <= 3
    """,
)
def doc_top_terms(spark, sf):
    """Per-doc salient terms by log-free TF-IDF ordering (tf DESC,
    corpus df ASC, term ASC) — keyword extraction at corpus scale with
    a single explode feeding both frequency tables
    (operators/textops.py::doc_top_terms)."""
    from syncflux_spark.operators.textops import doc_top_terms as _tt

    return _tt(load_table(spark, sf, "documents"), k=3)


@register(
    "repetition_stats",
    f"""
    WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
    pos AS (SELECT doc_id, ws,
                   unnest(generate_series(1, len(ws))) AS i FROM w),
    tok AS (SELECT doc_id, i, ws[i] AS t,
                   CASE WHEN i < len(ws) THEN ws[i] || ' ' || ws[i+1] END AS b
            FROM pos),
    tc AS (SELECT doc_id, MAX(c) AS top_token_cnt FROM
            (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t)
           GROUP BY doc_id),
    bc AS (SELECT doc_id, MAX(c) AS top_bigram_cnt FROM
            (SELECT doc_id, b, COUNT(*) AS c FROM tok
             WHERE b IS NOT NULL GROUP BY doc_id, b)
           GROUP BY doc_id),
    mr AS (SELECT doc_id, MAX(c) AS max_token_run FROM
            (SELECT doc_id, t, g, COUNT(*) AS c FROM
              (SELECT doc_id, t,
                      i - ROW_NUMBER() OVER (PARTITION BY doc_id, t ORDER BY i)
                        AS g
               FROM tok)
             GROUP BY doc_id, t, g)
           GROUP BY doc_id),
    base AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
                    CAST(GREATEST(len(ws) - 1, 0) AS BIGINT) AS n_bigrams
             FROM w)
    SELECT base.doc_id, n_tokens, n_bigrams,
           CAST(COALESCE(top_token_cnt, 0) AS BIGINT) AS top_token_cnt,
           CAST(COALESCE(top_bigram_cnt, 0) AS BIGINT) AS top_bigram_cnt,
           CAST(COALESCE(max_token_run, 0) AS BIGINT) AS max_token_run,
           CASE WHEN n_bigrams > 0
                THEN CAST(COALESCE(top_bigram_cnt, 0) AS BIGINT) / n_bigrams
           END AS top_bigram_frac
    FROM base
    LEFT JOIN tc USING (doc_id)
    LEFT JOIN bc USING (doc_id)
    LEFT JOIN mr USING (doc_id)
    """,
)
def repetition_stats(spark, sf):
    """Gopher/C4-style repetition filters: top token/bigram share and
    longest same-token run, all computed as in-row array folds (zero
    shuffle — operators/textops.py::repetition_stats); the oracle
    recomputes the same exact counts via unnest + GROUP BY and a
    gaps-and-islands window for the run length."""
    from syncflux_spark.operators.textops import repetition_stats as _rs

    return _rs(load_table(spark, sf, "documents"))


@register(
    "emb_norms",
    f"""
    SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
           sqrt(list_dot_product({_SQL_VEC}, {_SQL_VEC})) AS l2_norm,
           list_dot_product({_SQL_VEC}, {_SQL_VEC}) AS sq_norm
    FROM embeddings
    """,
)
def emb_norms(spark, sf):
    """Per-vector norms — deterministic in-order accumulation."""
    emb = load_table(spark, sf, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        norm("embedding").alias("l2_norm"),
        dot("embedding", "embedding").alias("sq_norm"),
    )


@register(
    "knn_threshold_pairs",
    f"""
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_SQL_COS} AS cos_sim
    FROM (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings WHERE vec_id < 10) a,
         (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings) b
    WHERE a.vec_id != b.vec_id AND {_SQL_COS} >= 0.25
    """,
)
def knn_threshold_pairs(spark, sf):
    """Similarity search, threshold form: all corpus vectors with
    cosine ≥ 0.25 to each query (vec_id < 10). Rank-free → no tie
    sensitivity; the query side broadcasts."""
    from syncflux_spark.operators.similarity import threshold_pairs

    emb = load_table(spark, sf, "embeddings")
    return threshold_pairs(emb, emb.where(F.col("vec_id") < 10), 0.25)


@register(
    "knn_topk",
    f"""
    SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INTEGER) AS rank
    FROM (SELECT query_id, neighbor_id, cos_sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos_sim DESC, neighbor_id) AS rn
          FROM (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                       {_SQL_COS} AS cos_sim
                FROM (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings
                      WHERE vec_id < 10) a,
                     (SELECT vec_id, {_SQL_VEC} AS v FROM embeddings) b
                WHERE a.vec_id != b.vec_id))
    WHERE rn <= 5
    """,
)
def knn_topk(spark, sf):
    """Brute-force exact cosine top-5 per query — the ANN correctness
    baseline. Bit-identical cosines make the ranking engine-stable;
    ties break on neighbor_id."""
    from syncflux_spark.operators.similarity import brute_force_topk

    emb = load_table(spark, sf, "embeddings")
    return brute_force_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


# ===========================================================================
# Time-series analytics extras: as-of join, sessionization, pivot
# ===========================================================================


@register(
    "pq_ann_topk",
    """
    WITH v AS (SELECT vec_id,
                      list_transform(embedding::DOUBLE[],
                        x -> CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS vm
               FROM embeddings),
    ms AS (SELECT unnest(generate_series(0, 7)) AS m),
    sub AS (SELECT vec_id, m, vm[m * 8 + 1 : m * 8 + 8] AS subv FROM v, ms),
    cb AS (SELECT m, vec_id AS code, subv AS cw FROM sub WHERE vec_id < 16),
    enc0 AS (SELECT s.vec_id, s.m, c.code,
                    list_reduce(
                      list_transform(range(1, 9),
                        i -> (s.subv[i] - c.cw[i]) * (s.subv[i] - c.cw[i])),
                      (a, b) -> a + b) AS d
             FROM sub s JOIN cb c ON c.m = s.m),
    enc AS (SELECT vec_id, m, code FROM
              (SELECT vec_id, m, code,
                      row_number() OVER (PARTITION BY vec_id, m
                                         ORDER BY d, code) AS rn
               FROM enc0)
            WHERE rn = 1),
    qt AS (SELECT s.vec_id AS query_id, s.m, c.code,
                  list_reduce(
                    list_transform(range(1, 9),
                      i -> (s.subv[i] - c.cw[i]) * (s.subv[i] - c.cw[i])),
                    (a, b) -> a + b) AS qd
           FROM sub s JOIN cb c ON c.m = s.m
           WHERE s.vec_id < 10),
    adc AS (SELECT q.query_id, e.vec_id,
                   CAST(SUM(q.qd) AS BIGINT) AS approx_d_micro2
            FROM enc e JOIN qt q ON q.m = e.m AND q.code = e.code
            WHERE q.query_id != e.vec_id
            GROUP BY q.query_id, e.vec_id)
    SELECT query_id, vec_id AS neighbor_id, approx_d_micro2,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT query_id, vec_id, approx_d_micro2,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY approx_d_micro2, vec_id) AS rn
          FROM adc)
    WHERE rn <= 5
    """,
)
def pq_ann_topk(spark, sf):
    """Product-quantization ANN (operators/similarity.py::pq_topk):
    64-dim vectors compressed to 8 subspace codes against a
    16-codeword book, queries scored by asymmetric distance — the
    memory-side half of the production IVF+PQ pairing (IVF prunes
    which lists to scan; PQ makes the scanned lists 64× smaller).
    Everything is exact integer µ² arithmetic, so the oracle checks
    the index build (encoding argmins), the ADC tables, and the final
    ranking bit-for-bit — an oracle-gated ANN index, which float PQ
    cannot offer. Recall vs exact cosine is gated separately in
    tests/test_ann_quality.py."""
    from syncflux_spark.operators.similarity import pq_topk

    emb = load_table(spark, sf, "embeddings")
    return pq_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


@register(
    "pq_rescored_topk",
    """
    WITH v AS (SELECT vec_id,
                      list_transform(embedding::DOUBLE[],
                        x -> CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS vm
               FROM embeddings),
    ms AS (SELECT unnest(generate_series(0, 7)) AS m),
    sub AS (SELECT vec_id, m, vm[m * 8 + 1 : m * 8 + 8] AS subv FROM v, ms),
    cb AS (SELECT m, vec_id AS code, subv AS cw FROM sub WHERE vec_id < 16),
    enc0 AS (SELECT s.vec_id, s.m, c.code,
                    list_reduce(
                      list_transform(range(1, 9),
                        i -> (s.subv[i] - c.cw[i]) * (s.subv[i] - c.cw[i])),
                      (a, b) -> a + b) AS d
             FROM sub s JOIN cb c ON c.m = s.m),
    enc AS (SELECT vec_id, m, code FROM
              (SELECT vec_id, m, code,
                      row_number() OVER (PARTITION BY vec_id, m
                                         ORDER BY d, code) AS rn
               FROM enc0)
            WHERE rn = 1),
    qt AS (SELECT s.vec_id AS query_id, s.m, c.code,
                  list_reduce(
                    list_transform(range(1, 9),
                      i -> (s.subv[i] - c.cw[i]) * (s.subv[i] - c.cw[i])),
                    (a, b) -> a + b) AS qd
           FROM sub s JOIN cb c ON c.m = s.m
           WHERE s.vec_id < 10),
    adc AS (SELECT q.query_id, e.vec_id,
                   CAST(SUM(q.qd) AS BIGINT) AS ad
            FROM enc e JOIN qt q ON q.m = e.m AND q.code = e.code
            WHERE q.query_id != e.vec_id
            GROUP BY q.query_id, e.vec_id),
    short AS (SELECT query_id, vec_id FROM
                (SELECT query_id, vec_id,
                        row_number() OVER (PARTITION BY query_id
                                           ORDER BY ad, vec_id) AS rn
                 FROM adc)
              WHERE rn <= 50),
    resc AS (SELECT s.query_id, s.vec_id AS neighbor_id,
                    list_reduce(
                      list_transform(range(1, 65),
                        i -> (qv.vm[i] - nv.vm[i]) * (qv.vm[i] - nv.vm[i])),
                      (a, b) -> a + b) AS d_micro2
             FROM short s
             JOIN v nv ON nv.vec_id = s.vec_id
             JOIN v qv ON qv.vec_id = s.query_id)
    SELECT query_id, neighbor_id, d_micro2, CAST(rn AS INTEGER) AS rank
    FROM (SELECT query_id, neighbor_id, d_micro2,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY d_micro2, neighbor_id) AS rn
          FROM resc)
    WHERE rn <= 5
    """,
)
def pq_rescored_topk(spark, sf):
    """Two-stage PQ retrieval under the oracle gate: ADC shortlist
    (R=50) re-ranked by exact integer L2 over the full vectors —
    recall@5 0.16 → 0.72 on this fixture vs raw ADC
    (operators/similarity.py::pq_rescored_topk). Both stages are
    exact integer arithmetic, so the oracle replays the COMPLETE
    retrieval pipeline — compressed scan, shortlist cut, rescore,
    final ranking — bit-for-bit."""
    from syncflux_spark.operators.similarity import pq_rescored_topk as pq_r

    emb = load_table(spark, sf, "embeddings")
    return pq_r(emb, emb.where(F.col("vec_id") < 10), k=5, shortlist=50)


@register(
    "drift_value_chi2",
    """
    WITH b AS (
      SELECT event_type,
             LEAST(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) // 50000000, 9)
               AS bin,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS in_a
      FROM events
    ),
    c AS (
      SELECT event_type, bin,
             CAST(SUM(in_a) AS BIGINT) AS n_a,
             CAST(SUM(1 - in_a) AS BIGINT) AS n_b
      FROM b GROUP BY event_type, bin
    ),
    t AS (
      SELECT event_type, bin, n_a, n_b,
             CAST(SUM(n_a) OVER (PARTITION BY event_type) AS BIGINT) AS tot_a,
             CAST(SUM(n_b) OVER (PARTITION BY event_type) AS BIGINT) AS tot_b
      FROM c
    ),
    contrib AS (
      SELECT event_type, bin, n_a, n_b,
             CASE WHEN n_a > 0 AND tot_a > 0 THEN
               (n_b - CAST(n_a * tot_b AS BIGINT)
                      / CAST(tot_a AS BIGINT))
               * (n_b - CAST(n_a * tot_b AS BIGINT) / CAST(tot_a AS BIGINT))
               / (CAST(n_a * tot_b AS BIGINT) / CAST(tot_a AS BIGINT))
             END AS term
      FROM t
    ),
    g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_bins,
             CAST(COUNT(term) AS BIGINT) AS n_bins_used,
             list(term ORDER BY bin) AS terms
      FROM contrib GROUP BY event_type
    )
    SELECT event_type, n_bins, n_bins_used,
           list_reduce([0.0::DOUBLE] || list_filter(terms, x -> x IS NOT NULL),
                       (a, x) -> a + x) AS chi2
    FROM g
    """,
)
def drift_value_chi2(spark, sf):
    """Distribution-drift detector: Pearson χ² between the value
    histograms of the month's first and second half, per event type —
    the data-quality gate a 100 TB ingest pipeline runs before
    appending a new partition (feature drift upstream shows up here
    before it shows up in model metrics). 10 fixed 50-unit value
    bins; expected-under-no-drift e = n_a·(tot_b/tot_a) per bin;
    χ² = Σ (n_b−e)²/e over bins with support. Counts are exact
    integers; each bin's term is one fixed float chain; the
    cross-bin sum — the one float reduction — runs as an IN-ROW fold
    in bin order (zero-seeded, skipping empty bins), the engine's
    standard trick for order-deterministic float totals. One shuffle
    for the histogram, per-type totals ride a whole-partition window
    on it."""
    ev = load_table(spark, sf, "events")
    b = ev.select(
        "event_type",
        F.least(F.expr(
            "CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) div 50000000"
        ), F.lit(9)).alias("bin"),
        F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), 1)
        .otherwise(0)
        .alias("in_a"),
    )
    c = b.groupBy("event_type", "bin").agg(
        F.sum("in_a").cast("long").alias("n_a"),
        F.sum(1 - F.col("in_a")).cast("long").alias("n_b"),
    )
    wt = Window.partitionBy("event_type")
    t = c.select(
        "event_type",
        "bin",
        "n_a",
        "n_b",
        F.sum("n_a").over(wt).cast("long").alias("tot_a"),
        F.sum("n_b").over(wt).cast("long").alias("tot_b"),
    )
    e = (F.col("n_a") * F.col("tot_b")).cast("long") / F.col("tot_a").cast(
        "long"
    )
    term = F.when(
        (F.col("n_a") > 0) & (F.col("tot_a") > 0),
        (F.col("n_b") - e) * (F.col("n_b") - e) / e,
    )
    contrib = t.select("event_type", "bin", term.alias("term"))
    g = contrib.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.count("term").cast("long").alias("n_bins_used"),
        F.array_sort(F.collect_list(F.struct("bin", "term"))).alias("_ts"),
    )
    chi2 = F.aggregate(
        F.filter(F.transform("_ts", lambda s: s["term"]), lambda x: x.isNotNull()),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return g.select("event_type", "n_bins", "n_bins_used", chi2.alias("chi2"))


@register(
    "ts_asof_purchase",
    """
    WITH clicks AS (SELECT user_id, ts, event_id FROM events
                    WHERE event_type = 'click'),
         purch AS (SELECT user_id, ts, MAX(value) AS pv FROM events
                   WHERE event_type = 'purchase' GROUP BY user_id, ts)
    SELECT c.event_id, c.user_id,
           CAST(epoch_us(c.ts) AS BIGINT) AS ts_us,
           CAST(epoch_us(p.ts) AS BIGINT) AS purchase_ts_us,
           p.pv AS purchase_value
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND p.ts <= c.ts
    """,
)
def ts_asof_purchase(spark, sf):
    """As-of join: each click enriched with the user's most recent
    prior (or same-instant) purchase. Union+window implementation —
    one shuffle on the key, no per-row range probe (operators/
    downsample.py::asof_join); the oracle uses DuckDB's native ASOF
    JOIN, so parity validates the semantics, not just the plumbing.
    The right side is pre-aggregated per (user, ts) so 'latest' is
    well-defined in both engines."""
    from syncflux_spark.operators.downsample import asof_join

    ev = load_table(spark, sf, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purch = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pv"))
    )
    joined = asof_join(clicks, purch, ["user_id"], "ts", ["pv"])
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("ts_asof").alias("purchase_ts_us"),
        F.col("pv_asof").alias("purchase_value"),
    )


@register(
    "ts_asof_tolerance",
    """
    WITH clicks AS (SELECT user_id, ts, event_id FROM events
                    WHERE event_type = 'click'),
         purch AS (SELECT user_id, ts, MAX(value) AS pv FROM events
                   WHERE event_type = 'purchase' GROUP BY user_id, ts),
         matched AS (
           SELECT c.event_id, c.user_id,
                  CAST(epoch_us(c.ts) AS BIGINT) AS ts_us,
                  CAST(epoch_us(p.ts) AS BIGINT) AS asof_ts_us,
                  p.pv
           FROM clicks c ASOF LEFT JOIN purch p
             ON c.user_id = p.user_id AND c.ts >= p.ts)
    SELECT event_id, user_id, ts_us,
           CASE WHEN ts_us - asof_ts_us <= 3600000000
                THEN asof_ts_us END AS purchase_ts_us,
           CASE WHEN ts_us - asof_ts_us <= 3600000000
                THEN pv END AS purchase_value,
           CASE WHEN asof_ts_us IS NOT NULL
                 AND ts_us - asof_ts_us <= 3600000000
                THEN 1 ELSE 0 END AS fresh
    FROM matched
    """,
)
def ts_asof_tolerance(spark, sf):
    """As-of join with a STALENESS BOUND (pandas merge_asof
    ``tolerance`` semantics): each click takes the user's most recent
    prior purchase only if it happened within the last hour —
    matches older than the tolerance are nulled AFTER the as-of
    resolution, not re-matched to nothing-newer (the subtle
    difference from filtering the right side first: a stale nearest
    match must not let an even-staler one through). Same
    union+window single-shuffle plumbing as ts_asof_purchase; the
    tolerance is a post-projection, costing nothing. The oracle uses
    DuckDB's native ASOF JOIN plus the same post-case, so parity
    validates semantics against an independent implementation."""
    from syncflux_spark.operators.downsample import asof_join

    ev = load_table(spark, sf, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purch = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pv"))
    )
    joined = asof_join(clicks, purch, ["user_id"], "ts", ["pv"])
    ts_us = F.unix_micros("ts")
    asof_us = F.unix_micros("ts_asof")
    fresh_cond = (ts_us - asof_us) <= 3_600_000_000
    return joined.select(
        "event_id",
        "user_id",
        ts_us.alias("ts_us"),
        F.when(fresh_cond, asof_us).alias("purchase_ts_us"),
        F.when(fresh_cond, F.col("pv_asof")).alias("purchase_value"),
        F.when(asof_us.isNotNull() & fresh_cond, 1)
        .otherwise(0)
        .alias("fresh"),
    )


@register(
    "ts_type_correlation",
    """
    WITH h AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS hr,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, hr
    ),
    hours AS (SELECT DISTINCT hr FROM h),
    types AS (SELECT DISTINCT event_type FROM h),
    grid AS (SELECT t.event_type, hours.hr,
                    CAST(COALESCE(h.n, 0) AS BIGINT) AS n
             FROM types t CROSS JOIN hours
             LEFT JOIN h ON h.event_type = t.event_type
                        AND h.hr = hours.hr),
    pair AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(a.n) AS BIGINT) AS sx,
             CAST(SUM(b.n) AS BIGINT) AS sy,
             CAST(SUM(a.n * b.n) AS BIGINT) AS sxy,
             CAST(SUM(a.n * a.n) AS BIGINT) AS sxx,
             CAST(SUM(b.n * b.n) AS BIGINT) AS syy
      FROM grid a JOIN grid b
        ON a.hr = b.hr AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT type_a, type_b, n_hours,
           CASE WHEN (n_hours * sxx - sx * sx) > 0
                 AND (n_hours * syy - sy * sy) > 0
                THEN (CAST(n_hours * sxy - sx * sy AS BIGINT))
                     / (sqrt(CAST(n_hours * sxx - sx * sx AS BIGINT))
                        * sqrt(CAST(n_hours * syy - sy * sy AS BIGINT)))
           END AS pearson_r
    FROM pair
    """,
)
def ts_type_correlation(spark, sf):
    """Cross-series correlation matrix: Pearson r between the HOURLY
    count series of every event-type pair — the "which metrics move
    together" observability primitive (error counts tracking checkout
    outages, etc.). Hour grids are densified with zeros first
    (missing hours carry signal; skipping them biases r toward
    co-active hours). All five moments (Σx, Σy, Σxy, Σx², Σy²) are
    exact int64 sums over the joined grid — order-free — and r is
    ONE fixed float chain (two sqrts, one divide) on them;
    n·Σx² ≲ 744·(hourly count)² keeps int64 headroom to ~10¹⁴
    hourly events. The hour grid is |types|·|hours| — metadata-sized
    relative to raw events — so the pair join is cheap at any
    corpus scale; raw events shuffle exactly once into the hourly
    rollup."""
    ev = load_table(spark, sf, "events")
    h = ev.groupBy(
        "event_type",
        F.unix_micros(F.date_trunc("hour", "ts")).alias("hr"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    from syncflux_spark.utils import eager_persist

    h = eager_persist(h)  # hours dim, types dim, and the grid read it
    hours = h.select("hr").distinct()
    types = h.select("event_type").distinct()
    grid = (
        types.crossJoin(hours)
        .join(h, ["event_type", "hr"], "left")
        .select(
            "event_type", "hr", F.coalesce("n", F.lit(0)).cast("long").alias("n")
        )
    )
    a, b = grid.alias("a"), grid.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.hr") == F.col("b.hr"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum("a.n").cast("long").alias("sx"),
            F.sum("b.n").cast("long").alias("sy"),
            F.sum(F.col("a.n") * F.col("b.n")).cast("long").alias("sxy"),
            F.sum(F.col("a.n") * F.col("a.n")).cast("long").alias("sxx"),
            F.sum(F.col("b.n") * F.col("b.n")).cast("long").alias("syy"),
        )
    )
    n = F.col("n_hours")
    vx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("long")
    vy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("long")
    cov = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("long")
    return pair.select(
        "type_a",
        "type_b",
        "n_hours",
        F.when((vx > 0) & (vy > 0), cov / (F.sqrt(vx) * F.sqrt(vy))).alias(
            "pearson_r"
        ),
    )


@register(
    "ts_changepoint",
    """
    WITH g AS (
      SELECT user_id, event_type,
             list(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)
                  ORDER BY ts, value) AS xs,
             list(CAST(epoch_us(ts) AS BIGINT) ORDER BY ts, value) AS tss
      FROM events GROUP BY user_id, event_type
    ),
    d AS (
      SELECT user_id, event_type, xs, tss,
             CAST(len(xs) AS BIGINT) AS n,
             list_reduce([CAST(0 AS BIGINT)] || xs, (a, x) -> a + x) AS s,
             list_transform(range(1, len(xs)),
               t -> abs(CAST(len(xs) AS BIGINT)
                          * list_reduce([CAST(0 AS BIGINT)] || xs[1:t],
                                        (a, x) -> a + x)
                        - CAST(t AS BIGINT)
                          * list_reduce([CAST(0 AS BIGINT)] || xs,
                                        (a, x) -> a + x))) AS devs
      FROM g
    )
    SELECT user_id, event_type, n AS n_points,
           CASE WHEN n > 1 THEN CAST(list_position(devs, list_max(devs))
                                     AS BIGINT) END AS cp_index,
           CASE WHEN n > 1 THEN tss[list_position(devs, list_max(devs))]
           END AS cp_ts_us,
           CASE WHEN n > 1 THEN list_max(devs) END AS max_dev_scaled,
           CASE WHEN n > 1 THEN
             CASE WHEN n * list_reduce([CAST(0 AS BIGINT)]
                          || xs[1:list_position(devs, list_max(devs))],
                          (a, x) -> a + x)
                       - CAST(list_position(devs, list_max(devs)) AS BIGINT) * s
                       > 0
                  THEN 1 ELSE -1 END
           END AS direction
    FROM d
    """,
)
def ts_changepoint(spark, sf):
    """CUSUM changepoint detection per series: the index t maximizing
    |n·(Σᵢ≤t xᵢ) − t·Σx| — the classic cumulative-deviation statistic
    (a level shift at t makes the prefix sums bow away from the
    straight line t·mean), reported with its timestamp and the shift
    direction. The usual formulation subtracts the MEAN per step
    (a division); multiplying through by n keeps every deviation an
    exact int64 — n·Σ|x| ≲ 2⁵³ up to ~10⁶-point series at 10⁶-micro
    values — so argmax and ties (first maximizing index) are
    engine-deterministic with no float anywhere. In-row O(n²) prefix
    sums over the sorted value list (series here are ≤ dozens of
    points; a million-point series would flip to the single-pass
    running-fold form). One shuffle, plan-asserted single-exchange."""
    ev = load_table(spark, sf, "events")
    g = ev.groupBy("user_id", "event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "value"))),
            lambda s: F.floor(s["value"] * 1_000_000 + F.lit(0.5)).cast("long"),
        ).alias("xs"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "value", F.unix_micros("ts").alias("us")))
            ),
            lambda s: s["us"],
        ).alias("tss"),
    )
    n = F.size("xs").cast("long")
    total = F.aggregate("xs", F.lit(0).cast("long"), lambda a, x: a + x)

    def prefix(t):
        return F.aggregate(
            F.slice("xs", F.lit(1), t), F.lit(0).cast("long"), lambda a, x: a + x
        )

    d = g.select(
        "user_id",
        "event_type",
        "xs",
        "tss",
        n.alias("n"),
        total.alias("s"),
        F.transform(
            # sequence(1, 0) would DESCEND for single-point series —
            # clamp to an empty sequence instead
            F.when(
                F.size("xs") > 1, F.sequence(F.lit(1), F.size("xs") - 1)
            ).otherwise(F.array().cast("array<int>")),
            lambda t: F.abs(n * prefix(t) - t.cast("long") * total),
        ).alias("devs"),
    )
    cp = F.array_position(F.col("devs"), F.array_max("devs")).cast("long")
    seg = F.aggregate(
        F.slice("xs", F.lit(1), cp.cast("int")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    has = F.col("n") > 1
    return d.select(
        "user_id",
        "event_type",
        F.col("n").alias("n_points"),
        F.when(has, cp).alias("cp_index"),
        F.when(has, F.element_at("tss", cp.cast("int"))).alias("cp_ts_us"),
        F.when(has, F.array_max("devs")).alias("max_dev_scaled"),
        F.when(
            has,
            F.when(F.col("n") * seg - cp * F.col("s") > 0, 1).otherwise(-1),
        ).alias("direction"),
    )


@register(
    "ts_theil_sen",
    """
    WITH g AS (
      SELECT user_id, event_type,
             list(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)
                  ORDER BY ts, value) AS xs,
             list(CAST(epoch_us(ts) AS BIGINT) ORDER BY ts, value) AS tss
      FROM events GROUP BY user_id, event_type
    ),
    sl AS (
      SELECT user_id, event_type, CAST(len(xs) AS BIGINT) AS n_points,
             list_sort(flatten(list_transform(range(1, len(xs)),
               i -> list_transform(range(i + 1, len(xs) + 1),
                 j -> CASE WHEN tss[j] != tss[i]
                      THEN (xs[j] - xs[i]) / (tss[j] - tss[i]) END)))) AS sls
      FROM g
    ),
    f AS (
      SELECT user_id, event_type, n_points,
             list_filter(sls, x -> x IS NOT NULL) AS s
      FROM sl
    )
    SELECT user_id, event_type, n_points,
           CAST(len(s) AS BIGINT) AS n_pairs,
           CASE WHEN len(s) = 0 THEN NULL
                WHEN len(s) % 2 = 1 THEN s[(len(s) + 1) // 2]
                ELSE (s[len(s) // 2] + s[len(s) // 2 + 1]) / 2.0
           END AS slope_micro_per_us
    FROM f
    """,
)
def ts_theil_sen(spark, sf):
    """Theil–Sen robust trend estimator per series: the MEDIAN of all
    pairwise slopes (xⱼ−xᵢ)/(tⱼ−tᵢ) — breakdown point 29%, so a
    third of the points can be garbage before the trend moves, where
    the OLS slope (ts_trend_slope) is dragged by a single spike.
    Each slope is ONE float division of exact integer micros/µs on
    identical operands, the median is the same sort+index recipe as
    ts_rolling_median (no interpolation ambiguity), and same-instant
    pairs (Δt = 0) are excluded in both engines before the sort.
    In-row O(n²) pairs over the sorted list — fine at per-series
    dozens; million-point series would switch to the
    O(n log n) Siegel repeated-median refinement. One shuffle."""
    ev = load_table(spark, sf, "events")
    g = ev.groupBy("user_id", "event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "value"))),
            lambda s: F.floor(s["value"] * 1_000_000 + F.lit(0.5)).cast("long"),
        ).alias("xs"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("ts", "value", F.unix_micros("ts").alias("us"))
                )
            ),
            lambda s: s["us"],
        ).alias("tss"),
    )
    nsz = F.size("xs")

    def slope(i, j):
        xi, xj = F.element_at("xs", i.cast("int")), F.element_at(
            "xs", j.cast("int")
        )
        ti, tj = F.element_at("tss", i.cast("int")), F.element_at(
            "tss", j.cast("int")
        )
        return F.when(tj != ti, (xj - xi) / (tj - ti))

    sls = F.sort_array(
        F.flatten(
            F.transform(
                # clamp: sequence(1, 0) descends on single-point series
                F.when(nsz > 1, F.sequence(F.lit(1), nsz - 1)).otherwise(
                    F.array().cast("array<int>")
                ),
                lambda i: F.transform(
                    F.sequence(i + 1, nsz), lambda j: slope(i, j)
                ),
            )
        )
    )
    sl = g.select(
        "user_id",
        "event_type",
        nsz.cast("long").alias("n_points"),
        F.filter(sls, lambda x: x.isNotNull()).alias("s"),
    )
    ns = F.size("s")
    odd = F.element_at("s", ((ns + 1) / 2).cast("int"))
    even = (
        F.element_at("s", (ns / 2).cast("int"))
        + F.element_at("s", (ns / 2).cast("int") + 1)
    ) / F.lit(2.0)
    return sl.select(
        "user_id",
        "event_type",
        "n_points",
        ns.cast("long").alias("n_pairs"),
        F.when(ns == 0, F.lit(None).cast("double"))
        .when(ns % 2 == 1, odd)
        .otherwise(even)
        .alias("slope_micro_per_us"),
    )


@register(
    "ts_hourly_bands",
    """
    WITH g AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS hr,
             list_sort(list(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)))
               AS xs
      FROM events GROUP BY event_type, hr
    )
    SELECT event_type, hr, CAST(len(xs) AS BIGINT) AS n,
           xs[CAST(CEIL(0.50 * len(xs)) AS BIGINT)] AS p50_micro,
           xs[CAST(CEIL(0.95 * len(xs)) AS BIGINT)] AS p95_micro,
           xs[CAST(CEIL(0.99 * len(xs)) AS BIGINT)] AS p99_micro,
           xs[len(xs)] AS max_micro
    FROM g
    """,
)
def ts_hourly_bands(spark, sf):
    """The latency-band dashboard: p50/p95/p99/max of value per
    (event type, hour) — the query every observability screen runs
    all day. Quantiles use the NEAREST-RANK definition (element at
    ⌈q·n⌉ of the sorted hourly list): an actual observed value, no
    interpolation — which is both what SRE percentile semantics want
    (a latency that really happened) and what makes the result
    engine-exact with zero float discipline. Hourly groups are small
    in-row arrays; one shuffle on (type, hour); at 100 TB hourly
    per-key volumes are bounded by time, not corpus size, so the
    in-row sort holds (a pathological key would pre-aggregate to
    t-digest — losing the oracle, gaining the bound)."""
    ev = load_table(spark, sf, "events")
    xm = F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
    g = ev.groupBy(
        "event_type",
        F.unix_micros(F.date_trunc("hour", "ts")).alias("hr"),
    ).agg(F.sort_array(F.collect_list(xm)).alias("xs"))
    n = F.size("xs")

    def q(p):
        return F.element_at("xs", F.ceil(F.lit(p) * n).cast("int"))

    return g.select(
        "event_type",
        "hr",
        n.cast("long").alias("n"),
        q(0.50).alias("p50_micro"),
        q(0.95).alias("p95_micro"),
        q(0.99).alias("p99_micro"),
        F.element_at("xs", n.cast("int")).alias("max_micro"),
    )


@register(
    "conversion_latency_daily",
    """
    WITH clicks AS (SELECT user_id, ts FROM events
                    WHERE event_type = 'click'),
         purch AS (SELECT user_id, ts, event_id FROM events
                   WHERE event_type = 'purchase'),
         pairs AS (
           SELECT p.user_id,
                  CAST(epoch_us(date_trunc('day', p.ts)) AS BIGINT) AS day_us,
                  CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS delay_us
           FROM purch p ASOF JOIN clicks c
             ON p.user_id = c.user_id AND p.ts >= c.ts),
         g AS (SELECT day_us, list_sort(list(delay_us)) AS ds,
                      CAST(SUM(delay_us) AS BIGINT) AS sum_delay
               FROM pairs GROUP BY day_us)
    SELECT day_us, CAST(len(ds) AS BIGINT) AS n_conversions,
           ds[CAST(CEIL(0.50 * len(ds)) AS BIGINT)] AS p50_delay_us,
           ds[CAST(CEIL(0.90 * len(ds)) AS BIGINT)] AS p90_delay_us,
           CAST(sum_delay AS BIGINT) / CAST(len(ds) AS BIGINT)
             AS mean_delay_us
    FROM g
    """,
)
def conversion_latency_daily(spark, sf):
    """Time-to-convert distribution: for every purchase, the delay
    since the user's most recent prior click (as-of semantics —
    attribution to the LAST touch, not any touch), rolled up per day
    as p50/p90/mean — the marketing-latency dashboard, and the
    operator pattern for any event-to-event latency (alert→ack,
    deploy→error). Delays are exact integer µs; percentiles use the
    nearest-rank recipe over per-day in-row arrays (daily volumes
    bound the array, which is what makes the in-row sort scale-safe);
    the mean is one division of exact sums. Purchases with no prior
    click drop out (inner as-of)."""
    from syncflux_spark.operators.downsample import asof_join

    ev = load_table(spark, sf, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    joined = asof_join(
        purch,
        clicks.select("user_id", "ts", F.lit(1).alias("_m")),
        ["user_id"],
        "ts",
        ["_m"],
    )
    pairs = joined.where(F.col("_m_asof").isNotNull()).select(
        F.unix_micros(F.date_trunc("day", "ts")).alias("day_us"),
        (F.unix_micros("ts") - F.unix_micros("ts_asof")).alias("delay_us"),
    )
    g = pairs.groupBy("day_us").agg(
        F.sort_array(F.collect_list("delay_us")).alias("ds"),
        F.sum("delay_us").cast("long").alias("sum_delay"),
    )
    n = F.size("ds")

    def q(p):
        return F.element_at("ds", F.ceil(F.lit(p) * n).cast("int"))

    return g.select(
        "day_us",
        n.cast("long").alias("n_conversions"),
        q(0.50).alias("p50_delay_us"),
        q(0.90).alias("p90_delay_us"),
        (F.col("sum_delay") / n.cast("long")).alias("mean_delay_us"),
    )


@register(
    "ts_sessionize",
    """
    WITH flagged AS (
      SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS us,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, us,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           CAST(MIN(us) AS BIGINT) AS start_us,
           CAST(MAX(us) AS BIGINT) AS end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def ts_sessionize(spark, sf):
    """Gap-based sessionization (30-min inactivity closes a session):
    per-user session summaries. One shuffle on user_id; lag and the
    running session counter share the same sort (operators/
    downsample.py::sessionize). Equal-timestamp ordering is pinned by
    event_id on both engines."""
    from syncflux_spark.operators.downsample import sessionize

    ev = load_table(spark, sf, "events")
    s = sessionize(ev, ["user_id"], 1800, "ts", "event_id")
    return s.groupBy("user_id", "session_id").agg(
        F.min(F.unix_micros("ts")).alias("start_us"),
        F.max(F.unix_micros("ts")).alias("end_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "session_type_lift",
    """
    WITH flagged AS (
      SELECT user_id, event_id, event_type,
             CAST(epoch_us(ts) AS BIGINT) AS us,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_type,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM flagged
    ),
    st AS (SELECT DISTINCT user_id, session_id, event_type FROM sess),
    n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions
              FROM (SELECT DISTINCT user_id, session_id FROM st)),
    per_type AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_type
                 FROM st GROUP BY event_type),
    pair AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                    CAST(COUNT(*) AS BIGINT) AS n_both
             FROM st a JOIN st b
               ON a.user_id = b.user_id AND a.session_id = b.session_id
              AND a.event_type < b.event_type
             GROUP BY a.event_type, b.event_type)
    SELECT type_a, type_b, n_both, pa.n_type AS n_a, pb.n_type AS n_b,
           n_sessions,
           CAST(n_both * n_sessions AS BIGINT)
             / CAST(pa.n_type * pb.n_type AS BIGINT) AS lift
    FROM pair
    JOIN per_type pa ON pa.event_type = type_a
    JOIN per_type pb ON pb.event_type = type_b
    CROSS JOIN n_tot
    """,
)
def session_type_lift(spark, sf):
    """Market-basket lift over sessions: for every event-type pair,
    P(a,b)/(P(a)·P(b)) with sessions as baskets — >1 means the types
    co-occur beyond chance (the association signal behind
    "users who X also Y"). Baskets come from the same 30-min
    gap sessionization as ts_sessionize; the pair join is WITHIN a
    (user, session) key — bounded by per-session distinct types
    (≤ the type vocabulary), never a global self-join — and the
    single-row total is broadcast. Exact integer counts ride to one
    division: lift = (n_both·N) / (n_a·n_b); n_both·N ≲ sessions²
    needs int64 headroom ~2^62 at 1e9 sessions — the documented
    switch point to decimal(38,0)."""
    from syncflux_spark.operators.downsample import sessionize

    ev = load_table(spark, sf, "events")
    st = (
        sessionize(ev, ["user_id"], 1800, "ts", "event_id")
        .select("user_id", "session_id", "event_type")
        .distinct()
    )
    from syncflux_spark.utils import eager_persist

    st = eager_persist(st)  # three consumers: totals, per-type, pair join
    n_tot = (
        st.select("user_id", "session_id")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    )
    per_type = st.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_type")
    )
    a, b = st.alias("a"), st.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.session_id") == F.col("b.session_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    pa = per_type.select(
        F.col("event_type").alias("type_a"), F.col("n_type").alias("n_a")
    )
    pb = per_type.select(
        F.col("event_type").alias("type_b"), F.col("n_type").alias("n_b")
    )
    out = (
        pair.join(F.broadcast(pa), "type_a")
        .join(F.broadcast(pb), "type_b")
        .crossJoin(F.broadcast(n_tot))
    )
    return out.select(
        "type_a",
        "type_b",
        "n_both",
        "n_a",
        "n_b",
        "n_sessions",
        (
            (F.col("n_both") * F.col("n_sessions")).cast("long")
            / (F.col("n_a") * F.col("n_b")).cast("long")
        ).alias("lift"),
    )


@register(
    "session_top_paths",
    """
    WITH flagged AS (
      SELECT user_id, event_id, event_type,
             CAST(epoch_us(ts) AS BIGINT) AS us,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, event_type, us,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM flagged
    ),
    seqs AS (
      SELECT user_id, session_id,
             list(event_type ORDER BY us, event_id) AS path
      FROM sess GROUP BY user_id, session_id
    ),
    grams AS (
      SELECT unnest(list_transform(range(1, len(path) - 1),
               i -> path[i] || '>' || path[i + 1] || '>' || path[i + 2]))
               AS path3
      FROM seqs WHERE len(path) >= 3
    ),
    counts AS (SELECT path3, CAST(COUNT(*) AS BIGINT) AS n
               FROM grams GROUP BY path3)
    SELECT path3, n, CAST(rn AS BIGINT) AS rank
    FROM (SELECT path3, n,
                 row_number() OVER (ORDER BY n DESC, path3) AS rn
          FROM counts)
    WHERE rn <= 10
    """,
)
def session_top_paths(spark, sf):
    """User-journey mining: the 10 most common 3-step event paths
    within sessions ("view>click>purchase") — the sequence-pattern
    query behind funnel DISCOVERY (funnel_conversion measures a
    path you name; this finds the paths worth naming). Sessions from
    the shared 30-min gap sessionization; per-session ordered type
    list built in-row, 3-grams sliced from it (no self-joins — the
    n-gram explode is linear in events), global count, top-10 with
    deterministic ties. The final ORDER BY n is a 10-row
    WindowGroupLimit-style cut over distinct paths — path vocabulary,
    not event volume."""
    from syncflux_spark.operators.downsample import sessionize

    ev = load_table(spark, sf, "events")
    s = sessionize(ev, ["user_id"], 1800, "ts", "event_id")
    seqs = s.groupBy("user_id", "session_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.unix_micros("ts").alias("us"),
                        "event_id",
                        "event_type",
                    )
                )
            ),
            lambda x: x["event_type"],
        ).alias("path")
    )
    n = F.size("path")
    grams = (
        seqs.where(n >= 3)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), n - 2),
                    lambda i: F.concat_ws(
                        ">",
                        F.element_at("path", i),
                        F.element_at("path", i + 1),
                        F.element_at("path", i + 2),
                    ),
                )
            ).alias("path3")
        )
    )
    counts = grams.groupBy("path3").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.orderBy(F.desc("n"), "path3")
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 10)
        .select("path3", "n", "rank")
    )


@register(
    "ts_pivot_daily_counts",
    """
    SELECT CAST(epoch_us(date_trunc('day', ts)) AS BIGINT) AS day_us,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
           CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
           CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup,
           CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error,
           CAST(COUNT(*) AS BIGINT) AS n_total
    FROM events GROUP BY 1
    """,
)
def ts_pivot_daily_counts(spark, sf):
    """Pivot (long→wide) on a fixed category set: day × event_type
    counts as columns. Expressed as conditional aggregation — a single
    hash agg, unlike df.pivot which needs a category-discovery pass."""
    ev = load_table(spark, sf, "events")

    def n(t):
        return F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")

    return ev.groupBy(
        F.unix_micros(F.date_trunc("day", "ts")).alias("day_us")
    ).agg(
        n("click"), n("view"), n("purchase"), n("signup"), n("error"),
        F.count(F.lit(1)).alias("n_total"),
    )


# ===========================================================================
# Relational surface II: rollup + the rest of the TPC-H-expressible set
# ===========================================================================


_REV_C = (
    f"{_sql_cents('l_extendedprice')} * (100 - {_sql_cents('l_discount')})"
)


@register(
    "revenue_rollup_region",
    f"""
    SELECT CASE WHEN GROUPING(r_name) = 1 THEN 'ALL' ELSE r_name END AS region,
           CASE WHEN GROUPING(n_name) = 1 THEN 'ALL' ELSE n_name END AS nation,
           CAST(SUM(rev_c) AS BIGINT) / 10000.0 AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM (SELECT r_name, n_name, {_REV_C} AS rev_c
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey)
    GROUP BY ROLLUP(r_name, n_name)
    """,
)
def revenue_rollup_region(spark, sf):
    """ROLLUP(region, nation) revenue: hierarchical grand-totals in one
    pass (Spark expands grouping sets inside a single hash agg).
    GROUPING() placeholders become 'ALL' so the output has no nulls to
    hash. Dims broadcast; only lineitem shuffles."""
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    rev_c = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    joined = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("r_name", "n_name", rev_c.alias("rev_c"))
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            (F.sum("rev_c") / F.lit(10000.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
            # grouping() is only legal inside the rollup's own agg list
            F.grouping("r_name").alias("_gr"),
            F.grouping("n_name").alias("_gn"),
        )
        .select(
            F.when(F.col("_gr") == 1, "ALL").otherwise(F.col("r_name")).alias("region"),
            F.when(F.col("_gn") == 1, "ALL").otherwise(F.col("n_name")).alias("nation"),
            "revenue",
            "n_items",
        )
    )


@register(
    "q7_volume_shipping",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(rev_c) AS BIGINT) / 10000.0 AS revenue
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
                 {_REV_C} AS rev_c
          FROM supplier
          JOIN lineitem ON s_suppkey = l_suppkey
          JOIN orders ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            AND l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                               AND TIMESTAMP '1996-12-31 00:00:00')
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark, sf):
    """TPC-H Q7: bilateral trade volume by year. The two nation-filter
    dims broadcast (each prunes to one row); lineitem⋈orders shuffles
    on orderkey — the only big exchange."""
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") <= "1996-12-31 00:00:00")
    )
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    rev_c = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg((F.sum(rev_c) / F.lit(10000.0)).alias("revenue"))
    )


@register(
    "q8_market_share",
    f"""
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev_c ELSE 0 END)
                AS BIGINT)
           / CAST(SUM(rev_c) AS DOUBLE) AS mkt_share
    FROM (SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                 {_REV_C} AS rev_c, n2.n_name AS supp_nation
          FROM part
          JOIN lineitem ON p_partkey = l_partkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON c_nationkey = n1.n_nationkey
          JOIN region ON n1.n_regionkey = r_regionkey
          JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'ASIA' AND p_type = 'PROMO'
            AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                                AND TIMESTAMP '1996-12-31 00:00:00')
    GROUP BY o_year
    """,
)
def q8_market_share(spark, sf):
    """TPC-H Q8: national market share inside a region. Ratio of two
    exact integer sums → one float division. part/supplier/nation/
    region broadcast; the fact-side joins shuffle on orderkey."""
    p = load_table(spark, sf, "part").where(F.col("p_type") == "PROMO")
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    o = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") <= "1996-12-31 00:00:00")
    )
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").where(F.col("r_name") == "ASIA")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), "n_regionkey")
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    rev_c = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            rev_c.alias("rev_c"),
            "supp_nation",
        )
    )
    return joined.groupBy("o_year").agg(
        (
            F.sum(F.when(F.col("supp_nation") == "NATION_2", F.col("rev_c")).otherwise(F.lit(0)))
            / F.sum("rev_c").cast("double")
        ).alias("mkt_share")
    )


@register(
    "q10_returned_items",
    f"""
    SELECT c_custkey, c_name,
           CAST(SUM(rev_c) AS BIGINT) / 10000.0 AS revenue,
           c_acctbal, n_name
    FROM (SELECT c_custkey, c_name, c_acctbal, n_name, {_REV_C} AS rev_c
          FROM customer
          JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
          JOIN nation ON c_nationkey = n_nationkey
          WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
            AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
            AND l_returnflag = 'R')
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark, sf):
    """TPC-H Q10: top-20 customers by returned-item revenue in a
    quarter. Orders prune on the date filter before the join; nation
    broadcasts; deterministic top-k by (revenue desc, custkey)."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-04-01")
    )
    li = load_table(spark, sf, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf, "nation")
    rev_c = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg((F.sum(rev_c) / F.lit(10000.0)).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q13_customer_distribution",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey)
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark, sf):
    """TPC-H Q13: order-count histogram over customers, keeping
    zero-order customers via the left outer join (COUNT(col) skips the
    nulls an unmatched row produces). Two cascaded hash aggs."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@register(
    "q15_top_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey, CAST(SUM({_REV_C}) AS BIGINT) AS total_c
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_c / 10000.0 AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_c = (SELECT MAX(total_c) FROM rev)
    """,
)
def q15_top_supplier(spark, sf):
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue. The
    scalar max is computed once and broadcast — no global sort, and
    exact integer cents make 'equal to the max' engine-stable."""
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    s = load_table(spark, sf, "supplier")
    rev_c = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    rev = li.groupBy("l_suppkey").agg(F.sum(rev_c).alias("total_c"))
    mx = rev.agg(F.max("total_c").alias("max_c"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_c") == F.col("max_c"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("total_c") / F.lit(10000.0)).alias("total_revenue"),
        )
    )


@register(
    "q17_small_quantity_revenue",
    f"""
    SELECT CAST(SUM(price_c) AS BIGINT) / 100.0 / 7.0 AS avg_yearly
    FROM (SELECT {_sql_cents('l_extendedprice')} AS price_c
          FROM lineitem
          JOIN part ON p_partkey = l_partkey
          JOIN (SELECT l_partkey AS pk, AVG(l_quantity) AS avg_qty
                FROM lineitem GROUP BY l_partkey) pa
            ON pa.pk = l_partkey
          WHERE p_brand = 'Brand#23' AND l_quantity < 0.2 * avg_qty)
    """,
)
def q17_small_quantity_revenue(spark, sf):
    """TPC-H Q17 (container filter dropped — fixture has no
    p_container): revenue locked in sub-20%-of-average-quantity
    orders. The correlated scalar subquery decorrelates to a per-part
    aggregate joined back on partkey; quantities are integral doubles
    so the average is order-independent-exact."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").where(F.col("p_brand") == "Brand#23")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pa, li.l_partkey == F.col("pk"))
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(cents("l_extendedprice")) / F.lit(100.0) / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


@register(
    "q18_large_orders",
    """
    SELECT c_custkey, c_name, o_orderkey,
           CAST(epoch_us(o_orderdate) AS BIGINT) AS o_orderdate_us,
           o_totalprice,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey
                         HAVING SUM(l_quantity) > 200)
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_orders(spark, sf):
    """TPC-H Q18: customers with orders above 200 total quantity. The
    IN-subquery is a semi-join on the pre-aggregated lineitem —
    aggregate-then-join keeps the shuffle at one row per qualifying
    order."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .where(F.col("_q") > 200)
        .select("l_orderkey")
    )
    return (
        li.join(big.withColumnRenamed("l_orderkey", "_bk"), li.l_orderkey == F.col("_bk"), "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.unix_micros("o_orderdate").alias("o_orderdate_us"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "q19_discounted_revenue",
    f"""
    SELECT CAST(SUM(rev_c) AS BIGINT) / 10000.0 AS revenue
    FROM (SELECT {_REV_C} AS rev_c
          FROM lineitem JOIN part ON p_partkey = l_partkey
          WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                 AND l_quantity BETWEEN 1 AND 11)
             OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                 AND l_quantity BETWEEN 10 AND 20)
             OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                 AND l_quantity BETWEEN 20 AND 30))
    """,
)
def q19_discounted_revenue(spark, sf):
    """TPC-H Q19 (container predicates replaced with p_size bands —
    fixture has no p_container): disjunctive multi-band filter over a
    broadcast part join, single global sum."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    rev_c = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    q = F.col("l_quantity")
    sz = F.col("p_size")
    cond = (
        ((F.col("p_brand") == "Brand#12") & sz.between(1, 5) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & sz.between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & sz.between(1, 15) & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(cond)
        .agg((F.sum(rev_c) / F.lit(10000.0)).alias("revenue"))
    )


@register(
    "q22_inactive_customers",
    f"""
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM({_sql_cents('c_acctbal')}) AS BIGINT) / 100.0 AS totacctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE {_sql_cents('c_acctbal')} > (
            SELECT AVG({_sql_cents('c_acctbal')}) FROM customer
            WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY n_name
    """,
)
def q22_inactive_customers(spark, sf):
    """TPC-H Q22 (phone-prefix filter replaced by the nation dim —
    fixture has no c_phone): above-average-balance customers with no
    recent orders. The scalar average broadcasts; NOT EXISTS is a
    left-anti join against date-pruned orders; the average rides
    integer cents so the threshold is engine-exact."""
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    o = load_table(spark, sf, "orders").where(
        F.col("o_orderdate") >= "2000-01-01"
    )
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(
        F.avg(cents("c_acctbal")).alias("avg_c")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(cents("c_acctbal") > F.col("avg_c"))
        .join(o.select(F.col("o_custkey").alias("_ok")), F.col("c_custkey") == F.col("_ok"), "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum(cents("c_acctbal")) / F.lit(100.0)).alias("totacctbal"),
        )
    )


# ===========================================================================
# Approximate similarity: IVF and sign-LSH (the 100 TB ANN scale paths)
# ===========================================================================


def _sql_cos(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


@register(
    "ivf_topk",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < 16),
    assign AS (
      SELECT vec_id, v, cid FROM (
        SELECT a.vec_id, a.v, c.cid,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_sql_cos('a.v', 'c.cv')} DESC, c.cid)
                 AS rn
        FROM v a CROSS JOIN cent c)
      WHERE rn = 1),
    probe AS (
      SELECT vec_id AS query_id, v AS qv, cid FROM (
        SELECT q.vec_id, q.v, c.cid,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_sql_cos('q.v', 'c.cv')} DESC, c.cid)
                 AS rn
        FROM v q CROSS JOIN cent c WHERE q.vec_id < 10)
      WHERE rn <= 4),
    cand AS (
      SELECT p.query_id, p.qv, a.vec_id AS neighbor_id, a.v AS cv
      FROM probe p JOIN assign a USING (cid)
      WHERE a.vec_id != p.query_id)
    SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INTEGER) AS rank
    FROM (SELECT query_id, neighbor_id,
                 {_sql_cos('qv', 'cv')} AS cos_sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY {_sql_cos('qv', 'cv')} DESC,
                                             neighbor_id) AS rn
          FROM cand)
    WHERE rn <= 5
    """,
)
def ivf_topk(spark, sf):
    """IVF approximate top-5: 16 deterministic seed centroids, each
    query probes its 4 nearest lists (operators/similarity.py::
    ivf_topk). ~4/16 of the corpus scanned per query vs brute force;
    the oracle reproduces the identical partition, so the comparison
    checks the algorithm, not just recall."""
    from syncflux_spark.operators.similarity import ivf_topk as _ivf

    emb = load_table(spark, sf, "embeddings")
    out = _ivf(
        emb,
        emb.where(F.col("vec_id") < 10),
        k=5,
        n_centroids=16,
        nprobe=4,
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


@register(
    "ivf_topk_twolevel",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < 16),
    coarse AS (
      SELECT cid AS gid, cv AS gv FROM (
        SELECT cid, cv, row_number() OVER (ORDER BY cid) AS rn FROM cent)
      WHERE rn <= 4),
    cmap AS (
      SELECT cid, gid FROM (
        SELECT c.cid, g.gid,
               row_number() OVER (PARTITION BY c.cid
                                  ORDER BY {_sql_cos('c.cv', 'g.gv')} DESC,
                                           g.gid) AS rn
        FROM cent c CROSS JOIN coarse g)
      WHERE rn = 1),
    vg AS (
      SELECT vec_id, v, gid FROM (
        SELECT a.vec_id, a.v, g.gid,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_sql_cos('a.v', 'g.gv')} DESC,
                                           g.gid) AS rn
        FROM v a CROSS JOIN coarse g)
      WHERE rn = 1),
    assign AS (
      SELECT vec_id, v, cid FROM (
        SELECT vg.vec_id, vg.v, c.cid,
               row_number() OVER (PARTITION BY vg.vec_id
                                  ORDER BY {_sql_cos('vg.v', 'c.cv')} DESC,
                                           c.cid) AS rn
        FROM vg JOIN (SELECT cent.cid, cent.cv, cmap.gid
                      FROM cent JOIN cmap ON cent.cid = cmap.cid) c
          ON c.gid = vg.gid)
      WHERE rn = 1),
    probe AS (
      SELECT vec_id AS query_id, v AS qv, cid FROM (
        SELECT q.vec_id, q.v, c.cid,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_sql_cos('q.v', 'c.cv')} DESC, c.cid)
                 AS rn
        FROM v q CROSS JOIN cent c WHERE q.vec_id < 10)
      WHERE rn <= 4),
    cand AS (
      SELECT p.query_id, p.qv, a.vec_id AS neighbor_id, a.v AS cv
      FROM probe p JOIN assign a USING (cid)
      WHERE a.vec_id != p.query_id)
    SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INTEGER) AS rank
    FROM (SELECT query_id, neighbor_id,
                 {_sql_cos('qv', 'cv')} AS cos_sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY {_sql_cos('qv', 'cv')} DESC,
                                             neighbor_id) AS rn
          FROM cand)
    WHERE rn <= 5
    """,
)
def ivf_topk_twolevel(spark, sf):
    """IVF top-5 with HIERARCHICAL corpus assignment (VERDICT r11
    #3): vectors route through ceil(√16) = 4 coarse centroids (the 4
    lowest fine cids) and then argmax only over the fine centroids of
    their coarse group — O(2√k) dots per vector instead of flat
    assignment's O(k), the path that removes the 65536-centroid
    flat-assignment ceiling past ~67M vectors
    (operators/similarity.py::ivf_assign_twolevel; slope vs flat
    measured in SCALE.md r12). Probes stay flat over the fine table
    (queries are the small side). The oracle replays BOTH argmax
    levels and the fine→coarse map, so the whole routing is
    value-hash-gated; recall vs flat IVF is gated in
    tests/test_ann_quality.py."""
    from syncflux_spark.operators.similarity import ivf_topk as _ivf

    emb = load_table(spark, sf, "embeddings")
    out = _ivf(
        emb,
        emb.where(F.col("vec_id") < 10),
        k=5,
        n_centroids=16,
        nprobe=4,
        assign_levels=2,
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


def _pagerank_sql(
    n_iter: int = 10, scale: int = 10**12, edges_sql: str | None = None
) -> str:
    """Unrolled fixed-point PageRank — replays
    operators/graph.py::pagerank_fixedpoint exactly: ranks are int64
    at ``scale`` parts per unit, damping is the exact rational 17/20,
    every cross-row sum is an int64 sum → bit-identical under any
    join/aggregation order. ``edges_sql`` overrides the edge set
    (doc_pagerank_capped rides the star-collapsed graph)."""
    pairs = edges_sql or REGISTRY["ngram_jaccard_pairs"].sql
    # AS MATERIALIZED: DuckDB inlines CTEs by default, so sym (and the
    # expensive pairs subquery under it) would be recomputed in every
    # unrolled round.
    parts = [
        f"WITH pairs AS MATERIALIZED (SELECT id_a, id_b FROM ({pairs}))",
        "nodes AS MATERIALIZED (SELECT doc_id FROM documents)",
        "cnt AS MATERIALIZED"
        " (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes)",
        "sym AS MATERIALIZED (SELECT id_a, id_b FROM pairs"
        " UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM pairs)",
        "deg AS MATERIALIZED"
        " (SELECT id_a AS doc_id, CAST(COUNT(*) AS BIGINT) AS deg"
        " FROM sym GROUP BY id_a)",
        f"r0 AS MATERIALIZED (SELECT doc_id,"
        f" {scale} // (SELECT n FROM cnt) AS rank_fp FROM nodes)",
    ]
    for k in range(n_iter):
        parts.append(
            f"r{k + 1} AS MATERIALIZED ("
            f" SELECT nd.doc_id, CAST("
            f" (3 * {scale}) // (20 * (SELECT n FROM cnt))"
            f" + (17 * COALESCE(s.inflow, 0)) // 20 AS BIGINT) AS rank_fp"
            f" FROM nodes nd LEFT JOIN ("
            f"  SELECT e.id_b AS doc_id,"
            f"  CAST(SUM(r.rank_fp // d.deg) AS BIGINT) AS inflow"
            f"  FROM sym e"
            f"  JOIN r{k} r ON e.id_a = r.doc_id"
            f"  JOIN deg d ON e.id_a = d.doc_id"
            f"  GROUP BY e.id_b) s USING (doc_id))"
        )
    return ",\n".join(parts) + f"""
    SELECT doc_id, rank_fp,
           CAST(rank_fp AS DOUBLE) / {float(scale)!r} AS rank
    FROM r{n_iter}
    """


@register("doc_pagerank", _pagerank_sql())
def doc_pagerank(spark, sf):
    """PageRank over the verified near-dup graph — ranks the hub
    documents of duplicate neighborhoods (canonical-copy selection
    keeps the highest-ranked cluster member). Ten rounds of one
    join + one partial-agg shuffle each, lineage-checkpointed
    (operators/graph.py::pagerank_fixedpoint over
    operators/dedup.py::ngram_jaccard_pairs edges). Ranks accumulate
    as int64 parts-per-10¹² with damping as the exact rational 17/20,
    so cross-row sums are order-free and the oracle replays all ten
    rounds in unrolled SQL — full-hash gate (was rows-only through
    r5). Float-precision numerics stay gated vs the numpy replica in
    tests/test_ann_quality.py::test_pagerank_matches_numpy."""
    from syncflux_spark.operators.graph import pagerank_fixedpoint

    docs = load_table(spark, sf, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, threshold=0.5)
    return pagerank_fixedpoint(
        docs.select("doc_id"), pairs.select("id_a", "id_b")
    )


@register(
    "doc_pagerank_capped",
    _pagerank_sql(edges_sql=_capped_edges_sql(_BUCKET_CAP)),
)
def doc_pagerank_capped(spark, sf):
    """PageRank over the STAR-COLLAPSED verified near-dup graph
    (bucket_cap=3, binding at gate scale) — the capped twin the r10
    verdict named missing: doc_pagerank consumes the uncapped
    verified graph and DIED with it at x100 (>78 GB verify-shuffle
    spill). Identical ten-round int64 fixed-point iteration
    (operators/graph.py::pagerank_fixedpoint); only the edge set
    changes — over-cap buckets contribute their O(c) verified star
    instead of the O(c²) verified clique, so hub scores inside
    degenerate buckets concentrate on the bucket minimum (the star
    center) rather than spreading through the clique: a DIFFERENT,
    coarser ranking in exactly the buckets where the exact one is
    unaffordable. The oracle unrolls the same rounds over the same
    capped edges — full-hash gate."""
    from syncflux_spark.operators.graph import pagerank_fixedpoint

    docs = load_table(spark, sf, "documents")
    pairs = dd.ngram_jaccard_pairs(
        docs, threshold=0.5, bucket_cap=_BUCKET_CAP
    )
    return pagerank_fixedpoint(
        docs.select("doc_id"), pairs.select("id_a", "id_b")
    )


def _eig_sql(dim: int = 64, n_iter: int = 10) -> str:
    """Unrolled fixed-point power iteration as pure SQL — replays
    operators/similarity.py::top_eigenvector_fixedpoint exactly: every
    cross-row sum is an int64 sum of per-row rounded micros, every
    float op is a single IEEE expression on identical operands, so 10
    iterations stay bit-identical between Spark and DuckDB. (One
    deliberate non-replay: the operator's λ=0 guard for an all-zero
    corpus has no SQL counterpart — degenerate input would mismatch
    visibly rather than replay; real embeddings always have λ>0.)"""
    init = repr(1.0 / math.sqrt(dim))
    # AS MATERIALIZED everywhere: without it DuckDB inlines CTE
    # references, and v{k+1} referencing md{k} twice (directly and
    # through lam{k}) doubles the inlined plan per iteration — a 2^10
    # planning blow-up that never finishes.
    parts = [
        "WITH v AS MATERIALIZED"
        " (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "cnt AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v)",
        f"xe AS MATERIALIZED (SELECT vec_id AS rid, i AS d, v[i] AS xd FROM v"
        f" CROSS JOIN generate_series(1, {dim}) AS g(i))",
        f"v0 AS MATERIALIZED (SELECT i AS d, CAST({init} AS DOUBLE) AS val"
        f" FROM generate_series(1, {dim}) AS g(i))",
    ]
    for k in range(n_iter):
        parts += [
            f"dot{k} AS MATERIALIZED (SELECT rid,"
            f" SUM(CAST(ROUND(xd * val * 1000000.0) AS BIGINT)) AS dotm"
            f" FROM xe JOIN v{k} USING (d) GROUP BY rid)",
            f"mv{k} AS MATERIALIZED (SELECT d,"
            f" SUM(CAST(ROUND(xd * dotm) AS BIGINT)) AS mvm"
            f" FROM xe JOIN dot{k} USING (rid) GROUP BY d)",
            f"md{k} AS MATERIALIZED (SELECT d, CAST(mvm AS DOUBLE)"
            f" / 1000000.0 / (SELECT n FROM cnt) AS mvd FROM mv{k})",
            # FLOOR(x + 0.5), not ROUND: the driver side quantizes with
            # _round_half_away (floor(abs+0.5)), and the two disagree
            # when x sits 1 ulp below a .5 boundary (0.49999999999999994
            # + 0.5 == 1.0 in IEEE, but ROUND sees a value < 0.5) —
            # mvd² is nonnegative so the plain form suffices here
            f"lam{k} AS MATERIALIZED (SELECT sqrt(CAST(SUM(CAST(FLOOR(mvd"
            f" * mvd * 1000000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)"
            f" / 1000000000000.0) AS lam FROM md{k})",
            f"v{k + 1} AS MATERIALIZED (SELECT d,"
            f" mvd / (SELECT lam FROM lam{k}) AS val FROM md{k})",
        ]
    # same FLOOR(+0.5) arithmetic as the driver's _round_half_away:
    # components can be negative, so the copysign form SIGN·FLOOR(ABS)
    return ",\n".join(parts) + f"""
    SELECT CAST(d AS INTEGER) AS dim_idx,
           CAST(SIGN(val) * FLOOR(ABS(val * 1000000.0) + 0.5) AS BIGINT)
             AS component_micro,
           (SELECT CAST(FLOOR(lam * 1000000.0 + 0.5) AS BIGINT)
            FROM lam{n_iter - 1}) AS eigenvalue_micro,
           CAST({n_iter} AS INTEGER) AS n_iter,
           CAST({dim} AS INTEGER) AS dim
    FROM v{n_iter}
    """


@register("emb_top_eigenvector", _eig_sql())
def emb_top_eigenvector(spark, sf):
    """Top principal direction of the embedding second-moment matrix
    via matrix-free power iteration — M·v recomputed per round as one
    distributed pass (broadcast d-vector, codegen per-row work, one
    partial-agg of d int64 sums); the d×d matrix never materializes
    (operators/similarity.py::top_eigenvector_fixedpoint). Cross-row
    accumulation is integer micros, so the 10-round recurrence is
    order-free and the oracle replays all 10 iterations in unrolled
    SQL — a full-hash gate. Result is d scalar rows (dim_idx,
    component_micro, ...), never an array column (r5: top-level
    arrays crash the driver's canonicalization). Float-precision
    numerics stay gated against numpy eigendecomposition in
    tests/test_ann_quality.py::test_power_iteration_matches_numpy."""
    from syncflux_spark.operators.similarity import top_eigenvector_fixedpoint

    return top_eigenvector_fixedpoint(load_table(spark, sf, "embeddings"))


#: Fixed handshake directory for oracle-replay artifacts: a Spark
#: query persists a small derived table here (k-means centroids, a
#: feature table), and its oracle SQL reads it back with
#: ``read_parquet`` — the persisted-index pattern
#: (ivf_index_roundtrip) extended to artifacts a SQL engine cannot
#: re-derive. The gate runs the Spark side first (both the driver and
#: tests/test_oracle_parity.py), so the artifact always matches the
#: sf under comparison; the path is fixed because the SQL string is.
_ORACLE_ART = (
    f"{tempfile.gettempdir()}/syncflux_oracle_artifacts_"
    f"{_os.getuid() if hasattr(_os, 'getuid') else 0}"
)


@register(
    "ivf_topk_kmeans",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT cid, centv AS cv
             FROM read_parquet('{_ORACLE_ART}/kmeans_centroids.parquet')),
    assign AS (
      SELECT vec_id, v, cid FROM (
        SELECT a.vec_id, a.v, c.cid,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_sql_cos('a.v', 'c.cv')} DESC, c.cid)
                 AS rn
        FROM v a CROSS JOIN cent c)
      WHERE rn = 1),
    probe AS (
      SELECT vec_id AS query_id, v AS qv, cid FROM (
        SELECT q.vec_id, q.v, c.cid,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_sql_cos('q.v', 'c.cv')} DESC, c.cid)
                 AS rn
        FROM v q CROSS JOIN cent c WHERE q.vec_id < 10)
      WHERE rn <= 4),
    cand AS (
      SELECT p.query_id, p.qv, a.vec_id AS neighbor_id, a.v AS cv
      FROM probe p JOIN assign a USING (cid)
      WHERE a.vec_id != p.query_id)
    SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INTEGER) AS rank
    FROM (SELECT query_id, neighbor_id,
                 {_sql_cos('qv', 'cv')} AS cos_sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY {_sql_cos('qv', 'cv')} DESC,
                                             neighbor_id) AS rn
          FROM cand)
    WHERE rn <= 5
    """,
)
def ivf_topk_kmeans(spark, sf):
    """IVF top-5 over k-means|| centroids — the production quantizer
    (operators/similarity.py::kmeans_centroids): distributed init +
    Lloyd rounds adapt the partition to the data, balancing inverted
    lists. k-means|| itself is not SQL-reproducible, but the trained
    centroids are just 16 rows of doubles: persist them to the oracle
    handshake dir and the oracle REPLAYS assignment + probing +
    scoring from them in pure SQL (ivf_topk's query with the seed
    CTE swapped for read_parquet) — a full-hash gate on everything
    downstream of training; centroid quality itself stays gated by
    tests/test_ann_quality.py recall bounds."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from syncflux_spark.operators.similarity import (
        ivf_topk as _ivf,
        kmeans_centroids,
    )

    emb = load_table(spark, sf, "embeddings")
    cents = kmeans_centroids(emb, n_centroids=16)
    # 16 rows by construction (bounded by n_centroids) — persisted
    # driver-side as ONE parquet file so the oracle's fixed path works
    crows = cents.select("cid", "centv").collect()
    os.makedirs(_ORACLE_ART, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "cid": pa.array([r["cid"] for r in crows], pa.int32()),
                "centv": pa.array(
                    [list(r["centv"]) for r in crows],
                    pa.list_(pa.float64()),
                ),
            }
        ),
        os.path.join(_ORACLE_ART, "kmeans_centroids.parquet"),
    )
    out = _ivf(
        emb,
        emb.where(F.col("vec_id") < 10),
        k=5,
        n_centroids=16,
        nprobe=4,
        centroids=cents,
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


def _sql_sign_bucket(
    vec: str, n_planes: int, dim: int, plane_offset: int = 0
) -> str:
    """Sign-LSH bucket bitmap — literal hyperplanes identical to
    operators/similarity.py::_hyperplane; ``plane_offset`` selects the
    hash table (same convention as sign_lsh_bucket)."""
    from syncflux_spark.operators.similarity import _hyperplane

    terms = []
    for p in range(n_planes):
        coeffs = ", ".join(repr(_hyperplane(plane_offset + p, d)) for d in range(dim))
        terms.append(
            f"(CASE WHEN list_dot_product({vec}, [{coeffs}]) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@register(
    "lsh_ann_topk",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      {_sql_sign_bucket('embedding::DOUBLE[]', 4, 64)} AS bk
               FROM embeddings)
    SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INTEGER) AS rank
    FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 {_sql_cos('q.v', 'c.v')} AS cos_sim,
                 row_number() OVER (PARTITION BY q.vec_id
                                    ORDER BY {_sql_cos('q.v', 'c.v')} DESC,
                                             c.vec_id) AS rn
          FROM v q JOIN v c ON q.bk = c.bk AND q.vec_id != c.vec_id
          WHERE q.vec_id < 10)
    WHERE rn <= 5
    """,
)
def lsh_ann_topk(spark, sf):
    """Sign-LSH approximate top-5: candidates share a 4-plane
    random-hyperplane sign bucket (16 buckets), so each query compares
    against ~1/16 of the corpus. Hyperplanes are md5-derived literals
    — bit-identical in the oracle (operators/similarity.py::lsh_topk)."""
    from syncflux_spark.operators.similarity import lsh_topk

    emb = load_table(spark, sf, "embeddings")
    out = lsh_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, n_planes=4
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


def _sql_emb_capped_cand(cap: int | tuple[int, int]) -> str:
    """Embedding candidate generation with the star-collapse dial as
    oracle SQL over a ``v(vec_id, v, bk)`` CTE — the embedding mirror
    of _sql_capped_cand: int = pinned cap, (floor, ceiling) tuple =
    the AUTO census-derived cap (operators/similarity.py::
    near_dup_pairs / operators/dedup.py::resolve_auto_cap)."""
    if isinstance(cap, tuple):
        floor, ceiling = cap
        extra = f""",
    chist AS (SELECT c AS bc, COUNT(*) AS f FROM stats GROUP BY c),
    capv AS (SELECT LEAST({ceiling}, GREATEST({floor}, COALESCE(
               (SELECT MIN(bc)
                FROM (SELECT bc, SUM(f) OVER (ORDER BY bc) AS cf FROM chist)
                WHERE cf >= CEIL({dd.AUTO_CAP_P}
                                 * (SELECT SUM(f) FROM chist))),
               {floor}))) AS cap)"""
        cap_expr = "(SELECT cap FROM capv)"
    else:
        extra, cap_expr = "", str(cap)
    return f"""stats AS (SELECT bk, COUNT(*) AS c, MIN(vec_id) AS m
              FROM v GROUP BY bk){extra},
    hot AS (SELECT bk, c, m FROM stats WHERE c > {cap_expr}),
    cold AS (SELECT v.* FROM v ANTI JOIN hot h ON h.bk = v.bk),
    cand AS (
      SELECT a.vec_id AS id_a, a.v AS va, b.vec_id AS id_b, b.v AS vb
      FROM cold a JOIN cold b ON a.bk = b.bk AND a.vec_id < b.vec_id
      UNION ALL
      SELECT h.m, mv.v, x.vec_id, x.v
      FROM v x
      JOIN hot h ON h.bk = x.bk AND x.vec_id > h.m
      JOIN v mv ON mv.bk = h.bk AND mv.vec_id = h.m)"""


#: production AUTO clamps for the embedding kernel: shared floor 64,
#: ceiling = 2 × the plane count's target bucket size (1024 default)
_EMB_AUTO = (dd.AUTO_CAP_FLOOR, 2 * 1024)

#: binding AUTO clamps for the gate: the sf0.01 sign-LSH census is 16
#: buckets of 18-44 vectors (p99 = max = 44, few buckets), so ceiling
#: 30 resolves as the cap, buckets of <= 30 keep cliques and the
#: bigger ones emit stars — both branches populated
_EMB_AUTO_BIND = (2, 30)


@register(
    "emb_near_dup_pairs",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      {_sql_sign_bucket('embedding::DOUBLE[]', 4, 64)} AS bk
               FROM embeddings),
    {_sql_emb_capped_cand(_EMB_AUTO)}
    SELECT id_a, id_b, {_sql_cos('va', 'vb')} AS cos_sim
    FROM cand
    WHERE {_sql_cos('va', 'vb')} >= 0.3
    """,
)
def emb_near_dup_pairs(spark, sf):
    """Embedding-cosine near-duplicate pairs over the whole corpus:
    sign-LSH bucket self-join (16 buckets) → exact cosine ≥ 0.3 on
    same-bucket pairs only. The corpus cross-product never
    materializes — the scale property that matters at 100 TB
    (operators/similarity.py::near_dup_pairs). Runs the r11 DEFAULT
    dial (bucket_cap='auto', clamps 64 / 2×target): the oracle
    carries the same census-derived chain; at gate scale p99 = the
    max bucket (16 buckets → p99 IS the max), the resolved cap covers
    every bucket and the exact uncapped plan runs bit-for-bit."""
    from syncflux_spark.operators.similarity import near_dup_pairs

    emb = load_table(spark, sf, "embeddings")
    return near_dup_pairs(emb, threshold=0.3, n_planes=4, dim=64)


@register(
    "emb_near_dup_pairs_auto",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      {_sql_sign_bucket('embedding::DOUBLE[]', 4, 64)} AS bk
               FROM embeddings),
    {_sql_emb_capped_cand(_EMB_AUTO_BIND)}
    SELECT id_a, id_b, {_sql_cos('va', 'vb')} AS cos_sim
    FROM cand
    WHERE {_sql_cos('va', 'vb')} >= 0.3
    """,
)
def emb_near_dup_pairs_auto(spark, sf):
    """The embedding AUTO derivation under the full gate with clamps
    that BIND (floor 2 / ceiling 30): census → histogram → discrete
    p99 → clamp, replayed verbatim in the oracle — the embedding twin
    of lsh_candidate_pairs_auto. At sf0.01 the 16 sign-LSH buckets
    hold 18-44 vectors, so the resolved cap is the ceiling 30:
    buckets ≤ 30 keep exact cliques, larger ones emit (bucket-min,
    member) stars, and every candidate still faces the exact
    cosine ≥ 0.3 verify."""
    from syncflux_spark.operators.similarity import near_dup_pairs

    emb = load_table(spark, sf, "embeddings")
    return near_dup_pairs(
        emb,
        threshold=0.3,
        n_planes=4,
        dim=64,
        auto_floor=_EMB_AUTO_BIND[0],
        auto_ceiling=_EMB_AUTO_BIND[1],
    )


@register(
    "emb_bucket_census",
    f"""
    WITH v AS (SELECT vec_id, {_sql_sign_bucket('embedding::DOUBLE[]', 4, 64)} AS bk
               FROM embeddings),
         stats AS (SELECT bk, COUNT(*) AS c FROM v GROUP BY bk),
         hist AS (SELECT c, COUNT(*) AS f FROM stats GROUP BY c),
         tot AS (SELECT SUM(f) AS nb,
                        SUM(f * ((c * (c - 1)) // 2)) AS tp FROM hist)
    {_CENSUS_SELECT_SQL}
    """,
)
def emb_bucket_census(spark, sf):
    """The embedding flavor of the bucket-mass census: per distinct
    sign-LSH bucket size (16 buckets at 4 planes), bucket counts and
    row/pair mass — the table that exposes the clustered-embedding
    failure mode (a tight cluster shares signs on EVERY hyperplane,
    so one bucket holds the whole cluster at any plane count) before
    the self-join pays for it."""
    from syncflux_spark.operators.similarity import sign_lsh_bucket

    emb = load_table(spark, sf, "embeddings")
    stats = (
        emb.select(sign_lsh_bucket("embedding", 4, 64).alias("bk"))
        .groupBy("bk")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return _bucket_census_frame(stats)


@register(
    "emb_near_dup_pairs_capped",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      {_sql_sign_bucket('embedding::DOUBLE[]', 4, 64)} AS bk
               FROM embeddings),
    stats AS (SELECT bk, COUNT(*) AS c, MIN(vec_id) AS m
              FROM v GROUP BY bk),
    hot AS (SELECT * FROM stats WHERE c > 8),
    cold AS (SELECT v.* FROM v ANTI JOIN hot h ON h.bk = v.bk),
    cand AS (
      SELECT a.vec_id AS id_a, a.v AS va, b.vec_id AS id_b, b.v AS vb
      FROM cold a JOIN cold b ON a.bk = b.bk AND a.vec_id < b.vec_id
      UNION ALL
      SELECT h.m, mv.v, x.vec_id, x.v
      FROM v x
      JOIN hot h ON h.bk = x.bk AND x.vec_id > h.m
      JOIN v mv ON mv.bk = h.bk AND mv.vec_id = h.m)
    SELECT id_a, id_b, {_sql_cos('va', 'vb')} AS cos_sim
    FROM cand
    WHERE {_sql_cos('va', 'vb')} >= 0.3
    """,
)
def emb_near_dup_pairs_capped(spark, sf):
    """emb_near_dup_pairs with the hot-bucket star-collapse dial —
    the embedding flavor of the r10 scale fix. Plane count sizes
    sign-LSH buckets only under uniform hashing; REAL embedding
    corpora are clustered, and a tight cluster shares signs on every
    hyperplane, so one bucket holds the whole cluster at any plane
    count: the uncapped registered query on 60k clustered vectors
    built ~112M candidate pairs (each dragging two 64-double arrays
    through the shuffle) and spilled past the machine's disk
    (SCALE.md r10). Buckets over the cap emit (bucket-min, member)
    star candidates — O(c) — all still facing the exact cosine ≥ 0.3
    verify. cap=8 binds on the driver corpus (200 vectors / 16
    buckets); production caps are O(thousands). Hot set = one
    map-side-combined count, broadcast back; no wide shuffle added
    (operators/similarity.py::near_dup_pairs)."""
    from syncflux_spark.operators.similarity import near_dup_pairs

    emb = load_table(spark, sf, "embeddings")
    return near_dup_pairs(
        emb, threshold=0.3, n_planes=4, dim=64, bucket_cap=8
    )


def _register_emb_components():
    edges_sql = REGISTRY["emb_near_dup_pairs"].sql

    @register(
        "emb_dedup_components",
        f"""
        WITH RECURSIVE edges AS ({edges_sql}),
        sym AS (SELECT id_a AS a, id_b AS b FROM edges
                UNION ALL SELECT id_b, id_a FROM edges),
        reach(id, r) AS (
          SELECT vec_id, vec_id FROM embeddings
          UNION
          SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.id
        )
        SELECT id AS vec_id, CAST(MIN(r) AS BIGINT) AS component
        FROM reach GROUP BY id
        """,
    )
    def emb_dedup_components(spark, sf):
        """SEMANTIC dedup groups: connected components over the
        cosine ≥ 0.3 embedding near-dup graph (same 16-bucket sign-LSH
        candidates as emb_near_dup_pairs, so the oracle reproduces the
        identical graph). Spark: iterative label propagation; oracle:
        recursive CTE — matching hashes validate the distributed
        iteration (operators/dedup.py::embedding_components)."""
        return dd.embedding_components(
            load_table(spark, sf, "embeddings"),
            threshold=0.3,
            n_planes=4,
            dim=64,
        )

    capped_edges = REGISTRY["emb_near_dup_pairs_capped"].sql

    @register(
        "emb_dedup_components_capped",
        f"""
        WITH RECURSIVE edges AS ({capped_edges}),
        sym AS (SELECT id_a AS a, id_b AS b FROM edges
                UNION ALL SELECT id_b, id_a FROM edges),
        reach(id, r) AS (
          SELECT vec_id, vec_id FROM embeddings
          UNION
          SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.id
        )
        SELECT id AS vec_id, CAST(MIN(r) AS BIGINT) AS component
        FROM reach GROUP BY id
        """,
    )
    def emb_dedup_components_capped(spark, sf):
        """Semantic dedup components over the STAR-COLLAPSED embedding
        near-dup graph (bucket_cap=8, binding on every sf0.01 bucket)
        — the capped twin the r10 verdict named missing: the uncapped
        form inherits emb_near_dup_pairs' x30 clustered-bucket disk
        wall, while this one consumes the O(c)-per-bucket star
        candidate graph. Star edges face the same cosine ≥ 0.3
        verify, so a failed star edge can split a hot cluster the
        clique would have held (the label propagation then sees two
        components) — the documented recall trade; the oracle replays
        the identical capped graph so the trade is value-hash-gated,
        not asserted."""
        return dd.embedding_components(
            load_table(spark, sf, "embeddings"),
            threshold=0.3,
            n_planes=4,
            dim=64,
            bucket_cap=8,
        )


_register_emb_components()


@register(
    "ts_upsert_collapse",
    """
    SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           CAST(MAX(event_id) AS BIGINT) AS event_id,
           MAX_BY(value, event_id) AS value,
           CAST(COUNT(*) AS BIGINT) AS n_versions
    FROM (SELECT * FROM events UNION ALL
          SELECT * FROM events WHERE event_type = 'purchase')
    GROUP BY user_id, event_type, ts
    """,
)
def ts_upsert_collapse(spark, sf):
    """Influx upsert semantics (SURVEY §7.3 hard-part #4): duplicate
    (series, time) points collapse last-write-wins. The input is the
    events table unioned with a re-copied slice (simulating a chunk
    replay into an append-only sink); the collapse is one hash agg
    keyed by (tags, time) with max_by picking the winning version —
    the batch form of the MERGE the reference gets implicitly from
    InfluxDB (sync.go:215-232 would double-write without it)."""
    ev = load_table(spark, sf, "events")
    replayed = ev.unionByName(ev.where(F.col("event_type") == "purchase"))
    return replayed.groupBy(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    ).agg(
        F.max("event_id").alias("event_id"),
        F.max_by("value", "event_id").alias("value"),
        F.count(F.lit(1)).alias("n_versions"),
    )


@register(
    "ts_json_props",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS max_k,
           CAST(COUNT(json_extract_string(props, '$.k')) AS BIGINT) AS n_with_k
    FROM events GROUP BY event_type
    """,
)
def ts_json_props(spark, sf):
    """Semi-structured column handling: extract a typed field from the
    JSON props column and aggregate it — JSONPath stays JVM-side
    (get_json_object), no UDF. At scale, promote hot JSON fields to
    typed columns at ingest; this is the query-side fallback."""
    ev = load_table(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.count(k).alias("n_with_k"),
    )


@register(
    "users_click_no_purchase",
    """
    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    EXCEPT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def users_click_no_purchase(spark, sf):
    """Set difference (EXCEPT): users who clicked but never purchased.
    Distinct-then-subtract — both sides collapse map-side before the
    anti shuffle."""
    ev = load_table(spark, sf, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id").distinct()
    buys = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    return clicks.exceptAll(buys)


@register(
    "event_transitions",
    """
    WITH t AS (SELECT event_type AS from_type,
                      lead(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS to_type
               FROM events),
    g AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM t WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT)::DOUBLE AS p
    FROM g
    """,
)
def event_transitions(spark, sf):
    """First-order Markov transition matrix of user behavior: counts
    and probabilities of event_type → next event_type within each
    user's timeline. One shuffle on user_id for the lead window, one
    partial-agg shuffle to the |types|² matrix; probabilities are a
    single division of exact counts over a matrix-sized window
    total."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    g = t.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    tot = F.sum("n").over(Window.partitionBy("from_type"))
    return g.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / tot.cast("double")).alias("p"),
    )


@register(
    "sliding_distinct_users",
    """
    WITH ud AS (SELECT DISTINCT user_id,
                       CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
                FROM events),
    w AS (SELECT user_id, day + i AS win_day
          FROM ud, unnest(generate_series(0, 6)) AS t(i)),
    b AS (SELECT CAST(MIN(day) AS BIGINT) AS lo, CAST(MAX(day) AS BIGINT) AS hi
          FROM ud)
    SELECT CAST(win_day AS BIGINT) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users_7d
    FROM w, b WHERE win_day BETWEEN b.lo AND b.hi
    GROUP BY win_day
    """,
)
def sliding_distinct_users(spark, sf):
    """7-day sliding distinct users (rolling actives): distinct does
    NOT decompose over sliding windows, so the scale-correct exact
    form maps each (user, active-day) to the ≤7 windows it serves —
    explode by a constant 0..6, distinct once upstream — and counts
    distinct per window. Work is |distinct user-days|×7, independent
    of raw event volume; the alternative self-join over a 7-day range
    re-scans events per window. Window ids outside the observed day
    span are clipped to match the oracle."""
    ev = load_table(spark, sf, "events")
    ud = ev.select(
        "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day")
    ).distinct()
    b = ud.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    w = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        (F.col("day") + F.col("i")).alias("win_day"),
    )
    return (
        w.crossJoin(F.broadcast(b))
        .where((F.col("win_day") >= F.col("lo")) & (F.col("win_day") <= F.col("hi")))
        .groupBy(F.col("win_day").alias("day"))
        .agg(F.count_distinct("user_id").alias("users_7d"))
    )


@register(
    "funnel_conversion",
    """
    WITH ev AS (SELECT user_id, event_type,
                       CAST(epoch_us(ts) AS BIGINT) AS tus FROM events),
    v AS (SELECT user_id, MIN(tus) AS t1 FROM ev
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT ev.user_id, MIN(tus) AS t2 FROM ev JOIN v USING (user_id)
          WHERE event_type = 'click' AND tus >= v.t1 GROUP BY ev.user_id),
    p AS (SELECT ev.user_id, MIN(tus) AS t3 FROM ev JOIN c USING (user_id)
          WHERE event_type = 'purchase' AND tus >= c.t2 GROUP BY ev.user_id)
    SELECT v.user_id, v.t1 AS t1_us, c.t2 AS t2_us, p.t3 AS t3_us,
           CAST(1 + CASE WHEN c.t2 IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN p.t3 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS step
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
)
def funnel_conversion(spark, sf):
    """Ordered conversion funnel view → click → purchase per user:
    stage k's timestamp is the earliest qualifying event AT OR AFTER
    stage k-1's (not merely the user's earliest — ordering is the
    point of a funnel). Three stage-filtered partial-agg mins chained
    by equality joins on user_id; all timestamps ride exact µs longs.
    The per-stage filter runs before each shuffle, so each stage
    moves only that stage's events."""
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("tus").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("tus") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("tus").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("tus") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("tus").alias("t3"))
    )
    step = (
        F.lit(1)
        + F.when(F.col("t2").isNull(), 0).otherwise(1)
        + F.when(F.col("t3").isNull(), 0).otherwise(1)
    ).cast("long")
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.col("t1").alias("t1_us"),
            F.col("t2").alias("t2_us"),
            F.col("t3").alias("t3_us"),
            step.alias("step"),
        )
    )


@register(
    "partitioned_scan_counts",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-10' AND '2024-01-20'
    GROUP BY dt, event_type
    """,
)
def partitioned_scan_counts(spark, sf):
    """Date-partitioned layout round-trip: events rewritten as
    ``dt=YYYY-MM-DD/`` directories, then an 11-day range scanned back
    with the date predicate as a PARTITION filter — whole directories
    pruned driver-side before any file opens (the 100-TB lever:
    don't read it at all). Counts per (day, type) match the oracle
    computed straight off the raw table, proving the layout loses
    nothing and the pruned scan sees exactly the in-range rows.
    Plan-asserted in tests/test_plans.py (PartitionFilters carry the
    dt bounds; sources/partitioned.py)."""
    import os

    from syncflux_spark.sources.partitioned import (
        read_date_range,
        write_date_partitioned,
    )

    root = tempfile.mkdtemp(prefix="sf_dtpart_")
    dst = os.path.join(root, "events_by_day")
    write_date_partitioned(load_table(spark, sf, "events"), dst)
    rd = read_date_range(spark, dst, "2024-01-10", "2024-01-20")
    return rd.groupBy(
        F.col("dt").cast("string").alias("dt"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "kmv_set_overlap",
    """
    WITH h AS (SELECT DISTINCT event_type,
                 ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT
                   AS v
               FROM events),
    t AS (SELECT DISTINCT event_type FROM h),
    tp AS (SELECT x.event_type AS t1, y.event_type AS t2
           FROM t x JOIN t y ON x.event_type < y.event_type),
    m AS (SELECT t1, t2, t1 AS et FROM tp
          UNION ALL SELECT t1, t2, t2 AS et FROM tp),
    g AS (SELECT m.t1, m.t2, h.v,
                 MAX(CASE WHEN h.event_type = m.t1 THEN 1 ELSE 0 END) AS in_a,
                 MAX(CASE WHEN h.event_type = m.t2 THEN 1 ELSE 0 END) AS in_b
          FROM m JOIN h ON h.event_type = m.et
          GROUP BY m.t1, m.t2, h.v),
    ex AS (SELECT t1, t2, CAST(COUNT(*) AS BIGINT) AS n_union,
                  CAST(SUM(in_a * in_b) AS BIGINT) AS n_inter
           FROM g GROUP BY t1, t2),
    r AS (SELECT t1, t2, v, in_a, in_b,
                 row_number() OVER (PARTITION BY t1, t2 ORDER BY v) AS rn
          FROM g),
    sk AS (SELECT t1, t2, CAST(COUNT(*) AS BIGINT) AS n_sample,
                  CAST(MAX(v) AS BIGINT) AS kth_hash,
                  CAST(SUM(in_a * in_b) AS BIGINT) AS n_both_topk
           FROM r WHERE rn <= 64 GROUP BY t1, t2)
    SELECT sk.t1 AS type_a, sk.t2 AS type_b, n_sample, kth_hash, n_both_topk,
           CAST(n_both_topk AS BIGINT) / CAST(n_sample AS BIGINT)
             AS jaccard_est,
           CASE WHEN n_sample < 64 OR kth_hash = 0
                THEN CAST(n_sample AS DOUBLE)
                ELSE 17732923532771328.0::DOUBLE / CAST(kth_hash AS BIGINT)::DOUBLE
           END AS est_union,
           (CAST(n_both_topk AS BIGINT) / CAST(n_sample AS BIGINT))
             * (CASE WHEN n_sample < 64 OR kth_hash = 0
                     THEN CAST(n_sample AS DOUBLE)
                     ELSE 17732923532771328.0::DOUBLE
                          / CAST(kth_hash AS BIGINT)::DOUBLE END)
             AS est_intersection,
           CAST(n_inter AS BIGINT) / CAST(n_union AS BIGINT) AS exact_jaccard
    FROM sk JOIN ex ON ex.t1 = sk.t1 AND ex.t2 = sk.t2
    """,
)
def kmv_set_overlap(spark, sf):
    """KMV sketch SET OPERATIONS: for every event-type pair, estimate
    union size, Jaccard, and intersection size of the two user sets
    from ONE mergeable bottom-64 sketch per type — the audience-
    overlap question answered without holding either set. The
    estimator is the standard KMV combinator (Beyer et al. '07):
    bottom-k of A∪B is computable from bottom-k(A) ∪ bottom-k(B);
    J_est = |{bottom-k of the union} ∩ A ∩ B| / k; intersection ≈
    J_est · union_est. Deterministic md5-derived 48-bit hashes mean
    both engines produce the IDENTICAL sketch, so the oracle checks
    the estimates themselves, with the exact Jaccard alongside as the
    error budget. Pair explosion is |types|² metadata, never data;
    per-pair work is bottom-k heaps (WindowGroupLimit) over the
    distinct-hash stream. At 100 TB the per-type sketches are tiny
    persisted state and pair estimates are sketch-only arithmetic."""
    ev = load_table(spark, sf, "events")
    h = ev.select(
        "event_type",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10)
        .cast("long")
        .alias("v"),
    ).distinct()
    t = h.select("event_type").distinct()
    tp = (
        t.alias("x")
        .join(t.alias("y"), F.col("x.event_type") < F.col("y.event_type"))
        .select(
            F.col("x.event_type").alias("t1"), F.col("y.event_type").alias("t2")
        )
    )
    m = tp.select("t1", "t2", F.col("t1").alias("et")).unionByName(
        tp.select("t1", "t2", F.col("t2").alias("et"))
    )
    g = (
        m.join(h, m.et == h.event_type)
        .groupBy("t1", "t2", "v")
        .agg(
            F.max(F.when(F.col("et") == F.col("t1"), 1).otherwise(0)).alias(
                "in_a"
            ),
            F.max(F.when(F.col("et") == F.col("t2"), 1).otherwise(0)).alias(
                "in_b"
            ),
        )
    )
    from syncflux_spark.utils import eager_persist

    g = eager_persist(g)  # feeds both the exact and the sketch branch
    ex = g.groupBy("t1", "t2").agg(
        F.count(F.lit(1)).cast("long").alias("n_union"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_inter"),
    )
    w = Window.partitionBy("t1", "t2").orderBy("v")
    sk = (
        g.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 64)
        .groupBy("t1", "t2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sample"),
            F.max("v").cast("long").alias("kth_hash"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias(
                "n_both_topk"
            ),
        )
    )
    jac = F.col("n_both_topk") / F.col("n_sample")
    est_u = F.when(
        (F.col("n_sample") < 64) | (F.col("kth_hash") == 0),
        F.col("n_sample").cast("double"),
    ).otherwise(F.lit(17732923532771328.0) / F.col("kth_hash").cast("double"))
    return sk.join(ex, ["t1", "t2"]).select(
        F.col("t1").alias("type_a"),
        F.col("t2").alias("type_b"),
        "n_sample",
        "kth_hash",
        "n_both_topk",
        jac.alias("jaccard_est"),
        est_u.alias("est_union"),
        (jac * est_u).alias("est_intersection"),
        (F.col("n_inter") / F.col("n_union")).alias("exact_jaccard"),
    )


@register(
    "cms_user_counts",
    """
    WITH ev AS (SELECT user_id, md5(CAST(user_id AS VARCHAR)) AS h
                FROM events),
    cells AS (
      SELECT i, ('0x' || substring(h, 1 + 2 * i, 2))::BIGINT AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM ev, (SELECT unnest([0, 1, 2, 3]) AS i)
      GROUP BY i, bucket
    ),
    exact AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n,
                     md5(CAST(user_id AS VARCHAR)) AS h
              FROM events GROUP BY user_id),
    top AS (SELECT user_id, exact_n, h,
                   row_number() OVER (ORDER BY exact_n DESC, user_id) AS rn
            FROM exact),
    probes AS (
      SELECT user_id, exact_n, i,
             ('0x' || substring(h, 1 + 2 * i, 2))::BIGINT AS bucket
      FROM top, (SELECT unnest([0, 1, 2, 3]) AS i)
      WHERE rn <= 20
    )
    SELECT p.user_id, p.exact_n,
           CAST(MIN(c.cnt) AS BIGINT) AS est_n,
           CAST(MIN(c.cnt) - p.exact_n AS BIGINT) AS overcount
    FROM probes p JOIN cells c ON c.i = p.i AND c.bucket = p.bucket
    GROUP BY p.user_id, p.exact_n
    """,
)
def cms_user_counts(spark, sf):
    """Count-Min sketch (4 rows × 256 buckets) over per-user event
    counts, probed at the top-20 heavy hitters: est = min over the 4
    hash rows of the user's cell, always ≥ exact (one-sided error) —
    the frequency sketch that answers "how often did X occur" in
    O(d·w) memory at any stream size. The 4 row-hashes are disjoint
    byte slices of ONE md5 per key (the engine's standard
    deterministic-hash trick), and CMS merge is cell-wise integer
    ADDITION — commutative, so any partitioning/partial-agg order
    produces the identical matrix and the oracle checks the
    ESTIMATES, not just plumbing. Build is one explode(4)+agg; the
    1024-cell matrix broadcasts to probes. est_n ≥ exact_n is also
    asserted as an invariant in tests."""
    ev = load_table(spark, sf, "events")
    h = F.md5(F.col("user_id").cast("string"))
    cell_structs = [
        F.struct(
            F.lit(i).alias("i"),
            F.conv(F.substring(h, 1 + 2 * i, 2), 16, 10)
            .cast("long")
            .alias("bucket"),
        )
        for i in range(4)
    ]
    cells = (
        ev.select(F.explode(F.array(*cell_structs)).alias("c"))
        .groupBy(F.col("c.i").alias("i"), F.col("c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_n")
    )
    w = Window.orderBy(F.desc("exact_n"), "user_id")
    top = (
        exact.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .drop("rn")
    )
    hp = F.md5(F.col("user_id").cast("string"))
    probe_structs = [
        F.struct(
            F.lit(i).alias("i"),
            F.conv(F.substring(hp, 1 + 2 * i, 2), 16, 10)
            .cast("long")
            .alias("bucket"),
        )
        for i in range(4)
    ]
    probes = top.select(
        "user_id",
        "exact_n",
        F.explode(F.array(*probe_structs)).alias("c"),
    ).select("user_id", "exact_n", F.col("c.i").alias("i"), F.col("c.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(cells), ["i", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").cast("long").alias("est_n"))
        .select(
            "user_id",
            "exact_n",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).cast("long").alias("overcount"),
        )
    )


@register(
    "bloom_purchase_filter",
    """
    WITH members AS (SELECT user_id FROM events
                     WHERE event_type = 'purchase'
                     GROUP BY user_id HAVING COUNT(*) > 13),
    bits AS (
      SELECT DISTINCT
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)),
                               1 + 3 * i, 3))::BIGINT % 2048 AS pos
      FROM members, (SELECT unnest([0, 1, 2]) AS i)
    ),
    allu AS (SELECT DISTINCT user_id FROM events),
    probe AS (
      SELECT u.user_id,
             ('0x' || substring(md5(CAST(u.user_id AS VARCHAR)),
                               1 + 3 * i, 3))::BIGINT % 2048 AS pos
      FROM allu u, (SELECT unnest([0, 1, 2]) AS i)
    ),
    hit AS (
      SELECT p.user_id,
             CAST(COUNT(b.pos) AS BIGINT) AS n_hit
      FROM probe p LEFT JOIN bits b ON b.pos = p.pos
      GROUP BY p.user_id
    ),
    flags AS (
      SELECT h.user_id,
             CASE WHEN h.n_hit = 3 THEN 1 ELSE 0 END AS claimed,
             CASE WHEN m.user_id IS NULL THEN 0 ELSE 1 END AS actual
      FROM hit h LEFT JOIN members m ON m.user_id = h.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(actual) AS BIGINT) AS n_members,
           CAST(SUM(claimed) AS BIGINT) AS n_claimed,
           CAST(SUM(CASE WHEN claimed = 1 AND actual = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           CASE WHEN COUNT(*) > SUM(actual)
                THEN CAST(SUM(CASE WHEN claimed = 1 AND actual = 0
                               THEN 1 ELSE 0 END) AS BIGINT)
                     / CAST(COUNT(*) - SUM(actual) AS BIGINT) END AS fp_rate
    FROM flags
    """,
)
def bloom_purchase_filter(spark, sf):
    """Bloom-filter membership with DETERMINISTIC hashing: the
    heavy-purchaser set (>13 purchases — the per-user purchase median
    is a stable 13 at every fixture sf, so the split stays ~half the
    population at any scale) compiled to a 2048-bit / 3-hash filter (three
    12-bit md5 slices mod 2048 per key), probed by every distinct
    user; reports claimed vs actual membership and the realized
    false-positive rate — with zero false NEGATIVES by construction,
    which the oracle enforces (n_claimed ⊇ n_members exactly). A
    bloom bitset is an OR of per-key bits — commutative like every
    sketch in this engine, so the distributed build equals the
    oracle's regardless of partitioning. The bit SET (≤2048 rows)
    broadcasts to the probe side; at 100 TB this is the pre-shuffle
    row filter pattern (probe the broadcast filter map-side, pay the
    join only for probable members — Spark's own runtime bloom
    pushdown, here as an explicit, engine-portable operator)."""
    ev = load_table(spark, sf, "events")

    def positions(df, col="user_id"):
        h = F.md5(F.col(col).cast("string"))
        ps = [
            F.conv(F.substring(h, 1 + 3 * i, 3), 16, 10).cast("long") % 2048
            for i in range(3)
        ]
        return df.select(col, F.explode(F.array(*ps)).alias("pos"))

    members = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > 13)
        .select("user_id")
    )
    from syncflux_spark.utils import eager_persist

    members = eager_persist(members)  # bits build + actual-flag join
    bits = positions(members).select("pos").distinct()
    allu = ev.select("user_id").distinct()
    hit = (
        positions(allu)
        .join(F.broadcast(bits.withColumn("_b", F.lit(1))), "pos", "left")
        .groupBy("user_id")
        .agg(F.count("_b").cast("long").alias("n_hit"))
    )
    flags = hit.join(
        members.withColumn("_m", F.lit(1)), "user_id", "left"
    ).select(
        F.when(F.col("n_hit") == 3, 1).otherwise(0).alias("claimed"),
        F.when(F.col("_m").isNull(), 0).otherwise(1).alias("actual"),
    )
    fp = F.sum(
        F.when((F.col("claimed") == 1) & (F.col("actual") == 0), 1).otherwise(0)
    ).cast("long")
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("actual").cast("long").alias("n_members"),
        F.sum("claimed").cast("long").alias("n_claimed"),
        fp.alias("n_false_pos"),
    ).select(
        "n_users",
        "n_members",
        "n_claimed",
        "n_false_pos",
        F.when(
            F.col("n_users") > F.col("n_members"),
            F.col("n_false_pos")
            / (F.col("n_users") - F.col("n_members")).cast("long"),
        ).alias("fp_rate"),
    )


@register(
    "zorder_scan_counts",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_value_micro
    FROM events
    WHERE user_id BETWEEN 40 AND 60
      AND ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
    GROUP BY event_type
    """,
)
def zorder_scan_counts(spark, sf):
    """Z-order clustered layout round-trip: events rewritten
    Morton-ordered on (user_id, time) — sources/zorder.py — then a
    2-D predicate (user range × week) scanned back; counts must match
    the oracle on the raw table, proving the interleave/partition/
    sort pipeline loses nothing. The LAYOUT benefit (the 2-D
    predicate's rows concentrate in a fraction of the files, so
    row-group stats skip the rest — the thing neither time-sort nor
    date partitioning gives for the user dimension) is asserted
    separately in tests/test_zorder.py with a files-touched
    comparison against a time-sorted copy."""
    import os

    from syncflux_spark.sources.zorder import read_zordered, write_zordered

    ev = load_table(spark, sf, "events")
    root = tempfile.mkdtemp(prefix="sf_zorder_")
    dst = os.path.join(root, "events_z")
    write_zordered(
        ev.select(
            "event_id", "user_id", "event_type", "value", F.col("ts_ns")
        ),
        dst,
        "user_id",
        "ts_ns",
    )
    rd = read_zordered(spark, dst)
    lo = 1704672000000000000  # 2024-01-08 UTC as ns
    hi = 1705276800000000000  # 2024-01-15
    return (
        rd.where(
            (F.col("user_id") >= 40)
            & (F.col("user_id") <= 60)
            & (F.col("ts_ns") >= lo)
            & (F.col("ts_ns") < hi)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("sum_value_micro"),
        )
    )


@register(
    "kmv_distinct_users",
    """
    WITH h AS (SELECT DISTINCT event_type,
                 ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT
                   AS v
               FROM events),
    r AS (SELECT event_type, v,
                 row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn
          FROM h),
    s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sample,
                 CAST(MAX(v) AS BIGINT) AS kth_hash
          FROM r WHERE rn <= 64 GROUP BY event_type),
    x AS (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT)
                   AS exact_distinct
          FROM events GROUP BY event_type)
    SELECT s.event_type, n_sample, kth_hash,
           CASE WHEN n_sample < 64 OR kth_hash = 0
                THEN CAST(n_sample AS DOUBLE)
                ELSE 17732923532771328.0::DOUBLE / CAST(kth_hash AS BIGINT)::DOUBLE
           END AS est_distinct,
           exact_distinct
    FROM s JOIN x USING (event_type)
    """,
)
def kmv_distinct_users(spark, sf):
    """Distinct-count sketch, KMV (bottom-k minimum values, k=64):
    estimate per-type distinct users as (k-1)/frac(kth-smallest hash).
    Unlike HLL the sketch is a deterministic function of the data —
    md5-derived 48-bit hash values, k smallest per group — so two
    engines agree bitwise and the oracle checks the ESTIMATE itself,
    with the exact count alongside for the error budget. The rank<=k
    filter triggers Spark's WindowGroupLimit: a per-partition bottom-k
    heap runs before the per-group sort, so the full distinct-hash set
    is never globally sorted; mergeability of bottom-k is what makes
    the sketch shuffle-light at 100 TB. 17732923532771328 = 63·2^48
    (exactly representable; single IEEE division)."""
    ev = load_table(spark, sf, "events")
    h = ev.select(
        "event_type",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10)
        .cast("long")
        .alias("v"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("v")
    s = (
        h.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 64)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_sample"),
            F.max("v").alias("kth_hash"),
        )
    )
    x = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    est = F.when(
        (F.col("n_sample") < 64) | (F.col("kth_hash") == 0),
        F.col("n_sample").cast("double"),
    ).otherwise(F.lit(17732923532771328.0) / F.col("kth_hash").cast("double"))
    return s.join(x, "event_type").select(
        "event_type", "n_sample", "kth_hash", est.alias("est_distinct"), "exact_distinct"
    )


@register(
    "cohort_retention",
    """
    WITH f AS (SELECT user_id,
                      MIN(epoch_us(ts)) // 604800000000 AS w0
               FROM events GROUP BY user_id),
    a AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS w
          FROM events)
    SELECT CAST(w0 AS BIGINT) AS cohort_week,
           CAST(w - w0 AS BIGINT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM a JOIN f USING (user_id)
    GROUP BY w0, w - w0
    """,
)
def cohort_retention(spark, sf):
    """Cohort retention triangle: users grouped by first-seen epoch
    week, counted in each subsequent week they were active. Two
    partial-agg passes over the fact (first-seen min, distinct
    user-weeks) joined on user_id; the final count groups a
    users×weeks-sized frame, never the raw events. Week ids are
    exact integer µs-epoch divisions."""
    ev = load_table(spark, sf, "events")
    wk = F.expr("unix_micros(ts) div 604800000000")
    f = ev.groupBy("user_id").agg(
        F.expr("min(unix_micros(ts)) div 604800000000").alias("w0")
    )
    a = ev.select("user_id", wk.alias("w")).distinct()
    return (
        a.join(f, "user_id")
        .groupBy(
            F.col("w0").alias("cohort_week"),
            (F.col("w") - F.col("w0")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "ts_outliers",
    f"""
    WITH s AS (SELECT user_id, event_type,
                      CAST(epoch_us(ts) AS BIGINT) AS ts_us, value,
                      {_sql_micros('value')} AS vm,
                      CAST(SUM({_sql_micros('value')}) OVER w AS DOUBLE) AS sx,
                      CAST(SUM({_sql_micros('value')} * {_sql_micros('value')})
                           OVER w AS DOUBLE) AS sxx,
                      CAST(COUNT(*) OVER w AS DOUBLE) AS n
               FROM events
               WINDOW w AS (PARTITION BY user_id, event_type))
    SELECT user_id, event_type, ts_us, value,
           (CAST(vm AS DOUBLE) - sx / n)
             / SQRT((sxx - sx * sx / n) / (n - 1.0::DOUBLE)) AS z
    FROM s
    WHERE n >= 3.0::DOUBLE
      AND SQRT((sxx - sx * sx / n) / (n - 1.0::DOUBLE)) > 0.0::DOUBLE
      AND abs(CAST(vm AS DOUBLE) - sx / n)
          > 3.0::DOUBLE * SQRT((sxx - sx * sx / n) / (n - 1.0::DOUBLE))
    """,
)
def ts_outliers(spark, sf):
    """Per-series anomaly detection: events more than 3 sample
    standard deviations from their series mean, with the z-score.
    The moments are whole-partition window sums over exact integer
    micros (order-independent ⇒ deterministic; Σx² ≤ 4e17/series
    stays in int64 — same budget as ts_spread_stddev), so one series
    shuffle serves both the stats and the row-level filter — no
    aggregate-then-join-back second shuffle. The float combination
    (mean, σ, z) runs in one fixed op order on both engines."""
    ev = load_table(spark, sf, "events")
    vm = micros_amt("value")
    w = Window.partitionBy("user_id", "event_type")
    s = ev.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "value",
        vm.alias("vm"),
        F.sum(vm).over(w).cast("double").alias("sx"),
        F.sum(vm * vm).over(w).cast("double").alias("sxx"),
        F.count(F.lit(1)).over(w).cast("double").alias("n"),
    )
    dev = F.col("vm").cast("double") - F.col("sx") / F.col("n")
    sig = F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        / (F.col("n") - F.lit(1.0))
    )
    return (
        s.where((F.col("n") >= 3.0) & (sig > 0.0) & (F.abs(dev) > F.lit(3.0) * sig))
        .select("user_id", "event_type", "ts_us", "value", (dev / sig).alias("z"))
    )


_SERIES_W = "PARTITION BY user_id, event_type ORDER BY ts, event_id"


@register(
    "ts_counter_increase",
    f"""
    WITH d AS (SELECT user_id, event_type,
                      epoch_us(ts) // 3600000000 AS hour_bucket,
                      {_sql_micros('value')}
                        - LAG({_sql_micros('value')}) OVER ({_SERIES_W}) AS dm
               FROM events)
    SELECT user_id, event_type, CAST(hour_bucket AS BIGINT) AS hour_bucket,
           CAST(SUM(CASE WHEN dm > 0 THEN dm ELSE 0 END) AS BIGINT)
             AS increase_micro,
           CAST(SUM(CASE WHEN dm < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_resets
    FROM d WHERE dm IS NOT NULL
    GROUP BY user_id, event_type, hour_bucket
    """,
)
def ts_counter_increase(spark, sf):
    """Prometheus-style counter `increase()` per series per hour:
    monotonic growth summed with reset awareness — a drop is a counter
    restart, so only positive deltas count and resets are tallied, not
    subtracted. One per-series window sort feeds both the delta and
    the hourly rollup; deltas ride exact integer micros."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    vm = micros_amt("value")
    d = ev.select(
        "user_id",
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("hour_bucket"),
        (vm - F.lag(vm).over(w)).alias("dm"),
    ).where(F.col("dm").isNotNull())
    return d.groupBy("user_id", "event_type", "hour_bucket").agg(
        F.sum(F.when(F.col("dm") > 0, F.col("dm")).otherwise(0)).alias(
            "increase_micro"
        ),
        F.sum(F.when(F.col("dm") < 0, 1).otherwise(0)).alias("n_resets"),
    )


@register(
    "customer_rfm_segments",
    """
    WITH base AS (
      SELECT o_custkey,
             MAX(epoch_us(o_orderdate)) AS last_us,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_c
      FROM orders GROUP BY o_custkey),
    scored AS (
      SELECT o_custkey AS custkey, frequency, monetary_c,
             CAST(last_us AS BIGINT) AS last_us,
             CAST(ntile(4) OVER (ORDER BY last_us DESC, o_custkey) AS BIGINT)
               AS r_quartile,
             CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT)
               AS f_quartile,
             CAST(ntile(4) OVER (ORDER BY monetary_c DESC, o_custkey) AS BIGINT)
               AS m_quartile
      FROM base)
    SELECT custkey, last_us, frequency, monetary_c / 100.0 AS monetary,
           r_quartile, f_quartile, m_quartile,
           CASE WHEN r_quartile = 1 AND f_quartile = 1 AND m_quartile = 1
                THEN 'champion'
                WHEN r_quartile >= 3 AND f_quartile <= 2 THEN 'at_risk'
                WHEN r_quartile <= 2 THEN 'active'
                ELSE 'dormant' END AS segment
    FROM scored
    """,
)
def customer_rfm_segments(spark, sf):
    """RFM customer segmentation: recency / frequency / monetary
    quartiles (ties pinned by custkey so the assignment is a total
    order on both engines) composed into standard segment labels.
    Money rides exact cents. The quartiles come from THREE chained
    utils.global_rank passes (range exchange + per-partition
    row_number each) with NTILE's exact bucket arithmetic applied to
    the global rank — a bare ``ntile() OVER (ORDER BY …)`` plans as a
    SINGLE-PARTITION window, the one-node sort this engine bans (the
    plans.py audit caught this masquerading as 'range-partitioned');
    the rank form is plan-asserted SinglePartition-free."""
    from syncflux_spark.utils import global_rank

    o = load_table(spark, sf, "orders")
    base = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.unix_micros("o_orderdate")).alias("last_us"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(cents("o_totalprice")).alias("monetary_c"),
    )
    # descending orders via negated keys (range partitioner sorts asc)
    keyed = base.select(
        "*",
        (-F.col("last_us")).alias("_nr"),
        (-F.col("frequency")).alias("_nf"),
        (-F.col("monetary_c")).alias("_nm"),
    )
    ranked, n = global_rank(keyed, ["_nr", "custkey"], "_r1", return_total=True)
    ranked = global_rank(ranked, ["_nf", "custkey"], "_r2")
    ranked = global_rank(ranked, ["_nm", "custkey"], "_r3")
    # NTILE(4)'s exact buckets: q = n//4, r = n%4; the first r tiles
    # hold q+1 rows — reproduced from the global rank so the result
    # is bit-identical to the oracle's ntile
    q, r = divmod(n, 4)
    cut = r * (q + 1)

    def tile(rank_col: str) -> F.Column:
        return F.expr(
            f"CAST(CASE WHEN {rank_col} <= {cut} "
            f"THEN ({rank_col} - 1) DIV {q + 1} + 1 "
            f"ELSE {r} + ({rank_col} - 1 - {cut}) DIV {max(q, 1)} + 1 "
            f"END AS BIGINT)"
        )

    scored = ranked.select(
        "custkey",
        "last_us",
        "frequency",
        "monetary_c",
        tile("_r1").alias("r_quartile"),
        tile("_r2").alias("f_quartile"),
        tile("_r3").alias("m_quartile"),
    )
    seg = (
        F.when(
            (F.col("r_quartile") == 1)
            & (F.col("f_quartile") == 1)
            & (F.col("m_quartile") == 1),
            "champion",
        )
        .when((F.col("r_quartile") >= 3) & (F.col("f_quartile") <= 2), "at_risk")
        .when(F.col("r_quartile") <= 2, "active")
        .otherwise("dormant")
    )
    return scored.select(
        "custkey",
        "last_us",
        "frequency",
        (F.col("monetary_c") / F.lit(100.0)).alias("monetary"),
        "r_quartile",
        "f_quartile",
        "m_quartile",
        seg.alias("segment"),
    )


@register(
    "ts_sample_per_series",
    """
    SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us, value
    FROM (SELECT *, row_number() OVER (
            PARTITION BY user_id, event_type
            ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
          FROM events)
    WHERE rn <= 5
    """,
)
def ts_sample_per_series(spark, sf):
    """InfluxQL ``SAMPLE(value, 5)`` per series, made deterministic:
    rank events by the md5 of their id (a uniform, reproducible
    shuffle of each series) and keep the first five — same sample on
    every engine, run and partitioning, unlike RNG-based sampling.
    The rank<=k predicate triggers WindowGroupLimit: per-partition
    top-k heaps flow into the single series shuffle, so a series'
    full history is never sorted."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            "value",
        )
    )


@register(
    "ts_derivative",
    f"""
    SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           (CAST(v_micro - LAG(v_micro) OVER ({_SERIES_W}) AS BIGINT)
            / 1000000.0)
           / (CAST(epoch_us(ts) - LAG(epoch_us(ts)) OVER ({_SERIES_W})
                   AS BIGINT) / 1000000.0) AS rate_per_s
    FROM (SELECT user_id, event_type, ts, event_id,
                 {_sql_micros('value')} AS v_micro
          FROM events)
    QUALIFY LAG(v_micro) OVER ({_SERIES_W}) IS NOT NULL
        AND epoch_us(ts) != LAG(epoch_us(ts)) OVER ({_SERIES_W})
    """,
)
def ts_derivative(spark, sf):
    """InfluxQL ``derivative(value, 1s)``: per-series value rate via
    lag over one per-series sort. Numerator/denominator ride exact
    integers; equal-timestamp neighbors are excluded (rate undefined).
    """
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    vm = micros_amt("value")
    us = F.unix_micros("ts")
    d = ev.select(
        "user_id",
        "event_type",
        us.alias("ts_us"),
        ((vm - F.lag(vm).over(w)) / F.lit(1000000.0)).alias("dv"),
        ((us - F.lag(us).over(w)) / F.lit(1000000.0)).alias("dt"),
    )
    return d.where(F.col("dv").isNotNull() & (F.col("dt") != 0)).select(
        "user_id", "event_type", "ts_us", (F.col("dv") / F.col("dt")).alias("rate_per_s")
    )


@register(
    "ts_difference",
    f"""
    SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           CAST(v_micro - LAG(v_micro) OVER ({_SERIES_W}) AS BIGINT) / 1000000.0
             AS diff_value
    FROM (SELECT user_id, event_type, ts, event_id,
                 {_sql_micros('value')} AS v_micro
          FROM events)
    QUALIFY LAG(v_micro) OVER ({_SERIES_W}) IS NOT NULL
    """,
)
def ts_difference(spark, sf):
    """InfluxQL ``difference(value)``: per-series first difference
    (exact integer subtraction, one float division at the end)."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    vm = micros_amt("value")
    d = ev.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        ((vm - F.lag(vm).over(w)) / F.lit(1000000.0)).alias("diff_value"),
    )
    return d.where(F.col("diff_value").isNotNull())


@register(
    "ts_nn_derivative",
    f"""
    SELECT * FROM (
      SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
             (CAST(v_micro - LAG(v_micro) OVER ({_SERIES_W}) AS BIGINT)
              / 1000000.0)
             / (CAST(epoch_us(ts) - LAG(epoch_us(ts)) OVER ({_SERIES_W})
                     AS BIGINT) / 1000000.0) AS rate_per_s
      FROM (SELECT user_id, event_type, ts, event_id,
                   {_sql_micros('value')} AS v_micro
            FROM events)
      QUALIFY LAG(v_micro) OVER ({_SERIES_W}) IS NOT NULL
          AND epoch_us(ts) != LAG(epoch_us(ts)) OVER ({_SERIES_W}))
    WHERE rate_per_s >= 0
    """,
)
def ts_nn_derivative(spark, sf):
    """InfluxQL ``non_negative_derivative(value, 1s)``: the derivative
    with counter-reset (negative-rate) rows dropped — the monotone-
    counter form used for request/byte counters. Same plan as
    ts_derivative plus one filter on the computed rate."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    vm = micros_amt("value")
    us = F.unix_micros("ts")
    d = ev.select(
        "user_id",
        "event_type",
        us.alias("ts_us"),
        ((vm - F.lag(vm).over(w)) / F.lit(1000000.0)).alias("dv"),
        ((us - F.lag(us).over(w)) / F.lit(1000000.0)).alias("dt"),
    )
    return (
        d.where(F.col("dv").isNotNull() & (F.col("dt") != 0))
        .select(
            "user_id",
            "event_type",
            "ts_us",
            (F.col("dv") / F.col("dt")).alias("rate_per_s"),
        )
        .where(F.col("rate_per_s") >= 0)
    )


@register(
    "ts_nn_difference",
    f"""
    SELECT * FROM (
      SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
             CAST(v_micro - LAG(v_micro) OVER ({_SERIES_W}) AS BIGINT)
               / 1000000.0 AS diff_value
      FROM (SELECT user_id, event_type, ts, event_id,
                   {_sql_micros('value')} AS v_micro
            FROM events)
      QUALIFY LAG(v_micro) OVER ({_SERIES_W}) IS NOT NULL)
    WHERE diff_value >= 0
    """,
)
def ts_nn_difference(spark, sf):
    """InfluxQL ``non_negative_difference(value)``: first difference
    with decreases dropped."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    vm = micros_amt("value")
    d = ev.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        ((vm - F.lag(vm).over(w)) / F.lit(1000000.0)).alias("diff_value"),
    )
    return d.where(F.col("diff_value").isNotNull() & (F.col("diff_value") >= 0))


@register(
    "ts_elapsed",
    f"""
    SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           CAST(epoch_us(ts) - LAG(epoch_us(ts)) OVER ({_SERIES_W}) AS BIGINT)
             AS elapsed_us
    FROM events
    QUALIFY LAG(epoch_us(ts)) OVER ({_SERIES_W}) IS NOT NULL
    """,
)
def ts_elapsed(spark, sf):
    """InfluxQL ``elapsed(value)``: µs between consecutive points of a
    series — the inter-arrival profile gap_detect thresholds on."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    d = ev.select(
        "user_id",
        "event_type",
        us.alias("ts_us"),
        (us - F.lag(us).over(w)).alias("elapsed_us"),
    )
    return d.where(F.col("elapsed_us").isNotNull())


@register(
    "ts_moving_average",
    f"""
    SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           (CAST(SUM(v_micro) OVER w AS BIGINT) / 1000000.0)
             / CAST(COUNT(*) OVER w AS BIGINT) AS ma4
    FROM (SELECT user_id, event_type, ts, event_id,
                 {_sql_micros('value')} AS v_micro
          FROM events)
    WINDOW w AS ({_SERIES_W} ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    """,
)
def ts_moving_average(spark, sf):
    """InfluxQL ``moving_average(value, 4)``: trailing 4-point mean per
    series. The frame sum rides exact integer micros (windowed float
    sums are accumulation-order-dependent across engines; integer
    sums are not), one division at the end."""
    ev = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    vm = micros_amt("value")
    return ev.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        ((F.sum(vm).over(w) / F.lit(1000000.0)) / F.count(F.lit(1)).over(w)).alias(
            "ma4"
        ),
    )


@register(
    "ts_percentiles",
    f"""
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           quantile_cont(v_micro, 0.5) / 1000000.0 AS p50,
           quantile_cont(v_micro, 0.95) / 1000000.0 AS p95
    FROM (SELECT user_id, event_type, {_sql_micros('value')} AS v_micro
          FROM events)
    GROUP BY user_id, event_type
    """,
)
def ts_percentiles(spark, sf):
    """Exact interpolated percentiles per series (InfluxQL
    ``percentile``-family). Inputs are exact integer micros, and both
    engines use the same (n-1)·p linear interpolation — verified
    bit-identical — so even this float-heavy aggregate hashes."""
    ev = load_table(spark, sf, "events")
    vm = micros_amt("value")
    return ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_points"),
        (F.percentile(vm, 0.5) / F.lit(1000000.0)).alias("p50"),
        (F.percentile(vm, 0.95) / F.lit(1000000.0)).alias("p95"),
    )


@register(
    "ts_sparse_field_merge",
    """
    WITH a AS (SELECT user_id, event_type, ts, event_id,
                      CASE WHEN event_id % 2 = 0 THEN NULL ELSE value END AS value,
                      props
               FROM events),
         b AS (SELECT user_id, event_type, ts, event_id, value,
                      CASE WHEN event_id % 2 = 1 THEN NULL ELSE props END AS props
               FROM events),
         u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
    SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           ARG_MAX(value, CASE WHEN value IS NOT NULL THEN event_id END) AS value,
           ARG_MAX(props, CASE WHEN props IS NOT NULL THEN event_id END) AS props,
           CAST(COUNT(*) AS BIGINT) AS n_writes
    FROM u
    GROUP BY user_id, event_type, ts
    """,
)
def ts_sparse_field_merge(spark, sf):
    """Sparse-field upsert semantics (SURVEY §1.1: a nil field is
    *skipped*, not written as null — client.go:429): two partial
    writes of the same points (one missing `value`, one missing
    `props`) merge per (series, time) into complete rows, each field
    independently taking its latest NON-null version. One hash agg of
    max_by over a null-masked version key — verified identical to
    DuckDB's arg_max null handling."""
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_type", "ts", "event_id", "value", "props"
    )
    a = ev.withColumn(
        "value",
        F.when(F.pmod("event_id", F.lit(2)) == 0, F.lit(None)).otherwise(
            F.col("value")
        ),
    )
    b = ev.withColumn(
        "props",
        F.when(F.pmod("event_id", F.lit(2)) == 1, F.lit(None)).otherwise(
            F.col("props")
        ),
    )
    u = a.unionByName(b)

    def latest_nonnull(col):
        return F.max_by(
            col, F.when(F.col(col).isNotNull(), F.col("event_id"))
        ).alias(col)

    return u.groupBy(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    ).agg(
        latest_nonnull("value"),
        latest_nonnull("props"),
        F.count(F.lit(1)).alias("n_writes"),
    )


@register(
    "dedup_keep_documents",
    """
    WITH keep AS (SELECT MIN(doc_id) AS doc_id FROM documents
                  GROUP BY md5(text))
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d JOIN keep USING (doc_id)
    """,
)
def dedup_keep_documents(spark, sf):
    """Dedup applied, not just reported: the corpus after dropping
    non-representative exact duplicates — a left-semi join against the
    per-digest min-id keep list (the shuffle carries only ids)."""
    docs = load_table(spark, sf, "documents")
    keep = dd.exact_dedup_groups(docs).select("keep_id")
    return docs.join(
        keep, docs.doc_id == keep.keep_id, "left_semi"
    ).select("doc_id", "lang", "source", "n_chars")


@register(
    "q9_product_profit",
    f"""
    SELECT n_name, o_year, CAST(SUM(rev_c) AS BIGINT) / 10000.0 AS profit
    FROM (SELECT n_name,
                 CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                 {_REV_C} AS rev_c
          FROM lineitem
          JOIN part ON p_partkey = l_partkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN orders ON o_orderkey = l_orderkey
          WHERE p_name LIKE '%red%')
    GROUP BY n_name, o_year
    """,
)
def q9_product_profit(spark, sf):
    """TPC-H Q9 shape (supply-cost term dropped — fixture has no
    partsupp): revenue of 'red' parts by supplier nation × order year.
    part/supplier/nation broadcast after the LIKE prune; lineitem ⋈
    orders is the only big shuffle."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").where(F.col("p_name").like("%red%"))
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    o = load_table(spark, sf, "orders")
    rev_c = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("n_name", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg((F.sum(rev_c) / F.lit(10000.0)).alias("profit"))
    )


@register(
    "supplier_rank_in_nation",
    f"""
    SELECT n_name, s_suppkey, s_name,
           CAST(rc AS BIGINT) / 10000.0 AS revenue,
           CAST(rn AS INTEGER) AS rank_in_nation
    FROM (SELECT n_name, s_suppkey, s_name, rc,
                 row_number() OVER (PARTITION BY n_name
                                    ORDER BY rc DESC, s_suppkey) AS rn
          FROM (SELECT n_name, s_suppkey, s_name,
                       CAST(SUM({_REV_C}) AS BIGINT) AS rc
                FROM lineitem
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                GROUP BY n_name, s_suppkey, s_name))
    WHERE rn <= 3
    """,
)
def supplier_rank_in_nation(spark, sf):
    """Top-N per group: top-3 suppliers by lifetime revenue within
    each nation. Aggregate-then-rank — the window sorts one row per
    supplier, not per lineitem; exact integer revenue makes the
    ranking engine-stable (ties by suppkey)."""
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    rev_c = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    agg = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", "s_suppkey", "s_name")
        .agg(F.sum(rev_c).alias("rc"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("rc"), F.asc("s_suppkey"))
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "n_name",
            "s_suppkey",
            "s_name",
            (F.col("rc") / F.lit(10000.0)).alias("revenue"),
            F.col("rn").cast("int").alias("rank_in_nation"),
        )
    )


@register(
    "top_users_per_event_type",
    f"""
    SELECT event_type, user_id,
           CAST(sv AS BIGINT) / 1000000.0 AS total_value,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT event_type, user_id, sv,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY sv DESC, user_id) AS rn
          FROM (SELECT event_type, user_id,
                       CAST(SUM({_sql_micros('value')}) AS BIGINT) AS sv
                FROM events GROUP BY event_type, user_id))
    WHERE rn <= 3
    """,
)
def top_users_per_event_type(spark, sf):
    """Top-N per group on the time-series side: top-3 users by summed
    value per event type (integer micro-units for exactness)."""
    ev = load_table(spark, sf, "events")
    agg = ev.groupBy("event_type", "user_id").agg(
        F.sum(micros_amt("value")).alias("sv")
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("sv"), F.asc("user_id"))
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "event_type",
            "user_id",
            (F.col("sv") / F.lit(1000000.0)).alias("total_value"),
            F.col("rn").cast("int").alias("rank"),
        )
    )


# ===========================================================================
# Streaming + multimodal plumbing (oracle-checked where the output is
# arithmetic on the fixtures; rows-only where it is hash-derived)
# ===========================================================================


@register(
    "stream_replicate_counts",
    f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({_sql_micros('value')}) AS BIGINT) AS sum_value_micro
    FROM events GROUP BY event_type
    """,
)
def stream_replicate_counts(spark, sf):
    """Structured-Streaming replication end-to-end: availableNow
    stream of the events files → checkpointed foreachBatch idempotent
    sink → aggregate the REPLICA. Matching the oracle (which reads the
    source) proves the replicated bytes are complete and exact — the
    hamonitor data path (SURVEY §3.2) under the correctness gate. Each
    micro-batch commits to a TxTable tagged with its batch id, so
    checkpoint replay after a crash replaces the batch's groups and
    readers get snapshot isolation (streaming/replicate.py)."""
    from syncflux_spark.streaming.replicate import ReplicationStream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    root = tempfile.mkdtemp(prefix="sf_stream_")
    rs = ReplicationStream(
        spark, sf, f"{root}/dst", f"{root}/ckpt",
        path_glob_filter="events.parquet",
    )
    rs.run_available()
    rep = rs.read_replica()
    return rep.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(micros_amt("value")).alias("sum_value_micro"),
    )


@register(
    "pipeline_corpus_publish",
    f"""
    WITH gates AS (
      SELECT doc_id,
             CAST(len({_SQL_WORDS}) AS BIGINT) >= 30
             AND CAST(len(list_distinct({_SQL_WORDS})) AS DOUBLE)
                 / CAST(len({_SQL_WORDS}) AS DOUBLE) >= 0.4
             AND NOT contains(lower(text), 'lorem ipsum') AS passes
      FROM documents),
    kept AS (SELECT d.* FROM documents d JOIN gates USING (doc_id)
             WHERE passes),
    winners AS (
      SELECT MIN(doc_id) AS doc_id
      FROM kept
      GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))),
    clean AS (SELECT k.* FROM kept k JOIN winners USING (doc_id))
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len({_SQL_WORDS})) AS BIGINT) AS total_tokens
    FROM clean GROUP BY source
    """,
)
def pipeline_corpus_publish(spark, sf):
    """The corpus-build pipeline END-TO-END, as one driver-gated
    query: Gopher-style quality gate (word-count floor + lexical-
    diversity floor + placeholder check — thresholds chosen to split
    the fixture, the C4 sentence gate being vacuous on punctuation-
    free synthetic text) → normalized exact dedup keeping each
    group's lowest doc_id (operators/dedup.py::
    normalized_dedup_groups) → whitespace token counts →
    WRITE-AUDIT-PUBLISH into a transactional table
    (txtable.TxTable.publish_with_audit: the audit checks doc_id
    uniqueness + non-emptiness against the candidate snapshot before
    readers can see it) → aggregate the PUBLISHED table per source.
    The oracle recomputes gate+dedup+counts from the source, so a
    hash match proves the published table holds exactly the cleaned
    corpus — the full dataset-build loop (filter, dedup, account,
    commit) every training-data pipeline runs, here with each stage's
    scale story already audited by its standalone query."""
    from syncflux_spark.functions.text import token_count, words
    from syncflux_spark.txtable import TxTable

    docs = load_table(spark, sf, "documents")
    ws = words("text")
    passes = (
        (F.size(ws) >= 30)
        & (
            F.size(F.array_distinct(ws)).cast("double")
            / F.size(ws).cast("double")
            >= 0.4
        )
        & ~F.lower(F.col("text")).contains("lorem ipsum")
    )
    kept = docs.where(passes)
    winners = dd.normalized_dedup_groups(kept).select(
        F.col("keep_id").alias("doc_id")
    )
    clean = kept.join(winners, "doc_id").select(
        "doc_id", "source", token_count("text").alias("n_tokens")
    )
    root = tempfile.mkdtemp(prefix="sf_corpus_")
    t = TxTable.ensure(spark, f"{root}/corpus")

    def audit(cand):
        row = cand.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("d"),
        ).collect()[0]
        return row["n"] > 0 and row["n"] == row["d"]

    t.publish_with_audit(clean, audit, stats_cols=["doc_id"])
    return t.snapshot().groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


@register("stream_corpus_publish", None)  # oracle assigned below
def stream_corpus_publish(spark, sf):
    """The corpus-build pipeline as STREAMING INGEST: the documents
    arrive as two files (split on doc_id, one micro-batch each via
    maxFilesPerTrigger=1); every batch runs the quality gate,
    within-batch normalized dedup (keep-min doc_id), then an
    anti-join against the digests ALREADY PUBLISHED in the
    transactional corpus table — cross-batch dedup against committed
    state, the real production ingest loop. Each batch lands through
    write-audit-publish whose audit asserts GLOBAL digest uniqueness
    on the candidate snapshot, so a cross-batch dedup bug can never
    become visible. Because batches ascend in doc_id, keep-first
    equals the batch pipeline's global keep-min — the oracle is
    pipeline_corpus_publish's SQL verbatim, proving the incremental
    path converges to exactly the one-shot result."""
    import os

    import duckdb as _duck

    from syncflux_spark.functions.text import token_count, words
    from syncflux_spark.operators.dedup import normalized_text
    from syncflux_spark.txtable import TxTable

    root = tempfile.mkdtemp(prefix="sf_scorpus_")
    src = os.path.join(root, "src")
    os.makedirs(src)
    con = _duck.connect()
    for name, cond in (("docs_a", "doc_id < 250"), ("docs_b", "doc_id >= 250")):
        con.sql(
            f"COPY (SELECT * FROM '{sf}/documents.parquet' WHERE {cond} "
            f"ORDER BY doc_id) TO '{src}/{name}.parquet' (FORMAT PARQUET)"
        )
    con.close()
    now = __import__("time").time()
    os.utime(f"{src}/docs_a.parquet", (now - 60, now - 60))
    os.utime(f"{src}/docs_b.parquet", (now, now))
    table_root = os.path.join(root, "corpus")

    ws = words("text")
    passes = (
        (F.size(ws) >= 30)
        & (
            F.size(F.array_distinct(ws)).cast("double")
            / F.size(ws).cast("double")
            >= 0.4
        )
        & ~F.lower(F.col("text")).contains("lorem ipsum")
    )

    def audit(cand):
        row = cand.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("digest").alias("d"),
        ).collect()[0]
        return row["n"] > 0 and row["n"] == row["d"]

    def ingest(batch_df, batch_id):
        scored = batch_df.where(passes).select(
            "doc_id",
            "source",
            token_count("text").alias("n_tokens"),
            F.md5(normalized_text("text")).alias("digest"),
        )
        w = Window.partitionBy("digest").orderBy("doc_id")
        first = (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        t = TxTable.ensure(spark, table_root)
        try:
            published = t.snapshot().select("digest").distinct()
            fresh = first.join(published, "digest", "left_anti")
        except ValueError:  # no groups published yet
            fresh = first
        if fresh.head(1):
            t.publish_with_audit(fresh, audit, stats_cols=["doc_id"])

    schema = spark.read.parquet(f"{src}/docs_a.parquet").schema
    from syncflux_spark.utils import shuffle_partitions

    with shuffle_partitions(spark, 4):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(src)
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return TxTable(spark, table_root).snapshot().groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


# the streaming ingest must converge to exactly the one-shot batch
# pipeline's published corpus — identical oracle by contract
REGISTRY["stream_corpus_publish"] = Query(
    spark=REGISTRY["stream_corpus_publish"].spark,
    sql=REGISTRY["pipeline_corpus_publish"].sql,
)


@register(
    "ts_retention_tx",
    f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({_sql_micros('value')}) AS BIGINT) AS sum_value_micro
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-11 00:00:00'
      AND ts < TIMESTAMP '{EV_WIN[1]}'
    GROUP BY event_type
    """,
)
def ts_retention_tx(spark, sf):
    """Retention enforcement on the transactional sink
    (txtable.TxTable.expire_below): the copied window's expired
    chunks retire as ONE log-only delta commit (their per-group ts_ns
    stats prove hi < cutoff — zero data IO, the DROP PARTITION
    shape), and only the group straddling the cutoff pays a filtered
    rewrite. The oracle aggregates the source above the cutoff, so a
    hash match proves expiry dropped exactly the sub-cutoff rows —
    no more (lost data) and no less (retention leak). D2/§1.4's RP
    duration semantics on the lakehouse sink; compare
    catalog.py::enforce_retention, where every expiry rewrites all
    survivors."""
    from syncflux_spark.operators.copy import copy_range, read_copied
    from syncflux_spark.txtable import TxTable

    ev = load_table(spark, sf, "events")
    dst = tempfile.mkdtemp(prefix="sf_rettx_")
    # two chunks below the cutoff (log-only drops), one straddling
    # (exact rewrite), rest kept untouched
    for lo, hi in [
        ("2024-01-08 00:00:00", "2024-01-09 12:00:00"),
        ("2024-01-09 12:00:00", "2024-01-10 18:00:00"),
        ("2024-01-10 18:00:00", "2024-01-12 00:00:00"),
        ("2024-01-12 00:00:00", EV_WIN[1]),
    ]:
        copy_range(ev, f"{dst}/events", lo, hi)
    cutoff_ns = 1_704_931_200 * 10**9  # 2024-01-11T00:00:00Z
    TxTable(spark, f"{dst}/events").expire_below("ts_ns", cutoff_ns)
    back = read_copied(spark, dst, "events")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(micros_amt("value")).alias("sum_value_micro"),
    )


@register(
    "stream_replicate_counts_tx",
    f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({_sql_micros('value')}) AS BIGINT) AS sum_value_micro
    FROM events GROUP BY event_type
    """,
)
def stream_replicate_counts_tx(spark, sf):
    """stream_replicate_counts across a RESTART: a second
    ReplicationStream resumes from the first one's checkpoint and
    catches up again before the replica is read. The restarted stream
    must find nothing new, and the batch-id-tagged TxTable commits
    keep the replica exact either way — matching the source-side
    oracle proves a restart neither drops nor duplicates rows."""
    from syncflux_spark.streaming.replicate import ReplicationStream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    root = tempfile.mkdtemp(prefix="sf_streamtx_")
    for _ in range(2):
        rs = ReplicationStream(
            spark, sf, f"{root}/dst", f"{root}/ckpt",
            path_glob_filter="events.parquet",
        )
        rs.run_available()
    rep = rs.read_replica()
    return rep.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(micros_amt("value")).alias("sum_value_micro"),
    )


@register(
    "mm_decode_meta",
    """
    SELECT doc_id AS media_id,
           CAST(64 + doc_id % 8 * 16 AS INTEGER) AS width,
           CAST(64 + doc_id % 5 * 32 AS INTEGER) AS height,
           3 AS channels,
           CAST(16 + strlen(text) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def mm_decode_meta(spark, sf):
    """Multimodal decode plumbing under the oracle gate: documents →
    binary media (utf-8 payload behind a 16-byte packed header, built
    in one Arrow-batched mapInPandas) → decode kernel parsing the
    header back out. The oracle recomputes the header fields
    arithmetically, so a hash match proves the bytes round-tripped
    through the binary column and both mapInPandas stages intact."""
    from syncflux_spark.operators.multimodal import (
        decode_images,
        media_from_documents,
    )

    media = media_from_documents(load_table(spark, sf, "documents"))
    return decode_images(media)


@register(
    "mm_phash_dedup",
    """
    WITH base AS (
      SELECT doc_id, text, length(text) AS n,
             greatest(1, length(text) // 64) AS step
      FROM documents),
    bytes AS (
      SELECT doc_id, n, step, u.i AS i,
             ord(substr(text, u.i, 1)) AS v
      FROM base, UNNEST(range(1, n + 1)) AS u(i)),
    blocks AS (
      SELECT doc_id,
             least((i - 1) // step, 63) AS blk,
             CAST(SUM(v) AS DOUBLE) / COUNT(*) AS bmean,
             CAST(SUM(SUM(v)) OVER (PARTITION BY doc_id) AS DOUBLE)
               / SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS gmean
      FROM bytes GROUP BY doc_id, blk),
    ph AS (
      SELECT doc_id,
             CAST(COALESCE(SUM(CASE WHEN bmean > gmean THEN
               CASE WHEN blk = 63 THEN -9223372036854775808
                    ELSE (1::BIGINT << blk) END ELSE 0 END), 0) AS BIGINT)
               AS phash
      FROM blocks GROUP BY doc_id)
    SELECT phash, MIN(doc_id) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_dups
    FROM ph GROUP BY phash
    """,
)
def mm_phash_dedup(spark, sf):
    """Perceptual-hash dedup over the binary media column: documents
    → media bytes → 64-bit block-mean pHash (Arrow mapInPandas,
    operators/multimodal.py::perceptual_hash) → hash-groupBy dedup
    groups (phash, keep_id, n_dups) — the media twin of
    dedup_exact, which is how image dedup actually runs at scale
    (fingerprint once, shuffle 8-byte hashes, never bytes). The
    oracle DERIVES the same 64-bit fingerprint in SQL: the fake
    codec's payload body is the utf-8 text (pure-ASCII fixture, so
    ``ord(substr(...))`` yields byte values), block membership is
    ``min((pos-1)//step, 63)`` (identical to the kernel's slicing),
    and the block/global means are exact-integer-sum divisions —
    bit-equal doubles on both engines, verified across sf0.001–0.1.
    tests/test_multimodal.py::test_phash_coarsens_exact_dedup keeps
    the coarsening property gate (identical payloads → one group)."""
    from syncflux_spark.operators.multimodal import (
        media_from_documents,
        perceptual_hash,
    )

    media = media_from_documents(load_table(spark, sf, "documents"))
    ph = perceptual_hash(media)
    return ph.groupBy("phash").agg(
        F.min("media_id").alias("keep_id"),
        F.count(F.lit(1)).cast("long").alias("n_dups"),
    )


@register(
    "mm_frame_counts",
    """
    SELECT doc_id AS media_id,
           CAST((GREATEST(1, strlen(text) // 32) + 3) // 4 AS BIGINT)
             AS n_frames
    FROM documents
    """,
)
def mm_frame_counts(spark, sf):
    """Frame-sampling plumbing (1→N row expansion in mapInPandas,
    every 4th 32-byte frame) aggregated back to a per-media count the
    oracle can recompute from payload length."""
    from syncflux_spark.operators.multimodal import (
        media_from_documents,
        sample_frames,
    )

    media = media_from_documents(load_table(spark, sf, "documents"))
    frames = sample_frames(media, every_n=4)
    return frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("n_frames"))


def _tiny_mp4_bytes() -> bytes:
    """The vendored MJPEG fixture (tests/data/tiny.mp4), rebuilt from
    the pure-Python spec writer when the file is absent — both are
    deterministic, byte-identical artifacts of tools/mjpeg_mp4.py."""
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests",
        "data",
        "tiny.mp4",
    )
    if os.path.exists(path):
        with open(path, "rb") as f:
            return f.read()
    from tools.mjpeg_mp4 import tiny_mp4_bytes

    return tiny_mp4_bytes()


@register(
    "mm_video_frames",
    """
    SELECT * FROM (VALUES
      (0, 0, 0, 3072), (1, 30, 30, 3072), (2, 60, 60, 3072),
      (3, 90, 90, 3072), (4, 120, 120, 3072), (5, 150, 150, 3072),
      (6, 180, 180, 3072), (7, 210, 210, 3072)
    ) AS t(frame_idx, first_px, last_px, n_bytes)
    """,
)
def mm_video_frames(spark, sf):
    """REAL video decode end-to-end: the vendored MJPEG/MP4 fixture
    decoded inside the mapInPandas kernel by the pure-stdlib DC-JPEG
    decoder (operators/mjpegdc.py — ISO-BMFF sample walk, T.81 Huffman
    entropy decode, dequantize, flat-block reconstruction), one rgb24
    frame row per sample. The oracle is the SPEC-PREDICTED constant
    table: the writer stores gray g as DC=round(8·(g−128)/16) and the
    decoder must recover round(DC·16/8)+128 — for the fixture's ramp
    (i·30, all even offsets from 128) that is exactly i·30 again, so
    any drift in either the box walk, the Huffman tables, or the
    reconstruction arithmetic flips the full-hash gate. Pixel-level
    uniformity of every frame is asserted in
    tests/test_multimodal.py::TestMjpegDcDecode; here first/last byte
    + frame size pin the Spark-side plumbing. (sf-independent by
    design: the fixture is the input, like lp_roundtrip_stats' inline
    corpus.)"""
    from syncflux_spark.operators.multimodal import MEDIA_SCHEMA, sample_frames

    media = spark.createDataFrame(
        [(1, "video", _tiny_mp4_bytes(), "fixture://tiny.mp4")],
        MEDIA_SCHEMA,
    )
    frames = sample_frames(media, every_n=1, codec="mjpegdc")
    return frames.select(
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.expr(
            "CAST(conv(hex(substring(frame_bytes, 1, 1)), 16, 10) AS INT)"
        ).alias("first_px"),
        F.expr(
            "CAST(conv(hex(substring(frame_bytes, -1, 1)), 16, 10) AS INT)"
        ).alias("last_px"),
        F.length("frame_bytes").cast("int").alias("n_bytes"),
    )


def _tiny_jpeg_samples() -> list[bytes]:
    """The vendored fixture's per-frame JPEG bytes, addressed through
    the MP4 sample table — so the image-decode query exercises real
    JPEG bytes without a second vendored fixture."""
    from syncflux_spark.operators.mjpegdc import mp4_video_samples

    return mp4_video_samples(_tiny_mp4_bytes())


def _image_decode_sql() -> str:
    """Spec-predicted constants for mm_image_decode: dimensions are
    fixed by the writer; n_bytes comes from the fixture's own sample
    table (read once at registration — deterministic, vendored)."""
    rows = ", ".join(
        f"({i}, 32, 32, 1, {len(s)})"
        for i, s in enumerate(_tiny_jpeg_samples())
    )
    return f"""
    SELECT * FROM (VALUES {rows})
      AS t(media_id, width, height, channels, n_bytes)
    """


@register("mm_image_decode", _image_decode_sql())
def mm_image_decode(spark, sf):
    """REAL image decode end-to-end: the fixture's 8 baseline JPEGs
    decoded inside the mapInPandas kernel by the pure-stdlib T.81
    DC-only decoder (decode_images(codec="dcjpeg") — full entropy
    decode, not a header sniff), metadata full-hash-gated against the
    writer-spec constants with n_bytes taken from the fixture's own
    sample table. The video analog is mm_video_frames; together they
    execute both real-bytes decode branches with zero third-party
    codecs. (sf-independent by design, like lp_roundtrip_stats.)"""
    from syncflux_spark.operators.multimodal import MEDIA_SCHEMA, decode_images

    media = spark.createDataFrame(
        [
            (i, "image", s, f"fixture://tiny.mp4/sample/{i}")
            for i, s in enumerate(_tiny_jpeg_samples())
        ],
        MEDIA_SCHEMA,
    )
    return decode_images(media, codec="dcjpeg").select(
        F.col("media_id").cast("int").alias("media_id"),
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("channels").cast("int").alias("channels"),
        F.col("n_bytes").cast("int").alias("n_bytes"),
    )


@register(
    "mm_feature_knn",
    f"""
    WITH v AS (SELECT media_id, feature::DOUBLE[] AS v
               FROM read_parquet('{_ORACLE_ART}/mm_features/*.parquet'))
    SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INTEGER) AS rank
    FROM (SELECT a.media_id AS query_id, b.media_id AS neighbor_id,
                 {_sql_cos('a.v', 'b.v')} AS cos_sim,
                 row_number() OVER (PARTITION BY a.media_id
                                    ORDER BY {_sql_cos('a.v', 'b.v')} DESC,
                                             b.media_id) AS rn
          FROM v a JOIN v b ON a.media_id != b.media_id
          WHERE a.media_id < 5)
    WHERE rn <= 3
    """,
)
def mm_feature_knn(spark, sf):
    """Feature-extraction → ANN composition: sha256-stub features
    (stand-in for a vision model in the mapInPandas kernel) feed the
    exact top-k operator directly — the media → embedding → similarity
    pipeline shape at 100 TB. sha256+unpack is not SQL-expressible
    (the payload header holds bytes > 0x7F, unreachable through
    DuckDB's VARCHAR-only sha256), so the feature table is PERSISTED
    to the oracle handshake dir and the oracle replays the exact
    cosine top-k from the same float32 bits — full-hash gate on the
    knn composition; feature determinism itself stays gated by
    tests/test_multimodal.py. The Spark side searches the read-back
    table too, so both engines score identical stored values (the
    ivf_index_roundtrip build-once/query-many pattern)."""
    from syncflux_spark.operators.multimodal import (
        extract_features,
        media_from_documents,
    )
    from syncflux_spark.operators.similarity import brute_force_topk

    media = media_from_documents(load_table(spark, sf, "documents"))
    feats = extract_features(media, dim=8)
    art = f"{_ORACLE_ART}/mm_features"
    feats.write.mode("overwrite").parquet(art)
    feats_r = spark.read.parquet(art)
    return brute_force_topk(
        feats_r,
        feats_r.where(F.col("media_id") < 5),
        k=3,
        id_col="media_id",
        vec_col="feature",
    )


@register(
    "q2_min_cost_supplier",
    f"""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(ROUND(100 * l_extendedprice / l_quantity) AS BIGINT)) AS unit_c
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    eu AS (
      SELECT c.l_partkey, c.l_suppkey, c.unit_c, s.s_name, n.n_name
      FROM cost c
      JOIN supplier s ON s.s_suppkey = c.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE')
    SELECT p.p_partkey, eu.s_name, eu.n_name, eu.unit_c / 100.0 AS min_cost
    FROM eu
    JOIN part p ON p.p_partkey = eu.l_partkey
    WHERE p.p_type = 'STANDARD' AND p.p_size <= 10
      AND eu.unit_c = (SELECT MIN(e2.unit_c) FROM eu e2
                       WHERE e2.l_partkey = eu.l_partkey)
    """,
)
def q2_min_cost_supplier(spark, sf):
    """TPC-H Q2 re-expressed without partsupp (fixture has none;
    supply cost := the supplier's cheapest observed unit price in
    lineitem, integer cents so MIN is exact). The classic correlated
    min-subquery decorrelates to a window MIN over partkey — one
    shuffle on (partkey, suppkey) for the cost aggregate, then
    broadcast joins against supplier/nation/region/part dims.
    Reference parity: syncflux has no joins at all (SURVEY §2.7);
    this is extended relational surface."""
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").where(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf, "part").where(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
    )
    # prune FIRST: the part predicate keeps ~1% of parts, so a
    # broadcast semi-join ahead of the cost aggregate shrinks both the
    # groupBy shuffle and the window input by that factor (the oracle's
    # decorrelated form filters after aggregating — same rows out, but
    # at 100 TB the early semi-join is the difference between
    # aggregating the whole fact table and aggregating 1% of it)
    li_f = li.join(
        F.broadcast(p.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
        "left_semi",
    )
    unit_c = F.round(F.lit(100) * F.col("l_extendedprice") / F.col("l_quantity")).cast(
        "long"
    )
    cost = li_f.groupBy("l_partkey", "l_suppkey").agg(F.min(unit_c).alias("unit_c"))
    eu = (
        cost.join(F.broadcast(s), cost.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("l_partkey", "unit_c", "s_name", "n_name")
    )
    w = Window.partitionBy("l_partkey")
    return (
        eu.withColumn("min_c", F.min("unit_c").over(w))
        .where(F.col("unit_c") == F.col("min_c"))
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .select(
            "p_partkey",
            "s_name",
            "n_name",
            (F.col("unit_c") / F.lit(100.0)).alias("min_cost"),
        )
    )


@register(
    "q11_important_parts",
    f"""
    WITH val AS (
      SELECT l.l_partkey AS partkey,
             SUM({_sql_cents('l.l_extendedprice')}) AS value_c
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_7'
      GROUP BY l.l_partkey)
    SELECT partkey, value_c / 100.0 AS part_value
    FROM val
    WHERE value_c > (SELECT SUM(value_c) // 1000 FROM val)
    """,
)
def q11_important_parts(spark, sf):
    """TPC-H Q11 shape (partsupp value → lineitem revenue value):
    parts whose NATION_7-supplied value exceeds 0.1% of that nation's
    total. The scalar subquery over the same aggregate becomes a
    1-row broadcast cross-join — the per-part aggregate is computed
    once and reused for both sides (no second scan thanks to plan
    reuse), and the threshold compare is integer-exact."""
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation").where(F.col("n_name") == "NATION_7")
    val = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(cents("l_extendedprice")).alias("value_c"))
    )
    # 0.1% threshold in exact integer arithmetic (div ≡ DuckDB // for
    # the non-negative sum) — a float multiply + cast truncates in
    # Spark but rounds in DuckDB, so exactly-between sums would flip
    total = val.agg(F.expr("sum(value_c) div 1000").alias("threshold_c"))
    return (
        val.join(F.broadcast(total))
        .where(F.col("value_c") > F.col("threshold_c"))
        .select("partkey", (F.col("value_c") / F.lit(100.0)).alias("part_value"))
    )


@register(
    "q12_priority_shipping",
    """
    SELECT l_returnflag AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag IN ('A', 'R')
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def q12_priority_shipping(spark, sf):
    """TPC-H Q12 shape (shipmode → returnflag: the fixture carries no
    l_shipmode/l_commitdate/l_receiptdate, so the mode classes are the
    A/R return flags and the date window rides l_shipdate): per class,
    how many lines belong to critical- vs normal-priority orders. One
    fact-fact join pruned to two columns a side, then a two-key CASE
    aggregate — partial agg collapses to ≤2 rows per map task before
    the shuffle."""
    li = load_table(spark, sf, "lineitem").where(
        F.col("l_returnflag").isin("A", "R")
        & (F.col("l_shipdate") >= "1996-01-01 00:00:00")
        & (F.col("l_shipdate") < "1997-01-01 00:00:00")
    )
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q21_waiting_suppliers",
    """
    WITH late AS (
      SELECT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
        AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM late l1
    JOIN supplier ON s_suppkey = l1.l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE n_name = 'NATION_3'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    """,
)
def q21_waiting_suppliers(spark, sf):
    """TPC-H Q21 (waiting suppliers; "late" adapted to shipping >90
    days after the order date — the fixture has no commit/receipt
    dates): suppliers in one nation who were the ONLY late supplier on
    a finalized multi-supplier order. The double correlation
    decorrelates to one left-semi (another supplier exists on the
    order) and one left-anti (no OTHER supplier was late) on the late
    set — never a correlated re-scan per row. The late set feeds both
    its own rows and the anti side, so it is eager-persisted; the
    supplier/nation dims broadcast."""
    from syncflux_spark.utils import eager_persist

    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = (
        load_table(spark, sf, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    late = eager_persist(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    l3 = late.select(F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3"))
    l1 = late.join(
        l2,
        (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")),
        "left_semi",
    ).join(
        l3,
        (F.col("l_orderkey") == F.col("o3")) & (F.col("l_suppkey") != F.col("s3")),
        "left_anti",
    )
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation").where(F.col("n_name") == "NATION_3")
    return (
        l1.join(F.broadcast(s), l1.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "q16_supplier_counts",
    """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part ON p_partkey = ps.l_partkey
    WHERE p_brand <> 'Brand#9'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND ps.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%0')
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_counts(spark, sf):
    """TPC-H Q16 (part-supplier pairs derived from lineitem — the
    fixture has no partsupp): distinct-supplier counts per
    (brand, type, size), excluding a NOT IN supplier set. The NOT IN
    becomes a broadcast left-anti join (s_suppkey is non-null, so
    anti-join ≡ NOT IN); COUNT(DISTINCT) shuffles once on the group
    keys with partial distinct map-side."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").where(
        (F.col("p_brand") != "Brand#9")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    bad = (
        load_table(spark, sf, "supplier")
        .where(F.col("s_name").like("%0"))
        .select("s_suppkey")
    )
    ps = li.select("l_partkey", "l_suppkey").distinct()
    return (
        ps.join(F.broadcast(bad), ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q20_excess_suppliers",
    """
    SELECT s_name, n_name
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'red%'
        AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_suppkey
      HAVING SUM(l_quantity) > 50)
    """,
)
def q20_excess_suppliers(spark, sf):
    """TPC-H Q20 shape: suppliers who shipped >50 units of red parts
    in 1997. IN-subquery → aggregate + left-semi join; the part
    filter broadcasts into the lineitem scan and the shipdate
    predicate pushes down to parquet row groups. Quantities are
    integral doubles, so the HAVING sum is exact."""
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01 00:00:00")
        & (F.col("l_shipdate") < "1998-01-01 00:00:00")
    )
    p = load_table(spark, sf, "part").where(F.col("p_name").like("red%"))
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    heavy = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(heavy), s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", "n_name")
    )


@register(
    "revenue_cube_flags",
    f"""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(SUM({_sql_cents('l_extendedprice')}) AS BIGINT) / 100.0 AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def revenue_cube_flags(spark, sf):
    """CUBE grouping-set aggregate over (returnflag, linestatus) —
    all four grouping combinations in one shuffle (Spark expands
    grouping sets map-side, so it's one pass over lineitem, not
    four). Flags are non-null in the data, so COALESCE('ALL')
    unambiguously labels the rollup rows."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(cents("l_extendedprice")) / F.lit(100.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n_items",
        )
    )


@register(
    "users_click_and_purchase",
    """
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def users_click_and_purchase(spark, sf):
    """INTERSECT set operation (complement of the EXCEPT query):
    users with both click and purchase events. Spark plans this as
    an aggregate + left-semi join after per-side distinct — one
    shuffle per side on user_id."""
    ev = load_table(spark, sf, "events")
    clicks = ev.where(F.col("event_type") == "click").select("user_id")
    buys = ev.where(F.col("event_type") == "purchase").select("user_id")
    return clicks.intersect(buys)


@register(
    "ts_integral",
    f"""
    SELECT user_id, event_type,
           CAST(SUM(seg) AS BIGINT) / 200000000.0 AS integral_vs
    FROM (SELECT user_id, event_type,
                 (v_c + LAG(v_c) OVER ({_SERIES_W}))
                 * (epoch_us(ts) - LAG(epoch_us(ts)) OVER ({_SERIES_W})) AS seg
          FROM (SELECT user_id, event_type, ts, event_id,
                       {_sql_cents('value')} AS v_c
                FROM events))
    WHERE seg IS NOT NULL
    GROUP BY user_id, event_type
    """,
)
def ts_integral(spark, sf):
    """InfluxQL ``integral(value, 1s)``: per-series trapezoidal area
    under the value curve. Each segment is (v_i + v_{{i-1}}) ·
    Δt_µs in integer cents×µs — the telescoping bound
    2·max(v_c)·span_µs ≈ 3e17 keeps the per-series sum inside int64
    at any point density — and the single final division by 2·100·1e6
    yields value·seconds. One per-series sort (window lag), one
    partial-agg shuffle."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    vc = cents("value")
    us = F.unix_micros("ts")
    seg = (vc + F.lag(vc).over(w)) * (us - F.lag(us).over(w))
    return (
        ev.select("user_id", "event_type", seg.alias("seg"))
        .where(F.col("seg").isNotNull())
        .groupBy("user_id", "event_type")
        .agg((F.sum("seg") / F.lit(200_000_000.0)).alias("integral_vs"))
    )


@register(
    "ts_spread_stddev",
    f"""
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(MAX(v_micro) - MIN(v_micro) AS BIGINT) / 1000000.0 AS spread,
           SQRT((CAST(SUM(v_micro * v_micro) AS DOUBLE)
                 - CAST(SUM(v_micro) AS DOUBLE) * CAST(SUM(v_micro) AS DOUBLE)
                   / COUNT(*))
                / (COUNT(*) - 1)) / 1000000.0 AS stddev
    FROM (SELECT user_id, event_type, {_sql_micros('value')} AS v_micro
          FROM events)
    GROUP BY user_id, event_type
    HAVING COUNT(*) >= 2
    """,
)
def ts_spread_stddev(spark, sf):
    """InfluxQL ``spread(value)`` + ``stddev(value)`` per series.
    Spread rides exact integer micros. Sample stddev uses the
    sum-of-squares identity over integer micros (Σx² ≤ 4e17 per
    series — inside int64) with the float steps in one fixed order,
    so Spark and the oracle produce bit-identical doubles. Single
    partial-agg shuffle; no sort."""
    ev = load_table(spark, sf, "events")
    vm = micros_amt("value")
    n = F.count(F.lit(1))
    sx = F.sum(vm).cast("double")
    sxx = F.sum(vm * vm).cast("double")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(
            n.alias("n_points"),
            ((F.max(vm) - F.min(vm)) / F.lit(1_000_000.0)).alias("spread"),
            (
                F.sqrt((sxx - sx * sx / n) / (n - F.lit(1))) / F.lit(1_000_000.0)
            ).alias("stddev"),
        )
        .where(F.col("n_points") >= 2)
    )


@register(
    "ts_count_distinct",
    f"""
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(COUNT(DISTINCT {_sql_micros('value')}) AS BIGINT) AS n_distinct
    FROM events
    GROUP BY user_id, event_type
    """,
)
def ts_count_distinct(spark, sf):
    """InfluxQL ``COUNT(DISTINCT value)`` per series. Distinctness is
    taken over exact integer micros (double equality is well-defined
    but engine repr games aren't worth playing). Spark plans exact
    count-distinct as a two-phase Expand + partial agg — no
    driver-side set, scales with the series count."""
    ev = load_table(spark, sf, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.count_distinct(micros_amt("value")).alias("n_distinct"),
    )


@register(
    "ts_math_transforms",
    """
    SELECT event_id,
           ABS(value) AS abs_v,
           CAST(CEIL(value) AS BIGINT) AS ceil_v,
           CAST(FLOOR(value) AS BIGINT) AS floor_v,
           SQRT(value) AS sqrt_v,
           value * value AS sq_v
    FROM events
    """,
)
def ts_math_transforms(spark, sf):
    """InfluxQL math-function family (ABS/CEIL/FLOOR/SQRT/POW) as a
    pure projection. Only IEEE-754-exact ops are exposed (abs, ceil,
    floor, correctly-rounded sqrt, pow(x,2) as x*x) so results are
    bit-identical on any engine; LN/LOG/EXP are deliberately absent —
    libm rounding differs across platforms, which would make results
    engine-dependent (the same reason the oracle gate would flag
    them)."""
    ev = load_table(spark, sf, "events")
    v = F.col("value")
    return ev.select(
        "event_id",
        F.abs(v).alias("abs_v"),
        F.ceil(v).alias("ceil_v"),
        F.floor(v).alias("floor_v"),
        F.sqrt(v).alias("sqrt_v"),
        (v * v).alias("sq_v"),
    )


@register(
    "ts_mode",
    f"""
    SELECT user_id, event_type,
           v_micro / 1000000.0 AS mode_value,
           CAST(n AS BIGINT) AS n_occurrences
    FROM (SELECT user_id, event_type, v_micro, n,
                 ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                    ORDER BY n DESC, v_micro ASC) AS rk
          FROM (SELECT user_id, event_type,
                       {_sql_micros('value')} AS v_micro, COUNT(*) AS n
                FROM events
                GROUP BY user_id, event_type, v_micro))
    WHERE rk = 1
    """,
)
def ts_mode(spark, sf):
    """InfluxQL ``mode(value)``: most frequent value per series, ties
    broken by smallest value (deterministic in both engines). Two
    shuffles: count per (series, value), then a per-series top-1 via
    row_number — the count aggregate collapses map-side first, so the
    window input is one row per distinct value, not per point."""
    ev = load_table(spark, sf, "events")
    vm = micros_amt("value")
    counted = ev.groupBy("user_id", "event_type", vm.alias("v_micro")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("n").desc(), F.col("v_micro").asc()
    )
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "user_id",
            "event_type",
            (F.col("v_micro") / F.lit(1_000_000.0)).alias("mode_value"),
            F.col("n").alias("n_occurrences"),
        )
    )


@register(
    "ts_cumulative_sum",
    f"""
    SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           CAST(SUM(v_micro) OVER ({_SERIES_W}
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           / 1000000.0 AS cum_value
    FROM (SELECT user_id, event_type, ts, event_id,
                 {_sql_micros('value')} AS v_micro
          FROM events)
    """,
)
def ts_cumulative_sum(spark, sf):
    """InfluxQL ``cumulative_sum(value)``: per-series running total.
    Integer-micro accumulation makes the running sum exact under any
    partial-agg order; one per-series sort, no extra shuffle beyond
    the window exchange."""
    ev = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        (F.sum(micros_amt("value")).over(w) / F.lit(1_000_000.0)).alias("cum_value"),
    )


@register(
    "ts_value_histogram",
    f"""
    SELECT event_type, CAST(v_micro // 10000000 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_points
    FROM (SELECT event_type, {_sql_micros('value')} AS v_micro FROM events)
    GROUP BY event_type, bucket
    """,
)
def ts_value_histogram(spark, sf):
    """Value-distribution histogram: 10-unit buckets per event type
    (values are non-negative, so integer division == floor in both
    engines). Single partial-agg shuffle on (type, bucket) — the
    histogram shape InfluxQL exposes as ``histogram()`` and
    monitoring UIs build downsample panels from."""
    ev = load_table(spark, sf, "events")
    bucket = (micros_amt("value") / F.lit(10_000_000)).cast("long")
    return ev.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_points")
    )


@register(
    "lp_roundtrip_stats",
    f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({_sql_micros('value')}) AS BIGINT) AS sum_value_micro,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def lp_roundtrip_stats(spark, sf):
    """InfluxDB line-protocol codec end-to-end: serialize every event
    to the wire format (typed fields, spec escaping, ns timestamp —
    the reference's write path, client.go:471-477) and parse it back
    with the schema-on-read decoder, then aggregate the DECODED rows.
    Matching the oracle (which reads the original table) proves the
    codec is lossless for every row — including the JSON `props`
    strings full of quotes/commas/equals. Both directions are pure
    Catalyst expressions (regex + concat), so the whole pipeline stays
    in whole-stage codegen: no UDF, no shuffle before the final agg."""
    from syncflux_spark.sources.line_protocol import (
        parse_line_protocol,
        to_line_protocol,
    )

    ev = load_table(spark, sf, "events")
    tags = ["user_id", "event_type"]
    fields = {"event_id": "integer", "value": "float", "props": "string"}
    lines = to_line_protocol(ev, "events", tags, fields)
    back = parse_line_protocol(lines, tags, fields)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(micros_amt("value")).alias("sum_value_micro"),
        F.sum("event_id").alias("sum_event_id"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "lsh_ann_topk_multi",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      {_sql_sign_bucket('embedding::DOUBLE[]', 4, 64)} AS bk0,
                      {_sql_sign_bucket('embedding::DOUBLE[]', 4, 64, 4)} AS bk1
               FROM embeddings)
    SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INTEGER) AS rank
    FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 {_sql_cos('q.v', 'c.v')} AS cos_sim,
                 row_number() OVER (PARTITION BY q.vec_id
                                    ORDER BY {_sql_cos('q.v', 'c.v')} DESC,
                                             c.vec_id) AS rn
          FROM v q JOIN v c
            ON (q.bk0 = c.bk0 OR q.bk1 = c.bk1) AND q.vec_id != c.vec_id
          WHERE q.vec_id < 10)
    WHERE rn <= 5
    """,
)
def lsh_ann_topk_multi(spark, sf):
    """Multi-table sign-LSH ANN: candidates = union of two independent
    4-plane hash tables (recall 1-(1-p)² vs one table's p — the
    recall dial at 100 TB, see tests/test_ann_quality.py for the
    measured lift). Spark explodes per-table buckets from ONE corpus
    scan and joins once on (table, bucket); the oracle expresses the
    same union as an OR-join. Deduped before scoring, so a pair
    sharing both buckets is ranked once."""
    from syncflux_spark.operators.similarity import lsh_topk

    emb = load_table(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    return lsh_topk(emb, q, k=5, n_planes=4, dim=64, n_tables=2)


@register(
    "ts_top_bottom",
    f"""
    SELECT user_id, event_type, which, value, CAST(rk AS INTEGER) AS rk
    FROM (
      SELECT user_id, event_type, 'top' AS which, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY {_sql_micros('value')} DESC, event_id) AS rk
      FROM events
      UNION ALL
      SELECT user_id, event_type, 'bottom' AS which, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY {_sql_micros('value')} ASC, event_id) AS rk
      FROM events)
    WHERE rk <= 3
    """,
)
def ts_top_bottom(spark, sf):
    """InfluxQL ``top(value, 3)`` + ``bottom(value, 3)`` per series in
    one result (ties broken by event_id — deterministic in both
    engines; ordering compares integer micros so float formatting
    can't flip ranks). Spark computes both directions from one scan:
    two window ranks over the same partitioning, so the exchange is
    shared and only the sort differs."""
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_type", "event_id", "value"
    )
    vm = micros_amt("value")
    base = Window.partitionBy("user_id", "event_type")
    w_top = base.orderBy(vm.desc(), F.col("event_id"))
    w_bot = base.orderBy(vm.asc(), F.col("event_id"))
    ranked = ev.select(
        "user_id",
        "event_type",
        "value",
        F.row_number().over(w_top).alias("rk_top"),
        F.row_number().over(w_bot).alias("rk_bot"),
    )
    top = ranked.where(F.col("rk_top") <= 3).select(
        "user_id",
        "event_type",
        F.lit("top").alias("which"),
        "value",
        F.col("rk_top").alias("rk"),
    )
    bottom = ranked.where(F.col("rk_bot") <= 3).select(
        "user_id",
        "event_type",
        F.lit("bottom").alias("which"),
        "value",
        F.col("rk_bot").alias("rk"),
    )
    return top.unionAll(bottom)


@register(
    "ts_downsample_fill",
    f"""
    WITH b AS (SELECT event_type, CAST(e_s - e_s % 3600 AS BIGINT) AS bucket_s,
                      CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(v_micro) AS BIGINT) AS s
               FROM (SELECT event_type, epoch_us(ts) // 1000000 AS e_s,
                            {_sql_micros('value')} AS v_micro
                     FROM events)
               GROUP BY event_type, bucket_s),
         r AS (SELECT MIN(bucket_s) AS mn, MAX(bucket_s) AS mx FROM b),
         hours AS (SELECT unnest(generate_series(mn, mx, 3600)) AS bucket_s
                   FROM r),
         types AS (SELECT DISTINCT event_type FROM events)
    SELECT t.event_type, CAST(h.bucket_s AS BIGINT) AS bucket_s,
           CAST(COALESCE(b.n, 0) AS BIGINT) AS n_points,
           CAST(COALESCE(b.s, 0) AS BIGINT) AS sum_value_micro,
           CAST(COALESCE(b.n, 0) > 0 AS BOOLEAN) AS observed
    FROM hours h
    CROSS JOIN types t
    LEFT JOIN b ON b.event_type = t.event_type AND b.bucket_s = h.bucket_s
    """,
)
def ts_downsample_fill(spark, sf):
    """InfluxQL ``GROUP BY time(1h) fill(0)``: the downsample grid is
    DENSIFIED — every (type, hour) slot in the observed range exists
    in the output, empty ones filled with zero and flagged. The hour
    spine is generated from the data's own min/max bucket (a 1-row
    aggregate exploded through ``sequence`` — no driver round-trip)
    and cross-joined with the distinct type list; the real rollup
    left-joins onto the grid. At 100 TB the grid is tiny (hours ×
    types) next to the fact aggregate, so densification adds one
    broadcast-ready join, not a second fact scan."""
    ev = load_table(spark, sf, "events")
    e_s = F.expr("unix_micros(ts) div 1000000")
    b = ev.groupBy(
        "event_type", (e_s - e_s % F.lit(3600)).cast("long").alias("bucket_s")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(micros_amt("value")).alias("s"),
    )
    hours = (
        b.agg(F.min("bucket_s").alias("mn"), F.max("bucket_s").alias("mx"))
        .select(
            F.explode(F.sequence("mn", "mx", F.lit(3600))).alias("bucket_s")
        )
    )
    types = ev.select("event_type").distinct()
    grid = hours.crossJoin(F.broadcast(types))
    return grid.join(b, ["event_type", "bucket_s"], "left").select(
        "event_type",
        "bucket_s",
        F.coalesce("n", F.lit(0)).alias("n_points"),
        F.coalesce("s", F.lit(0)).alias("sum_value_micro"),
        (F.coalesce("n", F.lit(0)) > 0).alias("observed"),
    )


@register(
    "ts_downsample_fill_previous",
    f"""
    WITH b AS (SELECT event_type, CAST(e_s - e_s % 3600 AS BIGINT) AS bucket_s,
                      CAST(SUM(v_micro) AS BIGINT) AS s
               FROM (SELECT event_type, epoch_us(ts) // 1000000 AS e_s,
                            {_sql_micros('value')} AS v_micro
                     FROM events)
               GROUP BY event_type, bucket_s),
         r AS (SELECT MIN(bucket_s) AS mn, MAX(bucket_s) AS mx FROM b),
         hours AS (SELECT unnest(generate_series(mn, mx, 3600)) AS bucket_s
                   FROM r),
         types AS (SELECT DISTINCT event_type FROM events)
    SELECT event_type, bucket_s,
           CAST(COALESCE(filled, 0) AS BIGINT) AS sum_value_micro_filled
    FROM (SELECT t.event_type, CAST(h.bucket_s AS BIGINT) AS bucket_s,
                 last_value(b.s IGNORE NULLS)
                   OVER (PARTITION BY t.event_type ORDER BY h.bucket_s
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS filled
          FROM hours h
          CROSS JOIN types t
          LEFT JOIN b ON b.event_type = t.event_type
                     AND b.bucket_s = h.bucket_s)
    """,
)
def ts_downsample_fill_previous(spark, sf):
    """InfluxQL ``fill(previous)``: empty hours carry the last
    observed hour's value forward per series — the monitoring-
    dashboard gap semantics. Forward-fill = running ``last_value``
    with IGNORE NULLS over the densified grid (one window pass; the
    leading gap before any observation fills with 0 to keep the
    output total)."""
    ev = load_table(spark, sf, "events")
    e_s = F.expr("unix_micros(ts) div 1000000")
    b = ev.groupBy(
        "event_type", (e_s - e_s % F.lit(3600)).cast("long").alias("bucket_s")
    ).agg(F.sum(micros_amt("value")).alias("s"))
    hours = (
        b.agg(F.min("bucket_s").alias("mn"), F.max("bucket_s").alias("mx"))
        .select(
            F.explode(F.sequence("mn", "mx", F.lit(3600))).alias("bucket_s")
        )
    )
    types = ev.select("event_type").distinct()
    grid = hours.crossJoin(F.broadcast(types))
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(b, ["event_type", "bucket_s"], "left")
        .select(
            "event_type",
            "bucket_s",
            F.last("s", ignorenulls=True).over(w).alias("filled"),
        )
        .select(
            "event_type",
            "bucket_s",
            F.coalesce("filled", F.lit(0)).alias("sum_value_micro_filled"),
        )
    )


@register(
    "ts_downsample_fill_linear",
    f"""
    WITH b AS (SELECT event_type, CAST(e_s - e_s % 3600 AS BIGINT) AS bucket_s,
                      CAST(SUM(v_micro) AS BIGINT) AS s
               FROM (SELECT event_type, epoch_us(ts) // 1000000 AS e_s,
                            {_sql_micros('value')} AS v_micro
                     FROM events)
               GROUP BY event_type, bucket_s),
         r AS (SELECT MIN(bucket_s) AS mn, MAX(bucket_s) AS mx FROM b),
         hours AS (SELECT unnest(generate_series(mn, mx, 3600)) AS bucket_s
                   FROM r),
         types AS (SELECT DISTINCT event_type FROM events),
         g AS (SELECT t.event_type, CAST(h.bucket_s AS BIGINT) AS bucket_s,
                      b.s,
                      last_value(b.s IGNORE NULLS) OVER wp AS p,
                      last_value(CASE WHEN b.s IS NOT NULL
                                      THEN h.bucket_s END IGNORE NULLS)
                        OVER wp AS bp,
                      first_value(b.s IGNORE NULLS) OVER wn AS nx,
                      first_value(CASE WHEN b.s IS NOT NULL
                                       THEN h.bucket_s END IGNORE NULLS)
                        OVER wn AS bn
               FROM hours h
               CROSS JOIN types t
               LEFT JOIN b ON b.event_type = t.event_type
                          AND b.bucket_s = h.bucket_s
               WINDOW wp AS (PARTITION BY t.event_type ORDER BY h.bucket_s
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                      wn AS (PARTITION BY t.event_type ORDER BY h.bucket_s
                             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT event_type, bucket_s,
           CASE WHEN s IS NOT NULL THEN CAST(s AS DOUBLE)
                WHEN p IS NOT NULL AND nx IS NOT NULL
                THEN p + (nx - p) * (CAST(bucket_s - bp AS DOUBLE) / (bn - bp))
           END AS sum_value_micro_linear,
           s IS NOT NULL AS observed
    FROM g
    """,
)
def ts_downsample_fill_linear(spark, sf):
    """InfluxQL ``fill(linear)``: empty hours interpolate between the
    previous and next observed hour per series; the gaps before the
    first and after the last observation stay NULL (reference
    semantics). Two window passes over the densified grid (running
    last / first with IGNORE NULLS carry both neighbour value and
    position); the interpolation is three float ops in one fixed
    order, so Spark and the oracle agree bitwise."""
    ev = load_table(spark, sf, "events")
    e_s = F.expr("unix_micros(ts) div 1000000")
    b = ev.groupBy(
        "event_type", (e_s - e_s % F.lit(3600)).cast("long").alias("bucket_s")
    ).agg(F.sum(micros_amt("value")).alias("s"))
    hours = (
        b.agg(F.min("bucket_s").alias("mn"), F.max("bucket_s").alias("mx"))
        .select(
            F.explode(F.sequence("mn", "mx", F.lit(3600))).alias("bucket_s")
        )
    )
    types = ev.select("event_type").distinct()
    grid = hours.crossJoin(F.broadcast(types))
    wp = (
        Window.partitionBy("event_type")
        .orderBy("bucket_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("bucket_s")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_bucket = F.when(F.col("s").isNotNull(), F.col("bucket_s"))
    g = grid.join(b, ["event_type", "bucket_s"], "left").select(
        "event_type",
        "bucket_s",
        "s",
        F.last("s", ignorenulls=True).over(wp).alias("p"),
        F.last(obs_bucket, ignorenulls=True).over(wp).alias("bp"),
        F.first("s", ignorenulls=True).over(wn).alias("nx"),
        F.first(obs_bucket, ignorenulls=True).over(wn).alias("bn"),
    )
    interp = F.col("p") + (F.col("nx") - F.col("p")) * (
        (F.col("bucket_s") - F.col("bp")).cast("double")
        / (F.col("bn") - F.col("bp"))
    )
    return g.select(
        "event_type",
        "bucket_s",
        F.when(F.col("s").isNotNull(), F.col("s").cast("double"))
        .when(F.col("p").isNotNull() & F.col("nx").isNotNull(), interp)
        .alias("sum_value_micro_linear"),
        F.col("s").isNotNull().alias("observed"),
    )


@register(
    "bucketed_join_revenue",
    f"""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM({_sql_cents('l_extendedprice')}
                    * (100 - {_sql_cents('l_discount')})) AS BIGINT)
             / 10000.0 AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def bucketed_join_revenue(spark, sf):
    """Fact-to-fact join through BUCKETED storage: both sides are
    materialized bucketed+sorted on the join key, so the
    SortMergeJoin reads co-located buckets with no Exchange under it
    (asserted in test_plans.py) — the one-time write shuffle replaces
    the per-query shuffle of both fact tables, which is the layout
    decision that matters most at 100 TB
    (sources/bucketed.py::cobucketed_join)."""
    from syncflux_spark.sources.bucketed import cobucketed_join

    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    j = cobucketed_join(spark, o, li, "o_orderkey", "l_orderkey", "sfb_rev")
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        (
            F.sum(cents("l_extendedprice") * (F.lit(100) - cents("l_discount")))
            / F.lit(10000.0)
        ).alias("revenue"),
    )


@register(
    "ts_series_cardinality",
    """
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_measurements,
           CAST(COUNT(DISTINCT CAST(user_id AS VARCHAR) || '|' || event_type)
                AS BIGINT) AS n_series
    FROM events
    """,
)
def ts_series_cardinality(spark, sf):
    """InfluxQL ``SHOW SERIES CARDINALITY`` / ``SHOW MEASUREMENT
    CARDINALITY``: the index-size numbers a capacity planner asks for.
    Exact distinct counts (Expand + partial agg two-phase plan — no
    driver-side set)."""
    ev = load_table(spark, sf, "events")
    series_key = F.concat(
        F.col("user_id").cast("string"), F.lit("|"), F.col("event_type")
    )
    return ev.agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count_distinct("event_type").alias("n_measurements"),
        F.count_distinct(series_key).alias("n_series"),
    )


def _sql_random_projection(out_dim: int = 16, dim: int = 64) -> str:
    from syncflux_spark.operators.similarity import _hyperplane

    vq = (
        f"list_transform({_SQL_VEC}, "
        "x -> CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT))"
    )
    cols = []
    for j in range(out_dim):
        lits = ", ".join(
            str(round(_hyperplane(50_000 + j, d) * 1_000_000))
            for d in range(dim)
        )
        cols.append(
            f"list_dot_product(vq, [{lits}]) / 1000000000000.0 AS p{j}"
        )
    return (
        f"SELECT vec_id, {', '.join(cols)} "
        f"FROM (SELECT vec_id, {vq} AS vq FROM embeddings)"
    )


@register(
    "emb_covariance",
    f"""
    WITH q AS (SELECT list_transform({_SQL_VEC},
                 x -> CAST(ROUND(x * 1000000) AS BIGINT)) AS v
               FROM embeddings),
    p AS (SELECT v, unnest(generate_series(1, len(v))) AS i FROM q),
    pp AS (SELECT v[i] AS vi, v[j] AS vj, i, j
           FROM (SELECT v, i, unnest(generate_series(i, len(v))) AS j FROM p))
    SELECT CAST(i - 1 AS BIGINT) AS i, CAST(j - 1 AS BIGINT) AS j,
           ((CAST(SUM(vi * vj) AS DOUBLE)
             - CAST(SUM(vi) AS DOUBLE) * CAST(SUM(vj) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE))
            / CAST(COUNT(*) AS DOUBLE)) / 1000000000000.0::DOUBLE AS cov
    FROM pp GROUP BY i, j
    """,
)
def emb_covariance(spark, sf):
    """Upper-triangle covariance matrix of the embedding corpus (the
    d×d input to PCA / whitening / Mahalanobis). Each vector is
    quantized to exact micros ints, pair products accumulate in int64
    (partial sums < 2^53 ⇒ any accumulation order exact — the same
    fixed-point discipline as emb_random_projection), and the
    (Σxy − ΣxΣy/n)/n combination happens once in double, fixed op
    order. Plan: two nested posexplodes fan each row to d(d+1)/2
    pair terms that collapse map-side into ≤ d² partial aggregates
    per partition — the shuffle moves O(d² × partitions), never
    O(n·d²). At 100 TB (n ≳ 9e6 per group at micros² magnitudes)
    swap the int64 accumulator for decimal(38,0); symmetry gives the
    lower triangle for free."""
    from syncflux_spark.functions.vectors import as_double

    e = load_table(spark, sf, "embeddings")
    q = e.select(
        F.transform(as_double("embedding"), lambda x: F.round(x * 1_000_000).cast("long")).alias("v")
    )
    xi = q.select(F.posexplode("v").alias("i", "vi"), F.col("v"))
    xij = xi.select(
        "i", "vi", F.posexplode(F.slice("v", F.col("i") + 1, F.size("v") - F.col("i"))).alias("j0", "vj")
    ).select("i", "vi", (F.col("i") + F.col("j0")).alias("j"), "vj")
    agg = xij.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vi").alias("sx"),
        F.sum("vj").alias("sy"),
        F.sum(F.col("vi") * F.col("vj")).alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    cov = (
        (F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double") / n_d)
        / n_d
    ) / F.lit(1_000_000_000_000.0)
    return agg.select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        cov.alias("cov"),
    )


@register("emb_random_projection", _sql_random_projection())
def emb_random_projection(spark, sf):
    """Deterministic JL random projection 64→16 dims — identical
    md5-derived planes on both engines, FIXED-POINT int64 dot (every
    partial sum < 2^53, so any accumulation order is exact — float
    dots are order-dependent and DuckDB reassociates long + chains),
    one divide at the end
    (operators/similarity.py::random_projection)."""
    from syncflux_spark.operators.similarity import random_projection

    return random_projection(load_table(spark, sf, "embeddings"))


@register(
    "ts_trend_slope",
    f"""
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_points,
           (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x * y) AS DOUBLE)
            - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
           / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x * x) AS DOUBLE)
              - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE))
             AS slope_micro_per_s
    FROM (SELECT user_id, event_type,
                 epoch_us(ts) // 1000000 - 1704067200 AS x,
                 {_sql_micros('value')} AS y
          FROM events)
    GROUP BY user_id, event_type
    HAVING COUNT(*) >= 2
       AND (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x * x) AS DOUBLE)
            - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)) != 0
    """,
)
def ts_trend_slope(spark, sf):
    """Per-series least-squares trend (micros per second): closed-form
    OLS over exact integer sums — x is rebased to the dataset epoch so
    Σxy stays inside int64 (2.7e6 s span × 4.9e8 micros × rows/series)
    and the four-sum combination happens once, in double, in one fixed
    op order on both engines. One partial-agg shuffle, no window, no
    second pass."""
    ev = load_table(spark, sf, "events")
    x = F.expr("unix_micros(ts) div 1000000") - F.lit(1_704_067_200)
    y = micros_amt("value")
    agg = ev.select(
        "user_id", "event_type", x.alias("x"), y.alias("y")
    ).groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n_d = F.col("n_points").cast("double")
    num = n_d * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    den = n_d * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    return (
        agg.where((F.col("n_points") >= 2) & (den != 0))
        .select(
            "user_id",
            "event_type",
            "n_points",
            (num / den).alias("slope_micro_per_s"),
        )
    )


@register(
    "outage_event_counts",
    """
    WITH g AS (SELECT event_type, epoch_us(ts) AS s,
                      epoch_us(lead(ts) OVER (PARTITION BY event_type
                                              ORDER BY ts, event_id)) AS e
               FROM events),
    w AS (SELECT event_type, s, e FROM g WHERE e - s > 300000000)
    SELECT w.event_type AS outage_type,
           CAST(w.s AS BIGINT) AS gap_start_us,
           CAST(w.e AS BIGINT) AS gap_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_other_events
    FROM w JOIN events ev
      ON epoch_us(ev.ts) > w.s AND epoch_us(ev.ts) < w.e
     AND ev.event_type != w.event_type
    GROUP BY w.event_type, w.s, w.e
    """,
)
def outage_event_counts(spark, sf):
    """Range join, bin-bucketed: per-event-type silence windows (>5
    min between consecutive points — meaningful at every fixture
    scale: data density rises with sf, so a fixed 30-min bar empties) counted against every OTHER type's
    events falling strictly inside them — "what was the rest of the
    system doing during checkout outages". The containment predicate
    runs through operators/intervals.py::binned_interval_join: both
    sides keyed by a 1-hour time bin so the plan is an equality hash
    join plus a residual filter — never BroadcastNestedLoopJoin — and
    the fact side is not duplicated (one bin per point; intervals here
    span <=4 bins). Plan-asserted in tests/test_plans.py."""
    from syncflux_spark.operators.intervals import binned_interval_join

    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = ev.select(
        F.col("event_type").alias("outage_type"),
        F.unix_micros("ts").alias("s"),
        F.unix_micros(F.lead("ts").over(w)).alias("e"),
    )
    wins = g.where(F.col("e") - F.col("s") > 300_000_000)
    pts = ev.select(F.unix_micros("ts").alias("ts_us"), "event_type")
    joined = binned_interval_join(
        pts,
        wins,
        point_ts="ts_us",
        start="s",
        end="e",
        bin_width_us=3_600_000_000,
        extra_cond=F.col("event_type") != F.col("outage_type"),
        closed="open",
    )
    return joined.groupBy("outage_type", "s", "e").agg(
        F.count(F.lit(1)).alias("n_other_events")
    ).select(
        "outage_type",
        F.col("s").alias("gap_start_us"),
        F.col("e").alias("gap_end_us"),
        "n_other_events",
    )


@register(
    "ts_ema",
    """
    SELECT user_id, event_type, CAST(len(vals) AS BIGINT) AS n_points,
           list_reduce(vals, (acc, x) -> 0.5::DOUBLE * x + 0.5::DOUBLE * acc)
             AS ema_half
    FROM (SELECT user_id, event_type, list(value ORDER BY ts, value) AS vals
          FROM events GROUP BY user_id, event_type)
    ORDER BY user_id, event_type
    """,
)
def ts_ema(spark, sf):
    """Influx `exponential_moving_average` endpoint per series, with a
    dyadic half-life (alpha = 1/2): EMA_1 = x_1, EMA_t = x_t/2 +
    EMA_{t-1}/2. EMA is inherently sequential, so it runs as an
    in-row left fold over the time-ordered value list (one shuffle to
    group the series, zero window sorts); multiplying by 0.5 is a
    power-of-two scale — exact in IEEE — so the fold is bit-identical
    across engines (DuckDB list_reduce seeds with the first element;
    Spark seeds aggregate() with element 1 and folds the rest).
    State per series is the value list — bounded by series length."""
    ev = load_table(spark, sf, "events")
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "value"))),
        lambda s: s["value"],
    )
    g = ev.groupBy("user_id", "event_type").agg(vals.alias("vals"))
    ema = F.aggregate(
        F.slice(F.col("vals"), F.lit(2), F.size("vals") - F.lit(1)),
        F.element_at("vals", F.lit(1)),
        lambda acc, x: F.lit(0.5) * x + F.lit(0.5) * acc,
    )
    return g.select(
        "user_id",
        "event_type",
        F.size("vals").cast("long").alias("n_points"),
        ema.alias("ema_half"),
    )


@register(
    "ts_holt_winters",
    # The natural oracle form — list_reduce with a STRUCT accumulator —
    # miscomputes in DuckDB v1.0.0 (beyond 3 elements the lambda's
    # acc fields desynchronize: fold prefix [100,60,80] ends at
    # {l:77,b:-4}, a manual step from {77,-4} with x=20 gives b=-11,
    # but the 4-element fold returns b=-7). A recursive CTE walking
    # rn→rn+1 carries the state in scalar columns instead; depth =
    # max series length.
    """
    WITH RECURSIVE x AS (
      SELECT user_id, event_type,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS xm,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, value) AS rn,
             count(*) OVER (PARTITION BY user_id, event_type) AS n
      FROM events
    ),
    st AS (
      SELECT user_id, event_type, rn, n, xm AS l, CAST(0 AS BIGINT) AS b
      FROM x WHERE rn = 1
      UNION ALL
      SELECT x.user_id, x.event_type, x.rn, x.n,
             CAST(FLOOR((x.xm + st.l + st.b)::DOUBLE / 2.0) AS BIGINT) AS l,
             CAST(FLOOR((CAST(FLOOR((x.xm + st.l + st.b)::DOUBLE / 2.0)
                              AS BIGINT) - st.l)::DOUBLE / 4.0) AS BIGINT)
               + (st.b - CAST(FLOOR(st.b::DOUBLE / 4.0) AS BIGINT)) AS b
      FROM st JOIN x ON x.user_id = st.user_id
                    AND x.event_type = st.event_type
                    AND x.rn = st.rn + 1
    )
    SELECT user_id, event_type, CAST(n AS BIGINT) AS n_points,
           l AS level_micro, b AS trend_micro,
           CAST(l + 1 * b AS BIGINT) AS fc1_micro,
           CAST(l + 2 * b AS BIGINT) AS fc2_micro,
           CAST(l + 3 * b AS BIGINT) AS fc3_micro,
           (l + b) / 1000000.0 AS forecast_next
    FROM st WHERE rn = n
    """,
)
def ts_holt_winters(spark, sf):
    """Influx ``HOLT_WINTERS`` sibling: additive double exponential
    smoothing (level + trend, non-seasonal) per series, with h-step
    forecasts. InfluxQL fits α/β by Nelder-Mead (non-reproducible
    numerics); this engine's variant fixes dyadic constants α=1/2,
    β=1/4 and runs the recurrence in FIXED-POINT int64 micros with
    floor division, so the state sequence is a deterministic integer
    recurrence — bit-identical in any engine, immune to float
    reassociation (DuckDB reorders float `+` chains; integer ops are
    associative so the mirrored fold cannot drift).

        s_t = ⌊(x_t + s_{t-1} + b_{t-1}) / 2⌋
        b_t = ⌊(s_t - s_{t-1}) / 4⌋ + (b_{t-1} - ⌊b_{t-1}/4⌋)
        forecast_h = s_T + h·b_T          (s_1 = x_1, b_1 = 0)

    Same scale shape as ts_ema: one shuffle to group each series,
    then an in-row left fold over the time-ordered list (the fold
    state rides a struct; both engines seed with element 1). Series
    state is bounded by series length."""
    ev = load_table(spark, sf, "events")
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "value"))),
        lambda s: F.floor(s["value"] * 1_000_000 + F.lit(0.5)).cast("long"),
    )
    g = ev.groupBy("user_id", "event_type").agg(vals.alias("vals"))
    sts = F.transform(
        F.col("vals"),
        lambda x: F.struct(
            x.alias("x"), x.alias("l"), F.lit(0).cast("long").alias("b")
        ),
    )

    def step(acc, e):
        s_new = F.floor(
            (e["x"] + acc["l"] + acc["b"]).cast("double") / F.lit(2.0)
        ).cast("long")
        b_new = (
            F.floor((s_new - acc["l"]).cast("double") / F.lit(4.0)).cast("long")
            + (acc["b"] - F.floor(acc["b"].cast("double") / F.lit(4.0)).cast("long"))
        )
        return F.struct(e["x"].alias("x"), s_new.alias("l"), b_new.alias("b"))

    g = g.select(
        "user_id",
        "event_type",
        F.size("vals").cast("long").alias("n_points"),
        F.aggregate(
            F.slice(sts, F.lit(2), F.size("vals") - F.lit(1)),
            F.element_at(sts, F.lit(1)),
            step,
        ).alias("fin"),
    )
    lvl, tr = F.col("fin.l"), F.col("fin.b")
    return g.select(
        "user_id",
        "event_type",
        "n_points",
        lvl.alias("level_micro"),
        tr.alias("trend_micro"),
        (lvl + F.lit(1) * tr).cast("long").alias("fc1_micro"),
        (lvl + F.lit(2) * tr).cast("long").alias("fc2_micro"),
        (lvl + F.lit(3) * tr).cast("long").alias("fc3_micro"),
        ((lvl + tr) / F.lit(1_000_000.0)).alias("forecast_next"),
    )


@register(
    "ts_chande_momentum",
    """
    WITH d AS (
      SELECT user_id, event_type, event_id,
             CAST(epoch_us(ts) AS BIGINT) AS ts_us,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)
               - lag(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) OVER w
               AS diff
      FROM events
      WINDOW w AS (PARTITION BY user_id, event_type
                   ORDER BY ts, value, event_id)
    ),
    s AS (
      SELECT user_id, event_type, ts_us,
             CAST(COUNT(diff) OVER f AS BIGINT) AS n_diffs,
             SUM(GREATEST(diff, 0)) OVER f AS up,
             SUM(-LEAST(diff, 0)) OVER f AS down
      FROM d
      WINDOW f AS (PARTITION BY user_id, event_type
                   ORDER BY ts_us, event_id
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_type, ts_us, n_diffs,
           CAST(up AS BIGINT) AS up_micro, CAST(down AS BIGINT) AS down_micro,
           CASE WHEN up + down > 0
                THEN 100.0 * (up - down) / (up + down) END AS cmo
    FROM s
    """,
)
def ts_chande_momentum(spark, sf):
    """Influx ``CHANDE_MOMENTUM_OSCILLATOR(value, 4)``: per series,
    consecutive-point moves split into up/down magnitudes, summed over
    a trailing 4-move ROWS frame; CMO = 100·(up−down)/(up+down) in
    [−100, 100] — the momentum transform of the InfluxQL analytics
    family. Moves ride exact integer micros so the frame sums are
    order-independent; the single float expression (100.0·Δ)/Σ is one
    fixed op sequence → bit-identical cross-engine. Two per-series
    window sorts (lag, then frame) and zero joins; at 100 TB both
    windows share the same partitioning, so the second sort is
    exchange-free after the first."""
    ev = load_table(spark, sf, "events")
    xm = F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
    wl = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "value", "event_id"
    )
    d = ev.select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        (xm - F.lag(xm).over(wl)).alias("diff"),
    )
    wf = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-3, 0)
    )
    s = d.select(
        "user_id",
        "event_type",
        "ts_us",
        F.count("diff").over(wf).cast("long").alias("n_diffs"),
        F.sum(F.greatest("diff", F.lit(0))).over(wf).alias("up"),
        F.sum(-F.least("diff", F.lit(0))).over(wf).alias("down"),
    )
    up, down = F.col("up"), F.col("down")
    return s.select(
        "user_id",
        "event_type",
        "ts_us",
        "n_diffs",
        up.cast("long").alias("up_micro"),
        down.cast("long").alias("down_micro"),
        F.when(up + down > 0, F.lit(100.0) * (up - down) / (up + down)).alias(
            "cmo"
        ),
    )


@register(
    "ts_interval_coverage",
    """
    WITH iv AS (
      SELECT event_type, event_id,
             CAST(epoch_us(ts) AS BIGINT) AS s,
             CAST(epoch_us(ts) AS BIGINT)
               + CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS e
      FROM events
    ),
    flagged AS (
      SELECT event_type, s, e, event_id,
             CASE WHEN MAX(e) OVER (PARTITION BY event_type ORDER BY s, e, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       IS NULL
                    OR s > MAX(e) OVER (PARTITION BY event_type ORDER BY s, e, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS opens
      FROM iv
    ),
    isl AS (
      SELECT event_type, s, e,
             SUM(opens) OVER (PARTITION BY event_type ORDER BY s, e, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM flagged
    ),
    merged AS (
      SELECT event_type, island, MIN(s) AS island_start, MAX(e) AS island_end,
             CAST(COUNT(*) AS BIGINT) AS n_intervals
      FROM isl GROUP BY event_type, island
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(n_intervals) AS BIGINT) AS n_intervals,
           CAST(SUM(island_end - island_start) AS BIGINT) AS covered_us,
           CAST(MAX(island_end - island_start) AS BIGINT) AS max_island_us
    FROM merged GROUP BY event_type
    """,
)
def ts_interval_coverage(spark, sf):
    """Covered-time accounting per event type: each event opens an
    activity interval [ts, ts + value seconds); overlapping intervals
    merge into islands (operators/intervals.py::merge_intervals — the
    two-window gaps-and-islands formulation, no self-join), then one
    aggregate reports island count, total covered µs, and the longest
    contiguous span — the uptime/SLA primitive over raw event spans.
    Exact integer µs throughout. One exchange on event_type feeds
    both window sorts AND the final aggregate — at 100 TB the whole
    query is a single shuffle."""
    from syncflux_spark.operators.intervals import merge_intervals

    ev = load_table(spark, sf, "events")
    iv = ev.select(
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (
            F.unix_micros("ts")
            + F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
        ).alias("e"),
    )
    merged = merge_intervals(
        iv, keys=["event_type"], start="s", end="e", order_tiebreak=["event_id"]
    )
    span = F.col("island_end") - F.col("island_start")
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum("n_intervals").cast("long").alias("n_intervals"),
        F.sum(span).cast("long").alias("covered_us"),
        F.max(span).cast("long").alias("max_island_us"),
    )


@register(
    "ts_rolling_median",
    """
    WITH x AS (
      SELECT user_id, event_type, event_id,
             CAST(epoch_us(ts) AS BIGINT) AS ts_us,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS xm
      FROM events
    ),
    f AS (
      SELECT user_id, event_type, ts_us,
             list_sort(list(xm) OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts_us, event_id
                                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
               AS fr
      FROM x
    )
    SELECT user_id, event_type, ts_us,
           CAST(len(fr) AS BIGINT) AS n_window,
           CASE WHEN len(fr) % 2 = 1 THEN CAST(fr[(len(fr) + 1) // 2] AS DOUBLE)
                ELSE (fr[len(fr) // 2] + fr[len(fr) // 2 + 1]) / 2.0
           END AS median_micro
    FROM f
    """,
)
def ts_rolling_median(spark, sf):
    """Rolling MEDIAN over a trailing 5-point frame per series — the
    robust running baseline (a single spike moves a moving average by
    spike/n; it doesn't move the median at all), Influx MEDIAN's
    per-window sibling. Frames are tiny fixed-size arrays, so the
    median is an in-row sort + index pick — no percentile UDAF, no
    cross-engine interpolation ambiguity: odd frames index the middle
    element, even frames average the two middles in one exact IEEE op
    over integer micros. Window collect rides the same per-series
    sort as every other ts_* window — one exchange at scale."""
    ev = load_table(spark, sf, "events")
    xm = F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-4, 0)
    )
    f = ev.select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        xm.alias("xm"),
    ).select(
        "user_id",
        "event_type",
        "ts_us",
        F.sort_array(F.collect_list("xm").over(w)).alias("fr"),
    )
    n = F.size("fr")
    odd = F.element_at("fr", ((n + 1) / 2).cast("int")).cast("double")
    even = (
        F.element_at("fr", (n / 2).cast("int"))
        + F.element_at("fr", (n / 2).cast("int") + 1)
    ) / F.lit(2.0)
    return f.select(
        "user_id",
        "event_type",
        "ts_us",
        n.cast("long").alias("n_window"),
        F.when(n % 2 == 1, odd).otherwise(even).alias("median_micro"),
    )


@register(
    "ts_mad_outliers",
    """
    WITH g AS (
      SELECT user_id, event_type,
             list_sort(list(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)))
               AS xs
      FROM events GROUP BY user_id, event_type
    ),
    med AS (
      SELECT user_id, event_type, xs,
             CASE WHEN len(xs) % 2 = 1
                  THEN CAST(xs[(len(xs) + 1) // 2] AS DOUBLE)
                  ELSE (xs[len(xs) // 2] + xs[len(xs) // 2 + 1]) / 2.0
             END AS med
      FROM g
    ),
    dev AS (
      SELECT user_id, event_type, xs, med,
             list_sort(list_transform(xs, x -> abs(x - med))) AS ds
      FROM med
    )
    SELECT user_id, event_type,
           CAST(len(xs) AS BIGINT) AS n_points,
           med AS median_micro,
           CASE WHEN len(ds) % 2 = 1 THEN ds[(len(ds) + 1) // 2]
                ELSE (ds[len(ds) // 2] + ds[len(ds) // 2 + 1]) / 2.0
           END AS mad_micro,
           CAST(len(list_filter(xs,
                x -> abs(x - med) > 3.0 * (CASE WHEN len(ds) % 2 = 1
                     THEN ds[(len(ds) + 1) // 2]
                     ELSE (ds[len(ds) // 2] + ds[len(ds) // 2 + 1]) / 2.0 END)))
             AS BIGINT) AS n_outliers
    FROM dev
    """,
)
def ts_mad_outliers(spark, sf):
    """Robust per-series outlier detection: |x − median| > 3·MAD
    (median absolute deviation). The mean/stddev z-score (ts_outliers)
    is itself dragged by the outliers it hunts — masking; the median/
    MAD pair has a 50% breakdown point, the robust-statistics
    standard. Series are grouped once, then every statistic is in-row
    array math over the sorted micros list (sort → index for the
    median, transform → sort → index for MAD, filter → count for the
    flags): zero windows, zero joins, ONE shuffle for the whole
    query. Medians use the same odd/even index-or-average recipe as
    ts_rolling_median — deterministic, no interpolation ambiguity.
    |x − med| is float-exact: med is integer or half-integer and x
    integer, both well under 2^52."""
    ev = load_table(spark, sf, "events")
    xm = F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
    g = ev.groupBy("user_id", "event_type").agg(
        F.sort_array(F.collect_list(xm)).alias("xs")
    )

    def _median(arr):
        n = F.size(arr)
        odd = F.element_at(arr, ((n + 1) / 2).cast("int")).cast("double")
        even = (
            F.element_at(arr, (n / 2).cast("int"))
            + F.element_at(arr, (n / 2).cast("int") + 1)
        ) / F.lit(2.0)
        return F.when(n % 2 == 1, odd).otherwise(even)

    med = g.select(
        "user_id", "event_type", "xs", _median(F.col("xs")).alias("med")
    )
    dev = med.select(
        "user_id",
        "event_type",
        "xs",
        "med",
        F.sort_array(
            F.transform("xs", lambda x: F.abs(x - F.col("med")))
        ).alias("ds"),
    )
    # stage MAD as a real column: referenced inside the filter lambda it
    # would re-evaluate (array sort + index) per element
    staged = dev.withColumn("mad", _median(F.col("ds")))
    return staged.select(
        "user_id",
        "event_type",
        F.size("xs").cast("long").alias("n_points"),
        F.col("med").alias("median_micro"),
        F.col("mad").alias("mad_micro"),
        F.size(
            F.filter(
                "xs",
                lambda x: F.abs(x - F.col("med")) > F.lit(3.0) * F.col("mad"),
            )
        )
        .cast("long")
        .alias("n_outliers"),
    )


@register(
    "ts_rsi",
    """
    WITH RECURSIVE x AS (
      SELECT user_id, event_type,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS xm,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, value) AS rn,
             count(*) OVER (PARTITION BY user_id, event_type) AS n
      FROM events
    ),
    st AS (
      SELECT user_id, event_type, rn, n, xm,
             CAST(0 AS BIGINT) AS ag, CAST(0 AS BIGINT) AS al
      FROM x WHERE rn = 1
      UNION ALL
      SELECT x.user_id, x.event_type, x.rn, x.n, x.xm,
             CASE WHEN st.rn = 1 THEN GREATEST(x.xm - st.xm, 0)
                  ELSE CAST(FLOOR((3 * st.ag
                       + GREATEST(x.xm - st.xm, 0))::DOUBLE / 4.0) AS BIGINT)
             END AS ag,
             CASE WHEN st.rn = 1 THEN GREATEST(st.xm - x.xm, 0)
                  ELSE CAST(FLOOR((3 * st.al
                       + GREATEST(st.xm - x.xm, 0))::DOUBLE / 4.0) AS BIGINT)
             END AS al
      FROM st JOIN x ON x.user_id = st.user_id
                    AND x.event_type = st.event_type
                    AND x.rn = st.rn + 1
    )
    SELECT user_id, event_type, CAST(n AS BIGINT) AS n_points,
           ag AS avg_gain_micro, al AS avg_loss_micro,
           CASE WHEN n = 1 THEN NULL
                WHEN al = 0 AND ag = 0 THEN 50.0::DOUBLE
                WHEN al = 0 THEN 100.0::DOUBLE
                ELSE 100.0::DOUBLE - 100.0::DOUBLE
                     / (1.0::DOUBLE + CAST(ag AS BIGINT) / CAST(al AS BIGINT))
           END AS rsi
    FROM st WHERE rn = n
    """,
)
def ts_rsi(spark, sf):
    """Influx ``RELATIVE_STRENGTH_INDEX(value, 4)`` endpoint per
    series: consecutive moves split into gains/losses, Wilder-smoothed
    (avg' = (3·avg + move)/4, seeded by the first move), RSI =
    100 − 100/(1 + gain/loss). The smoothing runs the same
    FIXED-POINT floor recurrence as ts_holt_winters — deterministic
    integer state, recursive-CTE oracle — and the final RSI is one
    fixed 4-op float chain (÷, +, ÷, −) on identical operands, so no
    engine can reassociate it. Flat series pin to 50, loss-free to
    100, single-point series to NULL. Same single-shuffle
    group-and-fold scale shape as the other sequential ts_* ops."""
    ev = load_table(spark, sf, "events")
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "value"))),
        lambda s: F.floor(s["value"] * 1_000_000 + F.lit(0.5)).cast("long"),
    )
    g = ev.groupBy("user_id", "event_type").agg(vals.alias("vals"))
    zero = F.lit(0).cast("long")

    def step(acc, x):
        gain = F.greatest(x - acc["xm"], zero)
        loss = F.greatest(acc["xm"] - x, zero)
        first = acc["k"] == 0
        ag = F.when(first, gain).otherwise(
            F.floor((3 * acc["ag"] + gain).cast("double") / F.lit(4.0)).cast(
                "long"
            )
        )
        al = F.when(first, loss).otherwise(
            F.floor((3 * acc["al"] + loss).cast("double") / F.lit(4.0)).cast(
                "long"
            )
        )
        return F.struct(
            x.alias("xm"),
            ag.alias("ag"),
            al.alias("al"),
            (acc["k"] + 1).alias("k"),
        )

    seed = F.struct(
        F.element_at("vals", F.lit(1)).alias("xm"),
        zero.alias("ag"),
        zero.alias("al"),
        F.lit(0).cast("long").alias("k"),
    )
    g = g.select(
        "user_id",
        "event_type",
        F.size("vals").cast("long").alias("n_points"),
        F.aggregate(
            F.slice(F.col("vals"), F.lit(2), F.size("vals") - F.lit(1)),
            seed,
            step,
        ).alias("fin"),
    )
    ag, al = F.col("fin.ag"), F.col("fin.al")
    rsi = (
        F.when(F.col("n_points") == 1, F.lit(None).cast("double"))
        .when((al == 0) & (ag == 0), F.lit(50.0))
        .when(al == 0, F.lit(100.0))
        .otherwise(F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + ag / al))
    )
    return g.select(
        "user_id",
        "event_type",
        "n_points",
        ag.alias("avg_gain_micro"),
        al.alias("avg_loss_micro"),
        rsi.alias("rsi"),
    )


@register(
    "ts_kaufman_er",
    """
    WITH d AS (
      SELECT user_id, event_type, event_id,
             CAST(epoch_us(ts) AS BIGINT) AS ts_us,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS xm,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)
               - lag(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) OVER w
               AS diff,
             lag(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT), 4) OVER w
               AS x_lag4
      FROM events
      WINDOW w AS (PARTITION BY user_id, event_type
                   ORDER BY ts, value, event_id)
    ),
    s AS (
      SELECT user_id, event_type, ts_us, xm, x_lag4,
             SUM(ABS(diff)) OVER f AS volatility
      FROM d
      WINDOW f AS (PARTITION BY user_id, event_type
                   ORDER BY ts_us, event_id
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_type, ts_us,
           CAST(ABS(xm - x_lag4) AS BIGINT) AS change_micro,
           CAST(volatility AS BIGINT) AS volatility_micro,
           CASE WHEN volatility > 0
                THEN CAST(ABS(xm - x_lag4) AS BIGINT)
                     / CAST(volatility AS BIGINT) END AS efficiency_ratio
    FROM s WHERE x_lag4 IS NOT NULL
    """,
)
def ts_kaufman_er(spark, sf):
    """Influx ``KAUFMANS_EFFICIENCY_RATIO(value, 4)``: net 4-step
    price change over the sum of the 4 absolute step moves — 1.0 for
    a straight trend, →0 for pure churn; the signal/noise dial that
    drives Kaufman's adaptive MA. Numerator (lag-4 delta) and
    denominator (ROWS-frame sum of |move|) are both exact integer
    micros off the same per-series window sort; one division at the
    end. Rows without 4 predecessors drop (InfluxQL emits from the
    n-th point), zero-volatility frames yield NULL."""
    ev = load_table(spark, sf, "events")
    xm = F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
    wl = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "value", "event_id"
    )
    d = ev.select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        xm.alias("xm"),
        (xm - F.lag(xm).over(wl)).alias("diff"),
        F.lag(xm, 4).over(wl).alias("x_lag4"),
    )
    wf = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-3, 0)
    )
    s = d.select(
        "user_id",
        "event_type",
        "ts_us",
        "xm",
        "x_lag4",
        F.sum(F.abs("diff")).over(wf).alias("volatility"),
    ).where(F.col("x_lag4").isNotNull())
    change = F.abs(F.col("xm") - F.col("x_lag4")).cast("long")
    vol = F.col("volatility").cast("long")
    return s.select(
        "user_id",
        "event_type",
        "ts_us",
        change.alias("change_micro"),
        vol.alias("volatility_micro"),
        F.when(vol > 0, change / vol).alias("efficiency_ratio"),
    )


@register(
    "ts_ema_cascade",
    """
    WITH RECURSIVE x AS (
      SELECT user_id, event_type,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS xm,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, value) AS rn,
             count(*) OVER (PARTITION BY user_id, event_type) AS n
      FROM events
    ),
    st AS (
      SELECT user_id, event_type, rn, n,
             xm AS e1, xm AS e2, xm AS e3, xm AS p3
      FROM x WHERE rn = 1
      UNION ALL
      SELECT x.user_id, x.event_type, x.rn, x.n,
             CAST(FLOOR((st.e1 + x.xm)::DOUBLE / 2.0) AS BIGINT) AS e1,
             CAST(FLOOR((st.e2 + CAST(FLOOR((st.e1 + x.xm)::DOUBLE / 2.0)
                                 AS BIGINT))::DOUBLE / 2.0) AS BIGINT) AS e2,
             CAST(FLOOR((st.e3
               + CAST(FLOOR((st.e2 + CAST(FLOOR((st.e1 + x.xm)::DOUBLE / 2.0)
                                     AS BIGINT))::DOUBLE / 2.0) AS BIGINT)
               )::DOUBLE / 2.0) AS BIGINT) AS e3,
             st.e3 AS p3
      FROM st JOIN x ON x.user_id = st.user_id
                    AND x.event_type = st.event_type
                    AND x.rn = st.rn + 1
    )
    SELECT user_id, event_type, CAST(n AS BIGINT) AS n_points,
           e1 AS ema_micro,
           CAST(2 * e1 - e2 AS BIGINT) AS dema_micro,
           CAST(3 * e1 - 3 * e2 + e3 AS BIGINT) AS tema_micro,
           CASE WHEN n > 1 AND p3 != 0
                THEN 100.0::DOUBLE * (e3 - p3) / CAST(p3 AS BIGINT) END
             AS trix_pct
    FROM st WHERE rn = n
    """,
)
def ts_ema_cascade(spark, sf):
    """The EMA-cascade family endpoint per series — Influx
    ``DOUBLE_EXPONENTIAL_MOVING_AVERAGE`` (DEMA = 2·e1 − e2),
    ``TRIPLE_EMA`` (TEMA = 3·e1 − 3·e2 + e3) and
    ``TRIPLE_EXPONENTIAL_DERIVATIVE`` (TRIX = %Δ of e3) from ONE
    pass: three chained α=½ EMAs (e2 smooths e1, e3 smooths e2) run
    as a single fixed-point floor recurrence carrying (e1,e2,e3,
    prev-e3) — same deterministic integer state machine as
    ts_holt_winters, same recursive-CTE oracle. The lag-compensation
    arithmetic on the final states is pure int64; TRIX is one fixed
    float chain (−, ·, ÷). Single shuffle, in-row fold."""
    ev = load_table(spark, sf, "events")
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "value"))),
        lambda s: F.floor(s["value"] * 1_000_000 + F.lit(0.5)).cast("long"),
    )
    g = ev.groupBy("user_id", "event_type").agg(vals.alias("vals"))

    def half(a, b):
        return F.floor((a + b).cast("double") / F.lit(2.0)).cast("long")

    def step(acc, x):
        e1 = half(acc["e1"], x)
        e2 = half(acc["e2"], e1)
        e3 = half(acc["e3"], e2)
        return F.struct(
            e1.alias("e1"), e2.alias("e2"), e3.alias("e3"), acc["e3"].alias("p3")
        )

    first = F.element_at("vals", F.lit(1))
    seed = F.struct(
        first.alias("e1"), first.alias("e2"), first.alias("e3"), first.alias("p3")
    )
    g = g.select(
        "user_id",
        "event_type",
        F.size("vals").cast("long").alias("n_points"),
        F.aggregate(
            F.slice(F.col("vals"), F.lit(2), F.size("vals") - F.lit(1)),
            seed,
            step,
        ).alias("fin"),
    )
    e1, e2, e3, p3 = (F.col(f"fin.{c}") for c in ("e1", "e2", "e3", "p3"))
    return g.select(
        "user_id",
        "event_type",
        "n_points",
        e1.alias("ema_micro"),
        (2 * e1 - e2).cast("long").alias("dema_micro"),
        (3 * e1 - 3 * e2 + e3).cast("long").alias("tema_micro"),
        F.when(
            (F.col("n_points") > 1) & (p3 != 0),
            F.lit(100.0) * (e3 - p3) / p3,
        ).alias("trix_pct"),
    )


@register(
    "emb_class_centroids",
    f"""
    WITH e AS (SELECT label, {_SQL_VEC} AS v FROM embeddings),
    x AS (SELECT label, v, unnest(generate_series(1, len(v))) AS dim FROM e)
    SELECT label, CAST(dim AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(FLOOR(v[dim] * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_micro,
           CAST(SUM(CAST(FLOOR(v[dim] * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
             / CAST(COUNT(*) AS BIGINT) / 1000000.0 AS mean_val
    FROM x GROUP BY label, dim
    """,
)
def emb_class_centroids(spark, sf):
    """Per-label centroid of the embedding column, one row per
    (label, dimension) — the class-prototype primitive behind IVF
    coarse quantizers and semantic-cluster summaries. Summing floats
    across rows is order-dependent (partial aggregates arrive in any
    order), so each component is quantized to exact integer micros
    with portable floor(x+0.5) rounding, summed exactly, and divided
    once at the end — the engine's standard exact-integer ride
    (posexplode + two-phase hash agg; shuffle carries label×dim
    groups, not vectors)."""
    emb = load_table(spark, sf, "embeddings")
    d = emb.select("label", F.posexplode("embedding").alias("pos", "x"))
    xm = F.floor(F.col("x").cast("double") * 1_000_000 + F.lit(0.5)).cast("long")
    return (
        d.groupBy("label", (F.col("pos") + 1).cast("long").alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(xm).alias("sum_micro"),
        )
        .select(
            "label",
            "dim",
            "n_vecs",
            "sum_micro",
            (
                (F.col("sum_micro") / F.col("n_vecs")) / F.lit(1_000_000.0)
            ).alias("mean_val"),
        )
    )


def _text_format_roundtrip(spark, sf, fmt: str) -> DataFrame:
    """Shared body of the CSV / JSON-lines interchange gates: export
    the events table (ns clock as long), read it back with a declared
    schema, return the re-derived rows."""
    import os

    from syncflux_spark.sources.formats import read_text_table, write_text_table

    root = tempfile.mkdtemp(prefix=f"sf_{fmt}_")
    path = os.path.join(root, "events")
    write_text_table(load_table(spark, sf, "events"), path, fmt)
    return read_text_table(spark, path, fmt)


@register(
    "csv_roundtrip_stats",
    f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({_sql_micros('value')}) AS BIGINT) AS sum_value_micro,
           CAST(MIN(epoch_us(ts)) AS BIGINT) AS min_ts_us,
           CAST(MAX(epoch_us(ts)) AS BIGINT) AS max_ts_us
    FROM events GROUP BY event_type
    """,
)
def csv_roundtrip_stats(spark, sf):
    """CSV interchange: events exported to CSV (quoted JSON props and
    all) and read back with a declared schema, then aggregated.
    Matching the oracle on the ORIGINAL table proves the text
    roundtrip is lossless — including ns timestamps, which ride a
    plain long because a CSV timestamp column would truncate to µs."""
    back = _text_format_roundtrip(spark, sf, "csv")
    us = F.unix_micros("ts")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(micros_amt("value")).alias("sum_value_micro"),
        F.min(us).alias("min_ts_us"),
        F.max(us).alias("max_ts_us"),
    )


@register(
    "json_roundtrip_stats",
    f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           CAST(SUM(CASE WHEN props IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_props
    FROM events GROUP BY event_type
    """,
)
def json_roundtrip_stats(spark, sf):
    """JSON-lines interchange: same gate as the CSV one, exercising
    the nested-quoting path (JSON strings inside JSON values)."""
    back = _text_format_roundtrip(spark, sf, "json")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").alias("sum_event_id"),
        F.sum(
            F.when(F.col("props").isNotNull(), F.lit(1)).otherwise(F.lit(0))
        ).alias("n_props"),
    )


@register(
    "orc_roundtrip_stats",
    f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(MIN(epoch_us(ts)) AS BIGINT) AS min_ts_us,
           CAST(MAX(epoch_us(ts)) AS BIGINT) AS max_ts_us
    FROM events GROUP BY event_type
    """,
)
def orc_roundtrip_stats(spark, sf):
    """ORC interchange: the third builtin columnar/text sink after
    CSV and JSON-lines — same ns-clock-as-long convention (ORC
    timestamps are µs like Spark's, so the long column is what makes
    the roundtrip lossless). Unlike the text formats ORC keeps real
    types and min/max stripe statistics, so it is the interchange
    format of choice when the consumer is another columnar engine."""
    back = _text_format_roundtrip(spark, sf, "orc")
    us = F.unix_micros("ts")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("user_id").alias("n_users"),
        F.min(us).alias("min_ts_us"),
        F.max(us).alias("max_ts_us"),
    )


@register(
    "ts_trailing_1h_stats",
    f"""
    SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           CAST(SUM(v_micro) OVER w AS BIGINT) AS sum_value_micro_1h
    FROM (SELECT user_id, event_type, ts,
                 epoch_us(ts) // 1000000 AS e_s,
                 {_sql_micros('value')} AS v_micro
          FROM events)
    WINDOW w AS (PARTITION BY user_id, event_type ORDER BY e_s
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def ts_trailing_1h_stats(spark, sf):
    """Trailing time-window stats: for every point, count and sum over
    the preceding hour of ITS OWN series — a RANGE frame over epoch
    seconds, not a row frame, so irregular sampling gets correct
    time-based windows (the InfluxQL ``GROUP BY time()`` sibling that
    SQL expresses per-point). Peers at the same second share a frame
    in both engines; integer-micro sums keep it exact. One per-series
    sort, no self-join — the naive formulation (range self-join on
    t-3600 ≤ t' ≤ t) would be O(n·window) shuffle work at 100 TB."""
    ev = load_table(spark, sf, "events")
    e_s = F.expr("unix_micros(ts) div 1000000")  # integer division: exact
    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy(e_s)
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(micros_amt("value")).over(w).alias("sum_value_micro_1h"),
    )


@register(
    "table_profile",
    f"""
    WITH a AS (
      SELECT COUNT(*) AS n_rows,
             COUNT(o_orderkey) AS nn1, COUNT(DISTINCT o_orderkey) AS nd1,
             CAST(MIN(o_orderkey) AS VARCHAR) AS mn1,
             CAST(MAX(o_orderkey) AS VARCHAR) AS mx1,
             COUNT(o_custkey) AS nn2, COUNT(DISTINCT o_custkey) AS nd2,
             CAST(MIN(o_custkey) AS VARCHAR) AS mn2,
             CAST(MAX(o_custkey) AS VARCHAR) AS mx2,
             COUNT(o_orderstatus) AS nn3,
             COUNT(DISTINCT o_orderstatus) AS nd3,
             MIN(o_orderstatus) AS mn3, MAX(o_orderstatus) AS mx3,
             COUNT(o_totalprice) AS nn4,
             COUNT(DISTINCT {_sql_cents('o_totalprice')}) AS nd4,
             CAST(MIN({_sql_cents('o_totalprice')}) AS VARCHAR) AS mn4,
             CAST(MAX({_sql_cents('o_totalprice')}) AS VARCHAR) AS mx4,
             COUNT(o_orderdate) AS nn5,
             COUNT(DISTINCT o_orderdate) AS nd5,
             CAST(CAST(epoch_us(MIN(o_orderdate)) AS BIGINT) AS VARCHAR)
               AS mn5,
             CAST(CAST(epoch_us(MAX(o_orderdate)) AS BIGINT) AS VARCHAR)
               AS mx5,
             COUNT(o_orderpriority) AS nn6,
             COUNT(DISTINCT o_orderpriority) AS nd6,
             MIN(o_orderpriority) AS mn6, MAX(o_orderpriority) AS mx6
      FROM orders)
    SELECT 'o_orderkey' AS col_name, n_rows, n_rows - nn1 AS n_null,
           nd1 AS n_distinct, mn1 AS min_repr, mx1 AS max_repr FROM a
    UNION ALL
    SELECT 'o_custkey', n_rows, n_rows - nn2, nd2, mn2, mx2 FROM a
    UNION ALL
    SELECT 'o_orderstatus', n_rows, n_rows - nn3, nd3, mn3, mx3 FROM a
    UNION ALL
    SELECT 'o_totalprice_cents', n_rows, n_rows - nn4, nd4, mn4, mx4 FROM a
    UNION ALL
    SELECT 'o_orderdate_us', n_rows, n_rows - nn5, nd5, mn5, mx5 FROM a
    UNION ALL
    SELECT 'o_orderpriority', n_rows, n_rows - nn6, nd6, mn6, mx6 FROM a
    """,
)
def table_profile(spark, sf):
    """Column-level data profile of a table: per column the row count,
    null count, exact distinct count, and min/max (rendered to strings
    through engine-stable representations: ints verbatim, money as
    cents, timestamps as epoch-µs — never float/date formatting, which
    differs across engines). The ingestion-QA operator every pipeline
    runs before trusting a new drop.

    Two column-pruned scans, deliberately (r12): the original
    single-Aggregate form mixed the 6-way COUNT(DISTINCT) Expand with
    min/max over STRING columns, whose variable-width aggregation
    buffers force the whole pipeline onto SortAggregate — including a
    full Sort of the 7×-expanded stream (at 100 TB: a sort of 7× the
    table's bytes; at sf0.1, 1.05M wide rows sorted on the fixture's
    single scan partition — 5.6 s isolated). Splitting the plain
    aggregates (keyless pass: no Sort even as SortAggregate) from the
    distinct counts (Expand whose remaining buffers are all
    fixed-width longs → parallel HashAggregate, no Sort anywhere) and
    crossJoining the two 1-row results computes identical values with
    no sort of expanded data — interleaved same-box A/B at sf0.1:
    minima 4.51 s → 2.02 s (0.45×; residual is per-query session
    machinery — a spread_for_cpu on the scan was tested and bought
    nothing further). At 100 TB swap COUNT(DISTINCT) for
    approx_count_distinct per column to drop the Expand entirely
    (documented dial, exact here to stay oracle-comparable)."""
    o = load_table(spark, sf, "orders")
    tp_c = cents("o_totalprice")
    od_us = F.unix_micros(F.col("o_orderdate"))
    plain = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_orderkey").alias("nn1"),
        F.min("o_orderkey").cast("string").alias("mn1"),
        F.max("o_orderkey").cast("string").alias("mx1"),
        F.count("o_custkey").alias("nn2"),
        F.min("o_custkey").cast("string").alias("mn2"),
        F.max("o_custkey").cast("string").alias("mx2"),
        F.count("o_orderstatus").alias("nn3"),
        F.min("o_orderstatus").alias("mn3"),
        F.max("o_orderstatus").alias("mx3"),
        F.count("o_totalprice").alias("nn4"),
        F.min(tp_c).cast("string").alias("mn4"),
        F.max(tp_c).cast("string").alias("mx4"),
        F.count("o_orderdate").alias("nn5"),
        F.min(od_us).cast("string").alias("mn5"),
        F.max(od_us).cast("string").alias("mx5"),
        F.count("o_orderpriority").alias("nn6"),
        F.min("o_orderpriority").alias("mn6"),
        F.max("o_orderpriority").alias("mx6"),
    )
    nd = o.agg(
        F.countDistinct("o_orderkey").alias("nd1"),
        F.countDistinct("o_custkey").alias("nd2"),
        F.countDistinct("o_orderstatus").alias("nd3"),
        F.countDistinct(tp_c).alias("nd4"),
        F.countDistinct("o_orderdate").alias("nd5"),
        F.countDistinct("o_orderpriority").alias("nd6"),
    )
    a = plain.crossJoin(nd)

    def row(name, i):
        return F.struct(
            F.lit(name).alias("col_name"),
            F.col("n_rows"),
            (F.col("n_rows") - F.col(f"nn{i}")).alias("n_null"),
            F.col(f"nd{i}").alias("n_distinct"),
            F.col(f"mn{i}").alias("min_repr"),
            F.col(f"mx{i}").alias("max_repr"),
        )

    return a.select(
        F.explode(
            F.array(
                row("o_orderkey", 1),
                row("o_custkey", 2),
                row("o_orderstatus", 3),
                row("o_totalprice_cents", 4),
                row("o_orderdate_us", 5),
                row("o_orderpriority", 6),
            )
        ).alias("p")
    ).select("p.*")


@register(
    "ts_acf",
    """
    WITH b AS (
      SELECT CAST(epoch_us(date_trunc('hour', MIN(ts))) AS BIGINT) AS h0,
             CAST(epoch_us(date_trunc('hour', MAX(ts))) AS BIGINT) AS h1
      FROM events),
    hrs AS (SELECT h0 + 3600000000 *
                   unnest(range(0, (h1 - h0) // 3600000000 + 1)) AS hr_us
            FROM b),
    types AS (SELECT DISTINCT event_type FROM events),
    hc AS (SELECT event_type,
                  CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS hr_us,
                  COUNT(*) AS c
           FROM events GROUP BY 1, 2),
    dense AS (
      SELECT t.event_type, h.hr_us, CAST(COALESCE(hc.c, 0) AS BIGINT) AS c
      FROM types t CROSS JOIN hrs h
      LEFT JOIN hc ON hc.event_type = t.event_type AND hc.hr_us = h.hr_us),
    st AS (SELECT event_type, COUNT(*) AS n, SUM(c) AS s
           FROM dense GROUP BY 1),
    led AS (
      SELECT d.event_type, st.n, st.s, d.c,
             lead(d.c, 1) OVER w AS l1,
             lead(d.c, 2) OVER w AS l2,
             lead(d.c, 3) OVER w AS l3
      FROM dense d JOIN st USING (event_type)
      WINDOW w AS (PARTITION BY d.event_type ORDER BY d.hr_us)),
    agg AS (
      SELECT event_type, n, s,
             SUM((n*c - s) * (n*c - s)) AS den,
             SUM(CASE WHEN l1 IS NOT NULL
                      THEN (n*c - s) * (n*l1 - s) END) AS num1,
             SUM(CASE WHEN l2 IS NOT NULL
                      THEN (n*c - s) * (n*l2 - s) END) AS num2,
             SUM(CASE WHEN l3 IS NOT NULL
                      THEN (n*c - s) * (n*l3 - s) END) AS num3
      FROM led GROUP BY event_type, n, s)
    SELECT event_type, CAST(1 AS BIGINT) AS lag, n AS n_hours,
           CAST(num1 AS BIGINT) AS acf_num, CAST(den AS BIGINT) AS acf_den,
           CAST(num1 AS DOUBLE) / CAST(den AS DOUBLE) AS acf
    FROM agg
    UNION ALL
    SELECT event_type, 2, n, CAST(num2 AS BIGINT), CAST(den AS BIGINT),
           CAST(num2 AS DOUBLE) / CAST(den AS DOUBLE) FROM agg
    UNION ALL
    SELECT event_type, 3, n, CAST(num3 AS BIGINT), CAST(den AS BIGINT),
           CAST(num3 AS DOUBLE) / CAST(den AS DOUBLE) FROM agg
    """,
)
def ts_acf(spark, sf):
    """Autocorrelation function at lags 1–3 hours for each event
    type's hourly-count series — THE seasonality/memory diagnostic
    before fitting any forecast (a daily cycle shows as acf rising
    back toward lag 24; white noise hovers near 0). Semantics: the
    series is the DENSE hourly grid over the table's global [min,max]
    hour with absent hours as 0 (ACF over a gappy series would be
    wrong), and acf_k = Σ_t (n·x_t − S)(n·x_{t+k} − S) / Σ_t (n·x_t −
    S)² — the mean-centered sums multiplied through by n so every
    term is an exact int64 (n ≤ series length, bounded by the
    retention window; n·x ≤ ~2^40 at 100 TB scale keeps products
    under 2^63). One float division at the end, same op both engines.
    Plan: grid = broadcast 1-row bounds × sequence-explode per type
    (no shuffle), counts join on (type, hour), then a single
    per-series window sort produces all three lags via lead() — no
    self-join per lag, which is what makes K lags cost one sort
    instead of K shuffles at scale."""
    ev = load_table(spark, sf, "events")
    hr = F.unix_micros(F.date_trunc("hour", F.col("ts")))
    STEP = 3_600_000_000
    b = ev.agg(F.min(hr).alias("h0"), F.max(hr).alias("h1"))
    types = ev.select("event_type").distinct()
    # n is pure bounds arithmetic and s is a whole-partition window
    # sum over the dense grid (order-independent: exact ints) — no
    # second aggregation pass or join-back, the grid subplan stays
    # single-use
    grid = types.crossJoin(F.broadcast(b)).select(
        "event_type",
        (
            F.expr("(h1 - h0) div 3600000000") + F.lit(1)
        ).alias("n"),
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.lit(STEP))
        ).alias("hr_us"),
    )
    hc = ev.groupBy("event_type", hr.alias("hr_us")).agg(
        F.count(F.lit(1)).alias("c")
    )
    dense = grid.join(hc, ["event_type", "hr_us"], "left").select(
        "event_type", "n", "hr_us", F.coalesce("c", F.lit(0)).alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("hr_us")
    wp = Window.partitionBy("event_type")
    led = dense.select(
        "event_type",
        "n",
        F.sum("c").over(wp).alias("s"),
        "c",
        F.lead("c", 1).over(w).alias("l1"),
        F.lead("c", 2).over(w).alias("l2"),
        F.lead("c", 3).over(w).alias("l3"),
    )
    dev = F.col("n") * F.col("c") - F.col("s")

    def num(lc):
        return F.sum(
            F.when(
                F.col(lc).isNotNull(),
                dev * (F.col("n") * F.col(lc) - F.col("s")),
            )
        )

    agg = led.groupBy("event_type", "n", "s").agg(
        F.sum(dev * dev).alias("den"),
        num("l1").alias("num1"),
        num("l2").alias("num2"),
        num("l3").alias("num3"),
    )

    def lag_row(k):
        return F.struct(
            F.lit(k).cast("long").alias("lag"),
            F.col("n").alias("n_hours"),
            F.col(f"num{k}").alias("acf_num"),
            F.col("den").alias("acf_den"),
            (
                F.col(f"num{k}").cast("double")
                / F.col("den").cast("double")
            ).alias("acf"),
        )

    return agg.select(
        "event_type",
        F.explode(F.array(lag_row(1), lag_row(2), lag_row(3))).alias("p"),
    ).select("event_type", "p.*")


# ===========================================================================
# InfluxQL front-end (syncflux_spark/influxql.py) under the oracle gate
# ===========================================================================
#
# These entries run InfluxQL TEXT through the full parse → compile →
# execute path — the statement dialect a reference user's dashboards
# already speak (scan template pkg/agent/sync.go:162, SHOW/DDL
# client.go:84-310). `value` is pre-scaled to integer micros so every
# aggregate is exact integer arithmetic (registry hashing rule #1).


def _influxql_events(spark, sf):
    from syncflux_spark.influxql import InfluxQLEngine

    ev = load_table(spark, sf, "events").withColumn("value", micros_amt("value"))
    return InfluxQLEngine(
        spark, tables={"events": ev}, tags={"events": ["event_type", "user_id"]}
    )


@register(
    "influxql_mean_1h",
    f"""
    SELECT (u - u % 3600000000) * 1000 AS time, event_type,
           CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_micro,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT epoch_us(ts) AS u, event_type,
                 {_sql_micros('value')} AS v
          FROM events
          WHERE ts >= TIMESTAMP '{EV_WIN[0]}' AND ts < TIMESTAMP '{EV_WIN[1]}')
    GROUP BY 1, 2
    """,
)
def influxql_mean_1h(spark, sf):
    """InfluxQL hourly rollup: ``GROUP BY time(1h), <tag>`` compiles
    to ONE hash aggregation on an integer ns bucket (map-side partial
    agg before the single shuffle) with the time range pushed to the
    scan — the plan a hand-written DataFrame rollup produces."""
    return _influxql_events(spark, sf).query(
        f"SELECT mean(value) AS mean_micro, count(value) AS n FROM events "
        f"WHERE time >= '{EV_WIN[0]}' AND time < '{EV_WIN[1]}' "
        f"GROUP BY time(1h), event_type"
    )


@register(
    "influxql_percentile_spread",
    f"""
    WITH v AS (SELECT event_type, {_sql_micros('value')} AS vm FROM events),
    r AS (SELECT event_type, vm,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY vm) AS rk,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM v)
    SELECT event_type,
           MAX(CASE WHEN rk = GREATEST(1, CAST(CEIL(n * 0.9) AS BIGINT))
                    THEN vm END) AS p90_micro,
           MAX(CASE WHEN rk = GREATEST(1, CAST(CEIL(n * 0.5) AS BIGINT))
                    THEN vm END) AS med_micro,
           MAX(vm) - MIN(vm) AS spread_micro,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM r GROUP BY event_type
    """,
)
def influxql_percentile_spread(spark, sf):
    """InfluxQL percentile()/median()/spread(): nearest-rank semantics
    (the value at position ceil(p×n) of the sort — an actual sample,
    like InfluxDB, not an interpolation)."""
    return _influxql_events(spark, sf).query(
        "SELECT percentile(value, 90) AS p90_micro, median(value) AS med_micro, "
        "spread(value) AS spread_micro, count(value) AS n "
        "FROM events GROUP BY event_type"
    )


@register(
    "influxql_first_last_daily",
    f"""
    WITH v AS (SELECT event_type, epoch_us(ts) AS u,
                      {_sql_micros('value')} AS vm
               FROM events),
    b AS (SELECT event_type, (u - u % 86400000000) * 1000 AS time, u, vm FROM v),
    r AS (SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY time, event_type
                                    ORDER BY u, vm) AS rf,
                 ROW_NUMBER() OVER (PARTITION BY time, event_type
                                    ORDER BY u DESC, vm DESC) AS rl
          FROM b)
    SELECT time, event_type,
           MAX(CASE WHEN rf = 1 THEN vm END) AS first_micro,
           MAX(CASE WHEN rl = 1 THEN vm END) AS last_micro
    FROM r GROUP BY time, event_type
    """,
)
def influxql_first_last_daily(spark, sf):
    """InfluxQL first()/last(): value at min/max time per day×series,
    compiled to min/max over (time, value) structs — one hash agg, no
    window sort (ties break by value ordering, deterministic)."""
    return _influxql_events(spark, sf).query(
        "SELECT first(value) AS first_micro, last(value) AS last_micro "
        "FROM events GROUP BY time(1d), event_type"
    )


@register(
    "influxql_fill_zero_6h",
    f"""
    WITH b AS (SELECT (u - u % 21600000000) * 1000 AS time,
                      CAST(COUNT(*) AS BIGINT) AS n
               FROM (SELECT epoch_us(ts) AS u FROM events
                     WHERE ts >= TIMESTAMP '{EV_WIN[0]}'
                       AND ts < TIMESTAMP '{EV_WIN[1]}')
               GROUP BY 1)
    SELECT s.time, CAST(COALESCE(b.n, 0) AS BIGINT) AS n
    FROM (SELECT UNNEST(generate_series((SELECT MIN(time) FROM b),
                                        (SELECT MAX(time) FROM b),
                                        21600000000000)) AS time) s
    LEFT JOIN b USING (time)
    """,
)
def influxql_fill_zero_6h(spark, sf):
    """InfluxQL ``fill(0)``: the compiled grid is densified via a
    ``sequence``-exploded spine join (no driver round-trip), filled
    literals cast to the column's own type so counts stay integral."""
    return _influxql_events(spark, sf).query(
        f"SELECT count(value) AS n FROM events "
        f"WHERE time >= '{EV_WIN[0]}' AND time < '{EV_WIN[1]}' "
        f"GROUP BY time(6h) fill(0)"
    )


# ===========================================================================
# Passage-level (boilerplate) dedup — CCNet-style repeated-passage removal
# ===========================================================================


@register(
    "passage_boilerplate",
    f"""
    WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
    p AS (SELECT doc_id,
                 md5(array_to_string(ws[start:start+2], ' ')) AS passage_hash
          FROM (SELECT doc_id, ws,
                       unnest(generate_series(1, len(ws), 3)) AS start
                FROM w))
    SELECT passage_hash,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(doc_id) AS BIGINT) AS example_doc
    FROM p GROUP BY passage_hash
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def passage_boilerplate(spark, sf):
    """Cross-document repeated passages (k=3-word non-overlapping
    units on the synthetic fixture; k=8+ on real prose): the
    boilerplate document-level dedup can't see. One partial-agg
    shuffle on the passage digest — a sitewide passage repeated on
    millions of pages collapses map-side before the exchange, so hot
    boilerplate is the cheap case, not the skew case."""
    from syncflux_spark.operators.textops import boilerplate_passages

    return boilerplate_passages(
        load_table(spark, sf, "documents"), k=3, min_df=2
    )


@register(
    "doc_boilerplate_ratio",
    f"""
    WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
    p AS (SELECT doc_id, CAST(len(ws[start:start+2]) AS BIGINT) AS n_tokens,
                 md5(array_to_string(ws[start:start+2], ' ')) AS passage_hash
          FROM (SELECT doc_id, ws,
                       unnest(generate_series(1, len(ws), 3)) AS start
                FROM w)),
    d AS (SELECT passage_hash, COUNT(DISTINCT doc_id) AS df_docs
          FROM p GROUP BY passage_hash)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_passages,
           CAST(SUM(CASE WHEN df_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boiler_passages,
           CAST(SUM(CASE WHEN df_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS boiler_ratio,
           CAST(SUM(CASE WHEN df_docs < 2 THEN n_tokens ELSE 0 END) AS BIGINT)
             AS clean_tokens
    FROM p JOIN d USING (passage_hash)
    GROUP BY doc_id
    """,
)
def doc_boilerplate_ratio(spark, sf):
    """Per-document boilerplate exposure + post-cleaning token count —
    the passage-level cleaning decision applied after document dedup.
    Passage explode (map-only) → df hash-agg → hash join back on the
    digest (AQE broadcasts it when the boilerplate set is small) →
    per-doc rollup."""
    from syncflux_spark.operators.textops import doc_boilerplate_ratio as op

    return op(load_table(spark, sf, "documents"), k=3, min_df=2)


@register(
    "cq_daily_rollup",
    f"""
    SELECT (u - u % 86400000000) * 1000 AS time, event_type,
           CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_micro,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT epoch_us(ts) AS u, event_type,
                 {_sql_micros('value')} AS v
          FROM events)
    GROUP BY 1, 2
    """,
)
def cq_daily_rollup(spark, sf):
    """InfluxDB Continuous Query end-to-end: ``CREATE CONTINUOUS
    QUERY .. BEGIN SELECT mean(value) INTO .. GROUP BY time(1d),
    event_type END`` materialized INCREMENTALLY across three advancing
    ``now`` points — each run range-prunes the source scan to buckets
    newer than the target's own high-water mark and complete at
    ``now``, writing an idempotent ``win=`` directory. The final
    target must equal the one-shot batch rollup (the oracle), proving
    no bucket was lost, duplicated, or emitted while partial."""
    from syncflux_spark.sources.parquet import _to_ns_epoch
    from syncflux_spark.streaming.continuous import ContinuousQuery

    eng = _influxql_events(spark, sf)
    root = tempfile.mkdtemp(prefix="sf_cq_")
    cq = ContinuousQuery(
        eng,
        'CREATE CONTINUOUS QUERY "daily" ON "db" BEGIN '
        "SELECT mean(value) AS mean_micro, count(value) AS n "
        'INTO "events_daily" FROM events '
        "GROUP BY time(1d), event_type END",
        f"{root}/events_daily",
    )
    for now in ("2024-01-10", "2024-01-20", "2024-02-05"):
        cq.run(_to_ns_epoch(f"{now} 00:00:00"))
    return cq.read_target()


@register(
    "influxql_derivative_daily",
    """
    WITH b AS (SELECT (u - u % 86400000000) * 1000 AS time, event_type,
                      CAST(COUNT(*) AS BIGINT) AS c
               FROM (SELECT epoch_us(ts) AS u, event_type FROM events)
               GROUP BY 1, 2),
    d AS (SELECT time, event_type,
                 CAST(c - lag(c) OVER (PARTITION BY event_type ORDER BY time)
                      AS DOUBLE) AS d
          FROM b)
    SELECT time, event_type, d FROM d WHERE d IS NOT NULL
    """,
)
def influxql_derivative_daily(spark, sf):
    """InfluxQL transformation compile path: ``derivative(count(..),
    1d)`` over ``GROUP BY time(1d), <tag>`` — the rate-of-change query
    every monitoring dashboard runs. The window sorts the ROLLUP (one
    row per day × type), not the fact table, partitioned by the same
    tag key the aggregation shuffled on. Undefined first buckets are
    omitted, matching InfluxDB."""
    return _influxql_events(spark, sf).query(
        "SELECT derivative(count(value), 1d) AS d FROM events "
        "GROUP BY time(1d), event_type"
    )


@register(
    "influxql_tag_values",
    """
    SELECT DISTINCT 'event_type' AS key, event_type AS value FROM events
    """,
)
def influxql_tag_values(spark, sf):
    """``SHOW TAG VALUES .. WITH KEY = ..`` — the statement Grafana
    template variables issue on every dashboard load. One
    column-pruned distinct; the scan reads a single column."""
    return _influxql_events(spark, sf).query(
        'SHOW TAG VALUES FROM events WITH KEY = "event_type"'
    )


@register(
    "influxql_show_series",
    """
    SELECT DISTINCT 'events,event_type=' || event_type
           || ',user_id=' || CAST(user_id AS VARCHAR) AS key
    FROM events
    """,
)
def influxql_show_series(spark, sf):
    """``SHOW SERIES`` — the measurement,tag=value,... series-key
    inventory (Influx's data-exploration statement). Distinct over
    the tag columns only (column-pruned), formatted with
    lexicographically-sorted tag keys exactly as InfluxDB does."""
    return _influxql_events(spark, sf).query("SHOW SERIES FROM events")


@register(
    "influxql_subquery_peak",
    f"""
    WITH b AS (SELECT (u - u % 3600000000) * 1000 AS time, event_type,
                      CAST(SUM(v) AS DOUBLE) / COUNT(*) AS m
               FROM (SELECT epoch_us(ts) AS u, event_type,
                            {_sql_micros('value')} AS v
                     FROM events)
               GROUP BY 1, 2)
    SELECT event_type, MAX(m) AS peak_micro
    FROM b GROUP BY event_type
    """,
)
def influxql_subquery_peak(spark, sf):
    """InfluxQL subquery compile path: ``SELECT max(m) FROM (SELECT
    mean(..) .. GROUP BY time(1h), tag) GROUP BY tag`` — the
    peak-of-rollup pattern (max hourly mean). The inner rollup and the
    outer max are two hash aggregations sharing the tag key; the outer
    aggregates one row per hour×type, never rescanning the fact
    table."""
    return _influxql_events(spark, sf).query(
        "SELECT max(m) AS peak_micro FROM "
        "(SELECT mean(value) AS m FROM events GROUP BY time(1h), event_type) "
        "GROUP BY event_type"
    )


@register(
    "influxql_cumulative_daily",
    """
    WITH b AS (SELECT (u - u % 86400000000) * 1000 AS time, event_type,
                      CAST(COUNT(*) AS BIGINT) AS c
               FROM (SELECT epoch_us(ts) AS u, event_type FROM events)
               GROUP BY 1, 2)
    SELECT time, event_type,
           CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY time
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
    FROM b
    """,
)
def influxql_cumulative_daily(spark, sf):
    """InfluxQL ``cumulative_sum(count(..))``: running total over the
    daily rollup per series — window over one row per day×type, exact
    integer sums."""
    return _influxql_events(spark, sf).query(
        "SELECT cumulative_sum(count(value)) AS cs FROM events "
        "GROUP BY time(1d), event_type"
    )


@register(
    "ivf_pq_topk",
    """
    WITH v AS (SELECT vec_id,
                      list_transform(embedding::DOUBLE[],
                        x -> CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS vm
               FROM embeddings),
    c AS (SELECT vec_id AS cid, vm AS centv FROM v WHERE vec_id < 8),
    a0 AS (SELECT v.vec_id, v.vm, c.cid,
                  list_reduce(list_transform(range(1, 65),
                    i -> (v.vm[i] - c.centv[i]) * (v.vm[i] - c.centv[i])),
                    (a, b) -> a + b) AS d
           FROM v, c),
    asg AS (SELECT vec_id, vm, cid FROM
              (SELECT *, row_number() OVER (PARTITION BY vec_id
                                            ORDER BY d, cid) AS rn
               FROM a0)
            WHERE rn = 1),
    res AS (SELECT a.vec_id, a.cid,
                   list_transform(range(1, 65), i -> a.vm[i] - c.centv[i]) AS rm
            FROM asg a JOIN c ON c.cid = a.cid),
    ms AS (SELECT unnest(generate_series(0, 7)) AS m),
    rsub AS (SELECT vec_id, cid, m, rm[m*8+1 : m*8+8] AS subv FROM res, ms),
    cb AS (SELECT m, vec_id AS code, subv AS cw FROM rsub WHERE vec_id < 16),
    enc0 AS (SELECT s.vec_id, s.cid, s.m, c.code,
                    list_reduce(list_transform(range(1, 9),
                      i -> (s.subv[i] - c.cw[i]) * (s.subv[i] - c.cw[i])),
                      (a, b) -> a + b) AS d
             FROM rsub s JOIN cb c ON c.m = s.m),
    enc AS (SELECT vec_id, cid, m, code FROM
             (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                           ORDER BY d, code) AS rn
              FROM enc0)
            WHERE rn = 1),
    q0 AS (SELECT v.vec_id AS query_id, v.vm AS qv, c.cid, c.centv,
                  list_reduce(list_transform(range(1, 65),
                    i -> (v.vm[i] - c.centv[i]) * (v.vm[i] - c.centv[i])),
                    (a, b) -> a + b) AS d
           FROM v, c WHERE v.vec_id < 10),
    probes AS (SELECT query_id, cid,
                      list_transform(range(1, 65), i -> qv[i] - centv[i]) AS qres
               FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                                  ORDER BY d, cid) AS rn
                     FROM q0)
               WHERE rn <= 2),
    qsub AS (SELECT query_id, cid, m, qres[m*8+1 : m*8+8] AS subv
             FROM probes, ms),
    qt AS (SELECT s.query_id, s.cid, s.m, c.code,
                  list_reduce(list_transform(range(1, 9),
                    i -> (s.subv[i] - c.cw[i]) * (s.subv[i] - c.cw[i])),
                    (a, b) -> a + b) AS qd
           FROM qsub s JOIN cb c ON c.m = s.m),
    adc AS (SELECT q.query_id, e.vec_id,
                   CAST(SUM(q.qd) AS BIGINT) AS approx_d_micro2
            FROM enc e JOIN qt q ON q.cid = e.cid AND q.m = e.m
                                AND q.code = e.code
            WHERE q.query_id != e.vec_id
            GROUP BY 1, 2)
    SELECT query_id, vec_id AS neighbor_id, approx_d_micro2,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT query_id, vec_id, approx_d_micro2,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY approx_d_micro2, vec_id) AS rn
          FROM adc)
    WHERE rn <= 5
    """,
)
def ivf_pq_topk_query(spark, sf):
    """FAISS-style IVFPQ composition (similarity.py::ivf_pq_topk):
    IVF coarse cells prune which lists each query scans (nprobe=2 of
    8), PQ codes over the RESIDUAL vector make scanned lists 64×
    smaller, ADC scores without decompression. The oracle replays the
    whole index build — assignment argmins, residual codebook,
    encoding, probe tables, ranking — in exact integer µ² arithmetic,
    bit-for-bit. The production 100 TB ANN shape: everything the
    query touches is either broadcast metadata or a map-side argmin;
    the one shuffle carries compact (query, candidate) rows from
    probed cells only."""
    from syncflux_spark.operators.similarity import ivf_pq_topk

    emb = load_table(spark, sf, "embeddings")
    return ivf_pq_topk(
        emb,
        emb.where(F.col("vec_id") < 10),
        k=5,
        n_centroids=8,
        nprobe=2,
    )


@register(
    "influxql_count_star",
    """
    SELECT event_type,
           CAST(COUNT(event_id) AS BIGINT) AS count_event_id,
           CAST(COUNT(value) AS BIGINT) AS count_value,
           CAST(COUNT(props) AS BIGINT) AS count_props
    FROM events GROUP BY event_type
    """,
)
def influxql_count_star(spark, sf):
    """InfluxQL wildcard aggregate: ``count(*)`` expands to one
    aggregate per FIELD named ``count_<field>`` (tags and time
    excluded) — still one hash aggregation regardless of field
    count."""
    from syncflux_spark.influxql import InfluxQLEngine

    ev = load_table(spark, sf, "events")
    eng = InfluxQLEngine(
        spark,
        tables={"events": ev},
        tags={"events": ["event_type", "user_id"]},
    )
    out = eng.query("SELECT count(*) FROM events GROUP BY event_type")
    # ts_ns is engine plumbing, not a field the oracle sees
    return out.drop("count_ts_ns") if "count_ts_ns" in out.columns else out


@register(
    "influxql_regex_measurements",
    """
    WITH u AS (
      SELECT 'ev_click' AS measurement, epoch_us(ts) AS us FROM events
      WHERE event_type = 'click'
      UNION ALL
      SELECT 'ev_purchase', epoch_us(ts) FROM events
      WHERE event_type = 'purchase')
    SELECT (us - us % 86400000000) * 1000 AS time, measurement,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM u GROUP BY 1, 2
    """,
)
def influxql_regex_measurements(spark, sf):
    """``FROM /regex/`` multi-measurement select: every registered
    measurement matching the pattern unions (no shuffle) into one
    scan with a synthesized ``measurement`` tag; grouping on that tag
    reproduces influx's one-series-per-measurement output. The daily
    rollup then shuffles once on (bucket, measurement)."""
    from syncflux_spark.influxql import InfluxQLEngine

    ev = load_table(spark, sf, "events").withColumn(
        "value", micros_amt("value")
    )
    eng = InfluxQLEngine(
        spark,
        tables={
            "ev_click": ev.where(F.col("event_type") == "click"),
            "ev_purchase": ev.where(F.col("event_type") == "purchase"),
        },
        tags={"ev_click": [], "ev_purchase": []},
    )
    return eng.query(
        "SELECT count(value) AS n FROM /^ev_/ GROUP BY time(1d), measurement"
    )


@register(
    "influxql_having_idiom",
    f"""
    WITH b AS (SELECT (u - u % 3600000000) * 1000 AS time, event_type,
                      CAST(SUM(v) AS DOUBLE) / COUNT(*) AS m
               FROM (SELECT epoch_us(ts) AS u, event_type,
                            {_sql_micros('value')} AS v
                     FROM events)
               GROUP BY 1, 2)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_busy
    FROM b WHERE m > 50000000
    GROUP BY event_type
    """,
)
def influxql_having_idiom(spark, sf):
    """InfluxQL's HAVING idiom: filter on an aggregate by wrapping it
    in a subquery (`FROM (SELECT mean(..) AS m ..) WHERE m > x`) —
    the only way 1.x expresses post-aggregation predicates, and a
    construct every migrated dashboard contains. The WHERE applies to
    the inner rollup's output column, the outer count aggregates the
    surviving buckets: two hash aggregations, no fact-table rescan."""
    return _influxql_events(spark, sf).query(
        "SELECT count(m) AS n_busy FROM "
        "(SELECT mean(value) AS m FROM events GROUP BY time(1h), event_type) "
        "WHERE m > 50000000 GROUP BY event_type"
    )


@register(
    "influxql_top3_daily",
    f"""
    WITH v AS (SELECT event_type, epoch_us(ts) * 1000 AS t,
                      {_sql_micros('value')} AS vm
               FROM events),
    r AS (SELECT event_type, t, vm,
                 ROW_NUMBER() OVER (
                   PARTITION BY event_type, t - t % 86400000000000
                   ORDER BY vm DESC, t ASC) AS rn
          FROM v)
    SELECT CAST(t AS BIGINT) AS time, event_type, vm AS v
    FROM r WHERE rn <= 3
    """,
)
def influxql_top3_daily(spark, sf):
    """InfluxQL ``top(field, N)`` selector: up to N ROWS per bucket ×
    series, each with its own point time (the multi-row selector
    family, not a one-row aggregate). Plans as WindowGroupLimit —
    per-partition top-N heaps, never a full sort of the fact table
    (plan-asserted in test_influxql.py). Ties at the boundary output
    identical (time, value) rows either way — hash-deterministic."""
    return _influxql_events(spark, sf).query(
        "SELECT top(value, 3) AS v FROM events "
        "GROUP BY time(1d), event_type"
    )


@register(
    "influxql_elapsed_clicks",
    """
    WITH c AS (SELECT user_id, epoch_us(ts) * 1000 AS t
               FROM events WHERE event_type = 'click'),
    d AS (SELECT user_id, t,
                 t - lag(t) OVER (PARTITION BY user_id ORDER BY t) AS dt
          FROM c)
    SELECT CAST(t AS BIGINT) AS time, user_id,
           CAST(dt // 1000000000 AS BIGINT) AS e
    FROM d WHERE dt IS NOT NULL
    """,
)
def influxql_elapsed_clicks(spark, sf):
    """InfluxQL raw-select transformation: ``elapsed(field, 1s)`` —
    per-series inter-arrival gaps in whole seconds, windows
    partitioned by the series tag and ordered by event time (one
    per-series exchange). Rows with no predecessor are omitted.
    Hash-stable even under duplicate timestamps (equal times → delta
    0 regardless of tie order)."""
    return _influxql_events(spark, sf).query(
        "SELECT elapsed(value, 1s) AS e FROM events "
        "WHERE event_type = 'click' GROUP BY user_id"
    )


@register(
    "influxql_slimit_series",
    """
    SELECT (u - u % 86400000000) * 1000 AS time, event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT epoch_us(ts) AS u, event_type FROM events)
    WHERE event_type IN (SELECT DISTINCT event_type FROM events
                         ORDER BY event_type LIMIT 2 OFFSET 1)
    GROUP BY 1, 2
    """,
)
def influxql_slimit_series(spark, sf):
    """InfluxQL SLIMIT/SOFFSET: a window of SERIES (tag combinations
    in lexicographic order), orthogonal to row LIMIT — how a dashboard
    pages through thousands of hosts. dense_rank over the rollup's tag
    ordering; rollup-sized sort, never the fact table."""
    return _influxql_events(spark, sf).query(
        "SELECT count(value) AS n FROM events "
        "GROUP BY time(1d), event_type SLIMIT 2 SOFFSET 1"
    )


@register(
    "ts_m4_downsample",
    f"""
    WITH v AS (SELECT event_type, CAST(epoch_us(ts) AS BIGINT) AS u,
                      event_id, {_sql_micros('value')} AS vm
               FROM events),
    b AS (SELECT event_type, (u - u % 86400000000) AS bucket_us, u, event_id, vm
          FROM v),
    r AS (SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY event_type, bucket_us
                                    ORDER BY u, event_id) AS rf,
                 ROW_NUMBER() OVER (PARTITION BY event_type, bucket_us
                                    ORDER BY u DESC, event_id DESC) AS rl
          FROM b)
    SELECT event_type, bucket_us,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           MIN(vm) AS min_micro, MAX(vm) AS max_micro,
           MAX(CASE WHEN rf = 1 THEN vm END) AS first_micro,
           MAX(CASE WHEN rl = 1 THEN vm END) AS last_micro
    FROM r GROUP BY event_type, bucket_us
    """,
)
def ts_m4_downsample(spark, sf):
    """M4 downsampling (Jugel et al., VLDB'14): per pixel-bucket keep
    exactly min, max, first, last — the four points that make a
    line-chart render pixel-identical to the full-resolution series.
    THE correct way to ship a billion-point series to a dashboard.
    One hash aggregation: first/last via min/max over (time, id,
    value) structs — no window sort of the fact table; ties at equal
    timestamps break on event_id, deterministic."""
    ev = load_table(spark, sf, "events")
    vm = micros_amt("value")
    u = F.unix_micros("ts")
    bucket = (u - u % F.lit(86_400_000_000)).alias("bucket_us")
    fs = F.struct(u.alias("u"), F.col("event_id").alias("e"), vm.alias("v"))
    return ev.groupBy("event_type", bucket).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min(vm).alias("min_micro"),
        F.max(vm).alias("max_micro"),
        F.min(fs).getField("v").alias("first_micro"),
        F.max(fs).getField("v").alias("last_micro"),
    )


@register(
    "ts_seasonal_anomaly",
    """
    WITH hc AS (SELECT event_type,
                       CAST(extract(hour FROM ts) AS BIGINT) AS hod,
                       CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS hr_us,
                       COUNT(*) AS c
                FROM events GROUP BY 1, 2, 3),
    prof AS (SELECT event_type, hod,
                    CAST(COUNT(*) AS BIGINT) AS n_days,
                    CAST(SUM(c) AS BIGINT) AS s,
                    CAST(SUM(c * c) AS BIGINT) AS ss
             FROM hc GROUP BY event_type, hod)
    SELECT h.event_type, h.hr_us, CAST(h.c AS BIGINT) AS c,
           p.n_days, p.s, p.ss,
           CAST(p.n_days * h.c - p.s AS DOUBLE)
             / sqrt(CAST(p.n_days * p.ss - p.s * p.s AS DOUBLE)) AS z
    FROM hc h JOIN prof p USING (event_type, hod)
    WHERE p.n_days * p.ss - p.s * p.s > 0
      AND ABS(CAST(p.n_days * h.c - p.s AS DOUBLE)
              / sqrt(CAST(p.n_days * p.ss - p.s * p.s AS DOUBLE))) > 2.0
    """,
)
def ts_seasonal_anomaly(spark, sf):
    """Seasonality-aware anomaly detection: each (type, hour) bucket
    is scored against the hour-of-day PROFILE built from all observed
    days — 9am traffic compared to other 9am's, not to 3am — flagging
    |z| > 2. The z-score is computed from exact integer moments
    multiplied through by n (n·c − S over √(n·SS − S²)), so the only
    floats are one division and one IEEE-exact sqrt, identical in
    both engines. Two hash aggregations (hourly counts, then 24-row
    profiles per type) + a broadcast-sized profile join — no windows,
    no fact-table sort."""
    ev = load_table(spark, sf, "events")
    hr_us = F.unix_micros(F.date_trunc("hour", F.col("ts")))
    hod = F.hour("ts").cast("long")
    hc = ev.groupBy(
        "event_type", hod.alias("hod"), hr_us.alias("hr_us")
    ).agg(F.count(F.lit(1)).alias("c"))
    prof = hc.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    j = hc.join(prof, ["event_type", "hod"])
    num = (F.col("n_days") * F.col("c") - F.col("s")).cast("double")
    var = (F.col("n_days") * F.col("ss") - F.col("s") * F.col("s"))
    z = num / F.sqrt(var.cast("double"))
    return (
        j.where((var > 0) & (F.abs(z) > 2.0))
        .select(
            "event_type",
            "hr_us",
            F.col("c").cast("long").alias("c"),
            "n_days",
            "s",
            "ss",
            z.alias("z"),
        )
    )


@register(
    "ts_ccf_click_purchase",
    """
    WITH b AS (
      SELECT CAST(epoch_us(date_trunc('hour', MIN(ts))) AS BIGINT) AS h0,
             CAST(epoch_us(date_trunc('hour', MAX(ts))) AS BIGINT) AS h1
      FROM events),
    hrs AS (SELECT h0 + 3600000000 *
                   unnest(range(0, (h1 - h0) // 3600000000 + 1)) AS hr_us
            FROM b),
    hc AS (SELECT event_type,
                  CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS hr_us,
                  COUNT(*) AS c
           FROM events WHERE event_type IN ('click', 'purchase')
           GROUP BY 1, 2),
    dense AS (
      SELECT h.hr_us,
             CAST(COALESCE(cx.c, 0) AS BIGINT) AS x,
             CAST(COALESCE(cy.c, 0) AS BIGINT) AS y
      FROM hrs h
      LEFT JOIN hc cx ON cx.event_type = 'click' AND cx.hr_us = h.hr_us
      LEFT JOIN hc cy ON cy.event_type = 'purchase' AND cy.hr_us = h.hr_us),
    st AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                  SUM(x*x) AS sxx, SUM(y*y) AS syy
           FROM dense),
    led AS (SELECT d.hr_us, st.n, st.sx, st.sy, st.sxx, st.syy, d.x,
                   lead(d.y, 0) OVER w AS y0,
                   lead(d.y, 1) OVER w AS y1,
                   lead(d.y, 2) OVER w AS y2
            FROM dense d CROSS JOIN st
            WINDOW w AS (ORDER BY d.hr_us)),
    agg AS (SELECT n, sx, sy, sxx, syy,
                   SUM((n*x - sx) * (n*y0 - sy)) AS num0,
                   SUM(CASE WHEN y1 IS NOT NULL
                            THEN (n*x - sx) * (n*y1 - sy) END) AS num1,
                   SUM(CASE WHEN y2 IS NOT NULL
                            THEN (n*x - sx) * (n*y2 - sy) END) AS num2
            FROM led GROUP BY n, sx, sy, sxx, syy)
    SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_hours,
           CAST(num AS BIGINT) AS ccf_num,
           CAST(num AS DOUBLE)
             / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) AS ccf
    FROM (SELECT 0 AS lag, n, sxx, sx, syy, sy, num0 AS num FROM agg
          UNION ALL SELECT 1, n, sxx, sx, syy, sy, num1 FROM agg
          UNION ALL SELECT 2, n, sxx, sx, syy, sy, num2 FROM agg)
    """,
)
def ts_ccf_click_purchase(spark, sf):
    """Cross-correlation function between the click and purchase
    hourly-count series at lags 0–2 hours — the lead/lag diagnostic
    ACF can't give (does click activity PREDICT purchases an hour
    later?). Same dense-grid + mean-centered-integer discipline as
    ts_acf: both series zero-filled on the global hourly spine, all
    sums exact int64 multiplied through by n, one division and two
    IEEE sqrts at the end. All lags ride one ordered window pass."""
    ev = load_table(spark, sf, "events")
    hr = F.unix_micros(F.date_trunc("hour", F.col("ts")))
    STEP = 3_600_000_000
    b = ev.agg(F.min(hr).alias("h0"), F.max(hr).alias("h1"))
    hrs = b.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"), F.lit(STEP))).alias(
            "hr_us"
        )
    )
    hc = (
        ev.where(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type", hr.alias("hr_us"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cx = hc.where(F.col("event_type") == "click").select(
        "hr_us", F.col("c").alias("x")
    )
    cy = hc.where(F.col("event_type") == "purchase").select(
        "hr_us", F.col("c").alias("y")
    )
    dense = (
        hrs.join(cx, "hr_us", "left")
        .join(cy, "hr_us", "left")
        .select(
            "hr_us",
            F.coalesce("x", F.lit(0)).alias("x"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
    )
    wp = Window.partitionBy()
    w = Window.orderBy("hr_us")
    led = dense.select(
        "hr_us",
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("x").over(wp).alias("sx"),
        F.sum("y").over(wp).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(wp).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(wp).alias("syy"),
        "x",
        F.col("y").alias("y0"),
        F.lead("y", 1).over(w).alias("y1"),
        F.lead("y", 2).over(w).alias("y2"),
    )
    devx = F.col("n") * F.col("x") - F.col("sx")

    def num(yc):
        return F.sum(
            F.when(
                F.col(yc).isNotNull(),
                devx * (F.col("n") * F.col(yc) - F.col("sy")),
            )
        )

    agg = led.groupBy("n", "sx", "sy", "sxx", "syy").agg(
        num("y0").alias("num0"),
        num("y1").alias("num1"),
        num("y2").alias("num2"),
    )
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )

    def lag_row(k):
        return F.struct(
            F.lit(k).cast("long").alias("lag"),
            F.col("n").cast("long").alias("n_hours"),
            F.col(f"num{k}").cast("long").alias("ccf_num"),
            (F.col(f"num{k}").cast("double") / den).alias("ccf"),
        )

    return agg.select(
        F.explode(F.array(lag_row(0), lag_row(1), lag_row(2))).alias("p")
    ).select("p.*")


# ===========================================================================
# Forecast-quality + robust-stats + HLL additions
# ===========================================================================


@register(
    "ts_seasonal_mase",
    """
    WITH b AS (
      SELECT CAST(epoch_us(date_trunc('hour', MIN(ts))) AS BIGINT) AS h0,
             CAST(epoch_us(date_trunc('hour', MAX(ts))) AS BIGINT) AS h1
      FROM events),
    hrs AS (SELECT h0 + 3600000000 *
                   unnest(range(0, (h1 - h0) // 3600000000 + 1)) AS hr_us
            FROM b),
    types AS (SELECT DISTINCT event_type FROM events),
    hc AS (SELECT event_type,
                  CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS hr_us,
                  COUNT(*) AS c
           FROM events GROUP BY 1, 2),
    dense AS (
      SELECT t.event_type, h.hr_us, CAST(COALESCE(hc.c, 0) AS BIGINT) AS c
      FROM types t CROSS JOIN hrs h
      LEFT JOIN hc ON hc.event_type = t.event_type AND hc.hr_us = h.hr_us),
    led AS (
      SELECT event_type, c,
             lag(c, 1) OVER w AS p1,
             lag(c, 24) OVER w AS p24
      FROM dense
      WINDOW w AS (PARTITION BY event_type ORDER BY hr_us)),
    agg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(CASE WHEN p24 IS NOT NULL THEN ABS(c - p24) END) AS BIGINT) AS sae_seasonal,
             CAST(SUM(CASE WHEN p24 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seasonal,
             CAST(SUM(CASE WHEN p1 IS NOT NULL THEN ABS(c - p1) END) AS BIGINT) AS sae_naive,
             CAST(SUM(CASE WHEN p1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_naive
      FROM led GROUP BY event_type)
    SELECT event_type, n_hours, sae_seasonal, n_seasonal, sae_naive, n_naive,
           CASE WHEN sae_naive * n_seasonal > 0
                THEN CAST(sae_seasonal * n_naive AS DOUBLE)
                     / CAST(sae_naive * n_seasonal AS DOUBLE) END AS mase
    FROM agg
    """,
)
def ts_seasonal_mase(spark, sf):
    """Seasonal-naive forecast quality (MASE, season = 24 h) per event
    type's hourly-count series: MAE of the lag-24 forecast over MAE of
    the lag-1 naive — the standard scale-free test for 'is there a
    daily cycle worth modeling'. MASE < 1 ⇒ the seasonal forecast
    beats naive. Series semantics match ts_acf: the DENSE hourly grid
    with absent hours as 0. Both lags ride ONE per-type sort window
    (no self-joins); every error term is an exact int64 and the MASE
    ratio is cross-multiplied to a single float division —
    (Σ|e_s|·n_1) / (Σ|e_1|·n_s) — bit-identical across engines."""
    ev = load_table(spark, sf, "events")
    hr = F.unix_micros(F.date_trunc("hour", F.col("ts")))
    STEP = 3_600_000_000
    b = ev.agg(F.min(hr).alias("h0"), F.max(hr).alias("h1"))
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(b)).select(
        "event_type",
        F.explode(F.sequence(F.col("h0"), F.col("h1"), F.lit(STEP))).alias("hr_us"),
    )
    hc = ev.groupBy("event_type", hr.alias("hr_us")).agg(
        F.count(F.lit(1)).alias("c")
    )
    dense = grid.join(hc, ["event_type", "hr_us"], "left").select(
        "event_type", "hr_us", F.coalesce("c", F.lit(0)).alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("hr_us")
    led = dense.select(
        "event_type",
        "c",
        F.lag("c", 1).over(w).alias("p1"),
        F.lag("c", 24).over(w).alias("p24"),
    )

    def sae(pc):
        return F.sum(
            F.when(F.col(pc).isNotNull(), F.abs(F.col("c") - F.col(pc)))
        ).cast("long")

    def cnt(pc):
        return F.sum(F.col(pc).isNotNull().cast("long")).cast("long")

    agg = led.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        sae("p24").alias("sae_seasonal"),
        cnt("p24").alias("n_seasonal"),
        sae("p1").alias("sae_naive"),
        cnt("p1").alias("n_naive"),
    )
    num = F.col("sae_seasonal") * F.col("n_naive")
    den = F.col("sae_naive") * F.col("n_seasonal")
    return agg.select(
        "event_type",
        "n_hours",
        "sae_seasonal",
        "n_seasonal",
        "sae_naive",
        "n_naive",
        F.when(den > 0, num.cast("double") / den.cast("double")).alias("mase"),
    )


@register(
    "ts_winsorized_stats",
    f"""
    WITH v AS (SELECT event_type, {_sql_micros('value')} AS vm FROM events),
    r AS (SELECT event_type, vm,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY vm) AS rk,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM v),
    p AS (SELECT event_type,
                 MAX(CASE WHEN rk = GREATEST(1, CAST(CEIL(n * 0.05) AS BIGINT))
                          THEN vm END) AS p05,
                 MAX(CASE WHEN rk = GREATEST(1, CAST(CEIL(n * 0.95) AS BIGINT))
                          THEN vm END) AS p95
          FROM r GROUP BY event_type)
    SELECT v.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           p.p05 AS p05_micro, p.p95 AS p95_micro,
           CAST(SUM(CASE WHEN vm < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
           CAST(SUM(CASE WHEN vm > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
           CAST(SUM(CASE WHEN vm < p05 THEN p05
                         WHEN vm > p95 THEN p95 ELSE vm END) AS BIGINT)
             AS winsorized_sum_micro,
           CAST(SUM(CASE WHEN vm < p05 THEN p05
                         WHEN vm > p95 THEN p95 ELSE vm END) AS DOUBLE)
             / COUNT(*) AS winsorized_mean_micro
    FROM v JOIN p USING (event_type)
    GROUP BY v.event_type, p.p05, p.p95
    """,
)
def ts_winsorized_stats(spark, sf):
    """Winsorized (5%/95%-clipped) robust mean per event type — the
    outlier-resistant center a monitoring pipeline reports when raw
    means are spike-dominated. Nearest-rank cut points and the clipped
    sum both come from one sorted in-row array per group (single
    shuffle, like the percentile family); every clipped value is an
    exact integer micro, one float division at the end."""
    ev = load_table(spark, sf, "events")
    vm = micros_amt("value")
    g = ev.groupBy("event_type").agg(
        F.sort_array(F.collect_list(vm)).alias("arr")
    )
    sz = F.size("arr")

    def cut(p):
        pos = F.greatest(
            F.lit(1), F.ceil(sz.cast("double") * F.lit(p)).cast("int")
        )
        return F.element_at("arr", pos)

    g = g.select(
        "event_type",
        sz.cast("long").alias("n"),
        cut(0.05).alias("p05_micro"),
        cut(0.95).alias("p95_micro"),
        F.col("arr"),
    )
    clipped_sum = F.expr(
        "aggregate(arr, 0L, (acc, x) -> acc + CASE "
        "WHEN x < p05_micro THEN p05_micro "
        "WHEN x > p95_micro THEN p95_micro ELSE x END)"
    )
    return g.select(
        "event_type",
        "n",
        "p05_micro",
        "p95_micro",
        F.expr(
            "aggregate(arr, 0L, (acc, x) -> acc + CASE WHEN x < p05_micro THEN 1L ELSE 0L END)"
        ).alias("n_clipped_low"),
        F.expr(
            "aggregate(arr, 0L, (acc, x) -> acc + CASE WHEN x > p95_micro THEN 1L ELSE 0L END)"
        ).alias("n_clipped_high"),
        clipped_sum.alias("winsorized_sum_micro"),
        (clipped_sum.cast("double") / F.col("n")).alias("winsorized_mean_micro"),
    )


#: alpha_64 · m² · 2^48 for the HLL estimator below, folded to one
#: double literal shared verbatim by both engines (single division).
_HLL_NUM = 0.709 * 4096 * float(2**48)


@register(
    "hll_distinct_users",
    f"""
    WITH h AS (SELECT DISTINCT event_type,
                 ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS v
               FROM events),
    reg AS (SELECT event_type, v % 64 AS r, v // 64 AS w FROM h),
    rk AS (SELECT event_type, r,
                  MAX(CASE WHEN w = 0 THEN 43
                           ELSE 43 - length(bin(w)) END) AS max_rank
           FROM reg GROUP BY event_type, r),
    s AS (SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_used,
                 CAST(SUM(1::BIGINT << (48 - max_rank)) AS BIGINT) AS sum_used
          FROM rk GROUP BY event_type)
    SELECT event_type, n_used,
           CAST(sum_used + (64 - n_used) * 281474976710656 AS BIGINT)
             AS sum_scaled,
           {_HLL_NUM!r} / CAST(sum_used + (64 - n_used) * 281474976710656
                               AS DOUBLE) AS est_distinct
    FROM s
    """,
)
def hll_distinct_users(spark, sf):
    """HyperLogLog distinct-count per event type (m=64 registers,
    6-bit bucket + 42-bit rank word from the md5-derived 48-bit hash)
    — completing the sketch family (KMV/CMS/Bloom) with the
    industry-default cardinality sketch. Deterministic by
    construction: register assignment and rank are exact integer/
    string ops, the register STATE itself is oracle-checked via the
    exact scaled harmonic sum Σ 2^(48−rank) (absent registers
    contribute 2^48; total ≤ 2^54, exact in int64), and the estimate
    α·m²·2^48 / sum is one shared-literal float division. No
    small-range linear-counting correction is applied — n_used is
    emitted so a consumer can; the raw estimator is the
    cross-engine-checkable part. Plan: distinct → per-register max
    (partial agg) → per-type sum; O(m) state per key, mergeable —
    the same shuffle shape as the KMV sketch."""
    ev = load_table(spark, sf, "events")
    h = ev.select(
        "event_type",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10)
        .cast("long")
        .alias("v"),
    ).distinct()
    reg = h.select(
        "event_type",
        (F.col("v") % 64).alias("r"),
        F.expr("v div 64").alias("w"),
    )
    rank = F.when(F.col("w") == 0, F.lit(43)).otherwise(
        F.lit(43) - F.length(F.expr("bin(w)"))
    )
    rk = reg.groupBy("event_type", "r").agg(F.max(rank).alias("max_rank"))
    s = rk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_used"),
        F.sum(F.expr("shiftleft(1L, cast(48 - max_rank AS INT))")).alias(
            "sum_used"
        ),
    )
    total = F.col("sum_used") + (F.lit(64) - F.col("n_used")) * F.lit(
        281474976710656
    )
    return s.select(
        "event_type",
        F.col("n_used").cast("long").alias("n_used"),
        total.cast("long").alias("sum_scaled"),
        (F.lit(_HLL_NUM) / total.cast("double")).alias("est_distinct"),
    )


@register(
    "containment_pairs_exact",
    f"""
    WITH sh AS ({_sql_shingles(12)}),
         dsh AS (SELECT DISTINCT doc_id, s FROM sh),
         sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
                   FROM dsh GROUP BY doc_id),
         inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                          CAST(COUNT(*) AS BIGINT) AS n_inter
                   FROM dsh x JOIN dsh y
                     ON y.s = x.s AND x.doc_id < y.doc_id
                   GROUP BY 1, 2)
    SELECT i.id_a, i.id_b, i.n_inter,
           sa.n AS n_a, sb.n AS n_b,
           CAST(i.n_inter AS DOUBLE) / CAST(sa.n AS DOUBLE) AS c_ab,
           CAST(i.n_inter AS DOUBLE) / CAST(sb.n AS DOUBLE) AS c_ba
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE CAST(i.n_inter AS DOUBLE) / CAST(sa.n AS DOUBLE) >= 0.8
       OR CAST(i.n_inter AS DOUBLE) / CAST(sb.n AS DOUBLE) >= 0.8
    """,
)
def containment_pairs_exact(spark, sf):
    """100%-recall asymmetric containment via prefix filtering on the
    containment bound (rarest-shingle probe prefixes vs a pruned full
    inverted index) — unlike the banding-candidate `containment_pairs`,
    the oracle here is the TRUE all-pairs answer, not a candidate
    replay: the operator must find every pair with either containment
    ≥ 0.8, including the tiny-doc-quoted-in-huge-doc shape MinHash
    banding can miss. k=12 shingles: prefix filtering's join volume is
    Σ df(prefix shingles), and the synthetic corpus has only ~2k
    distinct 5-char shingles (median df 291/5000 docs — no rare
    shingles to probe with); at k=12 the vocabulary is 131k and the
    measured volume drops 55M → 1.7M rows (67 s → seconds at sf0.1).
    Shingle width is the discriminativeness dial for repetitive
    corpora — real text at k=5 behaves like this fixture at k=12."""
    return dd.containment_pairs_exact(
        load_table(spark, sf, "documents"), k_shingle=12
    )


@register(
    "cq_downsample_roundtrip",
    f"""
    SELECT (u - u % 86400000000) * 1000 AS time, event_type,
           CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_micro,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT epoch_us(ts) AS u, event_type,
                 {_sql_micros('value')} AS v
          FROM events)
    WHERE u >= 1704844800000000
    GROUP BY 1, 2
    """,
)
def cq_downsample_roundtrip(spark, sf):
    """Continuous-query retention tiering END-TO-END under the driver
    gate (streaming/continuous.py::ExpiringContinuousQuery): five
    scheduler ticks materialize the daily rollup incrementally into
    ``win=`` directories, expiry drops the two windows wholly below
    the 2024-01-12 cutoff (metadata-only directory drops — the shard-
    group-expiry analog), and a final tick advances past the marker
    floor. The oracle is the daily rollup restricted to the SURVIVING
    windows (bucket ≥ 2024-01-10): if expiry failed to delete, or a
    later run re-materialized expired history, extra days appear and
    the hash breaks."""
    from syncflux_spark.sources.parquet import _to_ns_epoch
    from syncflux_spark.streaming.continuous import ExpiringContinuousQuery

    eng = _influxql_events(spark, sf)
    root = tempfile.mkdtemp(prefix="sf_cqrt_")
    cq = ExpiringContinuousQuery(
        eng,
        'CREATE CONTINUOUS QUERY "daily_rt" ON "db" BEGIN '
        "SELECT mean(value) AS mean_micro, count(value) AS n "
        'INTO "events_daily_rt" FROM events '
        "GROUP BY time(1d), event_type END",
        f"{root}/events_daily_rt",
    )
    for now in (
        "2024-01-05",
        "2024-01-10",
        "2024-01-15",
        "2024-01-20",
        "2024-02-05",
    ):
        cq.run(_to_ns_epoch(f"{now} 00:00:00"))
    cq.expire(_to_ns_epoch("2024-01-12 00:00:00"))
    cq.run(_to_ns_epoch("2024-02-06 00:00:00"))  # must not rebuild history
    return cq.read_target()


@register(
    "influxql_field_math",
    f"""
    SELECT epoch_us(ts) * 1000 AS time,
           {_sql_micros('value')} * 2 - {_sql_micros('value')} / 2 AS v15,
           {_sql_micros('value')} / 4 AS q
    FROM events
    WHERE ts >= TIMESTAMP '{EV_WIN[0]}' AND ts < TIMESTAMP '{EV_WIN[1]}'
    """,
)
def influxql_field_math(spark, sf):
    """InfluxQL SELECT arithmetic over raw fields (``"value" * 2 -
    "value" / 2``) — the most common InfluxQL idiom the dialect
    previously rejected. Compiles to plain codegen column expressions
    over the pushed-down scan: no UDF, no shuffle, null-propagating
    like InfluxDB."""
    return _influxql_events(spark, sf).query(
        f"SELECT value * 2 - value / 2 AS v15, value / 4 AS q "
        f"FROM events "
        f"WHERE time >= '{EV_WIN[0]}' AND time < '{EV_WIN[1]}'"
    )


@register(
    "influxql_agg_math",
    f"""
    SELECT (u - u % 21600000000) * 1000 AS time, event_type,
           (CAST(SUM(v) AS DOUBLE) / COUNT(*)) * 2 AS mean2x,
           CAST(CAST(SUM(v) AS BIGINT) + (MAX(v) - MIN(v)) AS DOUBLE)
               / COUNT(*) AS mix,
           CAST(SUM(v) AS BIGINT) - COUNT(*) * 100 AS excess
    FROM (SELECT epoch_us(ts) AS u, event_type,
                 {_sql_micros('value')} AS v
          FROM events
          WHERE ts >= TIMESTAMP '{EV_WIN[0]}' AND ts < TIMESTAMP '{EV_WIN[1]}')
    GROUP BY 1, 2
    """,
)
def influxql_agg_math(spark, sf):
    """InfluxQL arithmetic over aggregate results (``mean(v) * 2``,
    ``(sum(v) + spread(v)) / count(v)``): every aggregate call in the
    expression tree gets its own partial-agg slot in ONE hash
    aggregation (single shuffle on the bucket × tag key), and the
    arithmetic combines the finished aggregates post-shuffle — the
    same plan shape as a multi-aggregate rollup."""
    return _influxql_events(spark, sf).query(
        f"SELECT mean(value) * 2 AS mean2x, "
        f"(sum(value) + spread(value)) / count(value) AS mix, "
        f"sum(value) - count(value) * 100 AS excess "
        f"FROM events "
        f"WHERE time >= '{EV_WIN[0]}' AND time < '{EV_WIN[1]}' "
        f"GROUP BY time(6h), event_type"
    )


@register(
    "influxql_where_math",
    f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(v) AS BIGINT) AS s
    FROM (SELECT event_type, {_sql_micros('value')} AS v
          FROM events
          WHERE ts >= TIMESTAMP '{EV_WIN[0]}' AND ts < TIMESTAMP '{EV_WIN[1]}')
    WHERE v * 2 > 300000000
    GROUP BY event_type
    """,
)
def influxql_where_math(spark, sf):
    """InfluxQL arithmetic in WHERE (``value * 2 > 300000000``) — the
    alert-threshold idiom. The comparison compiles to a plain column
    predicate evaluated alongside the pushed time range; aggregates
    in WHERE are rejected at parse time."""
    return _influxql_events(spark, sf).query(
        f"SELECT count(value) AS n, sum(value) AS s FROM events "
        f"WHERE time >= '{EV_WIN[0]}' AND time < '{EV_WIN[1]}' "
        f"AND value * 2 > 300000000 "
        f"GROUP BY event_type"
    )


@register(
    "influxql_math_fns",
    f"""
    SELECT epoch_us(ts) * 1000 AS time,
           ROUND(SQRT({_sql_micros('value')})) AS r,
           ABS({_sql_micros('value')} - 150000000) AS d,
           FLOOR({_sql_micros('value')} / 3) AS f3,
           CEIL({_sql_micros('value')} / 7) AS c7
    FROM events
    WHERE ts >= TIMESTAMP '{EV_WIN[0]}' AND ts < TIMESTAMP '{EV_WIN[1]}'
      AND ABS({_sql_micros('value')} - 150000000) < 120000000
    """,
)
def influxql_math_fns(spark, sf):
    """InfluxQL scalar math functions over raw fields (``round(sqrt(
    "v"))``, ``abs(..)``, ``floor/ceil(..)``) including math inside
    WHERE — the InfluxQL 1.8 mathematical-function surface the dialect
    previously rejected. Each call compiles to the matching JVM
    codegen expression (``_math_col``, influxql.py) — no UDF — and
    only IEEE-exact functions appear here so the DuckDB oracle is
    bit-identical. Dialect beyond the reference (it only *emits*
    InfluxQL: pkg/agent/sync.go:162)."""
    return _influxql_events(spark, sf).query(
        f"SELECT round(sqrt(value)) AS r, abs(value - 150000000) AS d, "
        f"floor(value / 3) AS f3, ceil(value / 7) AS c7 "
        f"FROM events "
        f"WHERE time >= '{EV_WIN[0]}' AND time < '{EV_WIN[1]}' "
        f"AND abs(value - 150000000) < 120000000"
    )


@register(
    "influxql_math_of_agg",
    f"""
    SELECT (u - u % 21600000000) * 1000 AS time, event_type,
           SQRT(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS sm,
           FLOOR(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS fm,
           ROUND((MAX(v) - MIN(v)) / 2) AS hs
    FROM (SELECT epoch_us(ts) AS u, event_type,
                 {_sql_micros('value')} AS v
          FROM events
          WHERE ts >= TIMESTAMP '{EV_WIN[0]}' AND ts < TIMESTAMP '{EV_WIN[1]}')
    GROUP BY 1, 2
    """,
)
def influxql_math_of_agg(spark, sf):
    """InfluxQL math over aggregate results (``sqrt(mean(v))``,
    ``round(spread(v) / 2)``): the aggregate calls inside the math
    expression each get a partial-agg slot in ONE hash aggregation
    (single shuffle on bucket × tag), and the scalar math applies
    post-shuffle — same plan shape as ``influxql_agg_math``."""
    return _influxql_events(spark, sf).query(
        f"SELECT sqrt(mean(value)) AS sm, floor(mean(value)) AS fm, "
        f"round(spread(value) / 2) AS hs "
        f"FROM events "
        f"WHERE time >= '{EV_WIN[0]}' AND time < '{EV_WIN[1]}' "
        f"GROUP BY time(6h), event_type"
    )


@register(
    "influxql_holt_winters",
    f"""
    WITH RECURSIVE roll AS (
      SELECT (u - u % 86400000000) AS lb, event_type,
             CAST(SUM(v) AS DOUBLE) / COUNT(*) AS m
      FROM (SELECT epoch_us(ts) AS u, event_type,
                   {_sql_micros('value')} AS v
            FROM events
            WHERE ts >= TIMESTAMP '{EV_WIN[0]}'
              AND ts < TIMESTAMP '{EV_WIN[1]}')
      GROUP BY 1, 2
    ),
    x AS (
      SELECT event_type,
             CAST(FLOOR(m * 1000000 + 0.5) AS BIGINT) AS xm,
             row_number() OVER (PARTITION BY event_type ORDER BY lb) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n,
             max(lb) OVER (PARTITION BY event_type) AS last_lb
      FROM roll
    ),
    st AS (
      SELECT event_type, rn, n, last_lb, xm AS l, CAST(0 AS BIGINT) AS b
      FROM x WHERE rn = 1
      UNION ALL
      SELECT x.event_type, x.rn, x.n, x.last_lb,
             CAST(FLOOR((x.xm + st.l + st.b)::DOUBLE / 2.0) AS BIGINT) AS l,
             CAST(FLOOR((CAST(FLOOR((x.xm + st.l + st.b)::DOUBLE / 2.0)
                              AS BIGINT) - st.l)::DOUBLE / 4.0) AS BIGINT)
               + (st.b - CAST(FLOOR(st.b::DOUBLE / 4.0) AS BIGINT)) AS b
      FROM st JOIN x ON x.event_type = st.event_type AND x.rn = st.rn + 1
    )
    SELECT (st.last_lb + h.h * 86400000000) * 1000 AS time,
           st.event_type,
           (st.l + h.h * st.b) / 1000000.0 AS holt_winters
    FROM st CROSS JOIN (SELECT 1 AS h UNION ALL SELECT 2 UNION ALL
                        SELECT 3) h
    WHERE st.rn = st.n
    """,
)
def influxql_holt_winters(spark, sf):
    """InfluxQL ``holt_winters(mean(v), N, 0)`` through the dialect:
    N forecast buckets per series past the rollup's end, using the
    engine's deterministic double-exponential-smoothing variant
    (dyadic α=1/2 β=1/4 in fixed-point micros — InfluxDB's
    Nelder-Mead fit is non-reproducible, so the dialect documents
    fixed constants; see influxql.py::_apply_holt_winters). The
    recurrence folds over the ROLLUP per series — collect size is
    buckets-per-series, never fact rows."""
    return _influxql_events(spark, sf).query(
        f"SELECT holt_winters(mean(value), 3, 0) FROM events "
        f"WHERE time >= '{EV_WIN[0]}' AND time < '{EV_WIN[1]}' "
        f"GROUP BY time(1d), event_type"
    )


#: InfluxQL EMA(N=5): α = 2/(N+1), β = 1-α — computed once here and
#: inlined as literals into BOTH engines (repr round-trips doubles)
_EMA_ALPHA = 2.0 / 6.0
_EMA_BETA = 1.0 - _EMA_ALPHA


@register(
    "influxql_ema_daily",
    f"""
    WITH RECURSIVE roll AS (
      SELECT (u - u % 86400000000) AS lb, event_type,
             CAST(SUM(v) AS DOUBLE) / COUNT(*) AS m
      FROM (SELECT epoch_us(ts) AS u, event_type,
                   {_sql_micros('value')} AS v
            FROM events
            WHERE ts >= TIMESTAMP '{EV_WIN[0]}'
              AND ts < TIMESTAMP '{EV_WIN[1]}')
      GROUP BY 1, 2
    ),
    x AS (
      SELECT event_type, lb, m,
             row_number() OVER (PARTITION BY event_type ORDER BY lb) AS rn
      FROM roll
    ),
    st AS (
      SELECT event_type, lb, rn, m AS ema FROM x WHERE rn = 1
      UNION ALL
      SELECT x.event_type, x.lb, x.rn,
             x.m * {_EMA_ALPHA!r} + st.ema * {_EMA_BETA!r} AS ema
      FROM st JOIN x ON x.event_type = st.event_type AND x.rn = st.rn + 1
    )
    SELECT lb * 1000 AS time, event_type,
           ema AS exponential_moving_average
    FROM st
    """,
)
def influxql_ema_daily(spark, sf):
    """InfluxQL ``exponential_moving_average(mean(v), N)`` through the
    dialect: one EMA per daily bucket per series, α = 2/(N+1) with
    EMA₁ = x₁ seeding. α/β are inlined as identical literals in both
    engines and each step is a fixed two-multiply-one-add IEEE
    sequence, so the recursive-CTE oracle is bit-identical to the
    Spark fold (influxql.py::_apply_ema)."""
    return _influxql_events(spark, sf).query(
        f"SELECT exponential_moving_average(mean(value), 5) FROM events "
        f"WHERE time >= '{EV_WIN[0]}' AND time < '{EV_WIN[1]}' "
        f"GROUP BY time(1d), event_type"
    )


@register(
    "influxql_rsi_daily",
    f"""
    WITH RECURSIVE roll AS (
      SELECT (u - u % 86400000000) AS lb, event_type,
             CAST(SUM(v) AS DOUBLE) / COUNT(*) AS m
      FROM (SELECT epoch_us(ts) AS u, event_type,
                   {_sql_micros('value')} AS v
            FROM events
            WHERE ts >= TIMESTAMP '{EV_WIN[0]}'
              AND ts < TIMESTAMP '{EV_WIN[1]}')
      GROUP BY 1, 2
    ),
    x AS (
      SELECT event_type, lb, m,
             row_number() OVER (PARTITION BY event_type ORDER BY lb) AS rn
      FROM roll
    ),
    st AS (
      SELECT event_type, lb, rn, m AS prev,
             CAST(0.0 AS DOUBLE) AS ag, CAST(0.0 AS DOUBLE) AS al
      FROM x WHERE rn = 1
      UNION ALL
      SELECT x.event_type, x.lb, x.rn, x.m,
             CASE WHEN x.rn - 1 <= 3
                  THEN st.ag + GREATEST(x.m - st.prev, 0.0) / 3.0
                  ELSE (st.ag * 2.0 + GREATEST(x.m - st.prev, 0.0)) / 3.0
             END AS ag,
             CASE WHEN x.rn - 1 <= 3
                  THEN st.al + GREATEST(st.prev - x.m, 0.0) / 3.0
                  ELSE (st.al * 2.0 + GREATEST(st.prev - x.m, 0.0)) / 3.0
             END AS al
      FROM st JOIN x ON x.event_type = st.event_type AND x.rn = st.rn + 1
    )
    SELECT lb * 1000 AS time, event_type,
           CASE WHEN ag + al <> 0.0
                THEN (100.0 * ag) / (ag + al) END AS relative_strength_index
    FROM st WHERE rn >= 4
    """,
)
def influxql_rsi_daily(spark, sf):
    """InfluxQL ``relative_strength_index(mean(v), N)`` through the
    dialect: Wilder RSI per daily bucket per series — N-bucket simple
    average warm-up, then ``ag' = (ag·(N-1)+g)/N`` smoothing, emitted
    from bucket N+1 (InfluxDB's warm-up) with RSI = 100·ag/(ag+al).
    The recursive-CTE oracle replays the identical fixed-order IEEE
    sequence, so the match is bit-exact
    (influxql.py::_apply_rsi)."""
    return _influxql_events(spark, sf).query(
        f"SELECT relative_strength_index(mean(value), 3) FROM events "
        f"WHERE time >= '{EV_WIN[0]}' AND time < '{EV_WIN[1]}' "
        f"GROUP BY time(1d), event_type"
    )


@register(
    "influxql_cmo_daily",
    f"""
    WITH roll AS (
      SELECT (u - u % 86400000000) AS lb, event_type,
             CAST(SUM(v) AS DOUBLE) / COUNT(*) AS m
      FROM (SELECT epoch_us(ts) AS u, event_type,
                   {_sql_micros('value')} AS v
            FROM events
            WHERE ts >= TIMESTAMP '{EV_WIN[0]}'
              AND ts < TIMESTAMP '{EV_WIN[1]}')
      GROUP BY 1, 2
    ),
    arr AS (
      SELECT event_type,
             list(m ORDER BY lb) AS xs,
             list(lb ORDER BY lb) AS lbs
      FROM roll GROUP BY event_type
    ),
    gl AS (
      SELECT event_type, lbs,
             list_transform(list_transform(range(1, len(xs)),
                 i -> xs[i+1] - xs[i]), x -> greatest(x, 0.0)) AS g,
             list_transform(list_transform(range(1, len(xs)),
                 i -> xs[i+1] - xs[i]), x -> greatest(-x, 0.0)) AS l
      FROM arr
    ),
    o AS (
      SELECT event_type,
             unnest(list_transform(range(4, len(lbs) + 1), j -> {{
               't': lbs[j],
               'su': list_reduce(list_slice(g, j - 3, j - 1),
                                 (a, b) -> a + b),
               'sd': list_reduce(list_slice(l, j - 3, j - 1),
                                 (a, b) -> a + b)
             }})) AS r
      FROM gl
    )
    SELECT r.t * 1000 AS time, event_type,
           CASE WHEN r.su + r.sd <> 0.0
                THEN (100.0 * (r.su - r.sd)) / (r.su + r.sd)
           END AS chande_momentum_oscillator
    FROM o
    """,
)
def influxql_cmo_daily(spark, sf):
    """InfluxQL ``chande_momentum_oscillator(mean(v), N)`` through
    the dialect: 100·(ΣU−ΣD)/(ΣU+ΣD) over the last N bucket moves,
    from bucket N+1. A sliding-window sum, not a recurrence — both
    engines left-fold each N-slice of the materialized gains/losses
    arrays with a scalar accumulator, fixing the addition order a
    window-function SUM would reassociate; bit-exact match
    (influxql.py::_apply_cmo)."""
    return _influxql_events(spark, sf).query(
        f"SELECT chande_momentum_oscillator(mean(value), 3) FROM events "
        f"WHERE time >= '{EV_WIN[0]}' AND time < '{EV_WIN[1]}' "
        f"GROUP BY time(1d), event_type"
    )


#: EMA-cascade CTE shared by the DEMA and TRIX oracles: e1→e2→e3
#: advanced in one recursive step with the same literal α/β and the
#: same op order as influxql.py::_apply_ema_cascade (aliases cannot
#: be referenced within one recursive SELECT, so e1's expression is
#: repeated inside e2's, and e2's inside e3's)
_E1 = f"(x.m * {_EMA_ALPHA!r} + st.e1 * {_EMA_BETA!r})"
_E2 = f"({_E1} * {_EMA_ALPHA!r} + st.e2 * {_EMA_BETA!r})"
_E3 = f"({_E2} * {_EMA_ALPHA!r} + st.e3 * {_EMA_BETA!r})"
_EMA_CASCADE_SQL = f"""
    WITH RECURSIVE roll AS (
      SELECT (u - u % 86400000000) AS lb, event_type,
             CAST(SUM(v) AS DOUBLE) / COUNT(*) AS m
      FROM (SELECT epoch_us(ts) AS u, event_type,
                   {_sql_micros('value')} AS v
            FROM events
            WHERE ts >= TIMESTAMP '{EV_WIN[0]}'
              AND ts < TIMESTAMP '{EV_WIN[1]}')
      GROUP BY 1, 2
    ),
    x AS (
      SELECT event_type, lb, m,
             row_number() OVER (PARTITION BY event_type ORDER BY lb) AS rn
      FROM roll
    ),
    st AS (
      SELECT event_type, lb, rn, m AS e1, m AS e2, m AS e3
      FROM x WHERE rn = 1
      UNION ALL
      SELECT x.event_type, x.lb, x.rn, {_E1}, {_E2}, {_E3}
      FROM st JOIN x ON x.event_type = st.event_type AND x.rn = st.rn + 1
    )
"""


@register(
    "influxql_dema_daily",
    _EMA_CASCADE_SQL
    + """
    SELECT lb * 1000 AS time, event_type,
           2.0 * e1 - e2 AS double_exponential_moving_average
    FROM st
    """,
)
def influxql_dema_daily(spark, sf):
    """InfluxQL ``double_exponential_moving_average(mean(v), N)``:
    DEMA = 2·e1 − e2 over the per-series EMA cascade, one value per
    bucket. Cascade levels advance together in one fold step; same
    bit-determinism discipline as the EMA transform
    (influxql.py::_apply_ema_cascade)."""
    return _influxql_events(spark, sf).query(
        f"SELECT double_exponential_moving_average(mean(value), 5) "
        f"FROM events "
        f"WHERE time >= '{EV_WIN[0]}' AND time < '{EV_WIN[1]}' "
        f"GROUP BY time(1d), event_type"
    )


@register(
    "influxql_trix_daily",
    _EMA_CASCADE_SQL
    + """
    SELECT a.lb * 1000 AS time, a.event_type,
           CASE WHEN b.e3 <> 0.0
                THEN (100.0 * (a.e3 - b.e3)) / b.e3
           END AS triple_exponential_derivative
    FROM st a JOIN st b
      ON b.event_type = a.event_type AND b.rn = a.rn - 1
    """,
)
def influxql_trix_daily(spark, sf):
    """InfluxQL ``triple_exponential_derivative(mean(v), N)`` (TRIX):
    the percent change of the cascade's third EMA level,
    100·(e3ⱼ−e3ⱼ₋₁)/e3ⱼ₋₁, emitted from bucket 2. The oracle walks
    the same cascade CTE and self-joins at rn−1."""
    return _influxql_events(spark, sf).query(
        f"SELECT triple_exponential_derivative(mean(value), 5) "
        f"FROM events "
        f"WHERE time >= '{EV_WIN[0]}' AND time < '{EV_WIN[1]}' "
        f"GROUP BY time(1d), event_type"
    )


@register(
    "influxql_tema_daily",
    _EMA_CASCADE_SQL
    + """
    SELECT lb * 1000 AS time, event_type,
           (3.0 * e1 - 3.0 * e2) + e3
             AS triple_exponential_moving_average
    FROM st
    """,
)
def influxql_tema_daily(spark, sf):
    """InfluxQL ``triple_exponential_moving_average(mean(v), N)``:
    TEMA = 3·e1 − 3·e2 + e3 over the same one-fold EMA cascade as
    DEMA — lag-compensated smoothing, one value per bucket, bit-exact
    against the cascade CTE."""
    return _influxql_events(spark, sf).query(
        f"SELECT triple_exponential_moving_average(mean(value), 5) "
        f"FROM events "
        f"WHERE time >= '{EV_WIN[0]}' AND time < '{EV_WIN[1]}' "
        f"GROUP BY time(1d), event_type"
    )


#: Kaufman constants (InfluxDB fixed fast=2, slow=30 EMA periods)
_KAMA_FAST = 2.0 / 3.0
_KAMA_SLOW = 2.0 / 31.0
_KAMA_SPREAD = _KAMA_FAST - _KAMA_SLOW

_KAUFMAN_ER_SQL = f"""
    roll AS (
      SELECT (u - u % 86400000000) AS lb, event_type,
             CAST(SUM(v) AS DOUBLE) / COUNT(*) AS m
      FROM (SELECT epoch_us(ts) AS u, event_type,
                   {_sql_micros('value')} AS v
            FROM events
            WHERE ts >= TIMESTAMP '{EV_WIN[0]}'
              AND ts < TIMESTAMP '{EV_WIN[1]}')
      GROUP BY 1, 2
    ),
    arr AS (
      SELECT event_type,
             list(m ORDER BY lb) AS xs,
             list(lb ORDER BY lb) AS lbs
      FROM roll GROUP BY event_type
    ),
    ad AS (
      SELECT event_type, xs, lbs,
             list_transform(range(1, len(xs)),
                            i -> abs(xs[i+1] - xs[i])) AS moves
      FROM arr
    ),
    er AS (
      SELECT event_type,
             unnest(list_transform(range(4, len(xs) + 1), j -> {{
               'rn': j,
               'lb': lbs[j],
               'x': xs[j],
               'num': abs(xs[j] - xs[j-3]),
               'den': list_reduce(list_slice(moves, j - 3, j - 1),
                                  (a, b) -> a + b)
             }})) AS r
      FROM ad
    )
"""


@register(
    "influxql_ker_daily",
    "WITH "
    + _KAUFMAN_ER_SQL
    + """
    SELECT r.lb * 1000 AS time, event_type,
           CASE WHEN r.den <> 0.0 THEN r.num / r.den
           END AS kaufmans_efficiency_ratio
    FROM er
    """,
)
def influxql_ker_daily(spark, sf):
    """InfluxQL ``kaufmans_efficiency_ratio(mean(v), N)``: net move
    over the window divided by the fixed-order sum of absolute
    bucket moves, from bucket N+1; null on a flat window
    (influxql.py::_apply_kaufman)."""
    return _influxql_events(spark, sf).query(
        f"SELECT kaufmans_efficiency_ratio(mean(value), 3) FROM events "
        f"WHERE time >= '{EV_WIN[0]}' AND time < '{EV_WIN[1]}' "
        f"GROUP BY time(1d), event_type"
    )


@register(
    "influxql_kama_daily",
    "WITH RECURSIVE "
    + _KAUFMAN_ER_SQL
    + f"""
    , st AS (
      SELECT event_type, r.rn AS rn, r.lb AS lb, r.x AS kama
      FROM er WHERE r.rn = 4
      UNION ALL
      SELECT e.event_type, e.r.rn, e.r.lb,
             st.kama
             + ((CASE WHEN e.r.den <> 0.0 THEN e.r.num / e.r.den
                      ELSE 0.0 END * {_KAMA_SPREAD!r} + {_KAMA_SLOW!r})
                * (CASE WHEN e.r.den <> 0.0 THEN e.r.num / e.r.den
                        ELSE 0.0 END * {_KAMA_SPREAD!r} + {_KAMA_SLOW!r}))
               * (e.r.x - st.kama) AS kama
      FROM st JOIN er e
        ON e.event_type = st.event_type AND e.r.rn = st.rn + 1
    )
    SELECT lb * 1000 AS time, event_type,
           kama AS kaufmans_adaptive_moving_average
    FROM st
    """,
)
def influxql_kama_daily(spark, sf):
    """InfluxQL ``kaufmans_adaptive_moving_average(mean(v), N)``:
    seeded at bucket N+1's value, then
    kama' = kama + sc²·(x − kama) with sc = er₀·(α_fast−α_slow) +
    α_slow (flat windows treated as er₀=0, keeping the recurrence
    defined). Constants are shared literals; the recursive-CTE
    oracle replays the identical op sequence — bit-exact
    (influxql.py::_apply_kaufman)."""
    return _influxql_events(spark, sf).query(
        f"SELECT kaufmans_adaptive_moving_average(mean(value), 3) "
        f"FROM events "
        f"WHERE time >= '{EV_WIN[0]}' AND time < '{EV_WIN[1]}' "
        f"GROUP BY time(1d), event_type"
    )


@register(
    "influxql_holt_winters_seasonal",
    f"""
    WITH RECURSIVE roll AS (
      SELECT (u - u % 21600000000) AS lb, event_type,
             CAST(SUM(v) AS DOUBLE) / COUNT(*) AS m
      FROM (SELECT epoch_us(ts) AS u, event_type,
                   {_sql_micros('value')} AS v
            FROM events
            WHERE ts >= TIMESTAMP '{EV_WIN[0]}'
              AND ts < TIMESTAMP '{EV_WIN[1]}')
      GROUP BY 1, 2
    ),
    x AS (
      SELECT event_type, lb,
             CAST(FLOOR(m * 1000000 + 0.5) AS BIGINT) AS xm,
             row_number() OVER (PARTITION BY event_type ORDER BY lb) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n,
             max(lb) OVER (PARTITION BY event_type) AS last_lb
      FROM roll
    ),
    st AS (
      SELECT event_type, rn, n, last_lb, xm AS l, CAST(0 AS BIGINT) AS b,
             list_transform(range(1, 5), i -> CAST(0 AS BIGINT)) AS c
      FROM x WHERE rn = 1
      UNION ALL
      SELECT q.event_type, q.rn, q.n, q.last_lb, q.l2,
             CAST(FLOOR((q.l2 - q.l1)::DOUBLE / 4.0) AS BIGINT)
               + (q.b1 - CAST(FLOOR(q.b1::DOUBLE / 4.0) AS BIGINT)) AS b,
             list_transform(range(1, 5), i -> CASE WHEN i - 1 = q.slot
                 THEN CAST(FLOOR((q.xm - q.l2)::DOUBLE / 2.0) AS BIGINT)
                      + (q.cs - CAST(FLOOR(q.cs::DOUBLE / 2.0) AS BIGINT))
                 ELSE q.c[i] END) AS c
      FROM (
        SELECT x.event_type, x.rn, x.n, x.last_lb, x.xm,
               st.l AS l1, st.b AS b1, st.c AS c,
               (x.rn - 1) % 4 AS slot,
               st.c[(x.rn - 1) % 4 + 1] AS cs,
               CAST(FLOOR((x.xm - st.c[(x.rn - 1) % 4 + 1]
                           + st.l + st.b)::DOUBLE / 2.0) AS BIGINT) AS l2
        FROM st JOIN x
          ON x.event_type = st.event_type AND x.rn = st.rn + 1
      ) q
    )
    SELECT (st.last_lb + h.h * 21600000000) * 1000 AS time, st.event_type,
           (st.l + h.h * st.b + st.c[(st.n + h.h - 1) % 4 + 1])
             / 1000000.0 AS holt_winters
    FROM st CROSS JOIN (SELECT 1 AS h UNION ALL SELECT 2 UNION ALL
                        SELECT 3 UNION ALL SELECT 4) h
    WHERE st.rn = st.n
    """,
)
def influxql_holt_winters_seasonal(spark, sf):
    """Seasonal InfluxQL ``holt_winters(mean(v), N, S)``: additive
    triple exponential smoothing with dyadic α=1/2 β=1/4 γ=1/2 in
    fixed-point micros — the fold state carries an S-slot season
    array (seeded at zero), each bucket deseasonalizes against slot
    (t−1) mod S and re-estimates it, forecasts add the slot value
    back. The recursive-CTE oracle carries the season array as a
    LIST column and replays the identical integer sequence
    (influxql.py::_apply_holt_winters_seasonal). 6-hour buckets with
    S=4 model a daily cycle."""
    return _influxql_events(spark, sf).query(
        f"SELECT holt_winters(mean(value), 4, 4) FROM events "
        f"WHERE time >= '{EV_WIN[0]}' AND time < '{EV_WIN[1]}' "
        f"GROUP BY time(6h), event_type"
    )


@register(
    "influxql_tz_daily",
    f"""
    SELECT (lb + 18000000000) * 1000 AS time, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(v) AS BIGINT) AS s
    FROM (SELECT (u - 18000000000) - (u - 18000000000) % 86400000000 AS lb,
                 event_type, v
          FROM (SELECT epoch_us(ts) AS u, event_type,
                       {_sql_micros('value')} AS v
                FROM events
                WHERE ts >= TIMESTAMP '{EV_WIN[0]}'
                  AND ts < TIMESTAMP '{EV_WIN[1]}'))
    GROUP BY 1, 2
    """,
)
def influxql_tz_daily(spark, sf):
    """InfluxQL ``tz('<zone>')``: daily buckets aligned to LOCAL
    midnight (Etc/GMT+5 = UTC-5, fixed offset) while `time` stays a
    UTC ns epoch — the Grafana dashboard idiom for calendar-day
    rollups. The per-row zone offset comes from from_utc_timestamp
    (DST-correct in general; constant -5 h here), and the bucket
    expression stays a codegen integer shift — same single-exchange
    rollup plan as the UTC path. Oracle mirrors the fixed offset as
    explicit -18000 s arithmetic."""
    return _influxql_events(spark, sf).query(
        f"SELECT count(value) AS n, sum(value) AS s FROM events "
        f"WHERE time >= '{EV_WIN[0]}' AND time < '{EV_WIN[1]}' "
        f"GROUP BY time(1d), event_type tz('Etc/GMT+5')"
    )


@register(
    "influxql_select_into_roundtrip",
    f"""
    WITH d AS (
      SELECT (u - u % 86400000000) AS b, event_type,
             CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_micro,
             COUNT(*) AS n
      FROM (SELECT epoch_us(ts) AS u, event_type,
                   {_sql_micros('value')} AS v
            FROM events)
      GROUP BY 1, 2)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS days,
           MAX(mean_micro) AS max_daily_mean,
           CAST(SUM(n) AS BIGINT) AS total
    FROM d GROUP BY event_type
    """,
)
def influxql_select_into_roundtrip(spark, sf):
    """Standalone ``SELECT ... INTO`` END-TO-END: the one-shot
    back-reference downsample (daily mean/count per event_type)
    writes measurement ``events_daily_into`` as a parquet table, the
    engine registers it, and a SECOND InfluxQL query aggregates the
    written table. The oracle recomputes the same two-level rollup
    directly — if the INTO write dropped/duplicated buckets or the
    re-registration mangled tags, the hash breaks. This is the
    reference's copy action (pkg/agent/sync.go:140-204) as one
    statement: SELECT → write → queryable measurement."""
    import tempfile as _tf

    eng = _influxql_events(spark, sf)
    eng.cq_root = _tf.mkdtemp(prefix="sf_into_")
    eng.query(
        "SELECT mean(value) AS mean_micro, count(value) AS n "
        'INTO "events_daily_into" FROM events '
        "GROUP BY time(1d), event_type"
    )
    return eng.query(
        "SELECT count(mean_micro) AS days, max(mean_micro) AS max_daily_mean, "
        "sum(n) AS total FROM events_daily_into GROUP BY event_type"
    )


_SQL_DUP_SPANS = """
    WITH pos AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             md5(substr(text, CAST(pos AS INTEGER), 40)) AS h
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - 39)) AS pos
            FROM documents WHERE length(text) >= 40)),
    dup AS (SELECT h FROM pos GROUP BY h
            HAVING COUNT(DISTINCT doc_id) >= 2),
    hits AS (SELECT p.doc_id, p.pos FROM pos p JOIN dup USING (h)),
    flagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos > COALESCE(MAX(pos + 40) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1)
                  THEN 1 ELSE 0 END AS new_island
      FROM hits),
    islands AS (
      SELECT doc_id, pos,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged),
    spans AS (
      SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 40 AS span_end
      FROM islands GROUP BY doc_id, island)
"""


@register(
    "duplicate_substring_spans",
    _SQL_DUP_SPANS
    + """
    SELECT doc_id, span_start, span_end,
           span_end - span_start AS span_chars
    FROM spans
    """,
)
def duplicate_substring_spans(spark, sf):
    """Exact repeated-substring spans (the substring-dedup shape of
    Lee et al. 2022, arXiv:2107.06499): every maximal character range
    covered by a 40-char window occurring in ≥2 documents. The
    paper's suffix array becomes the Spark-native linear pipeline —
    explode one row per char position, md5 window key, doc-frequency
    filter, gaps-and-islands span merge. O(total_chars) rows, two
    hash shuffles + one per-doc sort, zero pairwise work — at 100 TB
    the explode dominates and parallelizes embarrassingly."""
    return dd.duplicate_spans(
        load_table(spark, sf, "documents"), span_len=40
    )


@register(
    "substring_dup_fraction",
    _SQL_DUP_SPANS
    + """
    , per_doc AS (
      SELECT doc_id, CAST(SUM(span_end - span_start) AS BIGINT) AS dup_chars,
             CAST(COUNT(*) AS BIGINT) AS n_spans
      FROM spans GROUP BY doc_id)
    SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
           COALESCE(p.dup_chars, 0) AS dup_chars,
           COALESCE(p.n_spans, 0) AS n_spans,
           CAST(COALESCE(p.dup_chars, 0) AS DOUBLE)
             / CAST(length(d.text) AS DOUBLE) AS dup_fraction
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def substring_dup_fraction(spark, sf):
    """Per-document duplicated-character fraction from the maximal
    duplicated spans — the trim/drop dial substring dedup feeds.
    Documents with no duplicated span stay in the output at fraction
    0 (left join), so the result is a full corpus quality column, not
    a hit list."""
    return dd.duplicate_char_fraction(
        load_table(spark, sf, "documents"), span_len=40
    )


@register(
    "sorted_neighborhood_pairs",
    r"""
    WITH keyed AS (
      SELECT doc_id,
             substr(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                    1, 32) AS key,
             list_distinct(string_split_regex(trim(text), '\s+')) AS w
      FROM documents),
    ranked AS (
      SELECT doc_id, key, w,
             ROW_NUMBER() OVER (ORDER BY key, doc_id) AS r
      FROM keyed),
    cand AS (
      SELECT a.doc_id AS raw_a, b.doc_id AS raw_b, a.w AS wa, b.w AS wb
      FROM ranked a JOIN ranked b
        ON b.r BETWEEN a.r + 1 AND a.r + 4),
    scored AS (
      SELECT LEAST(raw_a, raw_b) AS id_a, GREATEST(raw_a, raw_b) AS id_b,
             CAST(len(list_intersect(wa, wb)) AS DOUBLE)
               / (len(wa) + len(wb) - len(list_intersect(wa, wb))) AS jaccard
      FROM cand)
    SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5
    """,
)
def sorted_neighborhood_pairs(spark, sf):
    """Sorted-neighborhood dedup (Hernández-Stolfo '95): sort by a
    normalized 32-char prefix key, pair each doc with its 4 sort
    successors, verify by exact word Jaccard ≥ 0.5. The complementary
    candidate family to MinHash banding — O(n·w) candidates by
    construction with no bucket-skew failure mode. The global sort
    rank is computed scale-safely (range exchange + per-partition
    rank + driver-side offsets of B partition counts), never as a
    one-partition ROW_NUMBER."""
    return dd.sorted_neighborhood_pairs(
        load_table(spark, sf, "documents"),
        window=4,
        key_chars=32,
        threshold=0.5,
    )


@register(
    "pmi_top_bigrams",
    f"""
    WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
    uni AS (SELECT u AS word, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT unnest(ws) AS u FROM w) GROUP BY 1),
    bgx AS (SELECT array_to_string(ws[i:i+1], ' ') AS bg
            FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
                  FROM w)),
    bc AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c12
           FROM bgx GROUP BY bg HAVING COUNT(*) >= 10),
    tot AS (SELECT CAST(SUM(len(ws)) AS BIGINT) AS n_tokens,
                   CAST(SUM(greatest(len(ws) - 1, 0)) AS BIGINT) AS n_bigrams
            FROM w)
    SELECT bc.bg AS bigram, bc.c12,
           CAST(bc.c12 AS DOUBLE) * t.n_tokens * t.n_tokens
             / (CAST(t.n_bigrams AS DOUBLE) * u1.c * u2.c) AS pmi_ratio
    FROM bc
    CROSS JOIN tot t
    JOIN uni u1 ON u1.word = split_part(bc.bg, ' ', 1)
    JOIN uni u2 ON u2.word = split_part(bc.bg, ' ', 2)
    ORDER BY pmi_ratio DESC, bigram
    LIMIT 50
    """,
)
def pmi_top_bigrams(spark, sf):
    """Top-50 collocations by pointwise mutual information — the
    association signal behind phrase vocabularies and tokenizer merge
    candidates. Emitted as the PMI ratio p(w1,w2)/(p(w1)p(w2)) rather
    than its log: monotone-identical ranking, but pure arithmetic on
    exact counts (no libm transcendental to drift between engines).
    Two partial-agg shuffles + a two-key unigram join + broadcast
    scalar totals + a top-k heap (operators/textops.py::pmi_bigrams)."""
    from syncflux_spark.operators.textops import pmi_bigrams as _pmi

    return _pmi(load_table(spark, sf, "documents"), k=50, min_count=10)


@register(
    "doc_cosine_pairs",
    r"""
    WITH toks AS (
      SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\s+')) AS t
            FROM documents)
      GROUP BY doc_id, t),
    kept AS (
      SELECT toks.* FROM toks
      JOIN (SELECT t FROM toks GROUP BY t
            HAVING COUNT(*) <= (SELECT CAST(COUNT(*) * 0.10 AS BIGINT)
                                FROM documents)) g USING (t)),
    norms AS (SELECT doc_id, SUM(tf * tf) AS n2 FROM kept GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.tf * b.tf) AS dot
      FROM kept a JOIN kept b ON a.t = b.t AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b,
           CAST(dot AS DOUBLE) / (sqrt(na.n2) * sqrt(nb.n2)) AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = id_a
    JOIN norms nb ON nb.doc_id = id_b
    WHERE CAST(dot AS DOUBLE) / (sqrt(na.n2) * sqrt(nb.n2)) >= 0.5
    """,
)
def doc_cosine_pairs(spark, sf):
    """Bag-of-words cosine pairs ≥ 0.5 over the df-pruned term space
    (terms in >10% of docs dropped before pairing) — the all-pairs
    similarity shape of Bayardo et al. '07 via an inverted-index
    self-join. The df gate bounds every posting list, structurally
    excluding the hot-term join blowup; dot products and norms are
    exact integer sums, so only correctly-rounded sqrt touches
    floating point (operators/dedup.py::doc_cosine_pairs)."""
    return dd.doc_cosine_pairs(
        load_table(spark, sf, "documents"),
        threshold=0.5,
        max_df_frac=0.10,
    )


@register(
    "bpe_merge_candidates",
    r"""
    WITH wf AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
            FROM documents)
      GROUP BY w HAVING length(w) >= 2),
    pairs AS (
      SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, freq
      FROM (SELECT w, freq,
                   unnest(generate_series(1, length(w) - 1)) AS i
            FROM wf))
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 50
    """,
)
def bpe_merge_candidates(spark, sf):
    """The counting step of one character-level BPE iteration
    (Sennrich et al. '16): adjacent-symbol pair counts weighted by
    corpus word frequency, top-50 — the first merge a tokenizer
    trainer would pick. Words collapse to (word, freq) BEFORE the
    pair explode, so the Zipf head explodes once per distinct word,
    not once per token (operators/textops.py::bpe_merge_candidates)."""
    from syncflux_spark.operators.textops import bpe_merge_candidates as _bpe

    return _bpe(load_table(spark, sf, "documents"), k=50)


@register(
    "corpus_snapshot_diff",
    """
    WITH d AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
                      substr(md5(CAST(doc_id AS VARCHAR) || 'snap'), 1, 2) AS b
               FROM documents),
    old AS (SELECT doc_id, md5(text) AS old_digest FROM d),
    new_snap AS (
      SELECT doc_id,
             CASE WHEN b >= '1a' AND b < '27'
                  THEN md5(text || ' [rev2]') ELSE md5(text) END AS new_digest
      FROM d WHERE b >= '1a'
      UNION ALL
      SELECT doc_id || '_new' AS doc_id,
             md5('added doc ' || doc_id) AS new_digest
      FROM d WHERE b >= 'f8')
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.old_digest IS NULL THEN 'added'
                WHEN n.new_digest IS NULL THEN 'removed'
                WHEN o.old_digest = n.new_digest THEN 'unchanged'
                ELSE 'changed' END AS status,
           o.old_digest, n.new_digest
    FROM old o FULL OUTER JOIN new_snap n ON o.doc_id = n.doc_id
    """,
)
def corpus_snapshot_diff(spark, sf):
    """Snapshot diff between two corpus versions — the data-versioning
    primitive that lets downstream stages (dedup indexes, tokenized
    shards) reprocess only the delta. The 'new' snapshot is derived
    deterministically from the fixture (hash-dropped 10% = removed,
    hash-picked 5% re-texted = changed, 3% cloned under new ids =
    added) so the oracle replays it exactly; the operator itself is
    one full outer join on the doc key with map-side md5 digests —
    the minimum shuffle an unordered diff admits
    (operators/diff.py::snapshot_diff)."""
    from syncflux_spark.operators.diff import snapshot_diff

    docs = load_table(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    b = F.substring(F.md5(F.concat(F.col("doc_id"), F.lit("snap"))), 1, 2)
    new_snap = docs.where(b >= "1a").select(
        "doc_id",
        F.when(
            b < "27", F.concat(F.col("text"), F.lit(" [rev2]"))
        ).otherwise(F.col("text")).alias("text"),
    ).unionByName(
        docs.where(b >= "f8").select(
            F.concat(F.col("doc_id"), F.lit("_new")).alias("doc_id"),
            F.concat(F.lit("added doc "), F.col("doc_id")).alias("text"),
        )
    )
    return snapshot_diff(docs, new_snap)


@register(
    "influxql_series_cardinality",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS count
    FROM (SELECT DISTINCT event_type, user_id FROM events)
    """,
)
def influxql_series_cardinality(spark, sf):
    """``SHOW SERIES CARDINALITY`` — the index-health statement every
    InfluxDB operator runs before a dashboard melts down. Computed
    EXACTLY as one distributed distinct-aggregation over the tag
    columns (influx's non-exact variant estimates with HLL; an engine
    that can afford one shuffle returns the truth)."""
    return _influxql_events(spark, sf).query(
        "SHOW SERIES CARDINALITY FROM events"
    )


@register(
    "emb_diverse_sample",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < 16),
    assign AS (
      SELECT vec_id, cid, cs FROM (
        SELECT a.vec_id, c.cid, {_sql_cos('a.v', 'c.cv')} AS cs,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_sql_cos('a.v', 'c.cv')} DESC,
                                           c.cid) AS rn
        FROM v a CROSS JOIN cent c)
      WHERE rn = 1)
    SELECT cid, vec_id, cs AS cos_to_centroid, CAST(rk AS INTEGER) AS rank
    FROM (SELECT cid, vec_id, cs,
                 row_number() OVER (PARTITION BY cid
                                    ORDER BY cs DESC, vec_id) AS rk
          FROM assign)
    WHERE rk <= 3
    """,
)
def emb_diverse_sample(spark, sf):
    """Diversity sampling by cluster representatives: every embedding
    assigned to its nearest of 16 centroids (broadcast map-only
    pass), top-3 per cell kept — the scalable stand-in for MMR-style
    diverse selection (coverage from the cell partition, not an O(n²)
    pairwise scan; the greedy MMR loop is inherently sequential and
    has no exact distributed form). Seed centroids here for oracle
    replay; kmeans_centroids slots in for production
    (operators/similarity.py::cell_representatives)."""
    from syncflux_spark.operators.similarity import cell_representatives

    return cell_representatives(
        load_table(spark, sf, "embeddings"), n_centroids=16, k_per_cell=3
    )


@register(
    "influxql_integral_daily",
    f"""
    WITH s AS (SELECT event_type, CAST(epoch_us(ts) AS BIGINT) * 1000 AS ns,
                      {_sql_micros('value')} AS v
               FROM events
               WHERE ts >= TIMESTAMP '{EV_WIN[0]}'
                 AND ts < TIMESTAMP '{EV_WIN[1]}'),
    b AS (SELECT ns - ns % 86400000000000 AS bk, event_type, ns, v FROM s),
    seg AS (SELECT bk, event_type,
                   CAST(v + LAG(v) OVER w AS HUGEINT)
                     * CAST(ns - LAG(ns) OVER w AS HUGEINT) AS sg
            FROM b
            WINDOW w AS (PARTITION BY bk, event_type ORDER BY ns))
    SELECT bk AS time, event_type,
           CAST(SUM(sg) AS DOUBLE) / 2000000000.0 AS area
    FROM seg WHERE sg IS NOT NULL
    GROUP BY bk, event_type
    """,
)
def influxql_integral_daily(spark, sf):
    """InfluxQL ``integral(value, 1s)`` over daily buckets — the
    energy/consumption rollup (kWh from kW). Compiles to one
    per-(bucket, series) window lag + one partial-agg shuffle;
    integer fields ride exact decimal(38,0) segment products, so the
    sum is order-free and immune to the int64 overflow that
    value·Δns can hit at coarse groupings (float fields keep
    InfluxDB's float-sum semantics)."""
    return _influxql_events(spark, sf).query(
        f"SELECT integral(value, 1s) AS area FROM events "
        f"WHERE time >= '{EV_WIN[0]}' AND time < '{EV_WIN[1]}' "
        f"GROUP BY time(1d), event_type"
    )


@register(
    "influxql_sample_series",
    f"""
    WITH s AS (SELECT event_type, CAST(epoch_us(ts) AS BIGINT) * 1000 AS t,
                      {_sql_micros('value')} AS v
               FROM events
               WHERE ts >= TIMESTAMP '{EV_WIN[0]}'
                 AND ts < TIMESTAMP '{EV_WIN[1]}')
    SELECT event_type, t AS time, v AS sample
    FROM (SELECT event_type, t, v,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY md5(CAST(t AS VARCHAR)), t) AS rn
          FROM s)
    WHERE rn <= 5
    """,
)
def influxql_sample_series(spark, sf):
    """InfluxQL ``sample(value, N)``: N points per series with their
    original timestamps. InfluxDB reservoir-samples
    (nondeterministically); this engine draws uniformly by ranking on
    md5 of the point time, so re-runs, retries, and the oracle replay
    all see the same sample — the determinism-first reading of the
    same contract."""
    return _influxql_events(spark, sf).query(
        f"SELECT sample(value, 5) FROM events "
        f"WHERE time >= '{EV_WIN[0]}' AND time < '{EV_WIN[1]}' "
        f"GROUP BY event_type"
    )


@register(
    "emb_eval_leakage",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    ev AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 20),
    tr AS (SELECT vec_id AS neighbor_id, v AS cv FROM v WHERE vec_id >= 20)
    SELECT query_id, neighbor_id, {_sql_cos('qv', 'cv')} AS cos_sim
    FROM ev CROSS JOIN tr
    WHERE {_sql_cos('qv', 'cv')} >= 0.40
    """,
)
def emb_eval_leakage(spark, sf):
    """Embedding-level decontamination: training vectors within cosine
    0.40 of ANY held-out eval vector (the synthetic fixture's top-
    percentile similarity band — real corpora tune this to their
    paraphrase operating point) — the semantic sibling of the
    lexical `benchmark_contamination` (paraphrased eval questions
    share no 8-gram but sit next to the eval set in embedding space).
    The eval side broadcasts (it is small by construction), so the
    scan is one map-side pass over the training corpus — at 100 TB
    the same shape as every broadcast-dim TPC-H join; swap in the
    sign-LSH bucketed variant when the eval set itself grows past
    broadcast size."""
    from syncflux_spark.operators.similarity import threshold_pairs

    emb = load_table(spark, sf, "embeddings")
    ev = emb.where(F.col("vec_id") < 20)
    tr = emb.where(F.col("vec_id") >= 20)
    return threshold_pairs(tr, ev, threshold=0.40)


@register(
    "global_value_quantiles",
    f"""
    WITH v AS (SELECT {_sql_micros('value')} AS vm, event_id FROM events
               WHERE value IS NOT NULL),
    r AS (SELECT vm, ROW_NUMBER() OVER (ORDER BY vm, event_id) AS rk,
                 COUNT(*) OVER () AS n
          FROM v)
    SELECT CAST(q AS DOUBLE) AS q, CAST(vm AS BIGINT) AS value_micro FROM (
      SELECT 0.5 AS q, vm, rk, n FROM r
      UNION ALL SELECT 0.9, vm, rk, n FROM r
      UNION ALL SELECT 0.99, vm, rk, n FROM r)
    WHERE rk = GREATEST(1, CAST(CEIL(n * q) AS BIGINT))
    """,
)
def global_value_quantiles(spark, sf):
    """EXACT corpus-wide nearest-rank quantiles (p50/p90/p99) WITHOUT
    a one-partition sort: ranks come from utils.global_rank (range
    exchange + per-partition row_number + B driver-side count
    offsets), then the quantile rows are picked by rank arithmetic —
    the distributed form of ORDER BY ... OFFSET. At 100 TB this is
    the difference between an exact percentile and an all-to-one
    stage that cannot finish; approximate sketches (ts_percentiles'
    per-series array form, CMS, KMV) trade exactness for one pass,
    this trades one range exchange for exactness."""
    from syncflux_spark.utils import global_rank

    v = (
        load_table(spark, sf, "events")
        .where(F.col("value").isNotNull())
        .select(micros_amt("value").alias("vm"), "event_id")
    )
    ranked, n = global_rank(
        v, ["vm", "event_id"], rank_col="rk", return_total=True
    )
    import math

    targets = [(q, max(1, math.ceil(n * q))) for q in (0.5, 0.9, 0.99)]
    cond = None
    for _, rk in targets:
        c = F.col("rk") == rk
        cond = c if cond is None else (cond | c)
    hits = ranked.where(cond).select("rk", "vm")
    qmap = F.create_map(
        *[F.lit(x) for q, rk in targets for x in (rk, q)]
    )
    return hits.select(
        qmap[F.col("rk")].alias("q"),
        F.col("vm").cast("long").alias("value_micro"),
    )


@register(
    "key_skew_report",
    """
    WITH counts AS (
      SELECT CAST(user_id AS VARCHAR) || '|' || event_type AS key,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events GROUP BY 1),
    tot AS (SELECT SUM(n_rows) AS total, COUNT(*) AS nk FROM counts)
    SELECT key, n_rows,
           n_rows / total AS share,
           n_rows / (total / nk) AS x_mean
    FROM counts CROSS JOIN tot
    ORDER BY n_rows DESC, key
    LIMIT 10
    """,
)
def key_skew_report(spark, sf):
    """Shuffle-key skew diagnostics over the (user, event_type) join
    key — the first thing an operator checks when a 1000-executor
    stage straggles: top-10 heaviest keys with share-of-total and
    multiple-of-mean-load. One partial-agg shuffle (same cost class
    as the aggregation being diagnosed), scalar totals broadcast,
    top-k heap (utils.key_skew_report)."""
    from syncflux_spark.utils import key_skew_report as _skew

    return _skew(
        load_table(spark, sf, "events"), ["user_id", "event_type"], top_k=10
    )


def _kcore_sql(k: int = 3, rounds: int = 30) -> str:
    """Unrolled simultaneous k-core peeling. The peel is a FIXPOINT
    (data-dependent round count), but each round is idempotent once
    converged — dropping nobody leaves the edge set unchanged — so
    ``rounds`` unrolled rounds compute the EXACT k-core for any graph
    whose peel depth is ≤ rounds, and a deeper graph produces a
    visible gate mismatch (the Spark side iterates to the true
    fixpoint), never a silently wrong match. 30 ≫ the LSH candidate
    graph's peel depth at gate scale (≤ a handful of rounds)."""
    pairs = REGISTRY["lsh_candidate_pairs"].sql
    parts = [
        f"WITH pairs AS MATERIALIZED (SELECT id_a, id_b FROM ({pairs}))",
        "e0 AS MATERIALIZED (SELECT DISTINCT id_a, id_b FROM pairs"
        " WHERE id_a <> id_b)",
    ]
    for r in range(rounds):
        parts += [
            f"bad{r} AS MATERIALIZED (SELECT _v FROM ("
            f" SELECT id_a AS _v, COUNT(*) AS d FROM ("
            f"  SELECT id_a, id_b FROM e{r}"
            f"  UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM e{r}) s"
            f" GROUP BY id_a) WHERE d < {k})",
            f"e{r + 1} AS MATERIALIZED (SELECT id_a, id_b FROM e{r}"
            f" WHERE id_a NOT IN (SELECT _v FROM bad{r})"
            f" AND id_b NOT IN (SELECT _v FROM bad{r}))",
        ]
    return ",\n".join(parts) + f"""
    SELECT id_a AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM (SELECT id_a, id_b FROM e{rounds}
          UNION ALL SELECT id_b AS id_a, id_a AS id_b FROM e{rounds}) s
    GROUP BY id_a
    """


@register("dedup_graph_kcore", _kcore_sql())
def dedup_graph_kcore(spark, sf):
    """3-core of the LSH candidate graph
    (operators/graph.py::k_core): the maximal subgraph where every
    doc keeps ≥3 near-dup edges after all weakly-connected docs peel
    away. Template-spam cliques and mirrored boilerplate survive;
    chains of borderline pairwise matches do not — the
    subgraph-global complement to the per-wedge triangle signal.
    Distributed simultaneous peeling, one degree agg + two anti-joins
    per round, O(1) lineage via localCheckpoint. The oracle unrolls
    30 idempotent peel rounds in SQL (exact for peel depth ≤ 30,
    visible mismatch beyond — see _kcore_sql), upgrading the last
    rows-only registry entry to a full-hash gate; peel semantics stay
    pinned by tests/test_graph_orientation.py::TestKCore."""
    from syncflux_spark.operators.graph import k_core

    pairs = dd.lsh_candidate_pairs(load_table(spark, sf, "documents"))
    return k_core(pairs, k=3)


@register(
    "training_shard_manifest",
    f"""
    WITH q AS (
      SELECT doc_id,
             CASE WHEN len({_SQL_WORDS}) >= 10 THEN 1 ELSE 0 END
             + CASE WHEN LENGTH(text) >= 50 THEN 1 ELSE 0 END
             + CASE WHEN CAST(len(list_distinct({_SQL_WORDS})) AS BIGINT)
                         / CAST(len({_SQL_WORDS}) AS BIGINT) >= 0.3
                    THEN 1 ELSE 0 END
             + CASE WHEN CAST(list_sum(list_transform({_SQL_WORDS},
                                                      w -> LENGTH(w))) AS BIGINT)
                         / CAST(len({_SQL_WORDS}) AS BIGINT) >= 3
                    THEN 1 ELSE 0 END AS score
      FROM documents),
    keepers AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    kept AS (
      SELECT d.doc_id, d.source,
             CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents d
      JOIN q ON q.doc_id = d.doc_id AND q.score >= 3
      JOIN keepers k ON k.doc_id = d.doc_id),
    packed AS (
      SELECT doc_id, source, n_tokens,
             CAST((SUM(n_tokens) OVER w - n_tokens) // 500 AS BIGINT) AS bin
      FROM kept
      WINDOW w AS (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM packed GROUP BY source, bin
    """,
)
def training_shard_manifest(spark, sf):
    """The end-to-end curation pipeline as ONE declarative plan:
    quality gate (integer rubric ≥3) → exact-dedup keep-list (min id
    per content digest) → per-source concat-then-chunk packing into
    500-token shards → shard manifest (docs, tokens, id range per
    shard). This is the composition a training-data build actually
    ships — and because every stage is a column expression or bounded
    shuffle, Catalyst fuses the gate + keep-list joins into the
    packing window's single per-source exchange. The manifest is what
    downstream tokenizer jobs consume; determinism end-to-end means
    a re-run after corpus growth reproduces unchanged shards."""
    from syncflux_spark.operators.textops import quality_score

    docs = load_table(spark, sf, "documents")
    q = quality_score(docs).where(F.col("passes")).select("doc_id")
    keepers = docs.groupBy(F.md5("text").alias("_d")).agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    kept = (
        docs.join(q, "doc_id", "left_semi")
        .join(keepers, "doc_id", "left_semi")
        .withColumn("n_tokens", token_count("text").cast("long"))
    )
    packed = smp.pack_bins(kept, 500, "n_tokens", "source")
    return packed.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def _sql_lang_mix() -> str:
    """DuckDB mirror of operators/textops.py::lang_consistency: chunk
    → per-chunk marker-fold argmax → per-doc majority stats."""
    from syncflux_spark.functions.text import LANG_MARKERS

    def cnt(needle: str) -> str:
        pad = "' ' || ct || ' '"
        esc = needle.replace("'", "''")
        return (
            f"CAST((LENGTH({pad}) - LENGTH(replace({pad}, '{esc}', '')))"
            f" / {len(needle)} AS BIGINT)"
        )

    score_cols = ", ".join(
        " + ".join(cnt(m) for m in markers) + f" AS score_{lang}"
        for lang, markers in LANG_MARKERS.items()
    )
    best = "'und'"
    best_score = "CAST(0 AS BIGINT)"
    for lang in sorted(LANG_MARKERS, reverse=True):
        best = f"CASE WHEN score_{lang} > {best_score} THEN '{lang}' ELSE {best} END"
        best_score = (
            f"CASE WHEN score_{lang} > {best_score} THEN score_{lang} "
            f"ELSE {best_score} END"
        )
    return f"""
    WITH w AS (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents),
    c AS (SELECT doc_id, array_to_string(ws[st:st+31], ' ') AS ct
          FROM (SELECT doc_id, ws,
                       unnest(generate_series(1, len(ws), 32)) AS st
                FROM w)),
    lab AS (SELECT doc_id, {best} AS lang
            FROM (SELECT doc_id, {score_cols} FROM c)),
    per AS (SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n
            FROM lab GROUP BY doc_id, lang),
    top AS (SELECT doc_id, lang AS majority_lang, n AS n_majority
            FROM (SELECT doc_id, lang, n,
                         row_number() OVER (PARTITION BY doc_id
                                            ORDER BY n DESC, lang) AS rn
                  FROM per)
            WHERE rn = 1),
    tot AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_chunks,
                   CAST(COUNT(*) AS BIGINT) AS n_langs
            FROM per GROUP BY doc_id)
    SELECT t.doc_id, t.n_chunks, p.majority_lang, p.n_majority,
           1 - p.n_majority / t.n_chunks AS mix_ratio,
           t.n_langs
    FROM tot t JOIN top p USING (doc_id)
    """


@register("doc_lang_mix", _sql_lang_mix())
def doc_lang_mix(spark, sf):
    """Chunk-level language-consistency: each doc split into 32-token
    chunks, each chunk language-ID'd, per-doc majority language +
    mix ratio + distinct-language count. Catches code-switched and
    concatenation-garbage documents that whole-doc lang ID hides
    (operators/textops.py::lang_consistency)."""
    from syncflux_spark.operators.textops import lang_consistency

    return lang_consistency(load_table(spark, sf, "documents"))


@register(
    "dedup_cross_source_matrix",
    f"""
    WITH sh AS ({_sql_shingles()}),
         hs AS ({_HS_SQL}),
         sig AS (SELECT doc_id, {_MH_SELECT} FROM hs GROUP BY doc_id),
         bands AS ({_BANDS_SQL}),
         {_AUTO_CAND_SQL},
         pairs AS (SELECT id_a, id_b FROM cand)
    SELECT LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs p
    JOIN documents da ON da.doc_id = p.id_a
    JOIN documents db ON db.doc_id = p.id_b
    GROUP BY 1, 2
    """,
)
def dedup_cross_source_matrix(spark, sf):
    """Which sources copy from each other: the LSH candidate pairs
    joined back to their sources and counted per canonicalized
    (source, source) cell. A hot off-diagonal cell is a mirror site
    or syndication feed — the signal that redirects dedup effort
    from pairs to whole sources. Two broadcast-friendly dimension
    joins over the candidate set; the candidate generator's cost
    dominates, the matrix is |sources|² metadata."""
    docs = load_table(spark, sf, "documents")
    pairs = dd.lsh_candidate_pairs(docs)
    src = docs.select("doc_id", "source")
    a = src.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("_sa")
    )
    b = src.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("_sb")
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .groupBy(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


@register(
    "entity_match_pairs",
    """
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
    FROM customer a JOIN customer b
      ON substring(a.c_name, 1, length(a.c_name) - 2)
         = substring(b.c_name, 1, length(b.c_name) - 2)
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def entity_match_pairs(spark, sf):
    """Record linkage (entity resolution): customer-name pairs within
    Levenshtein distance 1, candidates generated by BLOCKING on the
    name minus its last two characters — the Fellegi-Sunter-style
    decomposition where a cheap deterministic block key bounds the
    candidate set and the exact edit distance (codegen
    ``levenshtein``, no UDF) runs on candidates only. One self-join
    shuffle on the block key; block sizes, not corpus², bound the
    fan-out — the linkage analogue of LSH banding."""
    cust = load_table(spark, sf, "customer")
    return dd.blocked_edit_distance_pairs(
        cust,
        key_col="c_name",
        id_col="c_custkey",
        block_col=F.expr("substring(c_name, 1, length(c_name) - 2)"),
        max_dist=1,
    ).select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))


#: fixed BPE merge table for the tokenizer-accounting entry — rank
#: order derives 'table', 'scan', 'query' from characters (a real
#: deployment passes operators/tokenize.py::learn_bpe output; a FIXED
#: table keeps the DuckDB oracle static)
_BPE_MERGES = [
    ("t", "a"), ("ta", "b"), ("l", "e"), ("tab", "le"),
    ("s", "c"), ("sc", "a"), ("sca", "n"),
    ("q", "u"), ("qu", "e"), ("que", "r"), ("quer", "y"),
    ("e", "r"), ("o", "r"), ("s", "t"),
]


def _bpe_sql_spelled() -> str:
    """DuckDB mirror of tokenize.py::bpe_spelled over lambda var w:
    char wrap then the merge replaces in rank order."""
    s = "regexp_replace(w, '(.)', '⟨\\1⟩', 'g')"
    for a, b in _BPE_MERGES:
        s = f"replace({s}, '⟨{a}⟩⟨{b}⟩', '⟨{a}{b}⟩')"
    return s


@register(
    "bpe_tokenize_stats",
    f"""
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(ws,
               w -> LENGTH({_bpe_sql_spelled()})
                    - LENGTH(replace({_bpe_sql_spelled()}, '⟨', ''))))
             AS BIGINT) AS n_tokens,
           CAST(list_sum(list_transform(ws, w -> LENGTH(w)))
             AS BIGINT) AS n_chars,
           CAST(list_sum(list_transform(ws, w -> LENGTH(w))) AS BIGINT)
             / CAST(list_sum(list_transform(ws,
                 w -> LENGTH({_bpe_sql_spelled()})
                      - LENGTH(replace({_bpe_sql_spelled()}, '⟨', ''))))
               AS BIGINT) AS chars_per_token
    FROM (SELECT doc_id, {_SQL_WORDS} AS ws FROM documents)
    """,
)
def bpe_tokenize_stats(spark, sf):
    """BPE tokenizer accounting under a fixed merge table: per-doc
    word/token/char counts and the chars-per-token compression ratio
    (the tokenizer-efficiency metric tracked per source). Merges
    apply in rank order as plain substring replaces over a
    boundary-marked spelling (``⟨c⟩`` per char) — no regex
    lookarounds, no Python, one corpus scan, zero shuffles
    (operators/tokenize.py; learn_bpe produces real tables from the
    corpus word-frequency aggregation)."""
    from syncflux_spark.operators.tokenize import bpe_tokenize_stats as op

    return op(load_table(spark, sf, "documents"), _BPE_MERGES)


#: gate-binding cell size for the auto-k SemDeDup gates: ceil(500/64)
#: = 8 cells on the driver corpus, so the k-derivation resolves to a
#: real multi-cell assignment there (production default is 1024)
_SEMDEDUP_GATE_CELL = 64

#: the auto-k SemDeDup oracle — shared verbatim by
#: semantic_dedup_flags (the PRIMARY name since r12) and
#: semantic_dedup_auto (the r11 name, kept registered): the integer
#: k-derivation replayed as a scalar subquery, then the same
#: seeded-centroid assignment + within-cell dominance join
_SEMDEDUP_AUTO_SQL = f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    kv AS (SELECT GREATEST(1, LEAST(65536,
             (COUNT(*) + {_SEMDEDUP_GATE_CELL - 1}) // {_SEMDEDUP_GATE_CELL}))
             AS k FROM v),
    cent AS (SELECT vec_id AS cid, v AS cv FROM v
             WHERE vec_id < (SELECT k FROM kv)),
    assign AS (
      SELECT vec_id, v, cid, cs FROM (
        SELECT a.vec_id, a.v, c.cid, {_sql_cos('a.v', 'c.cv')} AS cs,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_sql_cos('a.v', 'c.cv')} DESC,
                                           c.cid) AS rn
        FROM v a CROSS JOIN cent c)
      WHERE rn = 1),
    dom AS (SELECT DISTINCT a.vec_id
            FROM assign a JOIN assign b
              ON a.cid = b.cid AND a.vec_id <> b.vec_id
            WHERE {_sql_cos('a.v', 'b.v')} >= 0.30
              AND (b.cs < a.cs OR (b.cs = a.cs AND b.vec_id < a.vec_id)))
    SELECT a.vec_id, a.cid, a.cs AS cos_to_centroid,
           CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS dropped
    FROM assign a LEFT JOIN dom d ON a.vec_id = d.vec_id
    """


def _semdedup_auto_impl(spark, sf):
    from syncflux_spark.operators.similarity import semantic_dedup_flags as op

    return op(
        load_table(spark, sf, "embeddings"),
        tau=0.30,
        target_cell_size=_SEMDEDUP_GATE_CELL,
    ).select(
        "vec_id", "cid", "cos_to_centroid",
        F.col("dropped").cast("integer").alias("dropped"),
    )


@register("semantic_dedup_flags", _SEMDEDUP_AUTO_SQL)
def semantic_dedup_flags(spark, sf):
    """SemDeDup-shape semantic dedup (Abbas et al. 2023): cluster the
    embedding space, flag within-cluster near-dup vectors, keeping
    the LOW centroid-similarity representative of each duplicate pair
    (cluster-edge examples preserve diversity). The cluster partition
    bounds pair work at O(Σ cell²) — never the corpus square.

    SWAPPED to the survivable default in r12 (VERDICT r11 #2): the
    unqualified name — the one a user reaches for first — now runs
    the AUTO-K form (k = clamp(ceil(n / target_cell_size), 1, 65536),
    holding the expected cell constant so total pair mass stays
    linear in the corpus). The previous pinned k=16 registration —
    quadratic by construction, alpha 1.78 measured, not runnable at
    x100 — carries the qualified name ``semantic_dedup_k16``. Flags
    are k-dependent by SemDeDup's own semantics, so this is a VALUE
    change for this name; the oracle replays the k-derivation as a
    scalar subquery. τ=0.30 is fixture-calibrated (this synthetic
    corpus has no true semantic dups; production uses τ≈0.95)."""
    return _semdedup_auto_impl(spark, sf)


@register(
    "semantic_dedup_k16",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < 16),
    assign AS (
      SELECT vec_id, v, cid, cs FROM (
        SELECT a.vec_id, a.v, c.cid, {_sql_cos('a.v', 'c.cv')} AS cs,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_sql_cos('a.v', 'c.cv')} DESC,
                                           c.cid) AS rn
        FROM v a CROSS JOIN cent c)
      WHERE rn = 1),
    dom AS (SELECT DISTINCT a.vec_id
            FROM assign a JOIN assign b
              ON a.cid = b.cid AND a.vec_id <> b.vec_id
            WHERE {_sql_cos('a.v', 'b.v')} >= 0.30
              AND (b.cs < a.cs OR (b.cs = a.cs AND b.vec_id < a.vec_id)))
    SELECT a.vec_id, a.cid, a.cs AS cos_to_centroid,
           CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS dropped
    FROM assign a LEFT JOIN dom d ON a.vec_id = d.vec_id
    """,
)
def semantic_dedup_k16(spark, sf):
    """The PINNED-K SemDeDup gate (the pre-r12 ``semantic_dedup_flags``
    registration, renamed per VERDICT r11 #2): k fixed at 16 seed
    centroids regardless of corpus size. Kept registered because a
    manual cluster count is a real API surface (the paper's own
    configuration) and its flags differ from auto-k by SemDeDup's
    semantics — but it is a documented SCALE WALL: O(Σ cell²) with
    n/16-sized cells goes quadratic (alpha 1.78 measured x10→x30,
    ≥1.25B pair mass at x100, SCALE.md r11). Run
    ``semantic_dedup_cell_census`` first to price a pinned k; the
    unqualified name runs the survivable auto-k form."""
    from syncflux_spark.operators.similarity import semantic_dedup_flags as op

    return op(
        load_table(spark, sf, "embeddings"), n_centroids=16, tau=0.30
    ).select(
        "vec_id", "cid", "cos_to_centroid",
        F.col("dropped").cast("integer").alias("dropped"),
    )


@register(
    "semantic_dedup_cell_census",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < 16),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT a.vec_id, c.cid,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_sql_cos('a.v', 'c.cv')} DESC,
                                           c.cid) AS rn
        FROM v a CROSS JOIN cent c)
      WHERE rn = 1),
    sizes AS (SELECT cid, COUNT(*) AS c FROM assign GROUP BY cid)
    SELECT CAST(c AS BIGINT) AS cell_size,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(COUNT(*) * ((c * (c - 1)) // 2) AS BIGINT) AS pair_mass
    FROM sizes GROUP BY c
    """,
)
def semantic_dedup_cell_census(spark, sf):
    """SemDeDup cell-size PRE-FLIGHT (VERDICT r11 #4; precedent:
    lsh_bucket_census): the cell-size histogram of the pinned k=16
    partition plus each size's within-cell pair mass
    (n_cells · c·(c−1)/2) — the Σ cell² cost estimate a user needs
    BEFORE choosing a manual cluster count, and the input that makes
    keeping ``semantic_dedup_k16`` registered safe. One
    map-side-combined groupBy chain; driver rows are O(distinct cell
    sizes) at any corpus size
    (operators/similarity.py::semdedup_cell_census)."""
    from syncflux_spark.operators.similarity import semdedup_cell_census as op

    return op(load_table(spark, sf, "embeddings"), n_centroids=16)


@register("semantic_dedup_auto", _SEMDEDUP_AUTO_SQL)
def semantic_dedup_auto(spark, sf):
    """The r11 name for the auto-k SemDeDup form, kept registered:
    since the r12 swap it is an exact alias of the primary
    ``semantic_dedup_flags`` (same impl, same oracle — the k
    derivation k = clamp(ceil(n / target_cell_size), 1, 65536)
    replayed as a scalar subquery; see that query's docstring for the
    full rationale and the measured quadratic wall of the pinned
    ``semantic_dedup_k16`` form it replaced as the default)."""
    return _semdedup_auto_impl(spark, sf)


@register(
    "epoch_shuffle_manifest",
    """
    SELECT doc_id,
           md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
           CAST(row_number() OVER (
                ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)), doc_id)
             AS BIGINT) AS position,
           CAST((row_number() OVER (
                ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)), doc_id)
                 - 1) % 8 AS INTEGER) AS shard
    FROM documents
    """,
)
def epoch_shuffle_manifest(spark, sf):
    """Deterministic training-epoch shuffle manifest: global position
    under md5(seed·id) order (new seed → fresh permutation, same seed
    → identical replay on any cluster layout) + round-robin shard
    assignment balanced to ±1 doc. The position rides
    utils.global_rank — one range exchange + B driver count scalars,
    never a one-partition ROW_NUMBER (the oracle's window IS that
    single-partition form, which is exactly what this operator
    refuses to run at scale)."""
    from syncflux_spark.operators.sampling import epoch_shuffle

    return epoch_shuffle(
        load_table(spark, sf, "documents"), seed="epoch0", n_shards=8
    )


@register(
    "hybrid_search_rrf",
    f"""
    WITH bm AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r_bm
      FROM ({REGISTRY['bm25_search'].sql})),
    cosq AS (
      SELECT vec_id, row_number() OVER (ORDER BY cs DESC, vec_id) AS r_cos
      FROM (SELECT e.vec_id, {_sql_cos('e.v', 'q.v')} AS cs
            FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) e
            CROSS JOIN (SELECT embedding::DOUBLE[] AS v FROM embeddings
                        WHERE vec_id = 0) q
            ORDER BY cs DESC, vec_id LIMIT 50))
    SELECT COALESCE(b.doc_id, c.vec_id) AS doc_id,
           CAST(b.r_bm AS INTEGER) AS bm25_rank,
           CAST(c.r_cos AS INTEGER) AS cos_rank,
           COALESCE(1.0 / (60.0 + b.r_bm), 0.0)
             + COALESCE(1.0 / (60.0 + c.r_cos), 0.0) AS rrf
    FROM bm b FULL OUTER JOIN cosq c ON b.doc_id = c.vec_id
    """,
)
def hybrid_search_rrf(spark, sf):
    """Hybrid retrieval by reciprocal-rank fusion (Cormack et al.
    2009, k=60): BM25 top-50 for the lexical query bag fused with
    cosine top-50 against a query embedding (doc 0's vector — the
    aligned doc_id/vec_id spaces make the join exact). RRF =
    Σ 1/(60+rank) over the lists a doc appears in — rank-only fusion
    needs no score calibration between lexical and dense retrievers,
    which is why it's the production default. Scale: both lists are
    top-k BEFORE the fusion join (per-partition heaps / one scored
    pass), so the full-outer join touches ≤ 2k rows; the 60.0+rank
    divides are single IEEE ops → bit-identical to the oracle."""
    from syncflux_spark.functions.vectors import as_double, dot, norm
    from syncflux_spark.operators.textops import bm25_rank

    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    w_bm = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    bm = (
        bm25_rank(docs, terms=["batch", "scan", "window"])
        .withColumn("r_bm", F.row_number().over(w_bm))
        .select("doc_id", "r_bm")
    )
    q = emb.where(F.col("vec_id") == 0).select(
        as_double("embedding").alias("qv"), norm("embedding").alias("qn")
    )
    scored = emb.crossJoin(F.broadcast(q)).select(
        "vec_id",
        (dot(as_double("embedding"), F.col("qv")) / (norm("embedding") * F.col("qn"))).alias("cs"),
    )
    top_cos = (
        scored.orderBy(F.desc("cs"), F.asc("vec_id"))
        .limit(50)
        .withColumn(
            "r_cos", F.row_number().over(Window.orderBy(F.desc("cs"), F.asc("vec_id")))
        )
        .select("vec_id", "r_cos")
    )
    fused = bm.join(top_cos, bm.doc_id == top_cos.vec_id, "full_outer")
    return fused.select(
        F.coalesce("doc_id", "vec_id").alias("doc_id"),
        F.col("r_bm").cast("integer").alias("bm25_rank"),
        F.col("r_cos").cast("integer").alias("cos_rank"),
        (
            F.coalesce(F.lit(1.0) / (F.lit(60.0) + F.col("r_bm")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60.0) + F.col("r_cos")), F.lit(0.0))
        ).alias("rrf"),
    )


#: static target mixture for the resampling entry (DoReMi-style
#: weights land here from an upstream optimization; static for replay)
_MIX_TARGETS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}


def _mix_sql() -> str:
    vals = ", ".join(
        f"('{g}', CAST({w!r} AS DOUBLE))" for g, w in _MIX_TARGETS.items()
    )
    return f"""
    WITH counts AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
                    FROM documents GROUP BY source),
    tgt(source, w) AS (VALUES {vals}),
    j AS (SELECT c.source, c.n, t.w FROM counts c JOIN tgt t USING (source)),
    nout AS (SELECT MIN(CAST(n AS DOUBLE) / w) AS n_out FROM j),
    rates AS (SELECT source, (n_out * w) / CAST(n AS DOUBLE) AS r
              FROM j CROSS JOIN nout),
    thr AS (SELECT source,
                   CASE WHEN CAST(FLOOR(r * 65536) AS BIGINT) >= 65536
                        THEN '~'
                        ELSE printf('%04x', CAST(FLOOR(r * 65536) AS BIGINT))
                   END AS t
            FROM rates)
    SELECT d.doc_id, d.source
    FROM documents d JOIN thr ON d.source = thr.source
    WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || 'mix-v1'), 1, 4) < thr.t
    """


@register("mixture_resample", _mix_sql())
def mixture_resample(spark, sf):
    """Data-mixing resample: downsample each listed source so output
    shares hit the static target mixture (50/30/20 here), retaining
    the maximum the scarcest source allows; unlisted sources drop.
    Rates derive from one tiny per-source count collect
    (sampling.py::mixture_rates — identical float op order to the
    oracle's SQL, so the md5-bucket thresholds agree bit-for-bit);
    the resample itself is one filter scan, seed-free and
    re-runnable."""
    from syncflux_spark.operators.sampling import mixture_resample as op

    return op(
        load_table(spark, sf, "documents"), _MIX_TARGETS, salt="mix-v1"
    ).select("doc_id", "source")


_KMV_SPLIT = "2024-01-16 00:00:00"


def _kmv_half_sql(cmp: str) -> str:
    return f"""
    SELECT event_type, v FROM (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn
      FROM (SELECT DISTINCT event_type,
              ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS v
            FROM events WHERE ts {cmp} TIMESTAMP '{_KMV_SPLIT}'))
    WHERE rn <= 64"""


@register(
    "kmv_sketch_merge",
    f"""
    WITH s1 AS ({_kmv_half_sql('<')}),
    s2 AS ({_kmv_half_sql('>=')}),
    u AS (SELECT DISTINCT event_type, v
          FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)),
    rm AS (SELECT event_type, v,
                  row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn
           FROM u),
    m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sample,
                 CAST(MAX(v) AS BIGINT) AS kth_hash
          FROM rm WHERE rn <= 64 GROUP BY event_type)
    SELECT event_type, n_sample, kth_hash,
           CASE WHEN n_sample < 64 OR kth_hash = 0
                THEN CAST(n_sample AS DOUBLE)
                ELSE 17732923532771328.0::DOUBLE
                     / CAST(kth_hash AS BIGINT)::DOUBLE
           END AS est_distinct
    FROM m
    """,
)
def kmv_sketch_merge(spark, sf):
    """Persistable mergeable distinct-count sketches
    (operators/sketches.py): sketch each half-month of events
    independently (the shape of per-partition sketching as data
    lands), MERGE the two sketch tables — bottomK(bottomK(A) ∪
    bottomK(B)), touching k·groups rows, never base data — and
    estimate per-type distinct users from the merged sketch. The
    oracle replays the identical deterministic pipeline, checking the
    merged estimate itself bit-for-bit — proving the mergeability
    identity, which is what makes sketch-once-query-many work at
    100 TB."""
    from syncflux_spark.operators.sketches import (
        kmv_build,
        kmv_estimate,
        kmv_merge,
    )

    ev = load_table(spark, sf, "events")
    split = F.lit(_KMV_SPLIT).cast("timestamp")
    s1 = kmv_build(ev.where(F.col("ts") < split), "user_id", ["event_type"])
    s2 = kmv_build(ev.where(F.col("ts") >= split), "user_id", ["event_type"])
    merged = kmv_merge(s1, s2, ["event_type"])
    return kmv_estimate(merged, ["event_type"])


@register(
    "cms_sketch_merge",
    f"""
    WITH cells AS (
      SELECT half, i,
             ('0x' || substring(h, 1 + 2 * i, 2))::BIGINT AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT CASE WHEN ts < TIMESTAMP '{_KMV_SPLIT}' THEN 0 ELSE 1 END
                     AS half,
                   md5(CAST(user_id AS VARCHAR)) AS h
            FROM events),
           (SELECT unnest([0, 1, 2, 3]) AS i)
      GROUP BY half, i, bucket),
    merged AS (SELECT i, bucket, CAST(SUM(cnt) AS BIGINT) AS cnt
               FROM cells GROUP BY i, bucket),
    exact AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n,
                     md5(CAST(user_id AS VARCHAR)) AS h
              FROM events GROUP BY user_id),
    top AS (SELECT user_id, exact_n, h,
                   row_number() OVER (ORDER BY exact_n DESC, user_id) AS rn
            FROM exact),
    probes AS (SELECT user_id, exact_n, i,
                      ('0x' || substring(h, 1 + 2 * i, 2))::BIGINT AS bucket
               FROM top, (SELECT unnest([0, 1, 2, 3]) AS i)
               WHERE rn <= 20)
    SELECT p.user_id, p.exact_n, CAST(MIN(m.cnt) AS BIGINT) AS est_n
    FROM probes p JOIN merged m ON m.i = p.i AND m.bucket = p.bucket
    GROUP BY p.user_id, p.exact_n
    """,
)
def cms_sketch_merge(spark, sf):
    """Mergeable Count-Min sketch tables (operators/sketches.py):
    sketch each half-month of events independently, merge by
    cell-wise addition (commutative — any merge tree over any
    partitioning yields the identical matrix), probe the top-20
    heavy hitters against the MERGED sketch. The oracle replays the
    same deterministic cells, so the merged estimates themselves
    hash-match — sketch-per-partition + merge-at-query is the
    frequency-analytics pattern at 100 TB."""
    from syncflux_spark.operators.sketches import (
        cms_build,
        cms_merge,
        cms_query,
    )

    ev = load_table(spark, sf, "events")
    split = F.lit(_KMV_SPLIT).cast("timestamp")
    m = cms_merge(
        cms_build(ev.where(F.col("ts") < split), "user_id"),
        cms_build(ev.where(F.col("ts") >= split), "user_id"),
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("user_id"))
        .limit(20)
    )
    return cms_query(m, top, "user_id").join(top, "user_id").select(
        "user_id", "exact_n", "est_n"
    )


@register(
    "emb_hard_negatives",
    f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT * FROM v WHERE vec_id < 8),
    pairs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     {_sql_cos('q.v', 'c.v')} AS cos_sim
              FROM q JOIN v c
                ON c.vec_id <> q.vec_id AND c.label <> q.label)
    SELECT query_id, neighbor_id, cos_sim, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id)
                      AS rn
          FROM pairs)
    WHERE rn <= 5
    """,
)
def emb_hard_negatives(spark, sf):
    """Hard-negative mining for contrastive training
    (operators/similarity.py::hard_negatives): for each query vector,
    the top-5 most-similar OTHER-class vectors — label-mates are the
    known positives and are anti-joined out before ranking, so every
    slot is a genuine hard negative (the ones a random-negative
    sampler would miss). Broadcast query side + tiny positive-set
    anti-join + per-query top-k heap; at corpus scale the scored pass
    swaps for the IVF/LSH candidate generators unchanged."""
    from syncflux_spark.operators.similarity import hard_negatives

    emb = load_table(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    positives = (
        queries.alias("q")
        .join(emb.alias("c"), F.col("q.label") == F.col("c.label"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
        )
    )
    return hard_negatives(emb, queries, positives, k=5).select(
        "query_id", "neighbor_id", "cos_sim",
        F.col("rank").cast("integer").alias("rank"),
    )


def _leakage_split_sql() -> str:
    comp = _COMPONENTS_SQL_TEMPLATE.format(
        edges=REGISTRY["ngram_jaccard_pairs"].sql
    )
    case = smp.sql_split_case(_SPLIT_FRACTIONS, id_col="component")
    return f"""
    SELECT doc_id, component, {case} AS split
    FROM ({comp})
    """


@register("leakage_safe_split", _leakage_split_sql())
def leakage_safe_split(spark, sf):
    """Leakage-free train/val/test split
    (operators/sampling.py::leakage_safe_split): near-dup components
    first (LSH → exact Jaccard ≥ 0.5 → connected components), then
    the salted-hash split keyed on the COMPONENT label — every member
    of a dup cluster lands in one split, making cross-split near-dup
    leakage impossible by construction rather than repaired after the
    fact. The oracle replays the recursive-CTE closure + the same
    hash CASE."""
    from syncflux_spark.operators.sampling import leakage_safe_split as op

    return op(load_table(spark, sf, "documents"), _SPLIT_FRACTIONS)


#: series-similarity window: January 2024, daily buckets, n = 31
_SIM_N, _SIM_Q = 31, 1  # profile length, query user


@register(
    "ts_series_similarity",
    f"""
    WITH daily AS (
      SELECT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id, d),
    q AS (SELECT d, c AS qc FROM daily WHERE user_id = {_SIM_Q}),
    qs AS (SELECT CAST(SUM(qc) AS BIGINT) AS qsum,
                  CAST(SUM(qc * qc) AS BIGINT) AS qsq FROM q),
    cs AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS sx,
                  CAST(SUM(c * c) AS BIGINT) AS sxx
           FROM daily WHERE user_id <> {_SIM_Q} GROUP BY user_id),
    xy AS (SELECT daily.user_id, CAST(SUM(c * qc) AS BIGINT) AS sxy
           FROM daily JOIN q USING (d)
           WHERE daily.user_id <> {_SIM_Q} GROUP BY daily.user_id),
    corr AS (
      SELECT cs.user_id,
             (CAST({_SIM_N} * COALESCE(xy.sxy, 0) - cs.sx * qs.qsum AS DOUBLE))
             / (sqrt(CAST({_SIM_N} * cs.sxx - cs.sx * cs.sx AS DOUBLE))
                * sqrt(CAST({_SIM_N} * qs.qsq - qs.qsum * qs.qsum AS DOUBLE)))
               AS r
      FROM cs CROSS JOIN qs LEFT JOIN xy ON xy.user_id = cs.user_id
      WHERE {_SIM_N} * cs.sxx - cs.sx * cs.sx > 0
        AND {_SIM_N} * qs.qsq - qs.qsum * qs.qsum > 0)
    SELECT user_id, r AS corr,
           CAST(row_number() OVER (ORDER BY r DESC, user_id) AS INTEGER)
             AS rank
    FROM corr
    ORDER BY r DESC, user_id LIMIT 10
    """,
)
def ts_series_similarity(spark, sf):
    """Time-series similarity search (the EDBT'19 streaming-TS-search
    problem shape, query-vs-corpus form): find the 10 users whose
    daily-activity profile correlates best with user 1's, by Pearson
    correlation over aligned 31-day count vectors. The sufficient
    statistics (Σx, Σx², Σxy) are EXACT INTEGER aggregates — absent
    days contribute zero to every sum, so the dense profile never
    materializes and zero-filling is free — and the correlation is a
    single fixed expression over them (bit-identical cross-engine).
    Scale shape: integer partial aggs per series + one broadcast join
    of the tiny query profile; query-vs-all is linear in series
    count, no pairwise stage. Flat (zero-variance) series are
    excluded — correlation is undefined there."""
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(
        "user_id",
        (F.unix_micros("ts") / F.lit(86_400_000_000)).cast("long").alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    q = daily.where(F.col("user_id") == _SIM_Q).select("d", F.col("c").alias("qc"))
    qs = q.agg(
        F.sum("qc").cast("long").alias("qsum"),
        F.sum(F.col("qc") * F.col("qc")).cast("long").alias("qsq"),
    )
    cand = daily.where(F.col("user_id") != _SIM_Q)
    cs = cand.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("sx"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sxx"),
    )
    xy = (
        cand.join(F.broadcast(q), "d")
        .groupBy("user_id")
        .agg(F.sum(F.col("c") * F.col("qc")).cast("long").alias("sxy"))
    )
    n = F.lit(_SIM_N)
    joined = cs.crossJoin(F.broadcast(qs)).join(xy, "user_id", "left")
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    varq = n * F.col("qsq") - F.col("qsum") * F.col("qsum")
    r = (
        (n * F.coalesce("sxy", F.lit(0)) - F.col("sx") * F.col("qsum"))
        .cast("double")
        / (F.sqrt(varx.cast("double")) * F.sqrt(varq.cast("double")))
    )
    out = (
        joined.where((varx > 0) & (varq > 0))
        .select("user_id", r.alias("corr"))
        .orderBy(F.desc("corr"), F.asc("user_id"))
        .limit(10)
    )
    return out.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.desc("corr"), F.asc("user_id")))
        .cast("integer"),
    )


# -- winnowing fingerprints (MOSS rolling-hash sampling) -------------------

#: Shared oracle CTE: k=3-word grams, w=4 window, fingerprints =
#: distinct window-minima of md5 gram hashes (see
#: operators/dedup.py::winnow_fingerprints for why the set of minima
#: IS the winnowing fingerprint set).
_SQL_WINNOW = r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      FROM documents),
    grams AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             md5(array_to_string(ws[CAST(pos AS INTEGER):CAST(pos AS INTEGER) + 2], ' ')) AS h
      FROM (SELECT doc_id, ws,
                   unnest(generate_series(1, len(ws) - 2)) AS pos
            FROM toks)),
    win AS (
      SELECT doc_id,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS c
      FROM grams),
    fps AS (SELECT DISTINCT doc_id, fp FROM win WHERE c = 4)
"""


@register(
    "winnow_profile",
    _SQL_WINNOW
    + r"""
    , per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
             md5(string_agg(fp, ',' ORDER BY fp)) AS fp_digest
      FROM fps GROUP BY doc_id),
    base AS (
      SELECT doc_id,
             CAST(GREATEST(len(string_split_regex(trim(text), '\s+')) - 2,
                           0) AS BIGINT) AS n_grams
      FROM documents)
    SELECT b.doc_id, b.n_grams,
           CAST(COALESCE(p.n_fingerprints, 0) AS BIGINT) AS n_fingerprints,
           p.fp_digest,
           CAST(COALESCE(p.n_fingerprints, 0) AS DOUBLE)
             / CAST(GREATEST(b.n_grams, 1) AS DOUBLE) AS density
    FROM base b LEFT JOIN per_doc p USING (doc_id)
    """,
)
def winnow_profile(spark, sf):
    """Winnowing document fingerprints (Schleimer-Wilkerson-Aiken
    SIGMOD '03, the MOSS algorithm): per doc, the count and digest of
    the retained window-minimum gram hashes plus retention density.
    The guarantee — any shared run of ≥ w+k-1 words leaves a shared
    fingerprint — makes this the position-robust complement to
    MinHash (global sampling) and the substring-span explode (exact
    but heavier). Scale shape: linear gram explode, per-doc window
    min, map-side-combined distinct — no pairwise stage."""
    return dd.winnow_profile(load_table(spark, sf, "documents"))


@register(
    "winnow_overlap_pairs",
    _SQL_WINNOW
    + r"""
    , sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp
      FROM fps GROUP BY doc_id),
    keep AS (SELECT fp FROM fps GROUP BY fp
             HAVING COUNT(*) BETWEEN 2 AND 50),
    posting AS (SELECT f.doc_id, f.fp FROM fps f JOIN keep USING (fp)),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM posting a JOIN posting b
        ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT s.id_a, s.id_b, s.n_shared,
           CAST(s.n_shared AS DOUBLE)
             / CAST(LEAST(sa.n_fp, sb.n_fp) AS DOUBLE) AS overlap
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.id_a
    JOIN sizes sb ON sb.doc_id = s.id_b
    WHERE CAST(s.n_shared AS DOUBLE)
            / CAST(LEAST(sa.n_fp, sb.n_fp) AS DOUBLE) >= 0.2
    """,
)
def winnow_overlap_pairs(spark, sf):
    """MOSS-style local-overlap candidate pairs from shared winnowing
    fingerprints, df-gated (a fingerprint in > 50 docs is
    boilerplate — a stop-fingerprint) with containment-style scoring
    |shared| / min(|A|,|B|). Candidate volume is bounded by the
    posting-list cap (O(#fps · max_df)), never O(n²)."""
    return dd.winnow_overlap_pairs(load_table(spark, sf, "documents"))


# -- quantile sketch tables -------------------------------------------------

_QSK_K = 256


def _qsk_half_sql(cmp: str) -> str:
    return f"""
    SELECT event_type, h, v FROM (
      SELECT event_type, h, v,
             row_number() OVER (PARTITION BY event_type ORDER BY h, v) AS rn
      FROM (SELECT event_type,
                   ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT AS h,
                   CAST(value AS DOUBLE) AS v
            FROM events WHERE ts {cmp} TIMESTAMP '{_KMV_SPLIT}'))
    WHERE rn <= {_QSK_K}"""


@register(
    "quantile_sketch_merge",
    f"""
    WITH s1 AS ({_qsk_half_sql('<')}),
    s2 AS ({_qsk_half_sql('>=')}),
    u AS (SELECT DISTINCT event_type, h, v
          FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)),
    m AS (SELECT event_type, h, v FROM (
        SELECT event_type, h, v,
               row_number() OVER (PARTITION BY event_type ORDER BY h, v) AS rn
        FROM u) WHERE rn <= {_QSK_K}),
    r AS (SELECT event_type, v,
                 row_number() OVER (PARTITION BY event_type ORDER BY v) AS vr,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM m)
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_sample,
           MAX(CASE WHEN vr = GREATEST(1, CAST(CEIL(0.5 * n) AS BIGINT))
                    THEN v END) AS p50,
           MAX(CASE WHEN vr = GREATEST(1, CAST(CEIL(0.9 * n) AS BIGINT))
                    THEN v END) AS p90,
           MAX(CASE WHEN vr = GREATEST(1, CAST(CEIL(0.99 * n) AS BIGINT))
                    THEN v END) AS p99
    FROM r GROUP BY event_type
    """,
)
def quantile_sketch_merge(spark, sf):
    """Persistable mergeable QUANTILE sketches — the percentile
    analog of kmv_sketch_merge: per group, keep the k rows of
    smallest deterministic md5 priority (a uniform sample whose order
    statistics estimate population quantiles, rank error ~1/√k).
    Sketch each half-month of events independently, MERGE the two
    sketch tables — bottomK(bottomK(A) ∪ bottomK(B)), k·groups rows,
    base data never rescanned — and read p50/p90/p99 per event type
    off the merged sample. Deterministic (no seeds), so the oracle
    replays the identical pipeline and the merged estimates match
    bit-for-bit — proving the mergeability identity that lets a
    100 TB deployment sketch-per-partition once and answer percentile
    questions over any union by merging sketch rows."""
    from syncflux_spark.operators.sketches import (
        qsk_build,
        qsk_merge,
        qsk_quantiles,
    )

    ev = load_table(spark, sf, "events")
    split = F.lit(_KMV_SPLIT).cast("timestamp")
    s1 = qsk_build(
        ev.where(F.col("ts") < split), "value", "event_id", ["event_type"], k=_QSK_K
    )
    s2 = qsk_build(
        ev.where(F.col("ts") >= split), "value", "event_id", ["event_type"], k=_QSK_K
    )
    merged = qsk_merge(s1, s2, ["event_type"], k=_QSK_K)
    return qsk_quantiles(merged, ["event_type"])


def _sql_hex8(expr: str) -> str:
    """First-8-hex-chars → BIGINT, decoded digit-by-digit against the
    hex alphabet — numerically identical to Spark's
    ``conv(substring(h,1,8), 16, 10)``. (DuckDB's shorter
    ``('0x' || hex)::BIGINT`` cast, used by kmv_rolling_distinct,
    would work too; this form is engine-agnostic arithmetic.)"""
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substring({expr}, {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    ) + ")"


_TRIPLET_PROBES = 8


def _triplet_sql() -> str:
    pairs = REGISTRY["ngram_jaccard_pairs"].sql
    probe_h = (
        "md5(CAST(p.id_a AS VARCHAR) || '|' || CAST(p.id_b AS VARCHAR)"
        " || '|' || CAST(g.i AS VARCHAR) || 'probebkt')"
    )
    pool_h = "md5(CAST(n AS VARCHAR) || 'poolbkt')"
    return f"""
    WITH pool AS (
      SELECT doc_id AS n FROM documents
      WHERE substring(md5(CAST(doc_id AS VARCHAR) || 'negpool'), 1, 1) = '0'),
    bkt AS (SELECT CAST(GREATEST(COUNT(*), 1) AS BIGINT) AS b FROM pool),
    poolb AS (
      SELECT n, {_sql_hex8(pool_h)} % (SELECT b FROM bkt) AS pb FROM pool),
    pairs AS (SELECT id_a, id_b FROM ({pairs})),
    probes AS (
      SELECT p.id_a AS anchor, p.id_b AS positive,
             {_sql_hex8(probe_h)} % (SELECT b FROM bkt) AS pb
      FROM pairs p
      CROSS JOIN generate_series(0, {_TRIPLET_PROBES - 1}) AS g(i)),
    cand AS (
      SELECT pr.anchor, pr.positive, pl.n,
             md5(CAST(pr.anchor AS VARCHAR) || '|' || CAST(pl.n AS VARCHAR))
               AS h
      FROM probes pr JOIN poolb pl USING (pb)
      WHERE pl.n <> pr.anchor AND pl.n <> pr.positive),
    nodup AS (
      SELECT c.anchor, c.positive, c.n, c.h FROM cand c
      LEFT JOIN pairs d
        ON LEAST(c.anchor, c.n) = d.id_a AND GREATEST(c.anchor, c.n) = d.id_b
      WHERE d.id_a IS NULL)
    SELECT anchor, positive, n AS negative FROM (
      SELECT anchor, positive, n,
             row_number() OVER (PARTITION BY anchor, positive
                                ORDER BY h, n) AS rn
      FROM nodup) WHERE rn = 1
    """


@register("contrastive_triplets", _triplet_sql())
def contrastive_triplets(spark, sf):
    """Contrastive-training triplet mining: (anchor, positive,
    negative) rows where the positive is a verified near-duplicate of
    the anchor (the LSH → exact-Jaccard pipeline's pairs — the
    standard free supervision signal for retrieval/embedding
    training) and the negative comes from a deterministic
    hash-sampled pool (~1/16 of the corpus) WITHOUT enumerating
    pairs×pool: the pool is hashed into B = |pool| buckets and each
    pair probes the 8 buckets named by md5(anchor|positive|i) — an
    equality join on the bucket key, so the candidate set is
    O(8·|pairs|) rows with ~1 pool member per probe regardless of
    corpus size (r5 verdict: the old broadcast-pool crossJoin
    materialized |pairs|·|pool| rows — a 100 TB killer). Candidates
    are anti-joined against the near-dup pairs so a true duplicate
    can never be a negative, then one negative per (anchor,
    positive) is selected by min pair-hash — seed-free, replayable,
    and identical in the SQL oracle. A pair whose 8 probed buckets
    are all empty/invalid yields no triplet (P ≈ e⁻⁸ at mean bucket
    occupancy 1)."""
    from pyspark.sql import Window as W

    from syncflux_spark.utils import eager_persist

    def hex8(col):
        return F.conv(F.substring(col, 1, 8), 16, 10).cast("long")

    docs = load_table(spark, sf, "documents")
    pairs = eager_persist(
        dd.ngram_jaccard_pairs(docs, threshold=0.5).select("id_a", "id_b")
    )
    pool = docs.select(F.col("doc_id").alias("n")).where(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("negpool"))),
            1,
            1,
        )
        == "0"
    )
    b = max(pool.count(), 1)  # bounded scalar: one agg, one long
    poolb = pool.withColumn(
        "pb",
        hex8(F.md5(F.concat(F.col("n").cast("string"), F.lit("poolbkt"))))
        % F.lit(b),
    )
    probes = (
        pairs.select(
            F.col("id_a").alias("anchor"), F.col("id_b").alias("positive")
        )
        .withColumn(
            "i", F.explode(F.sequence(F.lit(0), F.lit(_TRIPLET_PROBES - 1)))
        )
        .select(
            "anchor",
            "positive",
            (
                hex8(
                    F.md5(
                        F.concat(
                            F.col("anchor").cast("string"),
                            F.lit("|"),
                            F.col("positive").cast("string"),
                            F.lit("|"),
                            F.col("i").cast("string"),
                            F.lit("probebkt"),
                        )
                    )
                )
                % F.lit(b)
            ).alias("pb"),
        )
    )
    cand = (
        probes.join(poolb, "pb")
        .where(
            (F.col("n") != F.col("anchor")) & (F.col("n") != F.col("positive"))
        )
        .select(
            "anchor",
            "positive",
            "n",
            F.md5(
                F.concat(
                    F.col("anchor").cast("string"),
                    F.lit("|"),
                    F.col("n").cast("string"),
                )
            ).alias("_h"),
        )
    )
    dup = pairs.select(F.col("id_a").alias("_pa"), F.col("id_b").alias("_pb"))
    nodup = cand.join(
        dup,
        (F.least("anchor", "n") == F.col("_pa"))
        & (F.greatest("anchor", "n") == F.col("_pb")),
        "left_anti",
    )
    w = W.partitionBy("anchor", "positive").orderBy("_h", "n")
    return (
        nodup.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("anchor", "positive", F.col("n").alias("negative"))
    )


@register(
    "maxsim_topk",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id // 10 AS q_doc, vec_id AS qvec, v AS qv
          FROM v WHERE vec_id < 30),
    c AS (SELECT vec_id // 10 AS c_doc, v AS cv FROM v WHERE vec_id >= 30),
    mc AS (SELECT q_doc, qvec, c_doc,
                  MAX({_sql_cos('qv', 'cv')}) AS m
           FROM q CROSS JOIN c GROUP BY 1, 2, 3),
    sc AS (SELECT q_doc, c_doc,
                  CAST(SUM(CAST(ROUND(m * 1000000) AS BIGINT)) AS BIGINT)
                    AS score_micro
           FROM mc GROUP BY 1, 2)
    SELECT q_doc, c_doc, score_micro, CAST(rn AS INTEGER) AS rank
    FROM (SELECT q_doc, c_doc, score_micro,
                 row_number() OVER (PARTITION BY q_doc
                                    ORDER BY score_micro DESC, c_doc) AS rn
          FROM sc)
    WHERE rn <= 5
    """,
)
def maxsim_topk(spark, sf):
    """Late-interaction multi-vector retrieval (the ColBERT MaxSim
    shape): vectors grouped into 10-vector bags (vec_id div 10),
    bags 0-2 are queries, the rest the corpus;
    score = Σ_query-vec max_doc-vec cosine, summed in integer micros
    so aggregation order can't perturb the score. Top-5 docs per
    query bag (operators/similarity.py::maxsim_topk; docstring
    documents the per-vector-ANN candidate path at scale)."""
    from syncflux_spark.operators.similarity import maxsim_topk as _ms

    emb = load_table(spark, sf, "embeddings").select(
        F.expr("CAST(vec_id DIV 10 AS BIGINT)").alias("doc_id"),
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    out = _ms(
        emb.where(F.col("vec_id") >= 30),
        emb.where(F.col("vec_id") < 30),
        k=5,
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


def _maxsim_ann_sql(m: int = 20, nprobe: int = 4, k: int = 5) -> str:
    """Full SQL replay of operators/similarity.py::maxsim_topk_ann:
    seed quantizer (16 lowest corpus vec_ids) → IVF assignment →
    per-query-vector probe → top-m shortlist → DISTINCT candidate
    (q_doc, c_doc) pairs → exact MaxSim rescore in integer micros.
    Every stage mirrors the Spark operator's ordering and tie rules
    (cos DESC then id ASC), so the approximation is replayed, not
    approximated — the same determinism that made ivf_topk and
    maxsim_topk full-hash gates."""
    cos_vc = _sql_cos("a.v", "c.cv")
    return f"""
    WITH v AS MATERIALIZED (
      SELECT vec_id, CAST(vec_id // 10 AS BIGINT) AS doc,
             embedding::DOUBLE[] AS v
      FROM embeddings),
    c AS MATERIALIZED (
      SELECT vec_id, doc AS c_doc, v FROM v WHERE vec_id >= 30),
    q AS MATERIALIZED (
      SELECT vec_id, doc AS q_doc, v FROM v WHERE vec_id < 30),
    cent AS MATERIALIZED (
      SELECT vec_id AS cid, v AS cv FROM c ORDER BY vec_id LIMIT 16),
    assign AS MATERIALIZED (
      SELECT vec_id, c_doc, v, cid FROM (
        SELECT a.vec_id, a.c_doc, a.v, c.cid,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {cos_vc} DESC, c.cid) AS rn
        FROM c a CROSS JOIN cent c)
      WHERE rn = 1),
    probe AS MATERIALIZED (
      SELECT vec_id AS query_id, q_doc, v AS qv, cid FROM (
        SELECT a.vec_id, a.q_doc, a.v, c.cid,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {cos_vc} DESC, c.cid) AS rn
        FROM q a CROSS JOIN cent c)
      WHERE rn <= {nprobe}),
    hits AS MATERIALIZED (
      SELECT query_id, q_doc, neighbor_id, c_doc FROM (
        SELECT p.query_id, p.q_doc, a.vec_id AS neighbor_id, a.c_doc,
               row_number() OVER (PARTITION BY p.query_id
                                  ORDER BY {_sql_cos('p.qv', 'a.v')} DESC,
                                           a.vec_id) AS rn
        FROM probe p JOIN assign a USING (cid)
        WHERE a.vec_id != p.query_id)
      WHERE rn <= {m}),
    pairs AS MATERIALIZED (SELECT DISTINCT q_doc, c_doc FROM hits),
    mc AS MATERIALIZED (
      SELECT p.q_doc, qs.vec_id AS qvec, p.c_doc,
             MAX({_sql_cos('qs.v', 'cs.v')}) AS mx
      FROM pairs p
      JOIN q qs ON qs.q_doc = p.q_doc
      JOIN c cs ON cs.c_doc = p.c_doc
      GROUP BY 1, 2, 3),
    sc AS MATERIALIZED (
      SELECT q_doc, c_doc,
             CAST(SUM(CAST(ROUND(mx * 1000000) AS BIGINT)) AS BIGINT)
               AS score_micro
      FROM mc GROUP BY 1, 2)
    SELECT q_doc, c_doc, score_micro, CAST(rn AS INTEGER) AS rank
    FROM (SELECT q_doc, c_doc, score_micro,
                 row_number() OVER (PARTITION BY q_doc
                                    ORDER BY score_micro DESC, c_doc) AS rn
          FROM sc)
    WHERE rn <= {k}
    """


@register("maxsim_topk_ann", _maxsim_ann_sql())
def maxsim_topk_ann(spark, sf):
    """The MaxSim scale path: per-query-vector IVF shortlist (top-20
    neighbors, 4 probes) selects candidate docs, then EXACT MaxSim
    rescoring over the candidates' full bags — approximate selection,
    exact scoring, like pq_rescored_topk. The shortlist itself is
    deterministic (seed quantizer = 16 lowest corpus ids, cos/id tie
    rules), so the oracle REPLAYS the whole approximation in SQL —
    full-hash gate (was rows-only through r5). The STRONG local gates
    remain tests/test_ann_quality.py::TestMaxSimAnn — full-shortlist
    output equals the exact operator row-for-row, and the m=20
    shortlist holds a recall floor against exact top-5."""
    from syncflux_spark.operators.similarity import maxsim_topk_ann as _msa

    emb = load_table(spark, sf, "embeddings").select(
        F.expr("CAST(vec_id DIV 10 AS BIGINT)").alias("doc_id"),
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    out = _msa(
        emb.where(F.col("vec_id") >= 30),
        emb.where(F.col("vec_id") < 30),
        k=5,
        m=20,
        nprobe=4,
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


@register(
    "kmv_rolling_distinct",
    """
    WITH h AS (
      SELECT DISTINCT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
             ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS v
      FROM events),
    daily AS (SELECT d, v FROM (
        SELECT d, v, row_number() OVER (PARTITION BY d ORDER BY v) AS rn
        FROM h) WHERE rn <= 64),
    spine AS (SELECT DISTINCT d FROM daily),
    contrib AS (
      SELECT s.d AS d_out, x.v
      FROM daily x JOIN spine s ON s.d BETWEEN x.d AND x.d + 6),
    u AS (SELECT DISTINCT d_out, v FROM contrib),
    m AS (SELECT d_out, v FROM (
        SELECT d_out, v, row_number() OVER (PARTITION BY d_out ORDER BY v) AS rn
        FROM u) WHERE rn <= 64),
    agg AS (SELECT d_out AS d, CAST(COUNT(*) AS BIGINT) AS n_sample,
                   CAST(MAX(v) AS BIGINT) AS kth_hash
            FROM m GROUP BY 1)
    SELECT d, n_sample, kth_hash,
           CASE WHEN n_sample < 64 OR kth_hash = 0
                THEN CAST(n_sample AS DOUBLE)
                ELSE 17732923532771328.0::DOUBLE / CAST(kth_hash AS DOUBLE)
           END AS est_distinct
    FROM agg
    """,
)
def kmv_rolling_distinct(spark, sf):
    """Rolling 7-day distinct users from PER-DAY sketches — the
    rolling-WAU shape: sketch each day once as it lands (kmv_build
    grouped by day), then every trailing window's estimate comes from
    merging ≤64 hashes per covered day (offset-explode + bottom-k;
    operators/sketches.py::kmv_rolling_merge) — the base events are
    NEVER rescanned, unlike the exact sliding_distinct_users whose
    explode rides distinct user-days. The oracle replays the
    identical deterministic pipeline, checking the merged estimates
    themselves — the sketch-series pattern that answers any trailing
    window at 100 TB for sketch-table cost."""
    from syncflux_spark.operators.sketches import (
        kmv_build,
        kmv_estimate,
        kmv_rolling_merge,
    )

    ev = load_table(spark, sf, "events").select(
        (F.unix_micros("ts") / F.lit(86_400_000_000)).cast("long").alias("d"),
        "user_id",
    )
    daily = kmv_build(ev, "user_id", ["d"])
    rolled = kmv_rolling_merge(daily, "d", window_days=7)
    return kmv_estimate(rolled, ["d"])


@register(
    "quantile_rolling_series",
    f"""
    WITH h AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
             ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT AS h,
             CAST(value AS DOUBLE) AS v
      FROM events),
    daily AS (SELECT d, h, v FROM (
        SELECT d, h, v, row_number() OVER (PARTITION BY d ORDER BY h, v) AS rn
        FROM h) WHERE rn <= {_QSK_K}),
    spine AS (SELECT DISTINCT d FROM daily),
    contrib AS (
      SELECT s.d AS d_out, x.h, x.v
      FROM daily x JOIN spine s ON s.d BETWEEN x.d AND x.d + 6),
    u AS (SELECT DISTINCT d_out, h, v FROM contrib),
    m AS (SELECT d_out, h, v FROM (
        SELECT d_out, h, v,
               row_number() OVER (PARTITION BY d_out ORDER BY h, v) AS rn
        FROM u) WHERE rn <= {_QSK_K}),
    r AS (SELECT d_out AS d, v,
                 row_number() OVER (PARTITION BY d_out ORDER BY v) AS vr,
                 COUNT(*) OVER (PARTITION BY d_out) AS n
          FROM m)
    SELECT d, CAST(MAX(n) AS BIGINT) AS n_sample,
           MAX(CASE WHEN vr = GREATEST(1, CAST(CEIL(0.5 * n) AS BIGINT))
                    THEN v END) AS p50,
           MAX(CASE WHEN vr = GREATEST(1, CAST(CEIL(0.9 * n) AS BIGINT))
                    THEN v END) AS p90,
           MAX(CASE WHEN vr = GREATEST(1, CAST(CEIL(0.99 * n) AS BIGINT))
                    THEN v END) AS p99
    FROM r GROUP BY d
    """,
)
def quantile_rolling_series(spark, sf):
    """Rolling trailing-7-day p50/p90/p99 of event values from
    PER-DAY quantile sketches — the percentile twin of
    kmv_rolling_distinct, and the monitoring series (latency/value
    percentiles over a moving window) that usually forces a second
    system: sketch each day once, fan each day's ≤256 (priority,
    value) pairs to the windows covering it, re-truncate bottom-k per
    window, read quantiles off the merged sample — base events never
    rescanned. Oracle replays the identical deterministic pipeline,
    estimates included (operators/sketches.py::qsk_rolling_merge)."""
    from syncflux_spark.operators.sketches import (
        qsk_build,
        qsk_quantiles,
        qsk_rolling_merge,
    )

    ev = load_table(spark, sf, "events").select(
        (F.unix_micros("ts") / F.lit(86_400_000_000)).cast("long").alias("d"),
        "event_id",
        "value",
    )
    daily = qsk_build(ev, "value", "event_id", ["d"], k=_QSK_K)
    rolled = qsk_rolling_merge(daily, "d", window_days=7, k=_QSK_K)
    return qsk_quantiles(rolled, ["d"])


@register(
    "winnow_incremental",
    _SQL_WINNOW
    + r"""
    , sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp
      FROM fps GROUP BY doc_id),
    keep AS (SELECT fp FROM fps GROUP BY fp
             HAVING COUNT(*) BETWEEN 2 AND 50),
    posting AS (SELECT f.doc_id, f.fp FROM fps f JOIN keep USING (fp)),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM posting a JOIN posting b
        ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT s.id_a, s.id_b, s.n_shared,
           CAST(s.n_shared AS DOUBLE)
             / CAST(LEAST(sa.n_fp, sb.n_fp) AS DOUBLE) AS overlap
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.id_a
    JOIN sizes sb ON sb.doc_id = s.id_b
    WHERE CAST(s.n_shared AS DOUBLE)
            / CAST(LEAST(sa.n_fp, sb.n_fp) AS DOUBLE) >= 0.2
      AND s.id_b >= 400
    """,
)
def winnow_incremental(spark, sf):
    """Incremental winnowing against a PERSISTED fingerprint store:
    docs < 400 are the already-indexed corpus (their fingerprints
    written to parquet and read back — the real ingest loop), docs
    ≥ 400 are the new batch; only the batch is re-fingerprinted, and
    output pairs all involve a batch doc. Because winnowing
    fingerprints are per-document, index ∪ batch-fps is IDENTICAL to
    fingerprinting the union — so the oracle is the full-corpus
    overlap query filtered to batch-involving pairs, proving the
    incremental path loses nothing vs recomputation
    (operators/dedup.py::winnow_incremental_pairs)."""
    import os

    docs = load_table(spark, sf, "documents")
    corpus = docs.where(F.col("doc_id") < 400)
    batch = docs.where(F.col("doc_id") >= 400)
    root = tempfile.mkdtemp(prefix="sf_winidx_")
    dd.winnow_fingerprints(corpus).write.mode("overwrite").parquet(
        os.path.join(root, "fps")
    )
    index_fps = spark.read.parquet(os.path.join(root, "fps"))
    return dd.winnow_incremental_pairs(index_fps, batch)


@register("ivf_index_roundtrip", None)  # sql assigned below (== ivf_topk)
def ivf_index_roundtrip(spark, sf):
    """Persisted-IVF-index search: build the index as two plain
    tables (centroids + cid-partitioned inverted file), WRITE them to
    parquet, read them back, and search — the index-once-query-many
    pattern of a billion-vector deployment
    (operators/similarity.py::ivf_index_build/ivf_index_topk). The
    oracle is ivf_topk's SQL verbatim: searching the persisted index
    must produce the exact result of searching the corpus directly,
    which proves the roundtrip loses nothing."""
    import os

    from syncflux_spark.operators.similarity import (
        ivf_index_build,
        ivf_index_topk,
    )

    emb = load_table(spark, sf, "embeddings")
    cents, index = ivf_index_build(emb, n_centroids=16)
    root = tempfile.mkdtemp(prefix="sf_ivfidx_")
    cents.write.mode("overwrite").parquet(os.path.join(root, "centroids"))
    index.write.mode("overwrite").partitionBy("cid").parquet(
        os.path.join(root, "index")
    )
    cents_r = spark.read.parquet(os.path.join(root, "centroids"))
    index_r = spark.read.parquet(os.path.join(root, "index"))
    out = ivf_index_topk(
        cents_r, index_r, emb.where(F.col("vec_id") < 10), k=5, nprobe=4
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


# the roundtrip's oracle IS ivf_topk's: identical output by contract
REGISTRY["ivf_index_roundtrip"] = Query(
    spark=REGISTRY["ivf_index_roundtrip"].spark,
    sql=REGISTRY["ivf_topk"].sql,
)


@register(
    "token_budget_select",
    r"""
    WITH base AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tokens,
             CAST(len(list_distinct(string_split_regex(trim(text), '\s+')))
                  AS DOUBLE)
               / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
               AS quality
      FROM documents),
    c AS (
      SELECT doc_id, n_tokens, quality,
             CAST(SUM(n_tokens) OVER (
                    ORDER BY quality DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_tokens
      FROM base)
    SELECT doc_id, n_tokens, quality, cum_tokens
    FROM c WHERE cum_tokens <= 15000
    """,
)
def token_budget_select(spark, sf):
    """Token-budget corpus selection — the "fill N training tokens
    with the best documents" cut every dataset build ends with: rank
    docs by a quality key (distinct-token ratio here; any score
    column drops in), take the prefix whose cumulative token count
    fits the budget. The running total comes from
    utils.global_cumsum — range exchange + per-partition running sums
    + B driver offset scalars — so the global prefix sum never
    collapses to one partition (the 100 TB-safe form of
    SUM() OVER (ORDER BY ...)). Integer token counts make the
    cumulative exact; the oracle replays the same order and budget."""
    from syncflux_spark.utils import global_cumsum

    ws = F.split(F.trim(F.col("text")), r"\s+")
    base = load_table(spark, sf, "documents").select(
        "doc_id",
        F.size(ws).cast("long").alias("n_tokens"),
        (
            F.size(F.array_distinct(ws)).cast("double")
            / F.size(ws).cast("double")
        ).alias("quality"),
    )
    # descending quality via negated sort key (range partitioner
    # orders ascending); negation of a double is exact
    ordered = base.withColumn("_negq", -F.col("quality"))
    cum = global_cumsum(
        ordered, ["_negq", "doc_id"], "n_tokens", out_col="cum_tokens"
    )
    return cum.where(F.col("cum_tokens") <= 15_000).select(
        "doc_id", "n_tokens", "quality", "cum_tokens"
    )


@register(
    "token_budget_by_source",
    r"""
    WITH base AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tokens,
             CAST(len(list_distinct(string_split_regex(trim(text), '\s+')))
                  AS DOUBLE)
               / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
               AS quality
      FROM documents),
    c AS (
      SELECT doc_id, source, n_tokens, quality,
             CAST(SUM(n_tokens) OVER (
                    PARTITION BY source
                    ORDER BY quality DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_tokens
      FROM base)
    SELECT doc_id, source, n_tokens, quality, cum_tokens
    FROM c WHERE cum_tokens <= 1500
    """,
)
def token_budget_by_source(spark, sf):
    """Per-source token budgeting — the per-domain form of
    token_budget_select and how real mixtures are actually built:
    every source gets its own budget (a flat 1500 tokens here; a
    mixture-weight-scaled map drops into the same plan) and
    independently keeps its best-quality prefix. The running total is
    a plain window PARTITIONED BY source — per-group windows scale
    horizontally (each source sorts within its own hash partition),
    so unlike the global cut this needs no range-exchange machinery
    at all. Integer token sums keep the cumulative exact."""
    ws = F.split(F.trim(F.col("text")), r"\s+")
    base = load_table(spark, sf, "documents").select(
        "doc_id",
        "source",
        F.size(ws).cast("long").alias("n_tokens"),
        (
            F.size(F.array_distinct(ws)).cast("double")
            / F.size(ws).cast("double")
        ).alias("quality"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.withColumn(
            "cum_tokens", F.sum("n_tokens").over(w).cast("long")
        )
        .where(F.col("cum_tokens") <= 1_500)
        .select("doc_id", "source", "n_tokens", "quality", "cum_tokens")
    )


@register(
    "value_decile_bins",
    f"""
    WITH r AS (
      SELECT value,
             row_number() OVER (ORDER BY value, event_id) AS rn,
             COUNT(*) OVER () AS n
      FROM events)
    SELECT CAST(((rn - 1) * 10) // n AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(value) AS min_v,
           MAX(value) AS max_v,
           CAST(SUM({_sql_micros('value')}) AS BIGINT) AS sum_value_micro
    FROM r GROUP BY 1
    """,
)
def value_decile_bins(spark, sf):
    """Equi-depth histogram (decile binning) of the event value
    column — the feature-binning / data-profiling shape: every row
    assigned to its decile by GLOBAL rank, then per-bin count, value
    range, and exact integer sum. The rank comes from
    utils.global_rank (range exchange + per-partition row_number +
    driver-side B count scalars), so there is NO single-partition
    ORDER BY anywhere — the 100 TB-safe form of NTILE. Bin boundaries
    derive from integer rank arithmetic ((rank-1)·10 div n), total
    order (value, event_id) — deterministic cross-engine."""
    from syncflux_spark.utils import global_rank

    ev = load_table(spark, sf, "events").select("event_id", "value")
    ranked, n = global_rank(
        ev, ["value", "event_id"], return_total=True
    )
    return (
        ranked.withColumn(
            # integer DIV, mirroring the oracle's // — no float hop
            "bin",
            F.expr(f"CAST(((_rank - 1) * 10) DIV {n} AS BIGINT)"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
            F.sum(micros_amt("value")).cast("long").alias("sum_value_micro"),
        )
    )


# -- audio plumbing ---------------------------------------------------------


@register(
    "mm_audio_meta",
    """
    SELECT doc_id AS media_id,
           CAST(16000 AS INTEGER) AS sample_rate,
           CAST(strlen(text) // 2 AS BIGINT) AS n_samples,
           CAST(strlen(text) // 2 AS DOUBLE) / 16000.0 AS duration_s,
           CAST(16 + strlen(text) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def mm_audio_meta(spark, sf):
    """Audio decode plumbing under the oracle gate: documents →
    binary media → PCM decode kernel (s16le mono @16 kHz behind the
    16-byte header; the ``wav`` codec branch parses real RIFF bytes
    with the stdlib ``wave`` module). The oracle recomputes sample
    count and duration arithmetically from payload length, proving
    the bytes and the Arrow batch boundary round-tripped intact."""
    from syncflux_spark.operators.multimodal import (
        decode_audio,
        media_from_documents,
    )

    media = media_from_documents(load_table(spark, sf, "documents"))
    return decode_audio(media)


@register(
    "mm_audio_frame_counts",
    """
    SELECT doc_id AS media_id,
           CAST((strlen(text) // 2 - 64) // 32 + 1 AS BIGINT) AS n_frames
    FROM documents
    WHERE strlen(text) // 2 >= 64
    """,
)
def mm_audio_frame_counts(spark, sf):
    """Audio framing (1→N expansion in mapInPandas: 64-sample
    windows every 32) aggregated back to a per-clip full-window
    count the oracle recomputes from payload length — the audio
    analog of mm_frame_counts."""
    from syncflux_spark.operators.multimodal import (
        audio_frames,
        media_from_documents,
    )

    media = media_from_documents(load_table(spark, sf, "documents"))
    frames = audio_frames(media, frame_len=64, hop=32)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames")
    )


@register(
    "mm_audio_features",
    f"""
    WITH f AS (SELECT media_id, rms_micro, zcr_micro
               FROM read_parquet('{_ORACLE_ART}/mm_audio_frames/*.parquet')),
    agg AS (SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
                   CAST(SUM(rms_micro) AS BIGINT) AS rms_sum,
                   CAST(SUM(zcr_micro) AS BIGINT) AS zcr_sum
            FROM f GROUP BY media_id)
    SELECT d.doc_id AS media_id,
           COALESCE(a.n_frames, 0) AS n_frames,
           COALESCE(CAST(a.rms_sum AS DOUBLE) / 1000000.0 / a.n_frames, 0.0)
             AS mean_rms,
           COALESCE(CAST(a.zcr_sum AS DOUBLE) / 1000000.0 / a.n_frames, 0.0)
             AS mean_zcr
    FROM documents d LEFT JOIN agg a ON a.media_id = d.doc_id
    """,
)
def mm_audio_features(spark, sf):
    """Per-clip audio features — mean frame RMS energy and mean
    zero-crossing rate over 64-sample/32-hop windows. The numpy PCM
    kernel emits PER-FRAME integer-micro features
    (operators/multimodal.py::audio_frame_features), which are
    PERSISTED to the oracle handshake dir; per-clip means are pure
    integer SUM/COUNT over that table, so the oracle replays the
    aggregation + zero-frame left join from the same stored bits —
    full-hash gate on everything downstream of the kernel (the
    mm_feature_knn pattern; was rows-only through r5). Kernel
    determinism itself stays gated by tests/test_multimodal.py::
    TestAudio's hand-computed RMS/ZCR."""
    from syncflux_spark.operators.multimodal import (
        audio_frame_features,
        media_from_documents,
    )

    media = media_from_documents(load_table(spark, sf, "documents"))
    # media is already CPU-spread: chain the two Arrow kernels in one
    # stage instead of paying an exchange between them
    frames = audio_frame_features(media, frame_len=64, hop=32, spread=False)
    # artifact written UNCOMPRESSED and re-read for the aggregation:
    # measured fastest of the four (write-codec × persist-vs-reread)
    # combinations at sf0.1 — snappy encode costs more than the extra
    # scan of a local temp file, and persist() loses outright (cache
    # fill serializes the 1.1M frame rows for MORE than the parquet
    # re-read costs: 1.42s persist+snappy vs 1.13s reread+none). The
    # handshake property is unchanged: both engines aggregate the
    # same stored bits.
    art = f"{_ORACLE_ART}/mm_audio_frames"
    frames.write.mode("overwrite").option("compression", "none").parquet(art)
    agg = (
        spark.read.parquet(art)
        .groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum("rms_micro").alias("rms_sum"),
            F.sum("zcr_micro").alias("zcr_sum"),
        )
    )
    docs = load_table(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    return docs.join(agg, "media_id", "left").select(
        "media_id",
        F.coalesce("n_frames", F.lit(0).cast("long")).alias("n_frames"),
        F.coalesce(
            F.col("rms_sum").cast("double") / 1000000.0 / F.col("n_frames"),
            F.lit(0.0),
        ).alias("mean_rms"),
        F.coalesce(
            F.col("zcr_sum").cast("double") / 1000000.0 / F.col("n_frames"),
            F.lit(0.0),
        ).alias("mean_zcr"),
    )


@register(
    "doc_compression_ratio",
    f"""
    WITH k AS (SELECT doc_id, raw_len, comp_len
               FROM read_parquet('{_ORACLE_ART}/doc_zlib/*.parquet')),
    r AS (SELECT doc_id,
                 CASE WHEN raw_len > 0
                      THEN (comp_len * 1000000) // raw_len
                      ELSE CAST(0 AS BIGINT) END AS ratio_micro
          FROM k)
    SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN ratio_micro < 350000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_repetitive,
           CAST(SUM(CASE WHEN ratio_micro > 950000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_incompressible,
           CAST(SUM(ratio_micro) AS BIGINT) AS ratio_micro_sum
    FROM documents d JOIN r ON r.doc_id = d.doc_id
    GROUP BY d.source
    """,
)
def doc_compression_ratio(spark, sf):
    """The zlib compression-ratio quality filter (CCNet/MassiveWeb
    lineage): per-source counts of too-compressible (boilerplate /
    template spam, ratio < 0.35) and near-incompressible (junk,
    ratio > 0.95) documents. The deflate kernel is an Arrow-batched
    map-only pass (operators/textops.py::compression_stats) whose
    (raw_len, comp_len) output is PERSISTED to the oracle handshake
    dir; ratios are exact integer floor-division micros and the
    rollup is plain SQL over the stored lengths, so the full-hash
    gate covers everything downstream of the deflate call — the
    mm_audio_features pattern applied to text. At 100 TB the kernel
    rides the corpus scan (no shuffle, no collect); the one shuffle
    here is the per-source count aggregation."""
    from syncflux_spark.operators.textops import compression_stats

    docs = load_table(spark, sf, "documents")
    k = compression_stats(docs)
    art = f"{_ORACLE_ART}/doc_zlib"
    k.write.mode("overwrite").option("compression", "none").parquet(art)
    # integer floor-division micros: Spark DIV == DuckDB // for
    # positive longs — no float rounding to harmonize across engines
    r = spark.read.parquet(art).select(
        "doc_id",
        F.when(
            F.col("raw_len") > 0,
            F.expr("comp_len * 1000000L DIV raw_len"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("ratio_micro"),
    )
    return (
        load_table(spark, sf, "documents")
        .select("doc_id", "source")
        .join(r, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("ratio_micro") < 350_000, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_repetitive"),
            F.sum(
                F.when(F.col("ratio_micro") > 950_000, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_incompressible"),
            F.sum("ratio_micro").cast("long").alias("ratio_micro_sum"),
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.spark for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.sql for name, q in REGISTRY.items() if q.sql is not None}
