"""Small planning utilities."""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@contextlib.contextmanager
def shuffle_partitions(spark: SparkSession, n: int | None):
    """Temporarily size ``spark.sql.shuffle.partitions`` around a
    block, restoring the session value afterwards.

    Every shuffle pays one task plus one partition file per shuffle
    partition regardless of data volume, so the batch default (sized
    for full-table scans) over-shards small per-round state; the
    iterative loops size it with :func:`loop_parallelism`. A stream
    pins the conf into its checkpoint at its first batch, so set it
    before the FIRST run.

    ``n=None`` is a no-op passthrough, so callers can thread an
    optional knob without branching.

    NOT thread-safe: the conf is session-global, so any query started
    concurrently on the same SparkSession (another thread, or a
    continuous stream still running) silently inherits the temporary
    value. Callers must not overlap runs on one session while inside
    this block — the registry runs queries one at a time, which is
    the contract this helper assumes.
    """
    if n is None:
        yield
        return
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def loop_parallelism(
    spark: SparkSession, n_rows: int, rows_per_partition: int = 250_000
) -> int:
    """Shuffle-partition count for a DRIVER-COORDINATED iterative loop
    whose per-round shuffled state is ~``n_rows`` narrow rows (label
    tables, rank tables, peeling edge lists).

    Each loop round launches jobs whose shuffles pay one task + one
    partition-file per shuffle partition regardless of data volume —
    the batch default (sized for full-table scans) multiplies that
    fixed cost by rounds. Measured on the sf0.1 semantic components
    loop (2k labels, ~7 rounds): 12.7s at 32 partitions → 5.0s at 8,
    identical labels; applied with :func:`shuffle_partitions`.

    Clamped to the session default so the dial only ever turns DOWN
    at toy state sizes: at 10⁹ nodes the quotient exceeds any session
    default and the loop keeps full parallelism. Callers already know
    ``n_rows`` (components/pagerank count nodes anyway), so this adds
    no extra job."""
    import math

    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(default, math.ceil(n_rows / rows_per_partition)))


def spread_for_cpu(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a *small-bytes, big-CPU* input to the session's
    parallelism.

    Spark sizes scan partitions by bytes (``files.maxPartitionBytes``),
    which is right for IO-bound work at 100 TB but leaves a few-MB
    parquet file in ONE partition — so a CPU-heavy narrow transform
    (md5-per-shingle, per-plane dot products) runs on one core. On the
    sf0.1 fixture this made MinHash signatures 9s instead of ~1s.
    A round-robin repartition of the small input costs microseconds
    and buys full core utilization; for inputs already split this is
    a no-op.
    """
    if df.isStreaming:
        # no .rdd on a streaming plan; micro-batch parallelism comes
        # from the source trigger + state shuffle, so pass through
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def loop_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint()`` for ITERATIVE-LOOP state, with the leaf's
    statistics reset.

    ``localCheckpoint`` truncates the logical plan but carries the
    pre-checkpoint plan's ``Statistics`` onto the new leaf. In a loop
    whose round references its own state more than once (connected
    components' pointer-halving label SELF-join), the next round's
    sizeInBytes estimate becomes a PRODUCT of the previous leaf's —
    the estimate compounds to s³ per round, so its BigInteger digit
    count roughly TRIPLES every round (measured 6 → 22 → 69 → 211 →
    635 → 1909 → 5730 …) and by round ~12 Catalyst spends most of the
    wall clock multiplying million-digit integers inside
    SizeInBytesOnlyStatsPlanVisitor: round times went 0.5s → 2.4s →
    13s → 48s on a 2000-node graph. Caught by tools/measure_slopes.py
    on a 15-round graph; latent in any convergence-driven loop that
    outlasts ~11 rounds.

    The fix rebuilds a FRESH ``LogicalRDD`` over the already-
    checkpointed rows (``internalCreateDataFrame`` — zero extra IO or
    compute; the rdd is the same materialized blocks), which restores
    the session-default size estimate, making per-round planning cost
    constant. Loops whose state is referenced ONCE per round
    (PageRank's rank table) only grow digits linearly and don't need
    this, but it's correct and free there too.

    Falls back to the plain checkpoint if the internal constructor is
    unavailable (correct, just slow past ~11 rounds)."""
    ck = df.localCheckpoint()
    spark = df.sparkSession
    try:
        fresh = spark._jsparkSession.internalCreateDataFrame(
            ck._jdf.queryExecution().toRdd(), ck._jdf.schema(), False
        )
        return DataFrame(fresh, spark)
    except Exception:  # private API moved: keep correctness
        return ck


def eager_persist(df: DataFrame) -> DataFrame:
    """Persist AND materialize now.

    A lazy ``persist()`` feeding both sides of a self-join is a trap:
    the join's first action schedules both scan stages concurrently,
    each finds the cache unpopulated, and the upstream plan runs
    twice. Forcing a ``count()`` here populates the cache once, so
    every later scan (including concurrent ones) is a cache hit."""
    df = df.persist()
    df.count()
    return df


def salted_join(
    left,
    right,
    keys: list[str],
    n_salts: int = 8,
    how: str = "inner",
):
    """Skew-resistant equi-join: append a salt to the LEFT side's key
    (hash-derived, deterministic) and explode the RIGHT side across
    all salts, so one hot key spreads over ``n_salts`` shuffle
    partitions instead of one straggler task.

    Use when a join key is pathologically skewed AND AQE's runtime
    skew-join split isn't available/enough (e.g. the skew is inside a
    single key, which partition-splitting can't fix without salting).
    The right side replicates ×n_salts — apply to the smaller input.
    At 100 TB: salt the fact side, replicate the dim side.

    Only left-preserving joins are allowed: the right side is
    replicated across every salt, so a right/full outer join would
    emit each unmatched right row ``n_salts`` times.  The salt is
    derived from the left row's full content (not a nondeterministic
    row id) so task retries recompute the identical salt.
    """
    from pyspark.sql import functions as F

    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti", "leftsemi", "leftanti"):
        raise ValueError(
            f"salted_join supports left-preserving joins only, got how={how!r}: "
            "the replicated right side would duplicate unmatched right rows"
        )
    salt_l = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns], F.lit(0x5A17)), F.lit(n_salts))
    lhs = left.withColumn("_salt", salt_l)
    rhs = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = lhs.join(rhs, keys + ["_salt"], how)
    return out.drop("_salt")


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "_rank",
    n_ranges: int | None = None,
    return_total: bool = False,
):
    """Contiguous 1-based global sort rank WITHOUT the single-partition
    collapse of ``row_number() OVER (ORDER BY ...)``: range-partition
    on the sort key, rank within each range partition, then offset by
    the cumulative counts of the preceding partitions. The offsets are
    one tiny count per partition (collected to the driver — B scalars,
    not data), and the result equals the global ROW_NUMBER regardless
    of where the sampled range boundaries land, because range
    partitions are contiguous in sort order. ``order_cols`` must be a
    deterministic total order (append a unique id as tiebreak).

    At 100 TB this is the standard distributed ranking shape: one
    range-exchange + per-partition sorts, no all-to-one stage.
    """
    from pyspark.sql import Window

    n_ranges = n_ranges or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    parted = df.repartitionByRange(n_ranges, *cols).withColumn(
        "_gr_part", F.spark_partition_id()
    )
    # persist + collect the per-partition counts in ONE action: the
    # counts aggregate is itself the materializing pass (a single
    # action can't race itself, so the eager_persist two-job form —
    # count() then collect() — would pay a whole extra job per rank
    # pass for nothing; chained callers like customer_rfm_segments
    # run three passes, so this halves their job count).
    # NOTE the persist is load-bearing for CORRECTNESS, not just
    # speed: the counts and the ranks must see the SAME range
    # boundaries, and two executions of a repartitionByRange exchange
    # sample independently — without the cache pin, the rank pass
    # could land rows in different partitions than the counted ones.
    parted = parted.persist()
    counts = {
        r._gr_part: r.n
        for r in parted.groupBy("_gr_part").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets = {}
    acc = 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    off = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w = Window.partitionBy("_gr_part").orderBy(*cols)
    ranked = parted.withColumn(
        rank_col,
        (off[F.col("_gr_part")] + F.row_number().over(w)).cast("long"),
    ).drop("_gr_part")
    if return_total:
        # acc already holds the total row count — hand it back so
        # callers (e.g. quantile-by-rank) don't pay a second count()
        # pass over the ranked data
        return ranked, acc
    return ranked


def key_skew_report(
    df: DataFrame,
    keys: list[str],
    top_k: int = 10,
) -> DataFrame:
    """Shuffle-key skew diagnostics — the first thing to look at when
    a 1000-executor stage straggles: per-key row counts for the
    ``top_k`` heaviest keys, each with its share of total rows and
    its multiple of the mean key load. A top key at 30% share means
    the downstream join/agg puts 30% of the shuffle on one task —
    reach for salting (:func:`salted_join`), broadcast, or a
    different key.

    One partial-agg shuffle on the key (the same cost class as the
    aggregation being diagnosed) + a scalar totals broadcast + a
    top-k heap. Output: (key [concat_ws of the key columns], n_rows,
    share, x_mean).
    """
    key_col = F.concat_ws("|", *[F.col(k).cast("string") for k in keys])
    counts = df.groupBy(key_col.alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    totals = counts.agg(
        F.sum("n_rows").alias("_total"),
        F.count(F.lit(1)).alias("_nkeys"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "key",
            "n_rows",
            (F.col("n_rows") / F.col("_total")).alias("share"),
            (
                F.col("n_rows")
                / (F.col("_total") / F.col("_nkeys"))
            ).alias("x_mean"),
        )
        .orderBy(F.desc("n_rows"), F.asc("key"))
        .limit(top_k)
    )


def global_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "_cum",
    n_ranges: int | None = None,
) -> DataFrame:
    """Running total over a GLOBAL sort order without the
    single-partition collapse of ``SUM() OVER (ORDER BY ...)``: the
    same two-level shape as :func:`global_rank` — range-partition on
    the sort key, windowed running sum within each range partition,
    then offset each partition by the total of all preceding
    partitions (B driver-side scalars, not data). Exact for integer
    ``value_col`` (partial sums add associatively); ``order_cols``
    must be a deterministic total order.

    The 100 TB use: budget/knapsack selections ("take the best docs
    until N tokens"), cumulative distribution curves, prefix-mass
    cuts — anywhere a global prefix aggregate would otherwise
    tempt a one-partition window.
    """
    from pyspark.sql import Window

    n_ranges = n_ranges or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    parted = df.repartitionByRange(n_ranges, *cols).withColumn(
        "_gc_part", F.spark_partition_id()
    )
    parted = eager_persist(parted)
    sums = {
        r._gc_part: r.s
        for r in parted.groupBy("_gc_part")
        .agg(F.sum(value_col).alias("s"))
        .collect()
    }
    offsets, acc = {}, 0
    for p in sorted(sums):
        offsets[p] = acc
        acc += sums[p] or 0
    off = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = (
        Window.partitionBy("_gc_part")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return parted.withColumn(
        out_col,
        (off[F.col("_gc_part")] + F.sum(value_col).over(w)).cast("long"),
    ).drop("_gc_part")
