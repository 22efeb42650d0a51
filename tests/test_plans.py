"""Physical-plan regression tests: the scale properties the engine
claims (SURVEY §4, README scale notes) asserted against
`.explain`-level plan text, so a refactor that silently drops a
broadcast, un-pushes a filter, or sneaks a Python UDF into a hot path
fails CI instead of surfacing as a 100×-scale regression.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

QUERIES = entry_mod.queries()


def plan_of(spark, sf_dir, name: str) -> str:
    return (
        QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


class TestScanDiscipline:
    def test_time_range_pushed_to_parquet(self, spark, sf_dir):
        """ts_scan_range's bounds must reach the scan (row-group
        skipping at 100 TB), not sit in a post-scan Filter only."""
        plan = plan_of(spark, sf_dir, "ts_scan_range")
        scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln]
        assert scan_lines
        # the ns bound literal must appear in the scan's DataFilters,
        # not only in a post-scan Filter node
        assert any("DataFilters: [isnotnull" in ln and "170" in ln
                   for ln in scan_lines)

    def test_column_pruning_on_projection_query(self, spark, sf_dir):
        """A 2-column aggregate must not read the whole events schema
        (props is the widest column — it must be pruned)."""
        plan = plan_of(spark, sf_dir, "ts_series_discovery")
        scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert scan and all("props" not in ln for ln in scan)

    def test_date_partition_pruning(self, spark, sf_dir):
        """The date-partitioned layout's range predicate must prune at
        the PARTITION level (directory listing), not merely row-level —
        PartitionFilters must carry the dt bounds."""
        plan = plan_of(spark, sf_dir, "partitioned_scan_counts")
        scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
        assert scan
        assert any(
            "PartitionFilters:" in ln and "2024-01-10" in ln and "dt" in ln
            for ln in scan
        )

    def test_q6_filters_pushed(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "q6_revenue_forecast")
        assert "PushedFilters: [" in plan
        assert "l_shipdate" in plan.split("PushedFilters")[1][:400]


class TestJoinStrategy:
    @pytest.mark.parametrize(
        "name",
        ["q5_local_supplier_volume", "q8_market_share", "q2_min_cost_supplier"],
    )
    def test_dims_broadcast(self, spark, sf_dir, name):
        """Small dimensions must broadcast — a shuffle join against
        region/nation/supplier would add full-fact-table exchanges."""
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan

    def test_q16_not_in_is_broadcast_anti(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "q16_supplier_counts")
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan

    def test_q20_semi_join(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "q20_excess_suppliers")
        assert "LeftSemi" in plan

    def test_q21_decorrelates_to_semi_and_anti(self, spark, sf_dir):
        """Q21's EXISTS/NOT-EXISTS double correlation must plan as one
        left-semi plus one left-anti join — a correlated re-scan per
        outer row is the classic decorrelation failure."""
        plan = plan_of(spark, sf_dir, "q21_waiting_suppliers")
        assert "LeftSemi" in plan and "LeftAnti" in plan

    def test_word_jaccard_joins_on_prefix_not_all_tokens(self, spark, sf_dir):
        """The word-Jaccard self-join must go through the prefix-filter
        stage (slice of the rare-first sorted token array), never the
        raw inverted index — a corpus-wide stop word on a raw token
        join key funnels ~n² candidate rows through one reducer."""
        plan = plan_of(spark, sf_dir, "word_jaccard_pairs")
        assert "slice(" in plan

    def test_range_join_is_binned_equality_not_nested_loop(self, spark, sf_dir):
        """The interval-containment join must ride the time-bin
        equality key (binned_interval_join): a raw BETWEEN range join
        plans as BroadcastNestedLoopJoin — every point probed against
        every interval, quadratic at scale."""
        plan = plan_of(spark, sf_dir, "outage_event_counts")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


class TestExecutionDiscipline:
    @pytest.mark.parametrize(
        "name",
        [
            "q1_pricing_summary",
            "ts_downsample_1h",
            "dedup_exact",
            "lp_roundtrip_stats",
            "ts_integral",
        ],
    )
    def test_no_python_in_hot_path(self, spark, sf_dir, name):
        """Relational/TS/codec paths must stay JVM-side; Python rows
        (BatchEvalPython) or even Arrow UDFs here would cap throughput
        at serialization speed."""
        plan = plan_of(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan

    def test_whole_stage_codegen_on_agg(self, spark, sf_dir):
        """`*(n)` node prefixes are the codegen-stage markers; the
        aggregate and scan must sit inside one (AQE shows them only
        once the plan is final, hence the collect)."""
        df = QUERIES["q1_pricing_summary"](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "*(" in plan

    def test_cube_is_single_expand_not_union(self, spark, sf_dir):
        """CUBE must plan as one Expand over one scan — a UNION of 4
        grouping queries would scan lineitem 4 times."""
        plan = plan_of(spark, sf_dir, "revenue_cube_flags")
        assert plan.count("Scan parquet") == 1
        assert "Expand" in plan

    def test_vocab_topk_is_heap_not_global_sort(self, spark, sf_dir):
        """Top-k by frequency must plan as TakeOrderedAndProject
        (per-partition heaps merged on the driver) — a global Sort of
        the whole vocabulary would shuffle every term to order 100."""
        plan = plan_of(spark, sf_dir, "vocab_top_terms")
        assert "TakeOrderedAndProject" in plan

    def test_partial_aggregation_before_shuffle(self, spark, sf_dir):
        """Map-side partial agg (HashAggregate before Exchange) is
        what keeps 100 TB group-bys shuffle-light."""
        plan = plan_of(spark, sf_dir, "ts_downsample_1h")
        pre_exchange = plan.split("Exchange")[-1]  # deepest = before shuffle
        assert "HashAggregate" in pre_exchange

    def test_repetition_stats_is_shuffle_free(self, spark, sf_dir):
        """The repetition metrics are in-row array folds: no join, no
        aggregate, and the only Exchange allowed is the deliberate
        spread_for_cpu round-robin (per-doc groupBys would shuffle the
        whole corpus)."""
        plan = plan_of(spark, sf_dir, "repetition_stats")
        assert "Join" not in plan
        assert "HashAggregate" not in plan
        assert plan.count("Exchange") <= 1

    def test_bucketed_join_has_no_exchange_under_join(self, spark, sf_dir):
        """Co-located bucketed tables must SortMergeJoin without
        shuffling either side — the only Exchange in the whole plan is
        the final small groupBy. If bucketing stopped reaching the
        planner this count jumps to 3."""
        plan = plan_of(spark, sf_dir, "bucketed_join_revenue")
        assert "SortMergeJoin" in plan
        assert plan.count("Exchange") == 1
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan

    def test_contamination_broadcasts_benchmark(self, spark, sf_dir):
        """Decontamination must probe the training corpus with a
        broadcast of the benchmark shingles — shuffling the training
        side on the shingle key would be a full-corpus exchange."""
        plan = plan_of(spark, sf_dir, "benchmark_contamination")
        assert "BroadcastHashJoin" in plan


class TestSingleShuffleTsFamily:
    @pytest.mark.parametrize(
        "name",
        [
            "ts_interval_coverage",
            "ts_mad_outliers",
            "ts_holt_winters",
            "ts_ema_cascade",
            "ts_rsi",
            "ts_changepoint",
            "ts_theil_sen",
        ],
    )
    def test_one_exchange_no_python(self, spark, sf_dir, name):
        """The group-and-fold / gaps-and-islands ts_* operators claim
        'one shuffle for the whole query': every window and every
        in-row fold rides the single per-series exchange. A second
        Exchange here means a window lost the partitioning or a fold
        became a join."""
        plan = plan_of(spark, sf_dir, name)
        assert plan.count("Exchange") == 1, plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan

    def test_kmv_overlap_uses_group_topk_heap(self, spark, sf_dir):
        """The bottom-64 sketch must run as WindowGroupLimit
        (per-partition top-k heaps before the per-group sort), not a
        full per-group sort of every distinct hash."""
        plan = plan_of(spark, sf_dir, "kmv_set_overlap")
        assert "WindowGroupLimit" in plan

    def test_triangle_join_is_hash_equality(self, spark, sf_dir):
        """Triangle enumeration must stay an equality-join cascade on
        node keys — nested-loop or cartesian here is the quadratic
        failure mode."""
        plan = plan_of(spark, sf_dir, "dedup_graph_triangles")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


class TestInfluxQLCompilation:
    def test_rollup_single_shuffle_partial_agg(self, spark, sf_dir):
        """The compiled `GROUP BY time(1h), tag` rollup must be one
        hash aggregation (partial before the exchange, final after) —
        the same plan a hand-written DataFrame rollup produces; a
        sort-based or two-exchange plan means the bucket expression
        broke hash aggregation. That is the plan of an input larger
        than one file partition; sf0.001's events fit one, so the
        partition size is lowered here to stand for a large input."""
        conf = "spark.sql.files.maxPartitionBytes"
        old = spark.conf.get(conf)
        spark.conf.set(conf, "1k")
        try:
            plan = plan_of(spark, sf_dir, "influxql_mean_1h")
        finally:
            spark.conf.set(conf, old)
        # exactly one hash exchange (the aggregation); the only other
        # allowed exchange is the rangepartitioning for InfluxDB's
        # default time-ordered output, which sorts the tiny rollup,
        # not the fact table
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert plan.count("Exchange") <= 2, plan
        pre_exchange = plan.split("Exchange hashpartitioning")[-1]
        assert "HashAggregate" in pre_exchange and "partial_" in pre_exchange
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_small_rollup_reads_one_partition(self, spark, sf_dir):
        """An input that fits one file partition is read as one
        partition, so the same rollup aggregates and sorts without any
        exchange."""
        plan = plan_of(spark, sf_dir, "influxql_mean_1h")
        assert "Coalesce 1" in plan, plan
        assert "Exchange" not in plan, plan
        assert "HashAggregate" in plan

    def test_time_bounds_reach_scan(self, spark, sf_dir):
        """WHERE time bounds written in InfluxQL text must land in the
        parquet scan's DataFilters like native scans do."""
        plan = plan_of(spark, sf_dir, "influxql_mean_1h")
        scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln]
        assert scan_lines
        assert any(
            "DataFilters:" in ln and "isnotnull" in ln and "2024" in ln
            for ln in scan_lines
        )

    def test_fill_spine_is_broadcast_side(self, spark, sf_dir):
        """fill(0) densification joins the tiny bucket spine to the
        rollup; neither side may nested-loop (the spine cross-join is
        single-row-driven and must stay a broadcast)."""
        plan = plan_of(spark, sf_dir, "influxql_fill_zero_6h")
        assert "CartesianProduct" not in plan


class TestRound3Operators:
    """Plan discipline for the round-3 additions."""

    @pytest.mark.parametrize(
        "name",
        [
            "duplicate_substring_spans",
            "doc_cosine_pairs",
            "sorted_neighborhood_pairs",
            "bpe_merge_candidates",
            "corpus_snapshot_diff",
        ],
    )
    def test_no_cartesian_no_python(self, spark, sf_dir, name):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_pmi_scalar_totals_broadcast_only(self, spark, sf_dir):
        """pmi's only nested-loop join is the 1-row scalar-totals
        attach (IdentityBroadcastMode); the unigram joins are hash
        joins and no Python runs anywhere."""
        plan = plan_of(spark, sf_dir, "pmi_top_bigrams")
        assert plan.count("BroadcastNestedLoopJoin") == 1
        assert "IdentityBroadcastMode" in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_global_rank_is_range_partitioned_not_single(self, spark):
        """sorted_neighborhood's global rank must never collapse to a
        one-partition window sort — the exchange is range partitioning
        and every window spec carries a partition key."""
        from pyspark.sql import functions as F

        from syncflux_spark.utils import global_rank

        df = spark.range(1000).select(
            (F.col("id") % 13).alias("k"), F.col("id")
        )
        plan = (
            global_rank(df, ["k", "id"], n_ranges=8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "rangepartitioning" in plan.lower()
        # a partition-less window would plan an Exchange SinglePartition
        # feeding the Window node
        assert "Exchange SinglePartition" not in plan

    def test_top_k_ops_use_heap_not_global_sort(self, spark, sf_dir):
        """bpe/pmi top-k must plan as TakeOrderedAndProject, never a
        full sort of the aggregate."""
        for name in ("bpe_merge_candidates", "pmi_top_bigrams"):
            plan = plan_of(spark, sf_dir, name)
            assert "TakeOrderedAndProject" in plan, name

    def test_snapshot_diff_digests_computed_map_side(self, spark, sf_dir):
        """The diff join must shuffle (id, digest) pairs, not text:
        md5 projections sit below the join in the plan."""
        plan = plan_of(spark, sf_dir, "corpus_snapshot_diff")
        assert plan.count("md5") >= 2
        assert "FullOuter" in plan


class TestNewOperatorPlans:
    def test_epoch_shuffle_is_range_partitioned(self, spark, sf_dir):
        """The shuffle manifest's global position must ride a RANGE
        exchange (global_rank), never a single-partition window."""
        plan = plan_of(spark, sf_dir, "epoch_shuffle_manifest")
        assert "rangepartitioning" in plan.lower()
        assert "SinglePartition" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_hybrid_rrf_topk_before_join(self, spark, sf_dir):
        """Both retrieval lists are top-k'd before fusion: the cosine
        side plans as TakeOrderedAndProject (distributed heap), and
        no Python appears anywhere."""
        plan = plan_of(spark, sf_dir, "hybrid_search_rrf")
        assert "TakeOrderedAndProject" in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_semantic_dedup_broadcasts_centroids(self, spark, sf_dir):
        """Centroid assignment must be a broadcast (map-only over the
        corpus); the only hash exchange is the within-cluster join."""
        plan = plan_of(spark, sf_dir, "semantic_dedup_flags")
        assert "BroadcastExchange" in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestWinnowingPlans:
    @pytest.mark.parametrize(
        "name", ["winnow_profile", "winnow_overlap_pairs"]
    )
    def test_no_cartesian_no_python(self, spark, sf_dir, name):
        """The winnowing pipeline is explode + per-doc window +
        distinct (+ posting-list equality join for pairs) — all
        codegen; never a cartesian and never a Python kernel."""
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_window_min_rides_doc_partition(self, spark, sf_dir):
        """The window minimum partitions by doc_id — a hash exchange,
        never a one-partition global sort."""
        plan = plan_of(spark, sf_dir, "winnow_profile")
        assert "SinglePartition" not in plan


class TestGlobalCumsum:
    def test_matches_single_partition_window(self, spark):
        """global_cumsum must equal SUM() OVER (ORDER BY ...) exactly
        on a multi-partition input with duplicate sort keys."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from syncflux_spark.utils import global_cumsum

        df = spark.createDataFrame(
            [(i % 7, i, i % 13) for i in range(1000)], "k long, id long, v long"
        ).repartition(8)
        got = {
            r.id: r.c
            for r in global_cumsum(df, ["k", "id"], "v", out_col="c").collect()
        }
        w = (
            Window.orderBy("k", "id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        ref = {
            r.id: r.c
            for r in df.withColumn("c", F.sum("v").over(w)).collect()
        }
        assert got == ref

    def test_range_partitioned_not_single(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "token_budget_select")
        assert "rangepartitioning" in plan.lower()
        assert "SinglePartition" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestRound4OperatorPlans:
    """Plan discipline for the round-4 additions."""

    @pytest.mark.parametrize(
        "name",
        [
            "quantile_sketch_merge",
            "kmv_rolling_distinct",
            "winnow_incremental",
            "token_budget_by_source",
            "value_decile_bins",
            "contrastive_triplets",
            "lang_confusion_matrix",
        ],
    )
    def test_no_cartesian_no_python(self, spark, sf_dir, name):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_maxsim_query_side_broadcasts(self, spark, sf_dir):
        """The exact MaxSim must broadcast the (small) query bags —
        the corpus side never replicates."""
        plan = plan_of(spark, sf_dir, "maxsim_topk")
        assert "BroadcastExchange" in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_per_source_budget_needs_no_range_exchange(self, spark, sf_dir):
        """Per-group windows hash-partition by source; the global
        range-exchange machinery must NOT appear."""
        plan = plan_of(spark, sf_dir, "token_budget_by_source")
        assert "SinglePartition" not in plan
        assert "rangepartitioning" not in plan.lower()

    def test_rolling_sketch_reads_daily_from_cache(self, spark, sf_dir):
        """The daily sketch feeds both the window fan-out and the day
        spine: both consumers must read the PINNED sketch
        (InMemoryTableScan), never re-run the events scan. (The plan
        text still prints the cached child's scan per reference, so
        we assert the cache reads, not the scan count.)"""
        plan = plan_of(spark, sf_dir, "kmv_rolling_distinct")
        assert plan.count("InMemoryTableScan") >= 2


class TestPlanReportTool:
    def test_report_fields_on_known_queries(self, spark, sf_dir):
        from syncflux_spark.plans import plan_report

        r = plan_report(spark, sf_dir, "ts_scan_range")
        assert r["query"] == "ts_scan_range"
        assert r["scans"] and r["scans"][0]["format"] == "parquet"
        assert r["scans"][0]["pushed_filters"]  # the ns range reaches the scan
        assert r["python_stages"] == 0 and not r["cartesian"]

        r2 = plan_report(spark, sf_dir, "token_budget_select")
        assert r2["range_exchanges"] >= 1  # global_cumsum's range exchange
        assert not r2["single_partition"]

        r3 = plan_report(spark, sf_dir, "q5_local_supplier_volume")
        assert r3["broadcast_joins"] >= 1  # dims broadcast


class TestRfmScaleSafety:
    def test_rfm_quartiles_not_single_partition(self, spark, sf_dir):
        """RFM's quartiles rank a CUSTOMER-sized frame: they must ride
        range exchanges (global_rank), never the single-partition
        window a bare ntile() OVER (ORDER BY ...) plans as."""
        plan = plan_of(spark, sf_dir, "customer_rfm_segments")
        assert "SinglePartition" not in plan
        assert "rangepartitioning" in plan.lower()


class TestIterationLoopInvariants:
    """Pin the measured r6 loop optimizations structurally, the way
    the scan tests pin pushdown: a refactor that re-joins degrees
    inside the PageRank loop, or reintroduces a per-round driver
    action in connected components, fails here instead of as a
    silent per-round cost multiplier."""

    @staticmethod
    def _n_joins(plan: str) -> int:
        import re

        return len(
            re.findall(
                r"\bJoin (Inner|Left|Right|Full|Cross)", plan
            )
        )

    def _capture_checkpoints(self, monkeypatch):
        """Spy on localCheckpoint: record each pre-checkpoint
        OPTIMIZED plan, then checkpoint for real — the per-round
        plans are only visible before lineage truncation."""
        from pyspark.sql.classic.dataframe import DataFrame

        captured: list[str] = []
        orig = DataFrame.localCheckpoint

        def spy(self, eager=True):
            captured.append(
                self._jdf.queryExecution().optimizedPlan().toString()
            )
            return orig(self, eager)

        monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
        return captured

    @staticmethod
    def _toy_graph(spark):
        nodes = spark.createDataFrame(
            [(i,) for i in range(1, 7)], "doc_id long"
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
        )
        return nodes, pairs

    def test_pagerank_round_has_degree_join_hoisted(
        self, spark, monkeypatch
    ):
        """Each PageRank round must plan exactly TWO joins (edge⋈rank
        contribution + node⋈inflow update). The degree annotation is
        loop-invariant and joined ONCE in the preamble (graph.py) —
        a third per-round join means it slid back into the loop."""
        from syncflux_spark.operators.graph import pagerank_fixedpoint

        captured = self._capture_checkpoints(monkeypatch)
        nodes, pairs = self._toy_graph(spark)
        pagerank_fixedpoint(nodes, pairs, n_iter=2, ckpt_every=1)
        # preamble checkpoints: edges, degree-annotated edges (the ONE
        # degree join), node ids, initial ranks — then one per round
        assert len(captured) == 4 + 2
        assert self._n_joins(captured[1]) == 1  # degree annotation
        for round_plan in captured[4:]:
            assert self._n_joins(round_plan) == 2

        # the default cadence batches rounds per checkpoint (linear
        # rank lineage, unlike components' self-join): 10 rounds at
        # ckpt_every=5 materialize exactly twice, each plan carrying
        # 5 rounds × 2 joins
        captured.clear()
        pagerank_fixedpoint(nodes, pairs, n_iter=10)
        round_plans = captured[4:]
        assert len(round_plans) == 2
        for plan in round_plans:
            assert self._n_joins(plan) == 10

    def test_pagerank_loop_runs_no_driver_actions(
        self, spark, monkeypatch
    ):
        """pagerank's driver actions are PREAMBLE-ONLY (the N count
        plus the loop-parallelism edge count, r8) — per-round state
        flows through localCheckpoint alone. Pinned as O(1): the
        action count must not grow with n_iter."""
        from pyspark.sql.classic.dataframe import DataFrame

        from syncflux_spark.operators.graph import pagerank_fixedpoint

        calls = {"count": 0, "collect": 0}
        orig_count, orig_collect = DataFrame.count, DataFrame.collect
        monkeypatch.setattr(
            DataFrame,
            "count",
            lambda s: (calls.__setitem__("count", calls["count"] + 1),
                       orig_count(s))[1],
        )
        monkeypatch.setattr(
            DataFrame,
            "collect",
            lambda s: (calls.__setitem__("collect", calls["collect"] + 1),
                       orig_collect(s))[1],
        )
        nodes, pairs = self._toy_graph(spark)
        pagerank_fixedpoint(nodes, pairs, n_iter=2)
        after_two = dict(calls)
        assert after_two == {"count": 2, "collect": 0}  # N + edge sizing
        pagerank_fixedpoint(nodes, pairs, n_iter=5)
        # 2.5x the rounds must add ZERO driver actions beyond a second
        # run's own preamble
        assert calls == {"count": 4, "collect": 0}

    def test_components_changed_count_rides_checkpoint_job(
        self, spark, monkeypatch
    ):
        """connected_components' convergence check must cost ZERO
        per-round actions: the changed-label count is an observe()
        riding the round's localCheckpoint materialization (dedup.py);
        a separate join+count job per round is the r5 regression
        (~1/3 of round time). Driver actions are preamble-only (the
        two loop-parallelism sizing counts, r8), so the pin is O(1):
        counts must not grow with the graph's diameter (= rounds)."""
        from pyspark.sql.classic.dataframe import DataFrame

        from syncflux_spark.operators.dedup import connected_components

        calls = {"count": 0, "collect": 0, "toPandas": 0}
        origs = {n: getattr(DataFrame, n) for n in calls}

        def spy(name):
            def _f(self, *a, **k):
                calls[name] += 1
                return origs[name](self, *a, **k)

            return _f

        for n in calls:
            monkeypatch.setattr(DataFrame, n, spy(n))
        nodes, pairs = self._toy_graph(spark)  # diameter 2 → few rounds
        labels = connected_components(nodes, pairs)
        shallow = dict(calls)
        assert shallow == {"count": 2, "collect": 0, "toPandas": 0}

        # a 12-node chain needs more propagation rounds; actions stay
        # at one preamble's worth
        chain_nodes = spark.createDataFrame(
            [(i,) for i in range(1, 13)], "doc_id long"
        )
        chain_pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 12)], "id_a long, id_b long"
        )
        deep_labels = connected_components(chain_nodes, chain_pairs)
        assert calls == {"count": 4, "collect": 0, "toPandas": 0}
        monkeypatch.undo()
        got = {
            (r["doc_id"], r["component"]) for r in labels.collect()
        }
        assert got == {(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)}
        assert {r["component"] for r in deep_labels.collect()} == {1}

    def test_loop_checkpoint_resets_compounding_stats(self, spark):
        """The r7 fix: a loop whose round SELF-joins its own state
        compounds the checkpoint leaf's sizeInBytes estimate (~s³ per
        round — digit counts TRIPLED per round and Catalyst stats
        arithmetic dominated wall time past round ~11).
        utils.loop_checkpoint must keep the leaf estimate constant
        across rounds; bare localCheckpoint demonstrably does not."""
        from pyspark.sql import functions as F

        from syncflux_spark.utils import loop_checkpoint

        def digits(df):
            return len(
                str(
                    df._jdf.queryExecution().analyzed().stats().sizeInBytes()
                )
            )

        def round_once(labels, ckpt):
            half = labels.join(
                labels.select(
                    F.col("id").alias("_l"), F.col("lbl").alias("_lc")
                ),
                F.col("lbl") == F.col("_l"),
            ).select(F.col("id"), F.col("_lc").alias("jump"))
            return ckpt(
                labels.join(half, on="id", how="left").select(
                    "id", F.least("lbl", F.coalesce("jump", "lbl")).alias("lbl")
                )
            )

        base = spark.range(32).select(
            F.col("id"), F.col("id").alias("lbl")
        )
        fixed = loop_checkpoint(base)
        for _ in range(5):
            fixed = round_once(fixed, loop_checkpoint)
        assert digits(fixed) < 30  # constant (session default estimate)

        from pyspark.sql.classic.dataframe import DataFrame

        bare = base.localCheckpoint()
        for _ in range(5):
            bare = round_once(bare, DataFrame.localCheckpoint)
        # the pathology this guards against: digits compound per round
        assert digits(bare) > digits(fixed)

    def test_ngram_pipeline_reads_one_cached_extraction(self, spark, sf_dir):
        """The r7 fusion + r12 score-in-bucket: both band self-join
        sides read the single persisted shingle+signature frame
        (2 InMemoryTableScans — the verify no longer has separate
        join sides, it rides the band join itself), the extraction
        never re-runs, and the whole pipeline stays JVM-side. (The
        plan text prints the cache's child scan per reference, so we
        assert the cache reads, not the FileScan count — same caveat
        as the kmv_rolling_distinct test.)"""
        plan = plan_of(spark, sf_dir, "ngram_jaccard_pairs")
        assert plan.count("InMemoryTableScan") >= 2
        # the verify must NOT re-join the corpus arrays post-dedup:
        # no join in the plan keys on the pair ids (the only joins
        # are the band-key self-join and, when capped, the broadcast
        # hot/mins joins)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestParallelismSizing:
    """Unit pins for the r8 sizing helpers: the dials must only turn
    DOWN at toy state sizes and always restore the session conf."""

    def test_loop_parallelism_clamps_both_ways(self, spark):
        from syncflux_spark.utils import loop_parallelism

        default = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert loop_parallelism(spark, 0) == 1
        assert loop_parallelism(spark, 1) == 1
        assert loop_parallelism(spark, 250_000) == 1
        assert loop_parallelism(spark, 250_001) == min(2, default)
        # a 10^9-node graph wants more partitions than any local
        # session default — the clamp keeps full parallelism
        assert loop_parallelism(spark, 10**9) == default

    def test_shuffle_partitions_noop_and_restore_on_error(self, spark):
        from syncflux_spark.utils import shuffle_partitions

        key = "spark.sql.shuffle.partitions"
        before = spark.conf.get(key)
        with shuffle_partitions(spark, None):
            assert spark.conf.get(key) == before  # no-op passthrough
        with pytest.raises(RuntimeError, match="boom"):
            with shuffle_partitions(spark, 3):
                assert spark.conf.get(key) == "3"
                raise RuntimeError("boom")
        assert spark.conf.get(key) == before  # restored despite the raise


class TestStarCollapsePlans:
    """The hot-bucket star-collapse dial's scale contract, CI-pinned
    (SCALE.md r10 claimed it prose-only; this class makes it true):
    the hot set rides BROADCAST joins everywhere — the census
    exchange carries one narrow row per bucket, never the corpus —
    and the dial introduces no cartesian/nested-loop or additional
    WIDE join vs the uncapped plan."""

    @pytest.mark.parametrize(
        "name",
        ["lsh_candidate_pairs_capped", "emb_near_dup_pairs_capped",
         "lsh_candidate_pairs_auto", "emb_near_dup_pairs_auto"],
    )
    def test_hot_set_joins_are_broadcast(self, spark, sf_dir, name):
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan
        # the cold-side filter is an ANTI join against the (broadcast)
        # hot set — every LeftAnti in the plan must be broadcast-built
        anti_lines = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
        assert anti_lines, f"{name}: no anti join — cold split missing"
        assert all("BroadcastHashJoin" in ln for ln in anti_lines), (
            f"{name}: a LeftAnti planned as a non-broadcast join:\n"
            + "\n".join(anti_lines)
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    @pytest.mark.parametrize(
        "capped,uncapped",
        [
            ("lsh_candidate_pairs_capped", "lsh_candidate_pairs"),
            ("emb_near_dup_pairs_capped", "emb_near_dup_pairs"),
        ],
    )
    def test_no_additional_wide_join(self, spark, sf_dir, capped, uncapped):
        """The dial must not add WIDE (shuffled) joins: every join it
        introduces — anti, mins, star — builds from the broadcast hot
        set, so the shuffled-join count matches the uncapped plan."""

        def wide_joins(name: str) -> int:
            plan = plan_of(spark, sf_dir, name)
            return plan.count("SortMergeJoin") + plan.count(
                "ShuffledHashJoin"
            )

        assert wide_joins(capped) <= wide_joins(uncapped)
