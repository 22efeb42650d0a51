#!/usr/bin/env python3
"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed end-to-end through a noop write sink, which
executes the FULL plan — every projection is computed and every row
produced. Timing `.count()` instead would let Catalyst prune
unreferenced projections, under-measuring projection-heavy queries
(scan ranges, codec roundtrips). A warmup query first absorbs
JVM/codegen startup so numbers reflect steady-state execution, which
is what scales to the cluster.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Headline set: one per operator family (scan, rollup, join-agg,
#: window, dedup-LSH, text, knn) — the queries whose cost dominates a
#: real workload at scale.
HEADLINE = [
    "ts_scan_range",
    "ts_downsample_1h",
    "ts_last_per_series",
    "ts_asof_purchase",
    "ts_sessionize",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q8_market_share",
    "q10_returned_items",
    "q13_customer_distribution",
    "q18_large_orders",
    "q2_min_cost_supplier",
    "q12_priority_shipping",
    "q16_supplier_counts",
    "q21_waiting_suppliers",
    "revenue_rollup_region",
    "revenue_cube_flags",
    "supplier_rank_in_nation",
    "cumulative_spend_per_customer",
    "ts_moving_average",
    "ts_percentiles",
    "ts_integral",
    "lp_roundtrip_stats",
    "dedup_exact",
    "lsh_candidate_pairs",
    "ngram_jaccard_pairs",
    "ngram_jaccard_pairs_strfp",  # verify-fingerprint dial: both positions measured
    "simhash_near_pairs",
    "simhash_near_pairs_wide",  # fingerprint-width dial: both widths measured
    "simhash_near_pairs_wide64",  # production width (4x16 bands): x30 wall 180s -> 15s
    "token_stats",
    "lang_detect",
    "repetition_stats",
    "doc_top_terms",
    "benchmark_contamination",
    "ts_count_distinct",
    "knn_topk",
    "ivf_topk",
    "emb_near_dup_pairs",
    "bm25_search",
    "bigram_top_terms",
    "pii_scrub_stats",
    "funnel_conversion",
    "cohort_retention",
    "kmv_distinct_users",
    "outage_event_counts",
    "ts_ema",
    "dedup_incremental",
    "dedup_incremental_indexed",
    "containment_pairs",
    "containment_pairs_exact",
    "lm_predictability",
    "token_diversity",
    "doc_chunk_windows",
    "ts_outliers",
    "event_transitions",
    "sliding_distinct_users",
    "customer_rfm_segments",
    "ts_holt_winters",
    "ts_interval_coverage",
    "ts_mad_outliers",
    "ts_rolling_median",
    "kmv_set_overlap",
    "dedup_graph_triangles",
    "doc_novelty",
    "pq_rescored_topk",
    "cms_user_counts",
    "session_type_lift",
    "influxql_mean_1h",
    "ivf_pq_topk",
    "ts_m4_downsample",
    "passage_boilerplate",
    "duplicate_substring_spans",
    "substring_dup_fraction",
    "doc_cosine_pairs",
    "sorted_neighborhood_pairs",
    "bpe_merge_candidates",
    "pmi_top_bigrams",
    "corpus_snapshot_diff",
    "influxql_tz_daily",
    "emb_diverse_sample",
    "global_value_quantiles",
    "influxql_integral_daily",
    "training_shard_manifest",
    "influxql_math_fns",
    "gopher_quality_flags",
    "c4_filter_flags",
    "entity_match_pairs",
    "influxql_holt_winters",
    "influxql_ema_daily",
    "bpe_tokenize_stats",
    "influxql_rsi_daily",
    "influxql_holt_winters_seasonal",
    "kmv_sketch_merge",
    "cms_sketch_merge",
    "mixture_resample",
    "hybrid_search_rrf",
    "semantic_dedup_flags",
    "epoch_shuffle_manifest",
    "emb_hard_negatives",
    "winnow_profile",
    "winnow_overlap_pairs",
    "quantile_sketch_merge",
    "mm_audio_features",
    "value_decile_bins",
    "token_budget_select",
    "ivf_index_roundtrip",
    "winnow_incremental",
    "kmv_rolling_distinct",
    "maxsim_topk",
    "contrastive_triplets",
    "lang_confusion_matrix",
    "maxsim_topk_ann",
    "token_budget_by_source",
    "regex_token_stats",
    "quantile_rolling_series",
    "corpus_overview",
    "ivf_topk_kmeans",  # k-means|| quantizer + IVF search (r5 oracle)
    "mm_phash_dedup",  # media fingerprint via mapInPandas (r5 oracle)
    "pipeline_corpus_publish",  # gate→dedup→WAP publish composition (r5)
    "doc_compression_ratio",  # r8: zlib entropy quality filter
    "dedup_keep_longest",  # r8: quality-argmax canonical selection
    "lsh_candidate_pairs_strict",  # r9: band-precision dial, strict position
    "dedup_graph_triangles_verified",  # r9: triangle QA over verified edges
]


def main() -> int:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from syncflux_spark import queries as q
    from syncflux_spark.session import get_spark

    import argparse

    # --full: time EVERY registered query (best-of-2, cache cleared)
    # and write the per-query map to --out (default BENCH_FULL.json) —
    # regression visibility for the ~215 queries outside the headline
    # tail (r5 verdict item #6). The driver's per-round invocation
    # passes no args and keeps the headline set.
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--full", action="store_true")
    ap.add_argument("--out", default="BENCH_FULL.json")
    # isolation channel (r8 verdict): a full sweep runs ~289 queries
    # back-to-back, and any entry forced to a single sweep (the
    # "impl changed between sweeps → final sweep only" rule) is one
    # contended sample — r8's artifact recorded phantom 1.5-3x
    # regressions that an idle-machine re-run refuted. --only re-times
    # just the named queries in a fresh session; --merge-into patches
    # their entries (and the total) into an existing artifact so no
    # entry ships as a single contended sample.
    ap.add_argument(
        "--only",
        help="comma-separated query names: time only these (isolated)",
    )
    ap.add_argument(
        "--runs",
        type=int,
        default=2,
        help="timed runs per query, best-of (default 2; use 3+ with --only)",
    )
    ap.add_argument(
        "--merge-into",
        help="existing BENCH_FULL artifact to patch with these timings",
    )
    ns = ap.parse_args()
    full, out_path = ns.full, ns.out
    if ns.out != "BENCH_FULL.json" and not full:
        print("# --out has no effect without --full", file=sys.stderr)
    if ns.merge_into and not ns.only:
        ap.error("--merge-into requires --only")

    spark = get_spark("syncflux-bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = q.queries()
    if ns.only:
        names = [n.strip() for n in ns.only.split(",") if n.strip()]
        unknown = [n for n in names if n not in registry]
        if unknown:
            print(f"# unknown queries: {unknown}", file=sys.stderr)
            return 2
    else:
        names = list(registry) if full else HEADLINE
    # best-of-N in ALL modes: single-run full sweeps measured
    # order-dependent cold-start outliers of 10-25x (Python worker
    # pool re-forks, codegen) that would read as phantom regressions
    runs_per_query = max(1, ns.runs)

    # warmup: JVM + codegen + parquet footer caches
    registry["q6_revenue_forecast"](spark, SF_DIR).collect()
    # spin up the Arrow Python workers once (one per core): the first
    # mapInPandas query otherwise pays ~3-7s of worker forking that
    # is session startup cost, not query execution — measured 8.2s
    # cold vs 1.2s steady-state on mm_audio_features at sf0.1
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    for name in names:
        fn = registry[name]
        # best-of-2: the second run amortizes codegen/JIT compilation
        # and Python-worker-pool re-forks, which are per-query-shape
        # startup costs, not steady-state execution — the quantity
        # that scales to a cluster run
        best, n = float("inf"), 0
        for _ in range(runs_per_query):
            # cold cache each run: operators that persist intermediates
            # (LSH bands, shingle sets) must re-earn them — we measure
            # the query, not a leftover cache hit
            spark.catalog.clearCache()
            obs = Observation()
            t0 = time.monotonic()
            df = fn(spark, SF_DIR)
            # noop sink: the FULL plan executes (every projection paid,
            # unlike count(), which lets Catalyst prune them), nothing
            # is collected to the driver or written to disk; the
            # observation rides the same pass, so the row count costs
            # no extra execution
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                "noop"
            ).mode("overwrite").save()
            best = min(best, time.monotonic() - t0)
            n = obs.get["n"]
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]}s ({n} rows)", file=sys.stderr)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    if ns.merge_into:
        # patch the isolated timings into the existing artifact: the
        # sweep stays the record for untouched queries, the isolated
        # best-of replaces the single-sample entries, and the total is
        # recomputed from the merged map
        with open(ns.merge_into) as f:
            out = json.load(f)
        out["queries"].update(timings)
        out["value"] = round(sum(out["queries"].values()), 3)
        with open(ns.merge_into, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(
            f"# merged {len(timings)} isolated timings into {ns.merge_into}",
            file=sys.stderr,
        )
        print(json.dumps(out))
        spark.stop()
        return 0
    out = {
        "metric": "full_query_wall_sec" if full else "headline_query_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else SF_DIR,
    }
    if full:
        with open(out_path, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(f"# wrote {out_path}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
