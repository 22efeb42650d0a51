"""Units of the metrics and the derivation of per-layer metrics from a
traced run's spans. The names and units come from ``BENCHMARK.json``;
``LAYERS.md`` says which end-to-end metric each should move, on which
workload.

Every traced run reports every per-layer metric; a layer a workload
does not reach reports 0 (the recorded "no move" prediction)."""

from __future__ import annotations

import json
import os

from common import BENCH_DIR, pct
from tracing import durations_ms, self_ms


def _catalogue() -> tuple[dict[str, str], tuple[str, ...]]:
    """(metric name -> unit, per-layer names in order), read from
    ``BENCHMARK.json`` at the root of the checkout: the one place the
    catalogue is written down."""
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return units, tuple(m["name"] for m in spec["per_layer"])


_UNITS, PER_LAYER = _catalogue()


def with_units(values: dict[str, float]) -> dict[str, tuple[float, str]]:
    return {k: (v, _UNITS[k]) for k, v in values.items()}


def per_layer(spans: list[dict], values: dict[str, float]) -> dict[str, tuple[float, str]]:
    """Every per-layer metric: the span-derived ones computed here, the
    workload-specific ones taken from ``values``, the rest 0."""
    out = {name: 0.0 for name in PER_LAYER}
    ranges = [s for s in spans if s["name"] == "copy.range"]
    if ranges:
        dur = durations_ms(spans, "copy.range")
        out["copy.range_calls"] = len(ranges)
        out["copy.range_p50_ms"] = pct(dur, 50)
        out["copy.range_p90_ms"] = pct(dur, 90)
        out["copy.range_busy_s"] = sum(dur) / 1e3
        out["copy.points_per_range"] = sum(
            s["attrs"].get("points", 0) for s in ranges
        ) / len(ranges)
        by_chunk: dict[str, list[float]] = {}
        for s in ranges:
            by_chunk.setdefault(s["attrs"]["win"], []).append(
                (s["end"] - s["start"]) * 1e3
            )
        out["copy.chunk_straggler_ms"] = pct(
            [max(v) - pct(v, 50) for v in by_chunk.values()], 50
        )
    out["agent.discover_ms"] = pct(durations_ms(spans, "agent.discover"), 50)
    out["parquet.scan_plan_ms"] = pct(durations_ms(spans, "parquet.scan_time_range"), 50)
    locks = durations_ms(spans, "locking.table_lock")
    out["locking.lock_wait_ms"] = sum(locks) / len(locks) if locks else 0.0
    rt = durations_ms(spans, "txtable.replace_tagged")
    out["txtable.commits"] = len(rt)
    out["txtable.replace_tagged_p50_ms"] = pct(rt, 50)
    out["txtable.replace_tagged_p90_ms"] = pct(rt, 90)
    out["replicate.run_available_p50_ms"] = pct(
        durations_ms(spans, "replicate.run_available"), 50
    )
    out["replicate.self_ms"] = pct(
        self_ms(spans, "replicate.run_available", ("txtable.replace_tagged",)), 50
    )
    recovery_ops = {s["op"] for s in spans if s["name"] == "monitor.recover"}
    out["monitor.tick_self_ms"] = pct(
        self_ms(
            [s for s in spans if s["op"] in recovery_ops],
            "monitor.check_once",
            ("monitor.recover",),
        ),
        50,
    )
    out["influxql.compile_p50_ms"] = pct(durations_ms(spans, "influxql.query"), 50)
    out["spark.collect_p50_ms"] = pct(durations_ms(spans, "spark.collect"), 50)
    out["webui.scan_p50_ms"] = pct(
        [(s["end"] - s["start"]) * 1e3 for s in spans
         if s["name"] == "webui.run_query" and s["attrs"].get("kind") == "scan"],
        50,
    )
    out["webui.agg_p50_ms"] = pct(
        [(s["end"] - s["start"]) * 1e3 for s in spans
         if s["name"] == "webui.run_query" and s["attrs"].get("kind") == "agg"],
        50,
    )
    out["line_protocol.write_p50_ms"] = pct(
        durations_ms(spans, "line_protocol.write"), 50
    )
    out["cli.build_server_ms"] = pct(durations_ms(spans, "cli.build_server"), 50)
    out["trace.spans"] = len(spans)
    out.update(values)
    return with_units(out)
