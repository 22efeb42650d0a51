#!/usr/bin/env python3
"""Generate OPERATORS.md: the full registry index — every oracle-gated
query, its gate kind, and the first sentence of its docstring, grouped
by family. Run after adding queries:

    python tools/gen_operators_md.py > OPERATORS.md

``--check`` verifies the committed file instead (documented count ==
len(REGISTRY) and every registered name present) and exits non-zero on
staleness — the r10 verdict's "regenerated one commit too early" class
becomes a CI failure (tests/test_catalog.py runs it)."""

from __future__ import annotations

import re
from collections import OrderedDict


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    m = re.search(r"(.+?[.!?])(\s|$)", text)
    return (m.group(1) if m else text)[:220]


FAMILIES = [
    ("Reference parity: time-series scan/copy/catalog (`ts_*`)", r"^ts_"),
    ("InfluxQL dialect (`influxql_*`, `cq_*`, `lp_*`)", r"^(influxql_|cq_|lp_)"),
    ("Relational (TPC-H-shaped `q1`-`q22`, rollups)", r"^(q\d|revenue_|supplier_|top_customers|orders_|cumulative_|bucketed_|partitioned_|zorder_|customer_rfm)"),
    ("Deduplication (`dedup_*`, LSH/containment/winnow/simhash/minhash)", r"^(dedup_|lsh_|minhash|simhash|containment|ngram_|word_jaccard|sorted_neighborhood|duplicate_|substring_|entity_match|winnow_)"),
    ("Similarity search / ANN (`knn_*`, `ivf_*`, `pq_*`, `emb_*`, maxsim)", r"^(knn_|ivf_|pq_|emb_|maxsim_|semantic_|hybrid_)"),
    ("Text analysis & quality (`doc_*`, `token_*`, quality gates)", r"^(doc_|token_|vocab_|bigram_|pmi_|lang_|lm_|bm25|passage_|repetition|quality_|gopher_|c4_|pii_|corpus_|regex_token)"),
    ("Tokenization (`bpe_*`)", r"^bpe_"),
    ("Sampling / splits / mixing / budgets", r"^(mixture_|epoch_|leakage_|source_quota|training_shard|benchmark_contamination|contrastive_)"),
    ("Sketches (KMV/CMS/Bloom/HLL/quantile)", r"^(kmv_|cms_|bloom_|hll_|quantile_|global_value|value_decile|key_skew|drift_|table_profile)"),
    ("Events analytics (funnels, sessions, cohorts)", r"^(funnel_|cohort_|session_|sliding_|outage_|event_|conversion_|users_|top_users)"),
    ("Streaming (`stream_*`)", r"^stream_"),
    ("Multimodal (`mm_*`)", r"^mm_"),
    ("Interchange formats (CSV/JSON/ORC)", r"^(csv_|json_|orc_)"),
]


def check(path: str) -> list[str]:
    """Staleness probe against a committed OPERATORS.md: returns the
    problems found (empty == fresh). Cheap by design — no Spark
    session, just the registry import and a text scan."""
    import os
    import sys

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from syncflux_spark import queries as q

    problems: list[str] = []
    if not os.path.exists(path):
        return [f"{path} missing — run tools/gen_operators_md.py"]
    with open(path) as f:
        text = f.read()
    m = re.search(r"^(\d+) registered queries", text, re.M)
    if not m:
        problems.append("no 'N registered queries' header found")
    elif int(m.group(1)) != len(q.REGISTRY):
        problems.append(
            f"documented count {m.group(1)} != registry {len(q.REGISTRY)}"
        )
    documented = set(re.findall(r"^\| `([a-z0-9_]+)` \|", text, re.M))
    missing = sorted(set(q.REGISTRY) - documented)
    stale = sorted(documented - set(q.REGISTRY))
    if missing:
        problems.append(f"registered but undocumented: {missing}")
    if stale:
        problems.append(f"documented but unregistered: {stale}")
    return problems


def main() -> int:
    import os
    import sys

    if "--check" in sys.argv[1:]:
        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "OPERATORS.md",
        )
        problems = check(path)
        for p in problems:
            print(f"STALE: {p}", file=sys.stderr)
        return 1 if problems else 0

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from syncflux_spark import queries as q

    grouped: OrderedDict[str, list] = OrderedDict((t, []) for t, _ in FAMILIES)
    grouped["Other"] = []
    for name in sorted(q.REGISTRY):
        entry = q.REGISTRY[name]
        fn = entry.spark
        gate = "oracle" if entry.sql else "rows-only"
        desc = first_sentence(fn.__doc__)
        for title, pat in FAMILIES:
            if re.search(pat, name):
                grouped[title].append((name, gate, desc))
                break
        else:
            grouped["Other"].append((name, gate, desc))

    total = sum(len(v) for v in grouped.values())
    oracled = sum(
        1 for v in grouped.values() for (_, g, _) in v if g == "oracle"
    )
    print("# OPERATORS — the registered query surface")
    print()
    rest = (
        "every one with a full DuckDB value-hash oracle"
        if oracled == total
        else f"{oracled} with full DuckDB value-hash oracles, the rest"
        " rows-only with documented local gates"
    )
    print(
        f"{total} registered queries ({rest})."
        " Auto-generated by `tools/gen_operators_md.py` from"
        " `syncflux_spark/queries.py` — regenerate after adding entries."
    )
    for title, rows in grouped.items():
        if not rows:
            continue
        print(f"\n## {title} ({len(rows)})\n")
        print("| query | gate | what it computes |")
        print("|---|---|---|")
        for name, gate, desc in rows:
            print(f"| `{name}` | {gate} | {desc} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
