#!/usr/bin/env python
"""Regenerate PLANS.md: the executed physical plans of representative
catalog queries, formatted, with scan/exchange/join summaries — the
evidence that each operator compiles to the plan its docstring claims.

Usage: PYTHONPATH=/root/repo python scripts/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import re
import sys

from log_formatter_spark import contract, get_spark

SHOWCASE = [
    ("pipeline_counts_jvm", "flagship DAG, jvm parse engine"),
    ("pipeline_counts", "flagship DAG, arrow parse engine"),
    ("dedup_minhash", "MinHash-LSH banded candidate pairs"),
    ("dedup_simhash_pairs", "pigeonhole-blocked SimHash pairs"),
    ("asof_last_click", "as-of join (union+window, no join node)"),
    ("corpus_filter", "single-pass composite corpus cleaner"),
    ("doc_winnow", "winnowing fingerprint selection"),
    ("source_quota_sample", "per-source quality quota (WindowGroupLimit)"),
    ("conv_dedup", "conversation dedup (two map-side-combined exchanges)"),
    ("decontaminate", "eval-set decontamination (broadcast eval shingles)"),
    ("incremental_dedup", "new-batch-vs-corpus dedup (key-index join, batch-side window)"),
    ("classifier_margin", "hashed linear classifier (zero-exchange fold)"),
    ("dsir_contrast", "DSIR importance contrast (two broadcast prob tables)"),
    ("incremental_neardup", "verify-inline band probe (ONE join, signatures ride)"),
    ("neardup_indexed", "ingest probe of the persisted band index"),
    ("source_overlap", "cross-source containment over banded MinHash pairs"),
    ("source_drift", "exact-integer TV drift (window-attached corpus total)"),
    ("exact_substring_spans", "positional-shingle diagonal runs (Lee et al. regime)"),
    ("classifier_train_step", "one logreg gradient step (256-key aggregate)"),
    ("dup_families", "multi-signal families (SHARED candidate set, star exact tier)"),
    ("strip_boilerplate", "cross-doc span stripping (hot-start-only coverage explode)"),
    ("strip_repetition", "within-doc repetition stripping (doc-local window)"),
    ("curation_funnel", "six cumulative stages, exchange-reused prefixes"),
    ("classifier_eval", "threshold sweep (eval-slice explode, 9-key aggregate)"),
    ("countmin_hitters", "Count-Min counters broadcast into the probe"),
    ("event_funnel", "ordered conversion funnel (ONE user-key exchange)"),
    ("cohort_retention", "retention triangle (collect_set weeks, map-only explode)"),
    ("tool_transitions", "tool-handoff Markov chain (one conv exchange, windowed shares)"),
    ("sink_agg_merge", "maintained sink aggregates (state + delta merge, no raw-row exchange)"),
    ("key_skew_report", "hot-key diagnosis (salted counts, TakeOrdered, union+window totals)"),
    ("term_pmi", "PMI collocations (join-free marginals, N-free top-k)"),
    ("error_streaks", "gaps-and-islands error runs (filter below the conv exchange)"),
    ("quantile_sample_error", "sampled quantiles + rank error (one shared sort)"),
    ("conv_curation", "composed curation pass (ONE assembly exchange, reused 3 ways)"),
    ("compact_regenerations", "LWW ingest compaction (order-free max-struct, one key exchange)"),
    ("mixture_temperature", "temperature mixture draw (literal quotas, WindowGroupLimit)"),
    ("hll_distinct_users", "HyperLogLog registers (two streaming aggs, no distinct pass)"),
    ("ngram_novelty", "n-gram novelty vs reference (int64 gram join, no probe distinct)"),
    ("stitch_fragments", "fragment stitching (boundary equi-join, count-window guard)"),
    ("containment_pairs", "doc-in-doc containment (inverted-index blocking, hot-shingle guard)"),
    ("containment_probe", "bipartite ingest containment gate (stateless below pair aggregate)"),
    ("rater_agreement", "Cohen's kappa label QA (one narrow bool exchange)"),
    ("token_budget_fill", "water-filling budget allocation (|sources|-row windows)"),
    ("quality_calibration", "per-source percentile calibration (narrow projection sort)"),
    ("cluster_split", "leakage-safe cluster split (CC labels + map-only bucket attach)"),
    ("prefix_share", "shared-prefix depth (one conv assembly, broadcast depth attach)"),
    ("line_dedup", "CCNet line dedup (min-struct winner agg + one hash probe join)"),
    ("gopher_rules", "Gopher quality-rule audit (map-only, zero exchanges)"),
]


def summarize(plan: str) -> str:
    counts = {
        "hash exchanges": plan.count("Exchange hashpartitioning"),
        "broadcast joins": plan.count("BroadcastHashJoin"),
        "sort-merge joins": plan.count("SortMergeJoin"),
        "cartesian products": plan.count("CartesianProduct"),
        "arrow python evals": plan.count("ArrowEvalPython"),
        "row-python evals": plan.count("BatchEvalPython"),
    }
    return ", ".join(f"{v} {k}" for k, v in counts.items() if v) or "map-only"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("dump-plans", cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = contract.queries()
    out = [
        "# PLANS — executed physical plans of representative queries",
        "",
        f"Generated by `scripts/dump_plans.py` over `{sf_dir}`. Each plan is",
        "the AQE-final executed plan; the one-line summary counts the nodes",
        "that matter at 100 TB (exchanges, join strategies, python evals).",
        "Plan-shape regression tests pin the load-bearing properties",
        "(tests/test_plans.py, tests/test_catalog_plans.py).",
        "",
    ]
    for name, blurb in SHOWCASE:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # compress: drop output column lists and long literal arrays
        lines = []
        for line in plan.splitlines():
            line = re.sub(r"\[([-0-9.E]+,\s*){4,}[-0-9.E]+\]", "[…vector literal…]", line)
            if len(line) > 160:
                line = line[:157] + "…"
            lines.append(line)
        out += [
            f"## {name} — {blurb}",
            "",
            f"**Summary:** {summarize(plan)}",
            "",
            "```",
            *lines[:60],
            *(["… (truncated)"] if len(lines) > 60 else []),
            "```",
            "",
        ]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(out)} lines)")
    spark.stop()


if __name__ == "__main__":
    main()


