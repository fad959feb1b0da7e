"""Scan-count audit: how many times does each catalog entry's plan
read the same parquet table?

The r13 lesson behind this tool: a derive-small-then-join-back pattern
quietly re-scans the big input once per derived consumer (Catalyst
pushes aggregates past rollups and breaks subtree reuse), and nothing
in the exchange-count audit catches it — `bigram_logprob_score` was
scanning the corpus 5x. At 100 TB, scans ARE the cost. This tool
builds every catalog entry's plan against a fixture dir and reports
per-table FileScan multiplicity, flagging entries above a threshold.

Multiplicity is not automatically a bug: model-building passes
(unigram + bigram = 2 train scans), self-joins on different column
subsets, and union-of-variants shapes legitimately re-read. The
output is a review queue, not a gate — pair each flag with an
.explain before changing anything (see the semantic_dedup revert:
the "fix" was 1.9x slower).

Usage: python tools/scan_audit.py [sf_dir] [threshold]
Prints one line per flagged entry + a JSON summary; exit 0 always
(review queue, not a gate).
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def table_scans(plan) -> dict[str, int]:
    """FileScan count per table of a JVM physical plan, subqueries
    included, keyed by the full root path(s) of each
    ``FileSourceScanExec``. The plan's string form abbreviates long
    locations (every scaffold table under one ``userF...``), so the
    key comes from the scan's relation instead. A reused exchange or
    subquery scans nothing again and is not descended into."""
    counts: Counter = Counter()
    stack = [plan]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "FileSourceScanExec":
            roots = node.relation().location().rootPaths()
            counts[",".join(roots.apply(i).toString() for i in range(roots.size()))] += 1
        elif kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        if kind in ("ReusedExchangeExec", "ReusedSubqueryExec"):
            continue
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return dict(counts)


# Review-queue adjudications (VERDICT r13 #6): every flagged entry's
# measured verdict, so the tool's output carries the evidence instead
# of pointing at PERFORMANCE.md prose. "wash"/"slower" = interleaved
# min-of-3 A/B of the checkpoint variant at sf0.1 (the interleaved A/B
# script tools/scanq_ab.py, since deleted; see git history. r14: bm25
# 0.98x, domain_mixture 1.01x, substring 1.10x, lttb 0.95x). No
# checkpoint variant won, so the operators carry none; git history
# keeps the variants for a cluster-scale re-measure.
ADJUDICATED: dict[str, str] = {
    "bm25_search": (
        "A/B wash (0.98x): tf-checkpoint saves 1 of 3 scans; corpus "
        "stats pass inherent; no checkpoint"
    ),
    "hybrid_rrf_search": (
        "inherent: composes bm25's postings+stats passes with the "
        "embedding pass; follows bm25_search"
    ),
    "domain_mixture": (
        "A/B wash (1.01x): duplicated subtree is a map-side count, "
        "below barrier break-even; no checkpoint"
    ),
    "substring_dedup": (
        "A/B slower (1.10x): gram table is corpus-token-scale, "
        "write-out beats the saved re-explode only off remote "
        "storage; no checkpoint"
    ),
    "lttb_downsample": (
        "A/B wash (0.95x, within noise): pts frame is full-data-"
        "sized; no checkpoint"
    ),
    "neighbor_feature_agg": (
        "A/B no win (r13: 0.67s vs 0.92s, high variance): sym "
        "consumed once, duplicated subtree is the 2-branch distinct"
    ),
    "mad_outliers": (
        "A/B no win (r13, reverted): duplicated subtree is the "
        "percentile re-agg, a cheap pipeline the barrier only splits"
    ),
    "semantic_dedup": (
        "A/B 1.9x SLOWER (r13, reverted): the cell checkpoint "
        "serializes the k-means + assignment pipeline; 5 embedding "
        "scans are the trained-model consumers, each column-pruned"
    ),
}


def main() -> int:
    from fhc_rco_etl_scalable_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    threshold = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    spark = get_spark("scan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod

    flagged: dict[str, dict[str, int]] = {}
    errors: dict[str, str] = {}
    for name, fn in entry_mod.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan()
        except Exception as e:  # plan build only; runtime errors differ
            errors[name] = str(e)[:200]
            continue
        counts = table_scans(plan)
        hot = {t: n for t, n in counts.items() if n >= threshold}
        if hot:
            flagged[name] = hot
            verdict = ADJUDICATED.get(name)
            tag = f"  [adjudicated: {verdict}]" if verdict else ""
            print(f"SCAN {name}: {hot}{tag}")
    unreviewed = sorted(set(flagged) - set(ADJUDICATED))
    print(
        json.dumps(
            {
                "metric": "scan_audit",
                "sf_dir": sf_dir,
                "threshold": threshold,
                "flagged": flagged,
                "adjudicated": {
                    k: v for k, v in ADJUDICATED.items() if k in flagged
                },
                "unreviewed": unreviewed,
                "errors": errors,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
