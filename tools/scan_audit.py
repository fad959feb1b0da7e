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
import re
import sys
from collections import Counter

sys.path.insert(0, "/root/repo")


def table_scans(plan: str) -> dict[str, int]:
    scans = re.findall(
        r"FileScan \w+ \[[^\]]*\].*?file:([^\]\s,]+)", plan
    )
    return dict(Counter(p.rsplit("/", 1)[-1] for p in scans))


# Review-queue adjudications (VERDICT r13 #6): every flagged entry's
# measured verdict, so the tool's output carries the evidence instead
# of pointing at PERFORMANCE.md prose. "wash"/"slower" = interleaved
# min-of-3 A/B of the checkpoint variant at sf0.1 (the interleaved A/B
# script tools/scanq_ab.py, since deleted; see git history. r14: bm25
# 0.98x, domain_mixture 1.01x, substring 1.10x, lttb 0.95x);
# each operator keeps a materialize_* knob for cluster scale, where
# the saved corpus scan dominates the barrier cost.
ADJUDICATED: dict[str, str] = {
    "bm25_search": (
        "A/B wash (0.98x): tf-checkpoint saves 1 of 3 scans; corpus "
        "stats pass inherent; knob bm25_topk(materialize_tf=True)"
    ),
    "hybrid_rrf_search": (
        "inherent: composes bm25's postings+stats passes with the "
        "embedding pass; improves iff bm25's knob is on"
    ),
    "domain_mixture": (
        "A/B wash (1.01x): duplicated subtree is a map-side count, "
        "below barrier break-even; knob materialize_counts=True"
    ),
    "substring_dedup": (
        "A/B slower (1.10x): gram table is corpus-token-scale, "
        "write-out beats the saved re-explode only off remote "
        "storage; knob materialize_grams=True"
    ),
    "lttb_downsample": (
        "A/B wash (0.95x, within noise): pts frame is full-data-"
        "sized; knob materialize_pts=True"
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
            plan = df._jdf.queryExecution().executedPlan().toString()
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
