"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over the engine's harness-query catalog
(fhc_rco_etl_scalable_spark/plans/harness_queries.py): one entry per
implemented operator from SURVEY.md §2, each paired with a DuckDB
oracle twin.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fhc_rco_etl_scalable_spark.plans import harness_queries as hq


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: attribute-dependent gap sessionization + session agg
    (SURVEY §2.7) on /root/testdata/sf0.001."""
    return hq.q_co_sessionize(spark, "/root/testdata/sf0.001")


# The driver grades at most the first 50 registry entries per round, so the
# registry is re-ordered each round to maximize official certification
# coverage.  The order is DERIVED from the CORRECTNESS_r*.json history on
# disk (VERDICT r5 #8: no hand-maintained rotation list to rot):
#   1. entries with no green official row in any round (never graded, or
#      graded red and never since green) come first;
#   2. entries whose implementation changed this round (_RECERTIFY, the one
#      deliberate hand-maintained input) come next;
#   3. the rest follow, stalest certification first, so long-green entries
#      keep getting refreshed official rows over the rounds.
# Ties preserve catalog definition order; the whole ordering is a pure
# function of the JSON history + _RECERTIFY, so it never drifts from what
# the driver actually recorded.
_RECERTIFY = [
    # round 12 (ADVICE r11): asof_join now drops NULL-right_ts rows
    # (the temporal key can never match) — the right-side filter is a
    # REAL plan change in every direction (a NULL-ts row could donate
    # values wherever no genuine match preceded a left row), so all
    # four asof entries recertify.
    "asof_backward",
    "asof_forward",
    "asof_tolerance",
    "asof_nearest",
    # round 12 (ADVICE r11 medium): neighbor_agg_rounds' cross-round
    # multiply runs in DECIMAL(38,0) with an in-plan overflow raise;
    # values identical at harness scale, implementation changed.
    "neighbor_feature_agg_2round",
    # round 12 (ADVICE r11): kcore_converged's ORACLE changed — unroll
    # depth now derived from the Spark max_rounds (20) instead of the
    # probed 12.
    "kcore_converged",
    # round 12 (VERDICT r11 #6): the four sentinel-closed streaming
    # entries restage their sources (closure sentinel rides in the
    # last data batch; single zero-row applier) — output identical by
    # design, micro-batch structure changed.
    "streaming_unique_visitors",
    "streaming_unique_visitors_wm",
    "streaming_interval_join_outer",
    "streaming_interval_join_full",
]


def _green_history() -> dict[str, int]:
    """name -> latest round with a fully-green official row."""
    import glob
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    green: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"r(\d+)", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            ok = (
                row.get("rows_match")
                and row.get("schema_match")
                # hash_match may be absent for rows-only (no-oracle) checks
                and row.get("hash_match") is not False
                and row.get("err") is None
            )
            if ok:
                green[name] = max(green.get(name, 0), rnd)
    return green


def _rotation() -> list[str]:
    green = _green_history()
    recert = {n: i for i, n in enumerate(_RECERTIFY)}
    names = list(hq.QUERIES)
    order = {n: i for i, n in enumerate(names)}

    def key(n: str):
        if n not in green:
            return (0, 0, order[n])
        if n in recert:
            return (1, recert[n], 0)
        return (2, green[n], order[n])

    return sorted(names, key=key)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: hq.QUERIES[n] for n in _rotation()}


def oracle_sql() -> dict[str, str]:
    return {n: hq.ORACLES[n] for n in _rotation() if n in hq.ORACLES}
