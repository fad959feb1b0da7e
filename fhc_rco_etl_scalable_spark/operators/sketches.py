"""Mergeable cardinality sketches (Apache DataSketches HLL, built into
Spark 3.5+) — the approximate-distinct path a 100 TB pipeline takes
when the exact formulations (``countDistinct``, the catalog's
``sliding_distinct`` membership explode) stop fitting the latency or
state budget.

Why sketches, concretely, at scale:

* **Mergeable partial aggregates.** An HLL sketch is a fixed-size
  (``2^lg_k`` buckets) register array merged by per-bucket MAX — a
  commutative, associative, IDEMPOTENT reduce, so Spark computes it
  map-side, shuffles kilobytes per group instead of the key set, and
  re-aggregation across dimensions (daily -> weekly -> all-time;
  per-site -> fleet) is a union of stored sketches, never a re-scan of
  raw data. That last property is the one exact distinct counts simply
  do not have: you cannot add two daily exact uniques.
* **Deterministic.** Bucket updates are max-merges of a keyed hash, so
  the sketch BYTES are identical under any partitioning or order
  (asserted in tests/test_extensions.py) — re-runs reproduce, and the
  partition-invariance matrix applies.
* **Bounded error.** Relative standard error ~= 1.04 / sqrt(2^lg_k)
  (~0.8% at the lg_k=14 that ``distinct_sketch`` builds), at 2^lg_k
  bytes per group.

These helpers are deliberately NOT harness-oracle entries: the sketch
bytes and estimator are engine-specific (DuckDB's approx_count_distinct
is a different HLL), so no cross-engine hash exists — the EXACT
distinct entries (``exact_dedup``, ``sliding_distinct_users``,
``streaming_unique_visitors``) are the graded twins, and the tests
here pin the sketch path to them within the documented error bound.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def distinct_sketch(
    df: DataFrame,
    key: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-group HLL sketch (lg_k=14) of ``key``'s distinct values:
    returns ``(*group_cols, sketch binary, n_distinct_est long)``. Keep the
    sketch column in stored rollups — it is the mergeable state; the
    estimate column is a convenience projection of it."""
    groups = list(group_cols)
    out = df.groupBy(*groups).agg(
        F.hll_sketch_agg(key, F.lit(14)).alias("sketch")
    )
    return out.withColumn(
        "n_distinct_est", F.hll_sketch_estimate(F.col("sketch")).cast("long")
    )


def merge_sketches(
    df: DataFrame,
    group_cols: Sequence[str] = (),
    sketch_col: str = "sketch",
) -> DataFrame:
    """Roll stored sketches up to coarser groups (or one global row):
    union is per-bucket MAX, so merging per-day sketches gives exactly
    the sketch of the union'd key set — re-aggregation without
    re-scanning raw data. Returns the same (groups, sketch, estimate)
    shape as :func:`distinct_sketch`."""
    groups = list(group_cols)
    out = df.groupBy(*groups).agg(
        F.hll_union_agg(F.col(sketch_col)).alias("sketch")
    )
    return out.withColumn(
        "n_distinct_est", F.hll_sketch_estimate(F.col("sketch")).cast("long")
    )

