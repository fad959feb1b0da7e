"""Skew-handling utilities (SURVEY §4 shuffle notes).

The RCO workload shuffles on LINE — a key with low cardinality and a
hot head (one busy production line can dominate a site). AQE's skew
handling splits oversized *join* partitions at runtime; these helpers
cover the cases AQE doesn't:

- ``salted_aggregate``: two-stage aggregation through a salted key.
  Stage 1 aggregates (key, salt) — spreading a hot key over N
  reducers — stage 2 merges the partials. Works for any algebraic
  aggregate (sum/count/min/max); the caller provides both stages.
- ``salted_broadcast_left``: replicate-the-small-side salt join for a
  skewed LEFT side against a dim too big to broadcast whole but small
  enough to replicate N ways.

Window functions canNOT be salted (they need total per-key order) —
for windows the lever is composite partitioning (LINE, time-bucket)
with boundary stitching; the sessionizer documents why it doesn't
need it at reference data rates.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Pin an explicit ``defaultParallelism``-way hash repartition ahead
    of a compute-dense projection (gram explosion, signature matmul,
    64-way bit votes).

    Two failure modes make this necessary rather than decorative:
    single-file inputs arrive as ONE scan partition (parquet can't
    split below a row group), and AQE's partition coalescing will
    shrink an un-numbered ``repartition(col)`` right back to one task
    when the *data* is small — even though the *compute* per row is
    the expensive part. Pinning ``defaultParallelism`` keeps the heavy
    expression on every core; at cluster scale the same hash
    partitioning is exactly what a downstream per-key groupBy reuses,
    so the exchange is never wasted.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if key_cols:
        return df.repartition(n, *[F.col(c) for c in key_cols])
    return df.repartition(n)


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: dict[str, Column],
    merge_aggs: dict[str, Column],
) -> DataFrame:
    """Two-stage salted aggregation over 16 salt buckets.

    ``partial_aggs``: name -> aggregate over the raw rows (stage 1,
    grouped by keys + salt). ``merge_aggs``: name -> aggregate over the
    stage-1 partials (same output names). Example::

        salted_aggregate(
            events, ["user_id"],
            partial_aggs={"total": F.sum("value"), "n": F.count("*")},
            merge_aggs={"total": F.sum("total"), "n": F.sum("n")},
        )
    """
    keys = list(keys)
    salted = df.withColumn(
        "__salt", (F.rand(seed=7) * 16).cast("int")
    )
    partial = salted.groupBy(*keys, "__salt").agg(
        *[c.alias(n) for n, c in partial_aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[c.alias(n) for n, c in merge_aggs.items()]
    )


def salted_broadcast_left(
    skewed: DataFrame,
    dim: DataFrame,
    on: Sequence[str],
    salt_buckets: int = 8,
    how: str = "left",
) -> DataFrame:
    """Join a skewed fact against a dim by salting the fact side and
    replicating the dim ``salt_buckets`` times — every hot key spreads
    over N shuffle partitions instead of one straggler.

    Use when the dim exceeds the broadcast threshold but N copies
    still shuffle cheaply. Column collisions beyond ``on`` must be
    pre-resolved."""
    on = list(on)
    fact = skewed.withColumn(
        "__salt", (F.rand(seed=7) * salt_buckets).cast("int")
    )
    dim_rep = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return fact.join(dim_rep, on + ["__salt"], how).drop("__salt")
