"""Time-series gap-fill: dense bucket grids with LOCF / linear
interpolation (the hypertable ``time_bucket_gapfill`` pattern).

The reference's per-day KPI tables assume a dense day grid per LINE —
days with no MDC rows simply vanish from ``Runtime_Hours_Day``
(reference data_from_mdc.py:237-249), and the downstream R plots
paper over the holes. This operator makes the grid explicit: every
bucket between a key's first and last observation exists in the
output, with the fill policy (NULL / last-observation-carried-forward
/ linear interpolation) a declared column rather than a plotting
accident.

Scale shape (100 TB): the aggregate shuffles once on
``(key, bucket)``; the per-key grid derives from a ``(key)``-keyed
min/max aggregate of the SAME pre-aggregated (tiny) frame, and
``sequence()`` + ``explode`` generates buckets JVM-side with no
driver materialization. Grid size is bounded by
``keys x (span / bucket)`` — independent of raw row count. Both fill
policies are single ordered window passes per key. No Python in the
plan.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def time_bucket(ts: Column | str, bucket_seconds: int) -> Column:
    """Truncate a timestamp to a fixed-width bucket (epoch-aligned).

    Integer epoch arithmetic — exact parity with DuckDB's
    ``time_bucket(INTERVAL, ts)`` for widths that divide a day.
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    us = F.unix_micros(c)
    width = F.lit(int(bucket_seconds) * 1_000_000).cast("long")
    return F.timestamp_micros((us - ((us % width) + width) % width))


def gapfill(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    bucket_seconds: int,
    agg: Column,
    value_name: str = "v",
) -> DataFrame:
    """Aggregate ``agg`` per (keys, bucket), densify each key's bucket
    range, and attach ``<v>_locf`` and ``<v>_interp`` fill columns.

    Output columns: ``keys..., bucket, <v>`` (NULL on gap rows),
    ``<v>_locf`` (last non-null carried forward; NULL before the first
    observation — impossible here since grids start at each key's
    first observed bucket), ``<v>_interp`` (linear interpolation
    between the surrounding observations; equals ``<v>`` on observed
    rows and ``<v>_locf`` after the last observation).

    Interpolation arithmetic is pure IEEE-double on identical inputs
    (bucket epoch seconds + the already-rounded aggregate), so an
    oracle computing the same formula hashes identically.
    """
    keys = list(keys)
    bucket = time_bucket(ts_col, bucket_seconds)
    aggd = (
        df.na.drop(subset=[ts_col])
        .groupBy(*keys, bucket.alias("bucket"))
        .agg(agg.alias(value_name))
    )
    step = F.expr(f"INTERVAL {int(bucket_seconds)} SECOND")
    grid = (
        aggd.groupBy(*keys)
        .agg(F.min("bucket").alias("__mn"), F.max("bucket").alias("__mx"))
        .select(
            *keys,
            F.explode(F.sequence(F.col("__mn"), F.col("__mx"), step)).alias("bucket"),
        )
    )
    dense = grid.join(aggd, on=[*keys, "bucket"], how="left")

    v = F.col(value_name)
    t = F.unix_seconds(F.col("bucket")).cast("double")
    w_back = (
        Window.partitionBy(*keys).orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy(*keys).orderBy("bucket").rowsBetween(0, Window.unboundedFollowing)
    )
    prev_v = F.last(v, ignorenulls=True).over(w_back)
    prev_t = F.last(F.when(v.isNotNull(), t), ignorenulls=True).over(w_back)
    next_v = F.first(v, ignorenulls=True).over(w_fwd)
    next_t = F.first(F.when(v.isNotNull(), t), ignorenulls=True).over(w_fwd)
    interp = F.when(v.isNotNull(), v).otherwise(
        F.when(
            next_v.isNotNull() & prev_v.isNotNull(),
            prev_v + (next_v - prev_v) * (t - prev_t) / (next_t - prev_t),
        ).otherwise(prev_v)
    )
    return dense.select(
        *keys,
        "bucket",
        v.alias(value_name),
        prev_v.alias(f"{value_name}_locf"),
        interp.alias(f"{value_name}_interp"),
    )


def lttb_downsample(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    id_col: str,
    n_out: int,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013)
    per key series, bucket-parallel variant.

    The published recurrence anchors each bucket's triangle on the
    previously SELECTED point — a sequential dependency that cannot
    distribute. This variant anchors on both NEIGHBOR BUCKET AVERAGES
    (the standard parallel/streaming approximation), which keeps the
    property that matters for rendering: the widest-swing point in
    each bucket survives. First and last points of each series are
    always kept, as in the original.

    Buckets are equal-count by row position (``(rn * n_out) DIV n`` —
    exact integer arithmetic, no float bucket boundaries). All
    arithmetic is deterministic double over identical operands, so an
    oracle transcription hashes bit-for-bit; ties on triangle area
    break on ``id_col``.

    Shape: one (keys) exchange for the row numbering; the bucket
    averages are one aggregate over that same partitioning; the
    anchor attach is a broadcast-sized join back (k rows per key).
    """
    keys = list(keys)
    pts = df.select(
        *keys,
        F.unix_micros(F.col(ts_col)).alias("__t"),
        F.col(value_col).cast("double").alias("__v"),
        F.col(id_col).alias("__id"),
    )
    w = Window.partitionBy(*keys).orderBy("__t", "__id")
    pts = pts.withColumn("__rn", F.row_number().over(w) - F.lit(1)).withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy(*keys))
    )
    # BIGINT bucket arithmetic (row_number yields int32; int multiply
    # would wrap at ~1.8e8 rows/key) and DECIMAL(38) time sums (epoch
    # micros ~1.7e15 overflow an int64 sum at ~5,400 rows per bucket —
    # a trivial series length at scale; DuckDB's HUGEINT sum is exact,
    # so a wrapped Spark sum would also diverge from the oracle).
    pts = pts.withColumn(
        "bucket", F.expr(f"CAST(__rn AS BIGINT) * {int(n_out)} DIV __n")
    )

    avgs = pts.groupBy(*keys, "bucket").agg(
        (
            F.sum(F.col("__t").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__at"),
        (
            F.sum(F.col("__v").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__av"),
    )
    wb = Window.partitionBy(*keys).orderBy("bucket")
    anchors = avgs.select(
        *keys,
        "bucket",
        F.lag("__at").over(wb).alias("__pt"),
        F.lag("__av").over(wb).alias("__pv"),
        F.lead("__at").over(wb).alias("__nt"),
        F.lead("__av").over(wb).alias("__nv"),
    )
    cand = pts.join(anchors, on=[*keys, "bucket"])
    area = F.abs(
        (F.col("__pt") - F.col("__nt")) * (F.col("__v") - F.col("__pv"))
        - (F.col("__pt") - F.col("__t")) * (F.col("__nv") - F.col("__pv"))
    )
    is_endpoint = (F.col("__rn") == 0) | (F.col("__rn") == F.col("__n") - 1)
    interior = (
        cand.filter(
            (F.col("bucket") > 0)
            & (F.col("bucket") < F.lit(int(n_out) - 1))
            & ~is_endpoint
        )
        .withColumn("__area", area)
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy(*keys, "bucket").orderBy(
                    F.col("__area").desc(), "__id"
                )
            ),
        )
        .filter(F.col("__rk") == 1)
    )
    # First/last point of every series kept unconditionally (positional,
    # not bucket-indexed: a series shorter than n_out never reaches
    # bucket n_out-1).
    endpoints = cand.filter(is_endpoint)
    out_cols = [*keys, "bucket", "__t", "__v"]
    sel = interior.select(*out_cols).unionByName(endpoints.select(*out_cols))
    return sel.select(
        *keys,
        "bucket",
        F.timestamp_micros(F.col("__t")).alias(ts_col),
        F.col("__v").alias(value_col),
    )


def _ewma_fold(
    xs: Iterable[float], alpha: float, y: float | None = None
) -> list[float]:
    """The EWMA recurrence ``y = x if y is None else alpha*x +
    (1-alpha)*y`` folded over ``xs`` in order, continuing from the
    carried ``y``. The one body behind :func:`ewma` and the streaming
    fold (``streaming/ewma_stream.py``): the same float ops in the
    same order, so stream == batch bit-for-bit."""
    out = []
    for x in xs:
        y = x if y is None else alpha * x + (1.0 - alpha) * y
        out.append(y)
    return out


def ewma(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    id_col: str,
    alpha: float,
) -> DataFrame:
    """General-alpha EWMA via an Arrow ``applyInPandas`` fold — the
    honest shape for a sequential recurrence Spark's expression
    algebra cannot express (parallel across keys; sequential within a
    key, which is inherent to the operator, not an implementation
    shortcut). Skewed single-key series are the caveat at scale."""
    keys = list(keys)
    # Output schema mirrors the input key/id/ts types exactly.
    fields = []
    for k in keys:
        fields.append(f"`{k}` {df.schema[k].dataType.simpleString()}")
    fields.append(f"`{id_col}` {df.schema[id_col].dataType.simpleString()}")
    fields.append(f"`{ts_col}` {df.schema[ts_col].dataType.simpleString()}")
    fields.append("ewma double")
    out_schema = ", ".join(fields)

    def fold(pdf):
        import pandas as pd

        pdf = pdf.sort_values(["__t", id_col], kind="mergesort")
        return pd.DataFrame(
            {
                **{k: pdf[k] for k in keys},
                id_col: pdf[id_col],
                ts_col: pdf[ts_col],
                "ewma": _ewma_fold(pdf["__x"], alpha),
            }
        )

    pts = df.select(
        *keys,
        F.col(id_col),
        F.col(ts_col),
        F.unix_micros(F.col(ts_col)).alias("__t"),
        F.col(value_col).cast("double").alias("__x"),
    )
    return pts.groupBy(*keys).applyInPandas(fold, out_schema)
