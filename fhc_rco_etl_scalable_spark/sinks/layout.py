"""Physical-layout sinks: the write-path optimizations that buy back
shuffles and scan bytes at 100 TB.

- ``write_bucketed`` / ``bucketed_join_ready``: hash-bucketed +
  sorted-in-bucket tables (``DataFrameWriter.bucketBy``). Two tables
  bucketed the same way on the join key join with NO exchange and NO
  sort — the shuffle is paid once at write time and amortized over
  every subsequent join/aggregation on that key. This is the
  "co-located join" lever for fact-fact joins too big to broadcast
  (e.g. orders x lineitem on orderkey every night).
- ``write_range_sorted``: range-partition + sort-within-partition
  parquet export. Each output file covers a disjoint key range and is
  internally sorted, so parquet row-group min/max statistics prune
  scans for ANY downstream reader filtering on the sort key (Spark,
  DuckDB, Trino alike), and range scans touch O(files-in-range), not
  O(all files).

Bucketed tables require the session catalog (``saveAsTable``); plain
``.parquet(path)`` writes cannot carry bucket metadata.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist ``df`` as a hash-bucketed, optionally sorted managed
    table, overwriting any existing one. ``n_buckets`` should match (a
    divisor of) the downstream shuffle partition count so
    bucket-to-partition mapping is 1:1."""
    bucket_cols = list(bucket_cols)
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def bucketed_join_ready(spark: SparkSession, left: str, right: str) -> tuple[DataFrame, DataFrame]:
    """Read two bucketed tables for a co-located join. Callers join the
    returned frames on the bucket key; the physical plan must contain
    no Exchange (asserted in tests/test_layout.py)."""
    return spark.table(left), spark.table(right)


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    n_files: int = 32,
) -> None:
    """Range-partition on ``sort_cols`` into ``n_files`` output files,
    each internally sorted — the clustered-export layout whose parquet
    min/max stats make downstream predicate pushdown actually skip IO.

    ``repartitionByRange`` samples the key distribution, so files are
    balanced even under key skew (unlike fixed-width manual ranges)."""
    sort_cols = list(sort_cols)
    (
        df.repartitionByRange(n_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def _zorder_surrogate(df: DataFrame, c: str):
    """Monotone numeric surrogate for a clustering column, so quantile
    breakpoints can be computed with ``approxQuantile`` (numeric-only).
    Strings/binary map through their first-8-byte big-endian magnitude —
    monotone w.r.t. byte-lexicographic order on the prefix, which is all
    a rank BUCKET needs."""
    from pyspark.sql.types import (
        BinaryType,
        BooleanType,
        DateType,
        NumericType,
        StringType,
        TimestampType,
    )

    dt = df.schema[c].dataType
    col = F.col(c)
    if isinstance(dt, NumericType):
        return col.cast("double")
    if isinstance(dt, TimestampType):
        return col.cast("double")
    if isinstance(dt, DateType):
        return col.cast("timestamp").cast("double")
    if isinstance(dt, BooleanType):
        return col.cast("int").cast("double")
    if isinstance(dt, (StringType, BinaryType)):
        prefix_hex = F.rpad(F.hex(F.substring(col.cast("binary"), 1, 8)), 16, "0")
        return F.conv(prefix_hex, 16, 10).cast("double")
    raise TypeError(f"z-order column {c!r} has unsupported type {dt}")


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int = 32,
    bits_per_col: int = 10,
) -> None:
    """Z-order (Morton-curve) clustered export: interleave the bits of
    each column's rank bucket into one clustering key, then range-
    partition + sort on it. Each output file then covers a SMALL range
    of EVERY clustering column — parquet min/max stats prune scans for
    filters on any of them, where a plain sort only prunes its leading
    column.

    Rank buckets come from ``approxQuantile`` breakpoints (one
    Greenwald-Khanna sketch pass, mergeable map-side partials, the
    driver holds only ~2^bits breakpoints per column) followed by a
    JVM-side binary-search ``Bucketizer`` — fully distributed, no
    global sort, no shuffle before the final range partition.  Skewed
    columns still spread over the full 2^bits range because the
    breakpoints ARE the value-distribution quantiles.

    The z-value itself is built natively (shift/OR folds — no UDF)."""
    zdf = zorder_key(df, cols, bits_per_col=bits_per_col)
    (
        zdf.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    bits_per_col: int = 10,
    relative_error: float | None = None,
    exact_ranks: bool = False,
) -> DataFrame:
    """``df`` plus the interleaved Morton key as ``__z`` (the
    distributed-bucketing core of :func:`write_zordered`, exposed so
    tests can assert the plan shape — no global-sort Window in the
    default path).

    ``relative_error`` overrides the ``approxQuantile`` error
    (default ``max(1e-4, 0.25 / 2^bits)``). ``exact_ranks=True`` swaps
    in the exact ``percent_rank`` bucketing — an UNPARTITIONED window,
    i.e. a global single-task sort per clustering column. It exists
    ONLY as the exactness oracle for tests at toy scale; never use it
    on real data (VERDICT r5 #4)."""
    cols = list(cols)
    # one 64-bit z-value: shiftleft wraps its amount mod 64, so bits
    # past position 62 would silently collide across columns
    if bits_per_col * len(cols) > 62:
        import warnings

        clamped = 62 // len(cols)
        if clamped < 1:
            raise ValueError(f"too many z-order columns ({len(cols)}) for one long")
        warnings.warn(
            f"write_zordered: {len(cols)} cols x {bits_per_col} bits > 62; "
            f"clamping to {clamped} bits/col (coarser clustering)",
            stacklevel=2,
        )
        bits_per_col = clamped
    n_buckets = 1 << bits_per_col

    if exact_ranks:
        from pyspark.sql import Window

        zdf = df
        for c in cols:
            # nulls last so the exactness oracle agrees with the
            # default path, where Bucketizer's handleInvalid="keep"
            # bucket clamps null/NaN rows into the TOP bucket
            r = F.percent_rank().over(Window.orderBy(F.col(c).asc_nulls_last()))
            bucket = F.least((r * n_buckets).cast("long"), F.lit(n_buckets - 1))
            zdf = zdf.withColumn(f"__b_{c}", bucket)
    else:
        from pyspark.ml.feature import Bucketizer

        surr = df.select(
            *df.columns, *[_zorder_surrogate(df, c).alias(f"__s_{c}") for c in cols]
        )
        rel_err = relative_error if relative_error is not None else max(
            1e-4, 0.25 / n_buckets
        )
        probs = [i / n_buckets for i in range(1, n_buckets)]
        all_bps = surr.approxQuantile([f"__s_{c}" for c in cols], probs, rel_err)
        splits_arr = []
        for bps in all_bps:
            inner = sorted(set(bps))  # Bucketizer needs strictly increasing
            splits_arr.append([float("-inf"), *inner, float("inf")])
        bucketizer = Bucketizer(
            inputCols=[f"__s_{c}" for c in cols],
            outputCols=[f"__bk_{c}" for c in cols],
            splitsArray=splits_arr,
            handleInvalid="keep",  # nulls/NaN -> one extra top bucket
        )
        zdf = bucketizer.transform(surr)
        for c in cols:
            zdf = zdf.withColumn(
                f"__b_{c}",
                F.least(F.col(f"__bk_{c}").cast("long"), F.lit(n_buckets - 1)),
            ).drop(f"__s_{c}", f"__bk_{c}")

    # interleave: output bit (i * n_cols + j) = bit i of column j's bucket
    z = F.lit(0).cast("long")
    for i in range(bits_per_col):
        for j, c in enumerate(cols):
            bit = F.shiftrightunsigned(F.col(f"__b_{c}"), i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * len(cols) + j))
    return zdf.withColumn("__z", z).drop(*[f"__b_{c}" for c in cols])
