"""Aggregation operators A2-A9 (SURVEY §2.5) as reusable plan builders."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def runtime_per_day(downtime: DataFrame, server: str) -> DataFrame:
    """Per-(Date, LINE) runtime sum with the reference's cap at 1440
    minutes and first-day elimination (A3/F10/F11; reference
    data_from_mdc.py:237-249, ref/RCO_Maple_orchestrator.R:162-185).

    First-day elimination uses a per-LINE min — the reference's global
    ``Date > min(Date)`` assumes one extraction window per line; the
    per-line form is equivalent there and correct when lines backfill
    independently.

    Plan shape — the WINDOW form is deliberate (r13, measured): the
    tempting agg+broadcast alternative (min Date per LINE re-aggregated
    and broadcast-joined back) looks codegen-friendlier, but Catalyst
    pushes the min-aggregate down PAST the daily rollup on the
    broadcast branch, so the plan scans the fact table TWICE — at
    100 TB the second full scan dwarfs anything the window costs. The
    window's per-partition sort runs on the POST-AGGREGATE daily
    rollup (days x lines — dimension-sized), after the same single
    exchange the rollup needs anyway: one scan, one shuffle, one tiny
    sort.
    """
    daily = (
        downtime.na.drop(subset=["START_TIME"])
        .groupBy(F.to_date("START_TIME").alias("Date"), "LINE")
        .agg(F.sum("UPTIME").alias("Runtime"))
        .withColumn("Runtime", F.least(F.col("Runtime"), F.lit(1440.0)))
    )
    w = Window.partitionBy("LINE")
    daily = daily.withColumn("__min_date", F.min("Date").over(w)).filter(
        F.col("Date") > F.col("__min_date")
    ).drop("__min_date")
    return daily.withColumn("Server", F.lit(server))


def day_start_hours(
    df: DataFrame,
    key_cols: Sequence[str],
    hour_col: str,
    prefer: str = "min",
) -> DataFrame:
    """Majority-vote 'day start hour' detection (A4; reference
    data_from_mdc.py:251-262, ref/RCO_Maple_orchestrator.R:189-208):
    count occurrences per (key, hour), keep hours whose tally exceeds
    half the per-key max, then take min (or max — site 'Gebze HDW').
    """
    if prefer not in ("min", "max"):
        raise ValueError(prefer)
    key_cols = list(key_cols)
    counts = df.groupBy(*key_cols, hour_col).agg(F.count("*").alias("__tally"))
    w = Window.partitionBy(*key_cols)
    kept = counts.withColumn("__max_tally", F.max("__tally").over(w)).filter(
        F.col("__tally") > F.col("__max_tally") / 2
    )
    agg_fn = F.min(hour_col) if prefer == "min" else F.max(hour_col)
    return kept.groupBy(*key_cols).agg(agg_fn.alias("Day_Start_hours"))


def argmax_by_count(
    df: DataFrame,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
) -> DataFrame:
    """Most-frequent attribute combination per key (A5; reference
    brandcode metadata dedup, data_from_mdc.py:279-283): count per
    (key, attrs), keep the top row per key. Ties break on the attr
    values themselves (the reference's sort order is unstable —
    engine makes it deterministic)."""
    key_cols, attr_cols = list(key_cols), list(attr_cols)
    counts = df.groupBy(*key_cols, *attr_cols).agg(F.count("*").alias("__cnt"))
    w = Window.partitionBy(*key_cols).orderBy(
        F.col("__cnt").desc(), *[F.col(c).asc_nulls_last() for c in attr_cols]
    )
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__cnt")
    )


def max_positive_per_key(
    df: DataFrame, key_cols: Sequence[str], value_col: str
) -> DataFrame:
    """Max of positive values per key (A6; reference StatFactor
    derivation, data_from_mdc.py:284-286)."""
    return (
        df.filter(F.col(value_col) > 0)
        .groupBy(*list(key_cols))
        .agg(F.max(value_col).alias(value_col))
    )


def sliding_distinct(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    size_days: int,
    slide_days: int = 1,
) -> DataFrame:
    """Exact DISTINCT count over sliding event-time windows (e.g.
    trailing-7-day active users per day) — the rolling-uniques metric
    every analytics stack needs and Spark cannot express as a window
    function (there is no ``COUNT(DISTINCT) OVER``; collect_set over
    a RANGE frame re-materializes the set per row).

    The scalable shape is the hopping-window trick applied to
    DISTINCT: each row's day belongs to ``size/slide`` windows, so
    EXPLODE the membership (window_start = trunc_day(ts) - k*slide
    for k in 0..size/slide-1) and run one plain
    ``groupBy(window_start).agg(countDistinct(key))`` — a single
    key-partitioned aggregate with map-side partial dedup, fan-out
    bounded by size/slide (7 for a daily trailing week), nothing
    quadratic, no per-row set state. Windows are emitted for every
    start a row feeds, including the partial ones before the corpus
    begins — the transcribable rule (a SQL twin reproduces it
    exactly); trim by window_start if only complete windows matter.

    The explode input is PRE-DEDUPED at day granularity
    (``dropDuplicates([key, day])``): countDistinct collapses
    duplicates anyway, so the result is unchanged, but the fan-out
    drops from events*k to day-uniques*k — on 100-events/user/day
    telemetry that is a ~100x cut in exploded rows for the price of
    one narrow (key, day) exchange whose map-side partial dedup
    already collapses most of it.

    Returns (window_start DATE, window_end DATE, n_distinct).
    ALIGNMENT: a row labels the FORWARD window
    ``[window_start, window_end)`` with ``window_end = window_start +
    size_days`` (exclusive). Read as a trailing metric, the trailing
    window ENDING on day d is the row with ``window_start ==
    d - size_days + 1`` — consumers wanting "trailing uniques as of
    day d" should key on ``window_end - 1 day``, not window_start.
    """
    if size_days % slide_days:
        raise ValueError("size_days must be a multiple of slide_days")
    k = size_days // slide_days
    days = df.select(
        F.col(key_col),
        F.date_trunc("day", F.col(ts_col)).alias("__d"),
    ).dropDuplicates([key_col, "__d"])
    memb = days.select(
        key_col,
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__k"),
        F.col("__d"),
    ).select(
        key_col,
        (
            F.col("__d") - F.col("__k") * F.expr(f"INTERVAL {slide_days} DAYS")
        ).cast("date").alias("window_start"),
    )
    return (
        memb.groupBy("window_start")
        .agg(F.countDistinct(key_col).cast("long").alias("n_distinct"))
        .select(
            "window_start",
            F.date_add("window_start", size_days).alias("window_end"),
            "n_distinct",
        )
    )


def pivot_wide(
    df: DataFrame,
    group_cols: Sequence[str],
    cat_col: str,
    values: Sequence[str],
    value_col: str,
    agg: str = "sum",
    suffix: str = "",
) -> DataFrame:
    """ONE-shuffle pivot: reshape ``value_col`` wide by the EXPLICIT
    category list ``values`` via conditional aggregation —
    ``agg(CASE WHEN cat = v THEN value END) AS v`` per category — in
    a single ``groupBy(group_cols)``.

    Spark's ``groupBy().pivot(cat, values)`` plans as TWO
    aggregations (partial by (group, category), then PivotFirst by
    group): two key-partitioned Exchanges over the fact table. The
    conditional-sum rewrite is semantically identical for the
    explicit-list case every production pipeline is in (categories
    are known; ``pivot`` without a list even runs an extra distinct
    job just to discover them) and costs exactly ONE Exchange with
    full map-side partial aggregation — at 100x scale the saved
    exchange on the fact table is the whole cost. The engine keeps
    both forms: ``pivot`` when the API surface/pivotMaxValues
    behavior is wanted, ``pivot_wide`` on the hot path.

    ``agg`` ∈ sum | count | min | max | avg (the NULL-skipping
    aggregates, so rows of other categories — CASE's implicit NULL —
    simply don't contribute; COUNT counts matching rows). A category
    with no rows yields NULL for sum/min/max/avg (identical to the
    API ``pivot``) and 0 for count — standard SQL ``count(CASE...)``
    semantics; NOTE the API ``pivot(...).agg(count(v))`` returns NULL
    there instead (PivotFirst has no partial to lift), the one
    deliberate divergence. Column naming: ``f"{v}{suffix}"`` per
    category value (values must be distinct and string-renderable).

    Aggregate exact types (e.g. DECIMAL per the money convention) by
    casting ``value_col`` BEFORE calling; the operator adds no casts
    of its own.
    """
    if agg not in _PIVOT_AGGS:
        raise ValueError(f"unsupported agg {agg!r}")
    vals = list(values)
    if not vals:
        # fail here, not in GroupedData.agg's opaque assertion
        raise ValueError("pivot values must be non-empty")
    if len(set(vals)) != len(vals):
        raise ValueError("pivot values must be distinct")
    if any(v is None for v in vals):
        # CASE WHEN cat = NULL never matches (SQL equality), so a None
        # category would emit a silently all-NULL column — while the
        # API pivot's PivotFirst DOES bucket NULL categories. Refuse
        # the ambiguity; pre-coalesce the category column instead.
        raise ValueError("pivot values must not contain None; coalesce the category column first")
    fn = _PIVOT_AGGS[agg]
    # distinct values can still render to colliding COLUMN names
    # (e.g. 1 vs "1", or a name landing on a group column) — fail
    # here, not at the caller's next select's AMBIGUOUS_REFERENCE.
    out_names = [f"{v}{suffix}" for v in vals]
    _check_pivot_names(out_names, group_cols)
    cells = [
        fn(F.when(F.col(cat_col) == F.lit(v), F.col(value_col))).alias(name)
        for v, name in zip(vals, out_names)
    ]
    return df.groupBy(*list(group_cols)).agg(*cells)


def _check_pivot_names(
    out_names: Sequence[str], group_cols: Sequence[str]
) -> None:
    dup = sorted({n for n in out_names if out_names.count(n) > 1})
    if dup:
        raise ValueError(f"pivot output column names collide: {dup}")
    clash = sorted(set(out_names) & set(group_cols))
    if clash:
        raise ValueError(
            f"pivot output column names collide with group_cols: {clash}"
        )


_PIVOT_AGGS = {
    "sum": F.sum,
    "count": F.count,
    "min": F.min,
    "max": F.max,
    "avg": F.avg,
}


def pivot_wide_multi(
    df: DataFrame,
    group_cols: Sequence[str],
    cat_col: str,
    values: Sequence[str],
    measures: Sequence[tuple[str, str, str]],
) -> DataFrame:
    """:func:`pivot_wide` for SEVERAL measures at once — the
    ``pivot(cat, values).agg(sum(a), max(b), ...)`` surface in a
    single one-Exchange ``groupBy``.

    ``measures`` is a sequence of ``(out_name, agg, value_col)``;
    output columns are ``f"{v}_{out_name}"`` per category value in
    ``values`` x ``measures`` order (matching the API pivot's
    value-major column order). Composing :func:`pivot_wide` per
    measure and joining would pay one shuffle PER measure plus the
    join; this emits every conditional cell in the same aggregate, so
    the fact table is read and shuffled exactly once however many
    measures ride along. Same semantics notes as :func:`pivot_wide`
    (NULL-skipping aggregates; count of an empty category is 0, SQL
    style).
    """
    vals = list(values)
    ms = list(measures)
    if not vals:
        raise ValueError("pivot values must be non-empty")
    if len(set(vals)) != len(vals):
        raise ValueError("pivot values must be distinct")
    if any(v is None for v in vals):
        # CASE WHEN cat = NULL never matches (SQL equality), so a None
        # category would emit a silently all-NULL column — while the
        # API pivot's PivotFirst DOES bucket NULL categories. Refuse
        # the ambiguity; pre-coalesce the category column instead.
        raise ValueError("pivot values must not contain None; coalesce the category column first")
    if not ms:
        raise ValueError("measures must be non-empty")
    names = [m[0] for m in ms]
    if len(set(names)) != len(names):
        raise ValueError("measure out_names must be distinct")
    for _, agg, _vc in ms:
        if agg not in _PIVOT_AGGS:
            raise ValueError(f"unsupported agg {agg!r}")
    # values and out_names are each distinct, but the JOINED
    # f"{v}_{name}" can still collide across (value, measure) pairs
    # when values contain underscores (values ["a","a_b"] with
    # measures ["b_c","c"] both emit "a_b_c") — fail fast instead of
    # emitting duplicate columns that only break at the caller's
    # next select.
    out_names = [f"{v}_{name}" for v in vals for name, _a, _vc in ms]
    _check_pivot_names(out_names, group_cols)
    cells = [
        _PIVOT_AGGS[agg](
            F.when(F.col(cat_col) == F.lit(v), F.col(vc))
        ).alias(f"{v}_{name}")
        for v in vals
        for name, agg, vc in ms
    ]
    return df.groupBy(*list(group_cols)).agg(*cells)
