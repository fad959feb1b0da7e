"""Sessionization — the engine's signature operator.

The reference assigns every changeover (CO) event to a session via a
row-loop over a globally sorted frame with a 4-clause gap/attribute
trigger rule (reference: App/etl/transform/mes_etl.py:68-129,
ref/RCO_MES_ETL.R:100-147). Here the same semantics are two window
passes over ``(partition, order)`` — lag to fetch the previous row's
attributes, a boolean trigger expression, a running sum of triggers as
the session number, then ``first(...)`` per session for the ID. All
stages stay inside whole-stage codegen; one shuffle on the partition
key, reused by every subsequent window over the same key.

Scale notes: partitioning is per-LINE (reference compares
``LINE == Previous_LINE`` explicitly over a global sort — per-LINE
window partitions make that guard implicit and the operator
horizontally scalable). A production line emits bounded events/day, so
per-partition data is bounded; if LINE cardinality ≪ cores, composite
partitioning ``(LINE, time-bucket)`` with session stitching applies —
``sessionize_stitched`` below, selectable in the production pipeline
via ``SiteParams(session_bucket='week')``.

Streaming variant: ``session_window`` cannot express the
attribute-dependent gap; see streaming/sessionize_stream.py for the
``applyInPandasWithState`` form.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def co_trigger_column(
    c1: str = "CAUSE_LEVELS_1_NAME",
    c2: str = "CAUSE_LEVELS_2_NAME",
    c3: str = "CAUSE_LEVELS_3_NAME",
) -> Column:
    """Cause concatenation used for same-cause comparison.

    Follows the R semantics (ref/RCO_MES_ETL.R:82-87): ``' - '``
    separators with NA→''. (The Python port concatenates raw,
    mes_etl.py:49 — separator choice only affects collision odds; the
    R form is strictly safer.)
    """
    return F.concat_ws(
        " - ", *(F.coalesce(F.col(c), F.lit("")) for c in (c1, c2, c3))
    )


def rco_session_trigger(
    gap_minutes: Column,
    same_line: Column,
    same_trigger_col: Column,
    same_brandcode: Column,
    p: Column | float,
    *,
    split_on_cause_change: bool = False,
    suppress_changeover_failure: Column | None = None,
) -> Column:
    """The 4-clause CO continuation rule → 1 if the row STARTS a new
    session, 0 if it continues the previous one.

    Continuation clauses (reference mes_etl.py:96-108 /
    ref/RCO_MES_ETL.R:112-124) — continue iff any of:

    1. gap < P            and same cause-trigger column and same LINE
    2. gap < P*4/3        and same cause-trigger column and same
                          BRANDCODE and same LINE
    3. gap < P            and same BRANDCODE and same LINE
    4. gap < P*2/3        and same LINE

    Clause 4 follows the documented R semantics ``P/3*2`` (R:111); the
    Python port's ``P*3/2`` (mes_etl.py:106) is a flagged divergence.

    ``split_on_cause_change`` (Split_COs_based_on_Cause_Model,
    mes_etl.py:114-115 / R:126-132) forces a split whenever the cause
    trigger column changes, i.e. clauses 3-4 only count when the cause
    matches too.

    ``suppress_changeover_failure``: optional extra continuation
    predicate (site 'Lima SUD', mes_etl.py:119-122 / R:134-139 —
    implemented with the R operator precedence; the Python port has a
    precedence bug we do not replicate).

    A NULL gap (first row in partition) always starts a session.
    """
    p = F.lit(p) if not isinstance(p, Column) else p
    cont = (
        (same_trigger_col & same_line & (gap_minutes < p))
        | (same_trigger_col & same_brandcode & same_line & (gap_minutes < p * 4 / 3))
    )
    if split_on_cause_change:
        cont = cont | (
            same_trigger_col
            & same_line
            & ((gap_minutes < p) & same_brandcode | (gap_minutes < p * 2 / 3))
        )
    else:
        cont = cont | (
            (same_brandcode & same_line & (gap_minutes < p))
            | (same_line & (gap_minutes < p * 2 / 3))
        )
    if suppress_changeover_failure is not None:
        cont = cont | suppress_changeover_failure
    return F.when(gap_minutes.isNull() | ~cont.eqNullSafe(F.lit(True)), 1).otherwise(0)


def sessionize(
    df: DataFrame,
    trigger: Column,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    session_col: str = "session_num",
    session_id: Column | None = None,
    session_id_col: str = "session_id",
) -> DataFrame:
    """Attach a session number (cumulative trigger sum) and optionally a
    stable session ID (first row's ``session_id`` expression,
    forward-filled — replaces the reference's ffill,
    mes_etl.py:126-129 / R fill(.direction='down') :141-147).

    ``df`` must already contain any lag columns the trigger needs.
    The output names (``session_col``, and ``session_id_col`` when a
    ``session_id`` expression is given) must NOT already exist on
    ``df`` — ``withColumn`` would silently replace the user's data.
    """
    from ..schemas import ensure_absent

    ensure_absent(
        df,
        [session_col] + ([session_id_col] if session_id is not None else []),
        "sessionize",
    )
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df.withColumn(session_col, F.sum(trigger).over(w))
    if session_id is not None:
        w_sess = (
            Window.partitionBy(*partition_by, session_col)
            .orderBy(*order_by)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        out = out.withColumn(session_id_col, F.first(session_id).over(w_sess))
    return out


def sessionize_stitched(
    df: DataFrame,
    trigger: Column,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    bucket: Column,
    prev_cols: dict[str, str],
    session_col: str = "session_num",
    session_id: Column | None = None,
    session_id_col: str = "session_id",
) -> DataFrame:
    """Composite-partition sessionization with boundary stitching —
    the 100 TB formulation of :func:`sessionize`.

    Plain sessionization partitions the window by ``partition_by``
    alone (e.g. LINE); when key cardinality ≪ cores, one hot key is
    one unsplittable task. Here the window partitions by
    ``(partition_by, bucket)`` — ``bucket`` must be monotone
    non-decreasing in ``order_by`` (e.g. ``date_trunc('week', ts)``)
    — so a hot key splits across time buckets, and the cross-boundary
    session merges are stitched back deterministically.

    ``prev_cols`` maps each previous-row column name the ``trigger``
    expression references (unresolved ``F.col`` names) to its source
    column; the trigger MUST evaluate to 1 when all prev columns are
    NULL (first row ever). Cost shape: ONE window pass over the full
    data (lag + pass-1 trigger + running sum in a single sort), then
    all boundary correction happens on two tiny frames (one row per
    non-empty (key, bucket)): the previous bucket's last row re-enters
    the SAME trigger expression to decide whether the first pass-1
    session of a bucket continues the previous bucket's last session,
    and a per-bucket offset/delta pair — broadcast back — converts
    pass-1 local session numbers into global ones:

        session = local_cumsum + delta(bucket) + offset(prior buckets)

    where delta is 0/-1 (first-row trigger corrected) and offset is
    the cumulative corrected session count of earlier buckets. Session
    numbering is identical to :func:`sessionize` (verified by oracle
    twin `co_sessionize_stitched` and property tests). The pass-1
    ``prev_*`` columns are dropped from the output (they are NULL at
    bucket boundaries, not the true previous row).

    The offsets frame has one row per non-empty (key, bucket), so it
    is tiny in the skewed-few-keys regime this operator targets and is
    always broadcast.
    """
    partition_by = list(partition_by)
    order_by = list(order_by)
    from ..schemas import ensure_absent

    ensure_absent(
        df,
        ["__bkt", "__rn_b", "__n_b", "__trig_p1", "__local_p1", "__delta",
         "__off", session_col]
        + ([session_id_col] if session_id is not None else [])
        + list(prev_cols),
        "sessionize_stitched",
    )
    base = df.withColumn("__bkt", bucket)
    wb = Window.partitionBy(*partition_by, "__bkt").orderBy(*order_by)
    for pname, src in prev_cols.items():
        base = base.withColumn(pname, F.lag(src).over(wb))
    base = (
        base.withColumn("__rn_b", F.row_number().over(wb))
        .withColumn("__n_b", F.count("*").over(Window.partitionBy(*partition_by, "__bkt")))
        .withColumn("__trig_p1", trigger)
        .withColumn(
            "__local_p1",
            F.sum("__trig_p1").over(wb.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    # barrier: the tiny boundary frames below re-read this stage; at
    # warehouse scale persist it to a table instead.
    base = base.localCheckpoint(eager=False)

    # One row per non-empty (key, bucket): its LAST row's attributes
    # (the boundary carrier) and its pass-1 session total.
    wp = Window.partitionBy(*partition_by).orderBy("__bkt")
    last = base.filter(F.col("__rn_b") == F.col("__n_b")).select(
        *partition_by,
        "__bkt",
        F.col("__local_p1").alias("__tot_p1"),
        *[F.col(src).alias(f"__last_{p}") for p, src in prev_cols.items()],
    )
    carry = last.select(
        *partition_by,
        "__bkt",
        *[F.lag(f"__last_{p}").over(wp).alias(p) for p in prev_cols],
    )
    # Re-evaluate the SAME trigger on each bucket's first row with the
    # previous bucket's last row as context: 1 = genuinely new session
    # (delta 0), 0 = continues across the boundary (delta -1).
    firsts = (
        base.filter(F.col("__rn_b") == 1)
        .drop(*prev_cols)
        .join(carry, [*partition_by, "__bkt"], "left")
        .select(*partition_by, "__bkt", (trigger - 1).alias("__delta"))
    )
    tots = last.select(*partition_by, "__bkt", "__tot_p1").join(
        firsts, [*partition_by, "__bkt"]
    )
    offs = tots.select(
        *partition_by,
        "__bkt",
        "__delta",
        F.coalesce(
            F.sum(F.col("__tot_p1") + F.col("__delta")).over(
                wp.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__off"),
    )
    out = base.join(F.broadcast(offs), [*partition_by, "__bkt"], "left").withColumn(
        session_col, (F.col("__local_p1") + F.col("__delta") + F.col("__off")).cast("long")
    )
    if session_id is not None:
        trig_corr = F.when(
            F.col("__rn_b") == 1, F.col("__trig_p1") + F.col("__delta")
        ).otherwise(F.col("__trig_p1"))
        starts = out.filter(trig_corr == 1).select(
            *partition_by,
            F.col(session_col),
            session_id.alias(session_id_col),
        )
        out = out.join(starts, [*partition_by, session_col], "left")
    return out.drop(
        "__bkt", "__rn_b", "__n_b", "__trig_p1", "__local_p1", "__delta", "__off",
        *prev_cols,
    )


def sessionize_simple_gap(
    df: DataFrame,
    ts_col: str,
    partition_by: Sequence[str],
    gap_minutes: float,
    order_by: Sequence[str] | None = None,
    session_col: str = "session_num",
) -> DataFrame:
    """Plain gap-only sessionization (the degenerate single-threshold
    case; streaming twin is ``F.session_window``)."""
    order_by = list(order_by or [ts_col])
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    prev_ts = F.lag(ts_col).over(w)
    gap_min = (F.col(ts_col).cast("double") - prev_ts.cast("double")) / 60.0
    trigger = F.when(prev_ts.isNull() | (gap_min >= gap_minutes), 1).otherwise(0)
    return sessionize(df, trigger, partition_by, order_by, session_col)
