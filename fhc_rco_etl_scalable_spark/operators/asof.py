"""As-of (temporal nearest) joins — J5/J6 in SURVEY.md §2.4.

The reference resolves the product (brandcode) before/after each
changeover with a per-row Python loop over interval-filtered frames
(reference: App/etl/transform/mes_etl.py:191-217,
ref/RCO_MES_ETL.R:207-226). Two scalable Spark formulations:

1. ``asof_join`` — the union/ffill trick: tag both sides, union on the
   partition keys, one window pass carries the most recent right-side
   value onto each left row. ONE shuffle on the keys, no range join,
   no skew blowup: the right formulation when both sides are large
   (this is how production as-of pipelines over 100 TB tick).

2. ``asof_join_range`` — range join + row_number for asymmetric
   bounds (lower AND upper): matches the reference's "within the
   previous-CO .. CO window" semantics exactly. The anchor side
   (changeovers) is orders of magnitude smaller than the event log,
   so Catalyst/AQE broadcast it; the range predicate prunes the rest.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    direction: str = "backward",
    strict: bool = False,
    tie_break: Sequence[str] = (),
    tolerance: str | None = None,
) -> DataFrame:
    """Attach to each ``left`` row the ``value_cols`` of the nearest
    ``right`` row (per ``on`` keys) at or before/after its timestamp.

    ``direction``: 'backward' = latest right with right_ts <= left_ts
    ('<' if strict); 'forward' = earliest right with right_ts >=
    left_ts ('>' if strict); 'nearest' = whichever of the backward
    and forward candidates has the smaller ABSOLUTE timestamp
    distance, equal distances resolving to the BACKWARD candidate
    (the complete pandas ``merge_asof`` direction set; ``strict``
    excludes exact-timestamp matches from both sides). Ties on
    timestamp resolve to the LAST right row in ``(ts, *tie_break)``
    order for backward, the FIRST for forward (deterministic given a
    unique tie_break); 'nearest' inherits each side's rule.

    ``tolerance`` (optional, an INTERVAL string like ``'1 hour'``;
    timestamp columns only): pandas ``merge_asof``-style bound — a
    match further than the tolerance from the left timestamp is
    discarded (all value_cols NULL), exactly as if no right row
    existed. Applied to the PICKED row post-window, so it adds zero
    shuffles: the matched right timestamp rides inside the same
    struct as the values and the bound is one projection.

    Implementation: union-tag + windowed last/first(ignorenulls) —
    one shuffle, linear scan per partition, whole-stage codegen. All
    ``value_cols`` ride in ONE struct so the nearest right row wins
    atomically: a genuinely-NULL field of that row stays NULL instead
    of an older row's value leaking through, and multiple value
    columns can never be picked from different right rows.
    'nearest' runs BOTH directional scans over the SAME partitioning
    (one Exchange, two in-partition Sorts) and resolves the winner in
    a projection — still zero extra shuffles over the one-directional
    plan.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(direction)
    on = list(on)
    value_cols = list(value_cols)
    tie_break = list(tie_break)
    clash = [c for c in value_cols if c in left.columns]
    if clash:
        # duplicate output names would analyze fine here but throw
        # AMBIGUOUS_REFERENCE at the caller's next select — fail fast
        raise ValueError(
            f"value_cols {clash} already exist in left; alias them first"
        )
    missing_tb = [c for c in tie_break if c not in right.columns]
    if missing_tb:
        raise ValueError(f"tie_break columns not in right: {missing_tb}")

    from pyspark.sql import types as T

    # SQL join semantics: a NULL join key matches nothing — and a NULL
    # temporal key can never be "at or before/after" anything. The
    # window formulation would otherwise group NULL-key rows together
    # (partitionBy treats NULLs as equal) and let a NULL-key right row
    # donate values — diverging from asof_join_range and the reference.
    # The right_ts guard matters doubly for 'nearest': a NULL-ts right
    # row sorts FIRST in the backward scan, its __rts makes both gap
    # comparisons NULL, and the `.otherwise(backward)` arm would
    # silently return it — values leaking from a timestamp-less row.
    null_key = F.col(right_ts).isNull()
    for k in on:
        null_key = null_key | F.col(k).isNull()
    right = right.filter(~null_key)

    # the matched right timestamp rides with the values so the
    # tolerance bound / nearest-distance compare applies atomically
    # to the picked row.
    need_rts = tolerance is not None or direction == "nearest"
    fields = [T.StructField(c, right.schema[c].dataType) for c in value_cols]
    if need_rts:
        fields.append(T.StructField("__rts", right.schema[right_ts].dataType))
    v_struct_type = T.StructType(fields)
    left_keep = [c for c in left.columns]
    # Left rows carry NULL markers; right rows carry only keys+values.
    l_tag = left.select(
        *[F.col(c) for c in left_keep],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast(v_struct_type).alias("__v"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__tb_{c}") for c in tie_break],
    )
    r_tag = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_keep if c not in on],
        *[F.col(c) for c in on],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.struct(
            *[F.col(c) for c in value_cols],
            *([F.col(right_ts).alias("__rts")] if need_rts else []),
        ).alias("__v"),
        *[F.col(c).alias(f"__tb_{c}") for c in tie_break],
    ).select(*l_tag.columns)

    unioned = l_tag.unionByName(r_tag)

    # Tie ordering: backward non-strict wants right rows BEFORE the left
    # row at equal ts (so they're visible); strict wants them AFTER.
    # backward non-strict / forward strict: right row sorts before an
    # equal-ts left row so the left row can(not) see it as appropriate.
    #
    # BOTH directions use the GROWING frame (unboundedPreceding, 0) +
    # last(ignorenulls): Spark executes it as an O(n) incremental scan,
    # while (0, unboundedFollowing) + first re-evaluates the remaining
    # rows per row — O(n²) per partition, a hung stage on a hot key at
    # scale. Forward is expressed as backward over the REVERSED sort
    # (every key inverted), which selects the identical row.
    def _frame(backward: bool):
        right_first = backward != strict

        def _dir(c: Column, asc: bool) -> Column:
            return c.asc() if asc == backward else c.desc()

        order = [_dir(F.col("__ts"), True)]
        order.append(_dir(F.col("__is_left"), right_first))
        order += [_dir(F.col(f"__tb_{c}"), True) for c in tie_break]
        w = Window.partitionBy(*on).orderBy(*order)
        return w.rowsBetween(Window.unboundedPreceding, 0)

    tol = F.expr(f"INTERVAL {tolerance}") if tolerance is not None else None

    def _gap(pick: Column, backward: bool) -> Column:
        return (
            F.col("__ts") - pick.getField("__rts")
            if backward
            else pick.getField("__rts") - F.col("__ts")
        )

    if direction == "nearest":
        # Both directional scans share the partitioning: ONE Exchange,
        # two in-partition Sorts (the second order is the first fully
        # reversed), winner resolved in a projection.
        pb = F.last("__v", ignorenulls=True).over(_frame(True))
        pf = F.last("__v", ignorenulls=True).over(_frame(False))
        out = (
            unioned.withColumn("__pb", pb)
            .withColumn("__pf", pf)
            .filter(F.col("__is_left") == 1)
        )
        if tol is not None:
            out = out.withColumn(
                "__pb", F.when(_gap(F.col("__pb"), True) <= tol, F.col("__pb"))
            ).withColumn(
                "__pf", F.when(_gap(F.col("__pf"), False) <= tol, F.col("__pf"))
            )
        out = out.withColumn(
            "__pick",
            F.when(F.col("__pb").isNull(), F.col("__pf"))
            .when(F.col("__pf").isNull(), F.col("__pb"))
            .when(
                _gap(F.col("__pf"), False) < _gap(F.col("__pb"), True),
                F.col("__pf"),
            )
            .otherwise(F.col("__pb")),  # equal distance -> backward
        )
    else:
        backward = direction == "backward"
        pick = F.last("__v", ignorenulls=True).over(_frame(backward))
        out = unioned.withColumn("__pick", pick).filter(F.col("__is_left") == 1)
        if tol is not None:
            out = out.withColumn(
                "__pick",
                F.when(_gap(F.col("__pick"), backward) <= tol, F.col("__pick")),
            )
    return out.select(
        *[F.col(c) for c in left_keep],
        *[F.col("__pick").getField(c).alias(c) for c in value_cols],
    )


def asof_join_range(
    anchors: DataFrame,
    events: DataFrame,
    on: Sequence[str],
    lower: Column,
    upper: Column,
    event_ts: str,
    pick: str = "last",
    order_cols: Sequence[Column] = (),
    prefer: Column | None = None,
    lower_open: bool = True,
    upper_open: bool = False,
    extra: Column | None = None,
) -> DataFrame:
    """Range-bounded as-of: for each anchor row, the first/last event
    with ``lower < event_ts <= upper`` (reference J5 semantics,
    mes_etl.py:198-207: brandcode between previous CO end and CO
    start, preferring rows whose uptime started before the CO).

    ``anchors`` must carry a unique ``__anchor_id`` column (caller
    provides); returns anchors' columns + events' columns for the
    picked row (event columns prefixed ``ev_``).

    ``prefer``: optional boolean Column over event columns — preferred
    rows sort first (reference's two-tier pick). Catalyst executes the
    equi-join on ``on`` + range filter; with a small anchor side AQE
    broadcasts it.
    """
    if pick not in ("first", "last"):
        raise ValueError(f"pick must be 'first' or 'last' (got {pick!r})")
    # Alias-prefix EVERY event column (keys included): anchors and
    # events often share lineage (both derive from the same event log),
    # and unprefixed key columns would carry identical attribute IDs
    # into the join condition (self-join ambiguity).
    ev = events.select(
        F.col(event_ts).alias("__ev_ts"),
        *[F.col(c).alias(f"ev_{c}") for c in events.columns],
    )
    cond = None
    for k in on:
        c = anchors[k] == F.col(f"ev_{k}")
        cond = c if cond is None else (cond & c)
    lo = (F.col("__ev_ts") > lower) if lower_open else (F.col("__ev_ts") >= lower)
    hi = (F.col("__ev_ts") < upper) if upper_open else (F.col("__ev_ts") <= upper)
    cond = cond & lo & hi
    if extra is not None:
        # Extra predicate over anchor columns and ``ev_``-prefixed
        # event columns (e.g. the forward-brandcode 'differs from
        # current' condition, reference mes_etl.py:209-217).
        cond = cond & extra
    joined = anchors.join(ev, cond, "left")

    desc = pick == "last"
    order = []
    if prefer is not None:
        order.append(prefer.desc())
    order.append(F.col("__ev_ts").desc() if desc else F.col("__ev_ts").asc())
    order += [c.desc() if desc else c.asc() for c in order_cols]
    w = Window.partitionBy("__anchor_id").orderBy(*order)
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__ev_ts", *[f"ev_{k}" for k in on])
    )


def pit_lookup(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    fact_ts: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    value_cols: Sequence[str] | None = None,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Effective-dated (SCD2) point-in-time dimension lookup: attach to
    each fact the dim VERSION whose ``[valid_from, valid_to)`` validity
    interval contains the fact's timestamp (``valid_to`` NULL = the
    open/current version) — the read-side companion of
    ``sinks/incremental.py::merge_scd2``'s write side, and the standard
    "what did the dimension say when this fact happened" join every
    warehouse replay needs.

    An SCD2 chain is disjoint-per-key by construction, so at most one
    version matches: the LEFT join preserves fact cardinality exactly
    (facts before a key's first version, or for unknown keys, carry
    NULL attributes). Dim columns come back ``dim_``-prefixed; pass
    ``value_cols`` to project a subset.

    Scale shape: the dim side is dimension-sized (versions-per-key is
    small), so it BROADCASTS (default) and the fact side never
    shuffles — the validity-range predicate rides the broadcast hash
    join on ``key`` as a residual filter. Set ``broadcast_dim=False``
    when the chain genuinely outgrows ``autoBroadcastJoinThreshold``/
    executor memory: the fallback is NOT a shuffled range join (whose
    non-equi residual would explode on hot keys) but :func:`asof_join`
    on ``valid_from`` — ONE exchange on ``key``, a single in-partition
    window scan carries the latest version starting at or before each
    fact, and the ``valid_to`` bound is a projection on the picked
    values. Identical output on any chain
    :func:`validate_scd2_chain` certifies sound (on a BROKEN chain
    with overlapping versions the broadcast path duplicates facts
    while the fallback picks one version — run the validator, that is
    what it is for). The fallback requires facts' and dim's ``key``
    to be the same data type (union semantics, no implicit coercion).
    """
    cols = value_cols if value_cols is not None else [
        c for c in dim.columns if c != key
    ]
    if broadcast_dim:
        d = F.broadcast(
            dim.select(
                F.col(key).alias("__dk"),
                F.col(valid_from).alias("__vf"),
                F.col(valid_to).alias("__vt"),
                *[F.col(c).alias(f"dim_{c}") for c in cols],
            )
        )
        cond = (
            (facts[key] == d["__dk"])
            & (d["__vf"] <= facts[fact_ts])
            & (d["__vt"].isNull() | (facts[fact_ts] < d["__vt"]))
        )
        return facts.join(d, cond, "left").drop("__dk", "__vf", "__vt")

    # The fallback is asof_join on valid_from with valid_to riding
    # among the values. asof_join stages its working columns and the
    # dim_<c> outputs ON the facts frame (the broadcast path only
    # decorates the dim side), so a facts frame already carrying one
    # of those names would analyze into duplicate/ambiguous columns or
    # a silently wrong pick. Fail fast, mirroring asof_join's
    # value_cols guard.
    out_cols = [f"dim_{c}" for c in cols]
    tie = ["__open", "__vt"]
    reserved = {"__ts", "__is_left", "__v", "__pick", "__vt"}
    reserved |= {f"__tb_{c}" for c in tie}
    clash = sorted(set(facts.columns) & (reserved | set(out_cols)))
    if clash:
        raise ValueError(
            f"pit_lookup fallback: facts columns {clash} collide with "
            "working/output names (__ts/__is_left/__v/__pick/__vt/"
            "__tb_*/dim_<c>); alias them first"
        )
    # Among equal valid_from versions (already a broken chain) the
    # open one wins, otherwise the latest valid_to: the backward scan
    # keeps the LAST version in (valid_from, valid_to IS NULL,
    # valid_to) order.
    versions = dim.select(
        F.col(key),
        F.col(valid_from).alias("__vf"),
        F.col(valid_to).alias("__vt"),
        F.col(valid_to).isNull().alias("__open"),
        *[F.col(c).alias(o) for c, o in zip(cols, out_cols)],
    )
    picked = asof_join(
        facts, versions, [key], fact_ts, "__vf", ["__vt", *out_cols],
        tie_break=tie,
    )
    # the picked version starts <= fact_ts by construction; it must
    # also still be open at fact_ts (valid_to NULL or > fact_ts) —
    # a fact in a chain GAP gets NULL attributes, like the join path.
    open_at = F.col("__vt").isNull() | (F.col(fact_ts) < F.col("__vt"))
    return picked.select(
        *facts.columns, *[F.when(open_at, F.col(o)).alias(o) for o in out_cols]
    )


def validate_scd2_chain(
    dim: DataFrame,
    key: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """SCD2 chain integrity check — the cheap guard that makes
    :func:`pit_lookup`'s "at most one version matches" contract
    verifiable instead of assumed: returns one row per violation,
    empty == sound. Violations detected per key (one window pass over
    the dimension-sized chain, trivially cheap next to any fact join):

    - ``empty_interval``: valid_to <= valid_from;
    - ``overlap``: a version starts before the latest end among ALL
      its predecessors (ordered by valid_from) — the case that
      silently DUPLICATES facts in a point-in-time join. The compare
      runs against a RUNNING ``max(valid_to)`` (not just the
      immediate predecessor's end), so a long version spanning
      several successors flags EVERY overlapped successor, one row
      per violating version;
    - ``multiple_open``: more than one NULL-valid_to (current) version.

    Run it after every merge in pipelines that cannot tolerate fact
    duplication; it is a read-only probe, not a fix.
    """
    w = Window.partitionBy(key).orderBy(
        F.col(valid_from).asc(), F.col(valid_to).asc_nulls_last()
    )
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    flagged = dim.select(
        F.col(key).alias("key"),
        F.col(valid_from).alias("valid_from"),
        F.col(valid_to).alias("valid_to"),
        # running stats over ALL predecessors: max ignores NULL ends,
        # so open predecessors are counted separately (an open
        # predecessor overlaps everything after it by definition).
        F.max(valid_to).over(w_prev).alias("__max_prev_to"),
        F.coalesce(
            F.sum(F.col(valid_to).isNull().cast("long")).over(w_prev),
            F.lit(0),
        ).alias("__n_open_prev"),
        F.sum(F.col(valid_to).isNull().cast("long"))
        .over(Window.partitionBy(key))
        .alias("__n_open"),
    ).withColumn(
        "violation",
        F.when(
            F.col("valid_to").isNotNull()
            & (F.col("valid_to") <= F.col("valid_from")),
            F.lit("empty_interval"),
        )
        .when(F.col("__n_open_prev") > 0, F.lit("overlap"))
        .when(F.col("valid_from") < F.col("__max_prev_to"), F.lit("overlap"))
        .when(F.col("__n_open") > 1, F.lit("multiple_open")),
    )
    return flagged.filter(F.col("violation").isNotNull()).select(
        "key", "valid_from", "valid_to", "violation"
    )
