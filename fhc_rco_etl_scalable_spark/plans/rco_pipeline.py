"""The RCO analytical core: changeover detection → sessionization →
aggregation → brandcode resolution → event log (+ first-stop analysis).

Re-expression of the reference's ``mes_etl_main`` + ``first_stop_analysis``
(App/etl/transform/mes_etl.py:23-289, first_stop.py:4-100;
R lineage ref/RCO_MES_ETL.R, ref/RCO_subETL_First_Stop_after_CO.R) as a
single lazy DataFrame DAG. All reference row-loops are windows/joins:

- trigger/session loop      → lag + cumulative-sum windows (§2.7)
- as-of brandcode loops     → range joins + row_number (J5/J6)
- cumulative uptime loop    → running-sum windows (W4)

Shuffle budget per site: one exchange on LINE feeds every window; the
as-of joins broadcast the (small) changeover side against the (large)
event log.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import minutes_between, scrub_text, ts_plus_minutes
from ..operators.asof import asof_join_range
from ..operators.extract import _one_stop_per_line_start
from ..operators.sessionize import (
    co_trigger_column,
    rco_session_trigger,
    sessionize,
    sessionize_stitched,
)


from ..session import fast_planning


@dataclass
class SiteParams:
    """Per-site knobs (reference site_config, App/rco_main.py:95-106)."""

    server: str = "TEST"
    bu: str | None = "FHC"  # Script_Data BU (overall_etl.py:214)
    co_trigger_parameter: float = 30.0  # P, minutes
    co_predicate: str = "CAUSE_LEVELS_2_NAME LIKE '%Changeover%'"  # querySL
    split_cos_based_on_cause_model: bool = False
    run_multi_constraint_analysis: bool = False
    # The two references compose multi-constraint differently (see
    # aggregate_changeovers): True = Python-port composition (dedup AND
    # divide CO_DOWNTIME by per-CO distinct machines, mes_etl.py:225-230);
    # False = R composition (dedup only, RCO_Maple_orchestrator.R:54-60).
    multi_constraint_divide_by_machines: bool = True
    run_first_stop_analysis: bool = True
    # Lima SUD rule (mes_etl.py:119-122, R:134-139): suppress the split
    # when the cause mentions 'Changeover Failure' within this gap.
    changeover_failure_suppression_gap_min: float | None = None
    # Engine follows the documented R semantics for clause 4 (P*2/3).
    boundary_pad_minutes: float = 60.0  # synthetic line-edge CO windows
    first_stop_last_co_horizon_days: float = 30.0
    # Sessionization partitioning. None (default) = plain per-LINE
    # windows — right when LINE cardinality >= cores and no line
    # dominates. A date_trunc unit ('week', 'month', 'day', ...) routes
    # detect_changeovers through the composite-partition stitched form
    # (operators/sessionize.sessionize_stitched): windows partition by
    # (LINE, time-bucket) so one hot line splits across buckets — the
    # 100 TB / skewed-line configuration. Session numbering and IDs are
    # identical either way (oracle twin co_aggregated_harness_stitched).
    session_bucket: str | None = None
    # Cause categories for the wide Daily_Cause_Summary output (VERDICT
    # r13 #2). None = the site doesn't emit it; a tuple turns it on and
    # fixes the column set (explicit list = explicit omission, same
    # contract as pivot_wide). Tuple, not list: SiteParams is shared
    # across threads by run_all_sites.
    cause_summary_categories: tuple[str, ...] | None = None
    # F6 (reference data_from_mdc.py:183): production events are
    # filtered to LineStatus == 'In Production' before brandcode master
    # derivation, so PR-Out stretches never vote in the A5 argmax / A6
    # StatFactor max. Applied by site_etl when the production frame
    # carries a LineStatus column; False opts a site out (a source that
    # pre-filters upstream, as the harness fixtures do by construction).
    production_only: bool = True


ORDER_COLS = ["START_TIME", "downtime_id"]


def _w_line() -> Window:
    return Window.partitionBy("LINE").orderBy(*ORDER_COLS)


def _w_co() -> Window:
    """Per-line changeover order (ties on start broken by identifier)."""
    return Window.partitionBy("LINE").orderBy("CO_StartTime", "CO_Identifier")


def detect_changeovers(line_dt: DataFrame, site: SiteParams) -> DataFrame:
    """Filter CO events (dynamic per-site predicate) and sessionize.

    Output: the CO event log with ``CO_Identifier`` stamped on every
    event (reference mes_etl.py:41-129).
    """
    co = line_dt.filter(F.expr(site.co_predicate))
    if site.run_multi_constraint_analysis:
        # Multi-constraint lines record one stop per constraint machine
        # (reference data_from_mdc.py:93-94, R semantics — the Python
        # inplace bug is documented, not replicated). downtime_variants
        # already dedups; a caller handing mes_etl its own frame may not.
        co = _one_stop_per_line_start(co)
    co = co.na.drop(subset=["START_TIME"]).withColumn(
        "CO_Trigger_Column", co_trigger_column()
    )
    # The trigger references prev_* by unresolved name so the SAME
    # expression serves both the plain path (lags computed here over
    # the per-LINE window) and the stitched path (lags computed inside
    # sessionize_stitched over (LINE, bucket), then re-evaluated on
    # bucket boundaries with the true previous row).
    gap = minutes_between(F.col("START_TIME"), F.col("prev_end"))
    suppress: Column | None = None
    if site.changeover_failure_suppression_gap_min is not None:
        suppress = F.col("CO_Trigger_Column").contains("Changeover Failure") & (
            gap < site.changeover_failure_suppression_gap_min
        )
    trigger = rco_session_trigger(
        gap_minutes=gap,
        same_line=F.lit(True),  # implicit via per-LINE partitioning
        same_trigger_col=F.col("CO_Trigger_Column").eqNullSafe(F.col("prev_trig")),
        same_brandcode=F.col("BRANDCODE").eqNullSafe(F.col("prev_brand")),
        p=float(site.co_trigger_parameter),
        split_on_cause_change=site.split_cos_based_on_cause_model,
        suppress_changeover_failure=suppress,
    )
    # Session ID = LINE - date - first event PK, stamped on the trigger
    # row and forward-filled (mes_etl.py:126-129; R:141-147 — engine
    # uses the full ISO date, documented divergence from the substr
    # truncations).
    sess_id = F.concat_ws(
        " - ", F.col("LINE"), F.date_format("START_TIME", "yyyy-MM-dd"), F.col("downtime_id")
    )
    if site.session_bucket is not None:
        return sessionize_stitched(
            co, trigger, ["LINE"], ORDER_COLS,
            bucket=F.date_trunc(site.session_bucket, F.col("START_TIME")),
            prev_cols={
                "prev_end": "END_TIME",
                "prev_trig": "CO_Trigger_Column",
                "prev_brand": "BRANDCODE",
            },
            session_col="__sess_num", session_id=sess_id, session_id_col="CO_Identifier",
        )
    co = (
        co.withColumn("prev_end", F.lag("END_TIME").over(_w_line()))
        .withColumn("prev_trig", F.lag("CO_Trigger_Column").over(_w_line()))
        .withColumn("prev_brand", F.lag("BRANDCODE").over(_w_line()))
    )
    out = sessionize(
        co, trigger, ["LINE"], ORDER_COLS,
        session_col="__sess_num", session_id=sess_id, session_id_col="CO_Identifier",
    )
    return out.drop("prev_end", "prev_trig", "prev_brand")


def aggregate_changeovers(co_events: DataFrame, site: SiteParams) -> DataFrame:
    """Per-session aggregate (A1 + A8 multi-constraint normalization;
    reference mes_etl.py:133-152, :225-230).

    Multi-constraint composition note (documented divergence between
    the two references): the R pipeline dedups the line stream at
    extraction and does NOT divide CO_DOWNTIME; the Python port's
    intended flow is dedup at extraction PLUS the :225-230 division by
    the per-CO distinct machine count (its dedup line nulls the frame
    via an ``inplace=True`` bug, so only R ever ran in production).
    The engine follows the Python port's written composition — both
    operators SURVEY §2 inventories (O4 dedup + A8 divide) — which
    under-reports CO_DOWNTIME by the machine-count factor relative to
    R when stops are duplicated per machine. Sites wanting R semantics
    set ``SiteParams.multi_constraint_divide_by_machines=False``
    (dedup stays on — both references dedup).

    ``__first_uptime`` (first event's UPTIME per session, for the A9
    backfill) is computed here so mes_etl doesn't need a second
    full-frame window + join over the same events.
    """
    w_sess = (
        Window.partitionBy("LINE", "CO_Identifier")
        .orderBy(*ORDER_COLS)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    enriched = (
        co_events.withColumn("__first_id", F.first("downtime_id").over(w_sess))
        .withColumn("__last_id", F.last("downtime_id").over(w_sess))
        .withColumn("__first_up", F.first("UPTIME").over(w_sess))
    )
    agg = enriched.groupBy("LINE", "CO_Identifier").agg(
        F.min("START_TIME").alias("CO_StartTime"),
        F.max("END_TIME").alias("CO_EndTime"),
        F.sum("DOWNTIME").alias("__downtime_sum"),
        F.count("*").alias("Number_of_CO_Events"),
        F.min("__first_id").alias("First_CO_Event_ID"),
        F.min("__last_id").alias("Last_CO_Event_ID"),
        F.countDistinct("MACHINE").alias("__n_machines"),
        F.min("__first_up").alias("__first_uptime"),
    )
    if site.run_multi_constraint_analysis and site.multi_constraint_divide_by_machines:
        downtime = F.col("__downtime_sum") / F.col("__n_machines")
    else:
        downtime = F.col("__downtime_sum")
    return agg.withColumn("CO_DOWNTIME", downtime).drop("__downtime_sum")


def with_neighbor_context(co_agg: DataFrame, site: SiteParams) -> DataFrame:
    """lead/lag changeover neighbors with ±pad synthetic windows at the
    line edges (W2; reference mes_etl.py:158-174, R:179-195)."""
    w = _w_co()
    pad = site.boundary_pad_minutes
    return co_agg.withColumn(
        "Previous_CO_EndTime",
        F.coalesce(
            F.lag("CO_EndTime").over(w), ts_plus_minutes(F.col("CO_StartTime"), -pad)
        ),
    ).withColumn(
        "Next_CO_StartTime",
        F.coalesce(
            F.lead("CO_StartTime").over(w), ts_plus_minutes(F.col("CO_EndTime"), pad)
        ),
    )


def resolve_brandcodes(co_agg: DataFrame, line_dt_full: DataFrame) -> DataFrame:
    """Current/Next brandcode via as-of range joins (J5/J6; reference
    loops mes_etl.py:191-217, R:207-226).

    Current: LAST event with START_TIME in (Previous_CO_EndTime,
    CO_StartTime], preferring events whose uptime started before the
    CO. Next: FIRST event with START_TIME_of_Uptime in (CO_StartTime,
    Next_CO_StartTime) and a brandcode different from Current; falls
    back to Current ('Not Changed').
    """
    events = line_dt_full.na.drop(subset=["START_TIME"]).withColumn(
        "START_TIME_of_Uptime",
        ts_plus_minutes(F.col("START_TIME"), -F.col("UPTIME")),
    )
    ev_cols = ["LINE", "START_TIME", "START_TIME_of_Uptime", "BRANDCODE", "downtime_id"]
    events = events.select(*ev_cols)

    anchors = co_agg.withColumn("__anchor_id", F.col("CO_Identifier"))
    cur = asof_join_range(
        anchors,
        events,
        on=["LINE"],
        lower=F.col("Previous_CO_EndTime"),
        upper=F.col("CO_StartTime"),
        event_ts="START_TIME",
        pick="last",
        order_cols=[F.col("ev_downtime_id")],
        prefer=F.col("ev_START_TIME_of_Uptime") < F.col("CO_StartTime"),
    )
    cur = cur.withColumn("Current_BRANDCODE", F.col("ev_BRANDCODE")).select(
        *co_agg.columns, "Current_BRANDCODE"
    )

    anchors2 = cur.withColumn("__anchor_id", F.col("CO_Identifier"))
    nxt = asof_join_range(
        anchors2,
        events,
        on=["LINE"],
        lower=F.col("CO_StartTime"),
        upper=F.col("Next_CO_StartTime"),
        event_ts="START_TIME_of_Uptime",
        pick="first",
        order_cols=[F.col("ev_downtime_id")],
        lower_open=True,
        upper_open=True,
        extra=~F.col("ev_BRANDCODE").eqNullSafe(F.col("Current_BRANDCODE")),
    )
    nxt = nxt.withColumn(
        "Next_BRANDCODE", F.coalesce(F.col("ev_BRANDCODE"), F.col("Current_BRANDCODE"))
    ).select(*cur.columns, "Next_BRANDCODE")

    # 'OK' = brandcode changed, matching the reference table format
    # (mes_etl.py:221, RCO_MES_ETL.R:229) so downstream consumers of
    # CO_Aggregated_Data (e.g. PowerBI filters) keep working.
    # Null-safe inequality is a documented engine choice (pandas
    # NaN != NaN would say 'OK', R propagates NA — SURVEY §2.7 notes).
    return nxt.withColumn(
        "Brandcode_Status",
        F.when(
            ~F.col("Current_BRANDCODE").eqNullSafe(F.col("Next_BRANDCODE")),
            F.lit("OK"),
        ).otherwise(F.lit("Not Changed")),
    )


def build_co_event_log(co_events: DataFrame, co_agg: DataFrame, site: SiteParams) -> DataFrame:
    """CO_Event_Log projection + semi-join + comment scrub (reference
    mes_etl.py:240-254)."""
    surviving = co_agg.select("CO_Identifier")
    return (
        co_events.join(F.broadcast(surviving), "CO_Identifier", "left_semi")
        .withColumn("OPERATOR_COMMENT", scrub_text("OPERATOR_COMMENT"))
        .withColumn("Server", F.lit(site.server))
        .select(
            "downtime_id", "CO_Identifier", "LINE", "MACHINE", "START_TIME",
            "END_TIME", "DOWNTIME", "CAUSE_LEVELS_1_NAME", "CAUSE_LEVELS_2_NAME",
            "CAUSE_LEVELS_3_NAME", "CAUSE_LEVELS_4_NAME", "OPERATOR_COMMENT", "Server",
        )
    )


def first_stop_analysis(
    co_agg: DataFrame, line_dt_full: DataFrame, site: SiteParams
) -> tuple[DataFrame, DataFrame]:
    """First unplanned stop after each changeover + total uptime till
    the next changeover (reference first_stop.py:4-100,
    ref/RCO_subETL_First_Stop_after_CO.R; W4 running sums + J8 range
    join + A9).

    Returns ``(first_stop_df, uptime_backfill_df)`` where the backfill
    carries ``Total_Uptime_till_Next_CO`` per CO_Identifier
    (reference joins it back into CO_Aggregated, overall_etl.py:163-165).
    """
    horizon_min = site.first_stop_last_co_horizon_days * 24 * 60
    anchors = (
        co_agg.select("LINE", "CO_Identifier", "CO_StartTime", "CO_EndTime")
        .withColumn(
            "__next_co_start",
            F.coalesce(
                F.lead("CO_StartTime").over(_w_co()),
                ts_plus_minutes(F.col("CO_EndTime"), horizon_min),
            ),
        )
        .withColumn("__anchor_id", F.col("CO_Identifier"))
    )

    stops = line_dt_full.na.drop(subset=["START_TIME"]).select(
        "LINE", "START_TIME", "downtime_id", "UPTIME", "DOWNTIME",
        "Planned_Stop_Check", "Idle_Check", "isExcluded",
    )

    # Inter-CO slice: stops with START_TIME in [CO_EndTime, next_CO_Start)
    ev = stops.withColumnRenamed("LINE", "__ev_line")
    sl = anchors.join(
        ev,
        (anchors["LINE"] == ev["__ev_line"])
        & (ev["START_TIME"] >= anchors["CO_EndTime"])
        & (ev["START_TIME"] < anchors["__next_co_start"]),
        "inner",
    )

    w_slice = Window.partitionBy("__anchor_id").orderBy("START_TIME", "downtime_id")
    cum = w_slice.rowsBetween(Window.unboundedPreceding, 0)
    sl = sl.withColumn("Uptime_cumul", F.sum("UPTIME").over(cum)).withColumn(
        "UptimeDowntime_cumul",
        F.sum(F.col("UPTIME") + F.col("DOWNTIME")).over(cum),
    )
    # consumed by both the first-stop pick and the backfill sum — one
    # cut, or the CO x stop range join runs twice (removing it alone
    # cost 1.3 s per warm site build).
    sl = sl.localCheckpoint(eager=False)

    unplanned = (
        (F.col("Planned_Stop_Check") == 0)
        & (F.col("Idle_Check") == 0)
        & (~F.col("isExcluded"))
    )
    w_first = Window.partitionBy("__anchor_id").orderBy("START_TIME", "downtime_id")
    firsts = (
        sl.filter(unplanned)
        .withColumn("__rn", F.row_number().over(w_first))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("CO_Identifier"),
            F.col("LINE"),
            F.col("CO_EndTime"),
            F.col("START_TIME").alias("First_Stop_Time"),
            F.col("downtime_id").alias("First_Stop_downtime_id"),
            F.round("Uptime_cumul", 2).alias("Uptime_before_First_Stop"),
            F.round("DOWNTIME", 2).alias("First_Stop_DOWNTIME"),
        )
        .withColumn("Server", F.lit(site.server))
    )

    # Total uptime till next CO: slice uptime sum + the uptime carried
    # by the next CO's first event (A9, first_stop.py:78-87).
    slice_sum = sl.groupBy("CO_Identifier").agg(F.sum("UPTIME").alias("__slice_uptime"))
    backfill = (
        co_agg.select("LINE", "CO_Identifier", "CO_StartTime", "__first_uptime")
        .withColumn("__next_first_uptime", F.lead("__first_uptime").over(_w_co()))
        .join(slice_sum, "CO_Identifier", "left")
        .select(
            "CO_Identifier",
            F.round(
                F.coalesce(F.col("__slice_uptime"), F.lit(0.0))
                + F.coalesce(F.col("__next_first_uptime"), F.lit(0.0)),
                2,
            ).alias("Total_Uptime_till_Next_CO"),
        )
    )
    return firsts, backfill


def mes_etl(
    line_dt: DataFrame,
    line_dt_full: DataFrame,
    site: SiteParams,
) -> dict[str, DataFrame]:
    """End-to-end transform for one site: returns the core output
    tables (CO_Aggregated_Data, CO_Event_Log, First_Stop_after_CO_Data).

    ``line_dt``: constraint-machine, non-excluded stop events (the CO
    detection input). ``line_dt_full``: every line-level stop event
    (the brandcode/first-stop context).
    """
    # Lazy cuts on the SMALL fan-out frames only (CO events and per-CO
    # aggregates are ~10^3 smaller than the stop log). Under AQE each
    # cut plans its subtree and runs its shuffle stages at build time,
    # so a cut stays only while paired runs show it pays. The big
    # frames (line_dt / line_dt_full) are deliberately NOT
    # checkpointed — at 100 TB a parquet re-scan with pushdown is
    # cheaper than caching the full log.
    with fast_planning(line_dt):
        return _mes_etl_impl(line_dt, line_dt_full, site)


def _mes_etl_impl(
    line_dt: DataFrame,
    line_dt_full: DataFrame,
    site: SiteParams,
) -> dict[str, DataFrame]:
    # co_events feeds the aggregate and the CO_Event_Log; the cut runs
    # the sessionization windows once. Removing it alone stayed within
    # noise in a warm site build; no paired two-site run has tested it
    # (ROADMAP direction 2).
    co_events = detect_changeovers(line_dt, site).localCheckpoint(eager=False)
    # aggregate_changeovers carries __first_uptime (first event's UPTIME
    # per session) for the A9 backfill — one window pass, no extra join.
    co_agg = aggregate_changeovers(co_events, site)
    co_agg = with_neighbor_context(co_agg, site)
    # co_agg feeds the event log, first stop, the output and both Gantt
    # passes: without the cut each re-runs the as-of brandcode joins
    # (removing it alone cost 2.6 s and 34 jobs per warm site build).
    co_agg = resolve_brandcodes(co_agg, line_dt_full).localCheckpoint(eager=False)

    outputs: dict[str, DataFrame] = {}
    outputs["CO_Event_Log"] = build_co_event_log(co_events, co_agg, site)

    if site.run_first_stop_analysis:
        firsts, backfill = first_stop_analysis(co_agg, line_dt_full, site)
        outputs["First_Stop_after_CO_Data"] = firsts
        co_agg = co_agg.join(F.broadcast(backfill), "CO_Identifier", "left")
    else:
        co_agg = co_agg.withColumn("Total_Uptime_till_Next_CO", F.lit(None).cast("double"))

    outputs["CO_Aggregated_Data"] = co_agg.select(
        "CO_Identifier", "LINE", "CO_StartTime", "CO_EndTime",
        F.round("CO_DOWNTIME", 2).alias("CO_DOWNTIME"),
        "Number_of_CO_Events", "First_CO_Event_ID", "Last_CO_Event_ID",
        "Current_BRANDCODE", "Next_BRANDCODE", "Brandcode_Status",
        "Total_Uptime_till_Next_CO",
    ).withColumn("Server", F.lit(site.server))
    return outputs
