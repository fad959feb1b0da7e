"""Site-level orchestration: raw downtime + production logs -> all 8
output tables (reference App/etl/overall_etl.py:52-240 +
ref/RCO_Overall_orchestrator.R lifecycle, SURVEY §3).

The reference runs sites sequentially with eager intermediates; here
one site is ONE lazy DAG — extraction flags, the filter lattice, the
analytical core, Gantt and per-day rollups all share the same scan of
the downtime log, and nothing materializes until a sink action. Sites
are embarrassingly parallel: run N of these DAGs concurrently, or
union inputs with a Server column.
"""

from __future__ import annotations

from datetime import datetime
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.aggregate import pivot_wide, runtime_per_day
from ..operators.brandcode import brandcode_master
from ..operators.extract import (
    downtime_variants,
    production_only_filter,
    with_derived_flags,
)
from ..operators.gantt import gantt_analysis
from .rco_pipeline import SiteParams, mes_etl


from ..schemas import cause_slug as _cause_slug


def _quoted(name: str) -> F.Column:
    """Backtick-quoted column reference: a category like 'E. Stop'
    renders an intermediate column named 'E. Stop_min', which a bare
    ``F.col`` would parse as a nested-field path (ADVICE r13)."""
    return F.col("`" + name.replace("`", "``") + "`")


def daily_cause_summary(
    line_dt_full: DataFrame,
    categories: Sequence[str],
    server: str,
) -> DataFrame:
    """Per-(Date, LINE) downtime minutes reshaped WIDE by cause
    level-2 category — the dashboard-form companion of the long-format
    ``Runtime_per_Day_data`` rollup (reference per-day emitters:
    App/etl/extract/data_from_mdc.py:237-249,
    ref/RCO_Maple_orchestrator.R:162-185; the wide cause breakdown is
    the report those tables feed).

    Routed through the one-shuffle pivot
    (operators/aggregate.py::pivot_wide): sum(CASE WHEN cause = c THEN
    minutes END) per category inside ONE groupBy(Date, LINE) — a
    single key-partitioned exchange over the downtime log however many
    categories ride along, where the API ``pivot`` would pay two.
    ``categories`` is the site's EXPLICIT list (explicit values mean
    explicit omission — an unlisted cause contributes nothing, same
    contract as the pivot catalog entries); minutes aggregate in
    DECIMAL(18,4) so cell totals are partition-order-exact, then round
    to 2 and surface as DOUBLE. A (Date, LINE) with no events of a
    category carries NULL there (SQL SUM semantics). Output columns:
    ``<slug>_min`` per category via :func:`_cause_slug`, plus Server.
    """
    cats = list(categories)
    slugs = [_cause_slug(c) for c in cats]
    if len(set(slugs)) != len(slugs):
        raise ValueError(f"cause categories collide after slugging: {slugs}")
    base = line_dt_full.na.drop(subset=["START_TIME"]).select(
        F.to_date("START_TIME").alias("Date"),
        "LINE",
        F.col("CAUSE_LEVELS_2_NAME").alias("__cause"),
        F.col("DOWNTIME").cast("decimal(18,4)").alias("__dt"),
    )
    wide = pivot_wide(
        base, ["Date", "LINE"], "__cause", cats, "__dt",
        agg="sum", suffix="_min",
    )
    return wide.select(
        "Date",
        "LINE",
        *[
            F.round(_quoted(f"{c}_min"), 2).cast("double").alias(f"{s}_min")
            for c, s in zip(cats, slugs)
        ],
    ).withColumn("Server", F.lit(server))


def site_etl(
    downtime: DataFrame,
    production: DataFrame | None,
    site: SiteParams,
    line_config: DataFrame | None = None,
    run_machine_level: bool = True,
    data_update_time: datetime | None = None,
) -> dict[str, DataFrame]:
    """Run the complete RCO analysis for one site.

    ``downtime``: raw downtime event log (canonical columns, flags
    derived here if absent). ``production``: production event log for
    brandcode master derivation (optional).
    """
    flagged = (
        with_derived_flags(downtime, line_config)
        if "isConstraint" not in downtime.columns or line_config is not None
        else downtime
    )
    variants = downtime_variants(
        flagged, multi_constraint=site.run_multi_constraint_analysis
    )
    line_dt, line_dt_full = variants["line_dt"], variants["line_dt_full"]
    machine_dt = variants["machine_dt"]

    outputs = mes_etl(line_dt=line_dt, line_dt_full=line_dt_full, site=site)

    if run_machine_level:
        gantt, event_log_for_gantt = gantt_analysis(
            co_agg=outputs["CO_Aggregated_Data"],
            co_event_log=outputs["CO_Event_Log"],
            machine_dt=machine_dt,
            line_dt=line_dt,
            line_dt_full=line_dt_full,
            server=site.server,
        )
        outputs["Gantt_Data"] = gantt
        outputs["Event_Log_for_Gantt"] = event_log_for_gantt

    outputs["Runtime_per_Day_data"] = runtime_per_day(line_dt_full, site.server)

    if site.cause_summary_categories is not None:
        outputs["Daily_Cause_Summary"] = daily_cause_summary(
            line_dt_full, site.cause_summary_categories, site.server
        )

    if production is not None:
        prod = production
        # F6 (data_from_mdc.py:183): drop non-'In Production' rows
        # before the master-data vote. Conditional on the column being
        # present: sources that pre-filter at extraction hand over a
        # frame without LineStatus, which is already the filtered shape.
        if site.production_only and "LineStatus" in prod.columns:
            prod = production_only_filter(prod)
        outputs["BRANDCODE_data"] = brandcode_master(prod, site.server)

    # Script_Data state row per line (reference overall_etl.py:186-232,
    # R :236-282): watermark + data bounds + day-start hour + number of
    # constraints.
    # Bounds ride the day-start (LINE, hour) pre-aggregate: one scan,
    # and the hour-tally exchange is the only one Script_Data adds
    # (same tally/majority semantics as aggregate.day_start_hours,
    # incl. NULL-hour groups from null START_TIME rows).
    from pyspark.sql import Window

    pre = line_dt_full.groupBy("LINE", F.hour("START_TIME").alias("__h")).agg(
        F.count("*").alias("__tally"),
        F.min("START_TIME").alias("__min_st"),
        F.max("START_TIME").alias("__max_st"),
    )
    w_line = Window.partitionBy("LINE")
    hour_pick = F.max("__h") if site.server == "Gebze HDW" else F.min("__h")
    bounds_dsh = (
        pre.withColumn("__max_tally", F.max("__tally").over(w_line))
        .withColumn("__first", F.min("__min_st").over(w_line))
        .withColumn("__last", F.max("__max_st").over(w_line))
        .filter(F.col("__tally") > F.col("__max_tally") / 2)
        .groupBy("LINE")
        .agg(
            hour_pick.alias("Day_Start_hours"),
            F.min("__first").alias("First_Available_Data_Point"),
            F.max("__last").alias("Last_Available_Data_Point"),
        )
    )
    n_constraints = line_dt.groupBy("LINE").agg(
        F.countDistinct("MACHINE").alias("Number_of_Constraints")
    )
    update_time = data_update_time or datetime.utcnow()
    outputs["Script_Data"] = (
        bounds_dsh.join(n_constraints, "LINE", "left")
        .select(
            F.col("LINE").alias("System"),
            F.lit(update_time).alias("Data_Update_Time"),
            "First_Available_Data_Point",
            "Last_Available_Data_Point",
            F.col("LINE").alias("MES_Line_Name"),
            F.lit(site.server).alias("Server"),
            F.col("Day_Start_hours").cast("double").alias("Day_Start_hours"),
            # reference sets BU='FHC' unconditionally
            # (App/etl/overall_etl.py:214); SiteParams.bu carries it so
            # other business units aren't hardcoded out.
            F.lit(site.bu).cast("string").alias("BU"),
            F.col("Number_of_Constraints").cast("int").alias("Number_of_Constraints"),
        )
    )
    return outputs


__all__ = ["site_etl", "SiteParams"]
