"""Canonical StructType schemas for every logical table.

The reference infers schemas dynamically from JSON/SQL result sets and
re-aligns them against the sink at load time (reference:
App/etl/overall_etl.py:24-36, ref/RCO_Overall_orchestrator.R:80-165).
This engine replaces that with fixed canonical schemas; source adapters
normalize into them and sinks align by ``align_to_schema``.

Column inventory per SURVEY.md §1.4; citations point at the reference
sites the shapes were derived from.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _struct(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


# ---------------------------------------------------------------------------
# Input event logs (reference: App/etl/extract/data_from_mdc.py:20-43 mapping
# + derived flags :62-85; ref/RCO_Maple_orchestrator.R:36-41).
# ---------------------------------------------------------------------------

DOWNTIME_EVENTS = _struct(
    ("downtime_id", T.StringType()),
    ("dtCategory", T.StringType()),
    ("Fault", T.StringType()),
    ("START_TIME", T.TimestampType()),
    ("END_TIME", T.TimestampType()),
    ("BRANDCODE", T.StringType()),
    ("ProdDesc", T.StringType()),
    ("ProcessOrder", T.StringType()),
    ("CAUSE_LEVELS_1_NAME", T.StringType()),
    ("CAUSE_LEVELS_2_NAME", T.StringType()),
    ("CAUSE_LEVELS_3_NAME", T.StringType()),
    ("CAUSE_LEVELS_4_NAME", T.StringType()),
    ("LINE", T.StringType()),
    ("MACHINE", T.StringType()),
    ("DOWNTIME", T.DoubleType()),  # minutes
    ("UPTIME", T.DoubleType()),  # minutes of uptime preceding the stop
    ("TEAM", T.StringType()),
    ("SHIFT", T.StringType()),
    ("OPERATOR_COMMENT", T.StringType()),
    ("LineStatus", T.StringType()),
    ("NPTStartTime", T.TimestampType()),
    ("NPTEndTime", T.TimestampType()),
    # Derived flags (data_from_mdc.py:62-85)
    ("isConstraint", T.BooleanType()),
    ("isExcluded", T.BooleanType()),
    ("isStop", T.BooleanType()),
    ("Planned_Stop_Check", T.IntegerType()),
    ("Idle_Check", T.IntegerType()),
)

PRODUCTION_EVENTS = _struct(
    ("event_id", T.StringType()),
    ("START_TIME", T.TimestampType()),
    ("END_TIME", T.TimestampType()),
    ("Chain_Start_Time", T.TimestampType()),
    ("BRANDCODE_PLANNED", T.StringType()),
    ("BRANDCODE", T.StringType()),
    ("Process_Order", T.StringType()),
    ("LINE", T.StringType()),
    ("MACHINE", T.StringType()),
    ("TEAM", T.StringType()),
    ("SHIFT", T.StringType()),
    ("LineStatus", T.StringType()),
    ("NPTStartTime", T.TimestampType()),
    ("NPTEndTime", T.TimestampType()),
    ("initial_Quantity", T.DoubleType()),
    ("final_Quantity", T.DoubleType()),
    ("ProdDesc", T.StringType()),
    ("ProdFam", T.StringType()),
    ("ProdGroup", T.StringType()),
    ("FirstPackCount", T.DoubleType()),
    ("StatFactor", T.DoubleType()),
)

# Config dims (App/rco_main.py:147-156, :174-179) — broadcast in joins.
SITE_CONFIG = _struct(
    ("Server", T.StringType()),
    ("MDC_Site_Name", T.StringType()),
    ("CO_Trigger_Parameter", T.DoubleType()),
    ("Run_Machine_Level_Analysis", T.StringType()),
    ("Run_First_Stop_After_CO_Analysis", T.StringType()),
    ("Run_Multi_Constraint_Analysis", T.StringType()),
    ("Split_COs_based_on_Cause_Model", T.StringType()),
    ("SUD_specific_RCO_script", T.StringType()),
    ("querySL", T.StringType()),
    ("queryML", T.StringType()),
)

LINE_CONFIG = _struct(
    ("MDC_Line_Name", T.StringType()),
    ("Department", T.StringType()),
    ("Constraint_Machine_String", T.StringType()),
    ("SiteNameLookupId", T.IntegerType()),
    ("System", T.StringType()),
    ("Line_Configuration", T.StringType()),
)

# ---------------------------------------------------------------------------
# Output fact tables (SURVEY.md §1.4; table list
# ref/RCO_Overall_orchestrator.R:17-26).
# ---------------------------------------------------------------------------

CO_AGGREGATED_DATA = _struct(
    ("CO_Identifier", T.StringType()),
    ("LINE", T.StringType()),
    ("CO_StartTime", T.TimestampType()),
    ("CO_EndTime", T.TimestampType()),
    ("CO_DOWNTIME", T.DoubleType()),
    ("Number_of_CO_Events", T.LongType()),
    ("First_CO_Event_ID", T.StringType()),
    ("Last_CO_Event_ID", T.StringType()),
    ("Current_BRANDCODE", T.StringType()),
    ("Next_BRANDCODE", T.StringType()),
    ("Brandcode_Status", T.StringType()),
    ("Total_Uptime_till_Next_CO", T.DoubleType()),
    ("Server", T.StringType()),
)

CO_EVENT_LOG = _struct(
    ("downtime_id", T.StringType()),
    ("CO_Identifier", T.StringType()),
    ("LINE", T.StringType()),
    ("MACHINE", T.StringType()),
    ("START_TIME", T.TimestampType()),
    ("END_TIME", T.TimestampType()),
    ("DOWNTIME", T.DoubleType()),
    ("CAUSE_LEVELS_1_NAME", T.StringType()),
    ("CAUSE_LEVELS_2_NAME", T.StringType()),
    ("CAUSE_LEVELS_3_NAME", T.StringType()),
    ("CAUSE_LEVELS_4_NAME", T.StringType()),
    ("OPERATOR_COMMENT", T.StringType()),
    ("Server", T.StringType()),
)

FIRST_STOP_AFTER_CO = _struct(
    ("CO_Identifier", T.StringType()),
    ("LINE", T.StringType()),
    ("CO_EndTime", T.TimestampType()),
    ("First_Stop_Time", T.TimestampType()),
    ("First_Stop_downtime_id", T.StringType()),
    ("Uptime_before_First_Stop", T.DoubleType()),
    ("First_Stop_DOWNTIME", T.DoubleType()),
    ("Server", T.StringType()),
)

GANTT_DATA = _struct(
    ("StartTime", T.TimestampType()),
    ("Line", T.StringType()),
    ("Machine", T.StringType()),
    ("Downtime_Status", T.DoubleType()),  # ∈ {1, 1.7, 2, 2.3, 3, 4}
    ("downtime_id", T.StringType()),
    ("CO_Identifier", T.StringType()),
    ("Server", T.StringType()),
)

EVENT_LOG_FOR_GANTT = _struct(
    ("downtime_id", T.StringType()),
    ("CO_Identifier", T.StringType()),
    ("Line", T.StringType()),
    ("Machine", T.StringType()),
    ("START_TIME", T.TimestampType()),
    ("END_TIME", T.TimestampType()),
    ("DOWNTIME", T.DoubleType()),
    ("Fault", T.StringType()),
    ("OPERATOR_COMMENT", T.StringType()),
    ("Server", T.StringType()),
)

RUNTIME_PER_DAY = _struct(
    ("Date", T.DateType()),
    ("LINE", T.StringType()),
    ("Runtime", T.DoubleType()),
    ("Production_MSU", T.DoubleType()),
    ("Server", T.StringType()),
)

BRANDCODE_DATA = _struct(
    ("BRANDCODE", T.StringType()),
    ("BRANDNAME", T.StringType()),
    ("ProdFam", T.StringType()),
    ("ProdGroup", T.StringType()),
    ("UNITS_PER_CASE", T.DoubleType()),
    ("StatFactor", T.DoubleType()),
    ("Server", T.StringType()),
    ("SIZE", T.DoubleType()),
)

SCRIPT_DATA = _struct(
    ("System", T.StringType()),
    ("Data_Update_Time", T.TimestampType()),
    ("First_Available_Data_Point", T.TimestampType()),
    ("Last_Available_Data_Point", T.TimestampType()),
    ("MES_Line_Name", T.StringType()),
    ("Server", T.StringType()),
    ("Day_Start_hours", T.DoubleType()),
    ("BU", T.StringType()),
    ("Number_of_Constraints", T.IntegerType()),
)

OUTPUT_SCHEMAS: dict[str, T.StructType] = {
    "CO_Aggregated_Data": CO_AGGREGATED_DATA,
    "CO_Event_Log": CO_EVENT_LOG,
    "First_Stop_after_CO_Data": FIRST_STOP_AFTER_CO,
    "Gantt_Data": GANTT_DATA,
    "Event_Log_for_Gantt": EVENT_LOG_FOR_GANTT,
    "Runtime_per_Day_data": RUNTIME_PER_DAY,
    "BRANDCODE_data": BRANDCODE_DATA,
    "Script_Data": SCRIPT_DATA,
}


def cause_slug(name: str) -> str:
    """Canonical column stem for a cause category: lowercase, runs of
    non-alphanumerics collapsed to '_' ('Blocked upstream' ->
    'blocked_upstream')."""
    import re

    return re.sub(r"[^a-z0-9]+", "_", name.lower()).strip("_")


def dynamic_output_schema(name: str, df: DataFrame) -> T.StructType:
    """Resolve the schema of a config-shaped output table from the
    batch itself: ``Daily_Cause_Summary`` has one ``<slug>_min``
    column per site cause category (``Date, LINE, <slug>_min...,
    Server``), and ``incremental_site_loader`` sees only the site's
    outputs dict, not the category list. Validates the expected column
    shape instead of trusting it: a site_etl refactor that reorders or
    renames the frame fails HERE, not as a silently misaligned parquet
    write.
    """
    if name != "Daily_Cause_Summary":
        raise ValueError(f"no dynamic schema rule for output table {name!r}")
    cols = df.columns
    mids = cols[2:-1]
    types = {f.name: f.dataType for f in df.schema.fields}
    if (
        len(cols) < 4
        or cols[:2] != ["Date", "LINE"]
        or cols[-1] != "Server"
        or not all(c.endswith("_min") for c in mids)
        or len(set(mids)) != len(mids)
        # fail-here promise covers TYPES too (ADVICE r14): a refactor
        # that changes a measure's type must not be silently cast
        # (possibly to NULL) by align_to_schema downstream.
        or not isinstance(types["Date"], T.DateType)
        or not all(isinstance(types[c], T.DoubleType) for c in mids)
    ):
        raise ValueError(
            "Daily_Cause_Summary batch has unexpected column shape "
            f"{df.schema.simpleString()}; expected [Date DATE, LINE, "
            "<slug>_min DOUBLE..., Server]"
        )
    return _struct(
        ("Date", T.DateType()),
        ("LINE", T.StringType()),
        *[(c, T.DoubleType()) for c in mids],
        ("Server", T.StringType()),
    )


def align_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Align ``df`` to a target schema: reorder, pad missing columns
    with typed NULLs, cast mismatched types.

    Spark-first replacement for the reference's information_schema
    realignment (App/etl/overall_etl.py:24-36) and ``data_type_replace``
    (ref/RCO_Overall_orchestrator.R:80-116): a single ``select`` of
    ``coalesce/cast`` expressions, fully codegen-able, no driver I/O.
    """
    existing = {f.name.lower(): f.name for f in df.schema.fields}
    cols = []
    for field in schema.fields:
        src = existing.get(field.name.lower())
        if src is None:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.col(src).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def ensure_absent(df: DataFrame, names: Sequence[str], op: str) -> None:
    """Fail fast when ``df`` already carries columns an operator is
    about to stage or emit (ADVICE r12 discipline, generalized): a
    ``withColumn`` on an existing name silently REPLACES the user's
    data, and a staged ``__``-working name that collides corrupts
    joins/windows downstream — both only surface at the caller's next
    select, far from the cause. Same contract as ``asof_join``'s
    value_cols guard and ``pit_lookup``'s fallback guard.
    """
    clash = sorted(set(df.columns) & set(names))
    if clash:
        raise ValueError(
            f"{op}: input columns {clash} collide with the operator's "
            "working/output column names; alias them first"
        )
