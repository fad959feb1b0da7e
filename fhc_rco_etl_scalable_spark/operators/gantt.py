"""Gantt timeline point generation (U2/U3 in SURVEY.md §2.10).

The reference builds PowerBI Gantt rows with a stateful per-(CO,
machine) Python loop appending 1-4 boundary points per stop, sentinel
points at the window edges, ±1 s separators, a clamp of the final
point to the window end, and a post-hoc -1 s repair of out-of-order
adjacent statuses (reference: App/etl/transform/machine_level.py:40-199
non-constraint, :207-361 constraint status-coded, :388-394 repair;
R original ref/RCO_subETL_Gantt_Data_generator.R).

Spark-first re-expression, fully native (no UDFs):

1. interval-overlap join attaches each stop to every CO window it
   intersects (END > win_start AND START < win_end);
2. the loop's hidden state — "timestamp of the last point emitted so
   far" — is a per-stop candidate column ffilled with
   ``last(ignorenulls)`` over the emission order;
3. each stop row emits an ``array<struct>`` of its points via when()
   logic (whole-stage codegen), then one ``posexplode``;
4. the final-point clamp and the -1 s repair are window expressions
   over (CO, machine) in emission order.

Downtime statuses: non-constraint 2=downtime/3=uptime; constraint
1=CO event, 1.7=planned, 2.3=unplanned, 3=uptime, 4=idle
(machine_level.py:42-43, :208-210).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

MINUTES_BEFORE_CO = 5.0  # machine_level.py:20
MINUTES_AFTER_CO = 15.0  # machine_level.py:21

_POINT_T = "array<struct<ts:timestamp,status:double,id:string>>"


def _pt(ts: Column, status: Column | float, pk: Column | str) -> Column:
    status = F.lit(float(status)) if not isinstance(status, Column) else status
    pk = F.lit(pk) if isinstance(pk, str) else pk
    return F.struct(ts.alias("ts"), status.alias("status"), pk.alias("id"))


def _arr(cond: Column, *points: Column) -> Column:
    return F.when(cond, F.array(*points)).otherwise(F.expr(f"CAST(array() AS {_POINT_T})"))


from ..functions.scalar import ts_plus_seconds as _plus_s  # shared micro-arithmetic
from .extract import constraints_per_line


def attach_stops_to_windows(co_agg: DataFrame, stops: DataFrame) -> DataFrame:
    """CO windows [start-5min, end+15min] x overlapping stops
    (machine_level.py:66-73). ``stops`` must carry LINE, MACHINE,
    START_TIME, END_TIME, DOWNTIME, UPTIME, downtime_id (+ any status
    inputs)."""
    windows = co_agg.select(
        F.col("LINE").alias("__w_line"),
        "CO_Identifier",
        _plus_s(F.col("CO_StartTime"), -MINUTES_BEFORE_CO * 60).alias("win_start"),
        _plus_s(F.col("CO_EndTime"), MINUTES_AFTER_CO * 60).alias("win_end"),
    )
    st = stops.na.drop(subset=["START_TIME"]).withColumnRenamed("LINE", "__s_line")
    cond = (
        (windows["__w_line"] == st["__s_line"])
        & (st["END_TIME"] > windows["win_start"])
        & (st["START_TIME"] < windows["win_end"])
    )
    return (
        windows.join(st, cond, "inner")
        .drop("__s_line")
        .withColumnRenamed("__w_line", "LINE")
    )


def generate_gantt_points(
    windowed: DataFrame,
    status: Column,
    group_cols: tuple[str, str] = ("CO_Identifier", "MACHINE"),
) -> DataFrame:
    """Emit the reference's boundary points for each (CO, machine)
    group of window-overlapping stops.

    ``windowed``: one row per stop x CO window (attach_stops_to_windows
    output). ``status``: the downtime-status Column for a stop row.
    Returns StartTime/Line/Machine/Downtime_Status/downtime_id/
    CO_Identifier rows.
    """
    g = list(group_cols)
    w = Window.partitionBy(*g).orderBy("START_TIME", "downtime_id")
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)

    dt_s = F.coalesce(F.col("DOWNTIME"), F.lit(0.0)) * 60.0  # min -> s (machine_level.py:85)
    up_s = F.coalesce(F.col("UPTIME"), F.lit(0.0)) * 60.0
    start, end = F.col("START_TIME"), F.col("END_TIME")
    # NULL UPTIME behaves like the reference's NaT comparison (False):
    # coalescing to 0 makes prev_uptime_end = START, so the
    # window-start-in-uptime branch is cleanly false rather than NULL
    # (a NULL condition would emit NO first point yet still advance
    # the last-emitted anchor — a phantom +1s anchor downstream).
    prev_uptime_end = _plus_s(start, -up_s)

    df = windowed.withColumn("__S", status).withColumn("__k", F.row_number().over(w) - 1)

    first = F.col("__k") == 0
    # Candidate 'last emitted point time' contributed by this stop
    # (NULL when the stop emits nothing -- <=1 s downtime, <2 s uptime).
    c = (
        F.when(dt_s > 1, end)
        .when(
            first,
            F.when(
                (F.col("win_start") < start) & (F.col("win_start") > prev_uptime_end),
                start,
            ).otherwise(F.col("win_start")),
        )
        .when(up_s >= 2, _plus_s(start, -1))
        .otherwise(F.lit(None).cast("timestamp"))
    )
    df = df.withColumn("__c", c)
    df = df.withColumn("__last_emit", F.last("__c", ignorenulls=True).over(w_cum))
    df = df.withColumn("__anchor", F.lag("__last_emit").over(w))
    df = df.withColumn("__is_last", F.lead("START_TIME").over(w).isNull())

    pk = F.col("downtime_id")
    S = F.col("__S")
    in_uptime_at_win_start = (F.col("win_start") < start) & (
        F.col("win_start") > prev_uptime_end
    )

    first_a = _arr(
        first & in_uptime_at_win_start,
        _pt(F.col("win_start"), 3.0, pk),
        _pt(_plus_s(start, -1), 3.0, pk),
        _pt(start, S, pk),
    )
    first_b = _arr(first & ~in_uptime_at_win_start, _pt(F.col("win_start"), S, pk))
    first_end = _arr(first & (dt_s > 1), _pt(end, S, pk))
    rest_uptime = _arr(
        ~first & (up_s >= 2),
        _pt(_plus_s(F.col("__anchor"), 1), 3.0, pk),
        _pt(_plus_s(start, -1), 3.0, pk),
    )
    rest_downtime = _arr(~first & (dt_s > 1), _pt(start, S, pk), _pt(end, S, pk))
    # Window-end sentinels (machine_level.py:179-196): only when the
    # last emitted point lies inside the window.
    tail = _arr(
        F.col("__is_last") & (F.col("__last_emit") <= F.col("win_end")),
        _pt(_plus_s(F.col("__last_emit"), 1), 3.0, F.lit("")),
        _pt(F.col("win_end"), 3.0, F.lit("")),
    )
    df = df.withColumn(
        "__points", F.concat(first_a, first_b, first_end, rest_uptime, rest_downtime, tail)
    )

    exploded = df.select(
        *g,
        F.col("LINE").alias("Line"),
        "win_end",
        "__k",
        F.posexplode("__points").alias("__pos", "__p"),
    ).select(
        *g,
        "Line",
        "win_end",
        "__k",
        "__pos",
        F.col("__p.ts").alias("StartTime"),
        F.col("__p.status").alias("Downtime_Status"),
        F.col("__p.id").alias("downtime_id"),
    )

    # Final-point clamp (machine_level.py:179-180): when the last
    # emitted point overruns the window, pull it back to win_end. The
    # last point is the one with no successor on the SAME ascending
    # order the repair windows use — one local sort per partition, not
    # a second descending sort of the whole exploded set.
    w_emit = Window.partitionBy(*g).orderBy("__k", "__pos")
    out = exploded.withColumn("__is_last_pt", F.lead("__pos").over(w_emit).isNull())
    out = out.withColumn(
        "StartTime",
        F.when(
            F.col("__is_last_pt") & (F.col("StartTime") > F.col("win_end")),
            F.col("win_end"),
        ).otherwise(F.col("StartTime")),
    )

    # -1 s repair (U3, machine_level.py:388-394): same group, this
    # point later than the next one, statuses differ, and moving back
    # 1 s keeps it after the previous point.
    nxt_ts = F.lead("StartTime").over(w_emit)
    nxt_status = F.lead("Downtime_Status").over(w_emit)
    prv_ts = F.lag("StartTime").over(w_emit)
    repair = (
        nxt_ts.isNotNull()
        & (F.col("StartTime") > nxt_ts)
        & (F.col("Downtime_Status") != nxt_status)
        & (prv_ts.isNull() | (F.col("StartTime") > _plus_s(prv_ts, 1)))
    )
    out = out.withColumn(
        "StartTime",
        F.when(repair, _plus_s(F.col("StartTime"), -1)).otherwise(F.col("StartTime")),
    )
    machine_col = group_cols[1]
    return out.select(
        "StartTime",
        "Line",
        F.col(machine_col).alias("Machine"),
        F.coalesce("Downtime_Status", F.lit(2.3)).alias("Downtime_Status"),
        "downtime_id",
        "CO_Identifier",
    )


def constraint_status() -> Column:
    """1=CO / 1.7=planned / 2.3=unplanned / 4=idle
    (machine_level.py:280)."""
    return (
        F.when(F.col("CO_Event") == 1, 1.0)
        .when(F.col("Planned_Stop_Check") == 1, 1.7)
        .when(F.col("Idle_Check") == 0, 2.3)
        .otherwise(4.0)
    )


def gantt_analysis(
    co_agg: DataFrame,
    co_event_log: DataFrame,
    machine_dt: DataFrame,
    line_dt: DataFrame,
    line_dt_full: DataFrame,
    server: str,
) -> tuple[DataFrame, DataFrame]:
    """Full machine-level analysis -> (Gantt_Data, Event_Log_for_Gantt)
    (reference machine_level.py:6-413).

    Non-constraint pass: every machine's stops (status 2/3). Constraint
    pass (single-constraint lines only): line-level stops with CO/
    planned/idle status coding. Constraint machines are removed from
    the non-constraint output for single-constraint lines
    (machine_level.py:364-375).
    """
    from ..session import fast_planning

    with fast_planning(line_dt):
        return _gantt_analysis_impl(
            co_agg, co_event_log, machine_dt, line_dt, line_dt_full, server
        )


def _gantt_analysis_impl(
    co_agg: DataFrame,
    co_event_log: DataFrame,
    machine_dt: DataFrame,
    line_dt: DataFrame,
    line_dt_full: DataFrame,
    server: str,
) -> tuple[DataFrame, DataFrame]:
    single_lines = (
        constraints_per_line(line_dt)
        .filter(F.col("Number_of_Constraints") == 1)
        .select("LINE")
    )

    stop_cols = [
        "LINE", "MACHINE", "START_TIME", "END_TIME", "DOWNTIME", "UPTIME",
        "downtime_id", "Fault", "CAUSE_LEVELS_1_NAME", "CAUSE_LEVELS_2_NAME",
        "CAUSE_LEVELS_3_NAME", "CAUSE_LEVELS_4_NAME", "BRANDCODE",
        "OPERATOR_COMMENT", "Planned_Stop_Check", "Idle_Check",
    ]

    # --- non-constraint pass ---
    nc_windowed = attach_stops_to_windows(co_agg, machine_dt.select(*stop_cols))
    nc_gantt = generate_gantt_points(nc_windowed, status=F.lit(2.0))

    # --- constraint pass (single-constraint lines) ---
    co_flag = co_event_log.select("LINE", "downtime_id").withColumn("CO_Event", F.lit(1))
    line_stops = (
        line_dt_full.select(*stop_cols)
        .join(F.broadcast(single_lines), "LINE", "left_semi")
        .join(co_flag, ["LINE", "downtime_id"], "left")
        .na.fill(0, ["CO_Event"])
    )
    # c_windowed feeds the constraint Gantt points (read twice: the
    # union and the constraint-machine removal) and the event log; the
    # one cut of this function pays (removing it cost ~13% of a
    # two-site, two-load run's CPU in paired runs).
    c_windowed = attach_stops_to_windows(co_agg, line_stops).localCheckpoint(
        eager=False
    )
    c_gantt = generate_gantt_points(c_windowed, status=constraint_status())

    # Remove constraint machines from the non-constraint output on
    # single-constraint lines (machine_level.py:366-375).
    constraint_machines = (
        c_gantt.select(F.col("Line").alias("LINE"), F.col("Machine").alias("MACHINE"))
        .distinct()
    )
    nc_gantt = nc_gantt.join(
        constraint_machines,
        (nc_gantt["Line"] == constraint_machines["LINE"])
        & (nc_gantt["Machine"] == constraint_machines["MACHINE"]),
        "left_anti",
    )

    gantt = nc_gantt.unionByName(c_gantt).withColumn("Server", F.lit(server))

    # Event log: the window-overlapping stops themselves, minutes
    # rounded to integers (machine_level.py:405-411).
    nc_log = nc_windowed.join(
        constraint_machines,
        (nc_windowed["LINE"] == constraint_machines["LINE"])
        & (nc_windowed["MACHINE"] == constraint_machines["MACHINE"]),
        "left_anti",
    )
    event_log = (
        nc_log.unionByName(c_windowed.drop("CO_Event"))
        .select(
            "START_TIME",
            F.round("DOWNTIME", 0).alias("DOWNTIME"),
            F.round("UPTIME", 0).alias("UPTIME"),
            "Fault", "CAUSE_LEVELS_1_NAME", "CAUSE_LEVELS_2_NAME",
            "CAUSE_LEVELS_3_NAME", "CAUSE_LEVELS_4_NAME", "BRANDCODE",
            "OPERATOR_COMMENT", "LINE", "MACHINE", "downtime_id", "CO_Identifier",
        )
        .withColumn("Server", F.lit(server))
    )
    return gantt, event_log
