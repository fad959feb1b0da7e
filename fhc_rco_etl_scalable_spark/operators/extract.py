"""Downtime/production event normalization: derived flags and the
constraint/exclusion filter lattice (SURVEY §2.1/2.3; reference
App/etl/extract/data_from_mdc.py:8-111).

The reference derives boolean flags row-by-row with Python lambdas
(data_from_mdc.py:62-85) then materializes four filtered copies of the
downtime frame. Here the flags are native column expressions and the
"variants" are lazy filters over ONE scan — Catalyst collapses the
lattice into predicate pushdown, so each variant reads only what it
needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BLOCKED_STARVED = ("DTMach-Blocked", "DTMach-Starved")


def with_derived_flags(
    downtime: DataFrame,
    line_config: DataFrame | None = None,
) -> DataFrame:
    """Attach isConstraint / isExcluded / isStop / Planned_Stop_Check /
    Idle_Check (reference data_from_mdc.py:62-85).

    - constraint machine name = LINE + ' ' + Constraint_Machine_String
      (broadcast join to line_config on LINE = MDC_Line_Name);
    - isExcluded: LineStatus present and != 'None' (PR-Out stretches);
    - isStop: category is a real stop, not blocked/starved propagation;
    - Planned/Idle checks: substring containment over cause level 1.
    """
    df = downtime
    if line_config is not None:
        cfg = line_config.select(
            F.col("MDC_Line_Name").alias("LINE"),
            F.concat_ws(
                " ", F.col("MDC_Line_Name"), F.col("Constraint_Machine_String")
            ).alias("__constraint_machine"),
        )
        df = df.join(F.broadcast(cfg), "LINE", "left").withColumn(
            "isConstraint",
            F.col("MACHINE").eqNullSafe(F.col("__constraint_machine")),
        ).drop("__constraint_machine")
    elif "isConstraint" not in df.columns:
        df = df.withColumn("isConstraint", F.lit(True))

    return (
        df.withColumn(
            "isExcluded",
            F.col("LineStatus").isNotNull() & (F.col("LineStatus") != "None"),
        )
        # substring containment, not exact match (data_from_mdc.py:80:
        # ``any(item in x ...)``) — 'DTMach-Blocked: upstream' is still
        # blocked propagation, not a stop.
        .withColumn(
            "isStop",
            ~F.coalesce(
                F.col("dtCategory").rlike("|".join(BLOCKED_STARVED)), F.lit(False)
            ),
        )
        # 'Planned' substring of the CATEGORY (data_from_mdc.py:83-84;
        # the port's per-char loop is a noted bug — the commented
        # np.where shows the intent).
        .withColumn(
            "Planned_Stop_Check",
            F.when(
                F.coalesce(F.col("dtCategory"), F.lit("")).contains("Planned"), 1
            ).otherwise(0),
        )
        # Idle_Check mirrors isExcluded (data_from_mdc.py:85:
        # np.where(isExcluded, 1, 0)).
        .withColumn("Idle_Check", F.when(F.col("isExcluded"), 1).otherwise(0))
    )


def production_only_filter(production: DataFrame) -> DataFrame:
    """Keep only 'In Production' production-event rows (F6; reference
    data_from_mdc.py:183: ``renamed_data['LineStatus'].astype(str) ==
    'In Production'``).

    The reference applies this at EXTRACTION, before anything consumes
    the production log — PR-Out / NPT stretches must not vote in the
    brandcode master argmax (A5) nor feed the max-positive StatFactor
    (A6). astype(str) maps NaN to the literal 'nan', which never equals
    'In Production', so a plain equality (null ⇒ drop) is the faithful
    Spark form. A pushdown-friendly scan predicate: reaches the parquet
    reader as an EqualTo filter.
    """
    return production.filter(F.col("LineStatus") == "In Production")


def _one_stop_per_line_start(df: DataFrame) -> DataFrame:
    """Multi-constraint dedup: one row per (LINE, START_TIME), kept by
    min downtime_id — a deterministic pick, where a bare dropDuplicates
    would keep an arbitrary row and make session and downtime sums
    run-dependent."""
    w = Window.partitionBy("LINE", "START_TIME").orderBy("downtime_id")
    return (
        df.withColumn("__dd", F.row_number().over(w))
        .filter(F.col("__dd") == 1)
        .drop("__dd")
    )


def constraints_per_line(line_dt: DataFrame) -> DataFrame:
    """Number_of_Constraints per LINE: the distinct constraint machines
    of the line stream (A2; reference machine_level.py:24-25,
    overall_etl.py:205-212)."""
    return line_dt.groupBy("LINE").agg(
        F.countDistinct("MACHINE").alias("Number_of_Constraints")
    )


def downtime_variants(
    flagged: DataFrame, multi_constraint: bool = False
) -> dict[str, DataFrame]:
    """The reference's four extraction outputs (data_from_mdc.py:89-111):

    - line_dt_full: constraint-machine stops;
    - line_dt: the above minus excluded rows (null START dropped);
    - machine_dt_full: every stop (constraint machines REMOVED unless
      the site runs multi-constraint, :106-108);
    - machine_dt: the above minus excluded rows.

    All lazy views over one frame; ``isStop`` is informational (used by
    downstream filters, not the lattice — faithful to the reference).

    Multi-constraint sites dedup the LINE stream at extraction — one
    row per (LINE, START_TIME), deterministically by min downtime_id —
    so EVERY line-stream consumer (sessionization, first-stop uptime
    cumulation, Gantt windows, as-of brandcode) sees each physical stop
    once (reference: R dedups ``fulldata`` before splitting the
    variants, RCO_Maple_orchestrator.R:54-60; the Python port intends
    the same at data_from_mdc.py:91-94 but its ``inplace=True``
    assignment bug nulls the frame — documented in SURVEY O4, not
    replicated). Machine streams are not deduped, matching the port.
    """
    constraint = F.col("isConstraint")
    line_stream = flagged
    if multi_constraint:
        line_stream = _one_stop_per_line_start(flagged)
    line_dt_full = line_stream.filter(constraint)
    line_dt = line_dt_full.filter(~F.col("isExcluded")).na.drop(subset=["START_TIME"])
    machine_dt_full = flagged.na.drop(subset=["START_TIME"])
    if not multi_constraint:
        machine_dt_full = machine_dt_full.filter(~constraint)
    machine_dt = machine_dt_full.filter(~F.col("isExcluded"))
    return {
        "line_dt": line_dt,
        "line_dt_full": line_dt_full,
        "machine_dt": machine_dt,
        "machine_dt_full": machine_dt_full,
    }
