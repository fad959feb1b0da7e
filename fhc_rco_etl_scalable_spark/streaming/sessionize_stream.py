"""Structured Streaming variants of the batch operators (SURVEY §2.11).

The reference is scheduled micro-batch with overlap re-extraction — no
true streaming runtime. These operators are the streaming-native
equivalents for a live deployment:

- ``streaming_sessionize``: the 4-clause attribute-dependent CO
  session rule as a stateful operator. ``F.session_window`` canNOT
  express it (four different gap thresholds conditioned on attribute
  equality), so this uses ``applyInPandasWithState`` per LINE: state
  carries the open session's (id, last end time, last cause, last
  brand); each micro-batch is processed in event-time order per key.
  Late/out-of-order events beyond a batch boundary follow the
  reference's answer: overlap re-extraction + idempotent delete-
  overlap load (sinks/incremental.py), not reordering in-flight.
- ``streaming_runtime_per_day``: watermarked tumbling-day rollup, the
  streaming twin of operators/aggregate.runtime_per_day.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("LINE", T.StringType()),
        T.StructField("downtime_id", T.StringType()),
        T.StructField("START_TIME", T.TimestampType()),
        T.StructField("CO_Identifier", T.StringType()),
    ]
)

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_end_ts", T.DoubleType()),  # epoch seconds
        T.StructField("last_trigger_col", T.StringType()),
        T.StructField("last_brand", T.StringType()),
        T.StructField("session_id", T.StringType()),
    ]
)


def _continues(
    gap_min: float,
    same_trig: bool,
    same_brand: bool,
    p: float,
) -> bool:
    """The 4 continuation clauses (same math as
    operators/sessionize.rco_session_trigger; R clause-4 semantics)."""
    return (
        (same_trig and gap_min < p)
        or (same_trig and same_brand and gap_min < p * 4 / 3)
        or (same_brand and gap_min < p)
        or (gap_min < p * 2 / 3)
    )


def _sessionize_rows(
    line: str,
    pdfs: Iterator[pd.DataFrame],
    prior: tuple | None,
    p_minutes: float,
) -> tuple[list[tuple], tuple]:
    """Pure fold of event rows through the 4-clause rule: returns
    (output rows, new state tuple). The applyInPandasWithState
    function below only moves state and bytes around this fold."""
    if prior is not None:
        last_end, last_trig, last_brand, sess_id = prior
    else:
        last_end, last_trig, last_brand, sess_id = (None, None, None, None)
    out_rows: list[tuple] = []
    for pdf in pdfs:
        pdf = pdf.sort_values(["START_TIME", "downtime_id"])
        for row in pdf.itertuples(index=False):
            start_ts = row.START_TIME.timestamp()
            trig_col = " - ".join(
                "" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v)
                for v in (
                    row.CAUSE_LEVELS_1_NAME,
                    row.CAUSE_LEVELS_2_NAME,
                    row.CAUSE_LEVELS_3_NAME,
                )
            )
            brand = None if pd.isna(row.BRANDCODE) else row.BRANDCODE
            new_session = True
            if last_end is not None:
                gap_min = (start_ts - last_end) / 60.0
                # null-safe brand equality (None == None is 'same'),
                # matching the batch trigger's eqNullSafe semantics
                new_session = not _continues(
                    gap_min,
                    trig_col == last_trig,
                    brand == last_brand,
                    p_minutes,
                )
            if new_session:
                sess_id = (
                    f"{line} - {row.START_TIME.date().isoformat()}"
                    f" - {row.downtime_id}"
                )
            out_rows.append((line, row.downtime_id, row.START_TIME, sess_id))
            last_end, last_trig, last_brand = (
                row.END_TIME.timestamp(),
                trig_col,
                brand,
            )
    return out_rows, (last_end, last_trig, last_brand, sess_id)


def make_session_fn(p_minutes: float):
    """Build the applyInPandasWithState function for a given trigger
    parameter P."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (line,) = key
        prior = state.get if state.exists else None
        out_rows, new_state = _sessionize_rows(line, pdfs, prior, p_minutes)
        state.update(new_state)
        if out_rows:
            yield pd.DataFrame(
                out_rows, columns=["LINE", "downtime_id", "START_TIME", "CO_Identifier"]
            )

    return fn


def streaming_sessionize(events: DataFrame, p_minutes: float) -> DataFrame:
    """Stateful streaming sessionization: events must carry LINE,
    downtime_id, START_TIME, END_TIME, BRANDCODE, CAUSE_LEVELS_1..3."""
    return events.groupBy("LINE").applyInPandasWithState(
        make_session_fn(p_minutes),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_runtime_per_day(events: DataFrame) -> DataFrame:
    """Watermarked tumbling-day uptime rollup (streaming twin of
    runtime_per_day; late data handled by a 1-day watermark instead of
    the batch overlap-reload)."""
    return (
        events.withWatermark("START_TIME", "1 day")
        .groupBy(F.window("START_TIME", "1 day").alias("w"), "LINE")
        .agg(F.sum("UPTIME").alias("Runtime"))
        .select(F.col("w.start").cast("date").alias("Date"), "LINE", "Runtime")
    )


def streaming_hopping_runtime(
    events: DataFrame,
    size_days: int = 2,
    slide_days: int = 1,
) -> DataFrame:
    """Watermarked HOPPING (sliding) uptime rollup: overlapping
    ``size_days`` windows advancing every ``slide_days`` — the
    trailing-average shape tumbling windows cannot express. Each event
    lands in size/slide windows; Spark assigns them all in one
    Generate (no self-union), and window state is still bounded by the
    1-day watermark. Window starts are epoch-aligned, so day-granularity
    slides fall on midnight — which is what makes the batch/SQL twin
    (event contributes to starts trunc_day(ts)-k, k < size/slide)
    line up exactly."""
    return (
        events.withWatermark("START_TIME", "1 day")
        .groupBy(
            F.window(
                "START_TIME", f"{size_days} days", f"{slide_days} days"
            ).alias("w"),
            "LINE",
        )
        .agg(F.sum("UPTIME").alias("Runtime"))
        .select(
            F.col("w.start").cast("date").alias("WindowStart"),
            "LINE",
            "Runtime",
        )
    )
