"""Streaming EWMA: per-key exponential smoothing as a stateful
operator (continuous feature engineering over an event stream).

The recurrence ``y = alpha*x + (1-alpha)*y_prev`` carries exactly one
double of state per key, so ``applyInPandasWithState`` state is
bounded by key cardinality — no watermark needed for correctness
(nothing accumulates per event). Each micro-batch folds its rows in
event-time order continuing from the carried state; because the fold
is the SAME float ops in the SAME order as a single batch fold, the
streamed per-row values are bit-identical to the batch recurrence
(the harness hashes them against the batch fold oracle with no
rounding). Out-of-order arrivals across batch boundaries follow the
reference's answer for every operator in this engine: overlap
re-extraction + idempotent reload, not in-flight reordering.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.timeseries import _ewma_fold

EWMA_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

EWMA_STATE_SCHEMA = T.StructType([T.StructField("y", T.DoubleType())])


def ewma_fold_rows(
    key: int,
    pdfs: Iterator[pd.DataFrame],
    prior: float | None,
    alpha: float,
) -> tuple[list[tuple], float | None]:
    """Pure fold: (output rows, carried y). The batch recurrence's own
    fold, continued from ``prior``, so stream == batch bit-for-bit."""
    # A key's rows in one micro-batch can span multiple Arrow chunks
    # (arrow.maxRecordsPerBatch); fold order must be GLOBAL event-time
    # order, so concatenate every chunk before the single sort.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        return [], prior
    batch = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
    batch = batch.sort_values(["ts", "event_id"])
    ys = _ewma_fold(map(float, batch["value"]), alpha, prior)
    out = [
        (key, int(row.event_id), row.ts, y)
        for row, y in zip(batch.itertuples(index=False), ys)
    ]
    return out, ys[-1]


def make_ewma_fn(alpha: float):
    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        prior = state.get[0] if state.exists else None
        rows, y = ewma_fold_rows(int(key[0]), pdfs, prior, alpha)
        if y is not None:
            state.update((float(y),))
        yield pd.DataFrame(rows, columns=["user_id", "event_id", "ts", "ewma"])

    return fn


def streaming_ewma(events: DataFrame, alpha: float) -> DataFrame:
    """Stateful streaming EWMA per user_id: events must carry
    user_id, event_id, ts, value."""
    return events.groupBy("user_id").applyInPandasWithState(
        make_ewma_fn(alpha),
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
