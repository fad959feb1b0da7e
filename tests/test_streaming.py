"""Streaming sessionization: drive a file-source stream through
applyInPandasWithState and check parity with the batch sessionizer."""

import os
from datetime import datetime, timedelta

import pytest

from fhc_rco_etl_scalable_spark.streaming.sessionize_stream import (
    streaming_runtime_per_day,
    streaming_sessionize,
)

T0 = datetime(2024, 1, 1, 6, 0)

SCHEMA = (
    "downtime_id string, LINE string, START_TIME timestamp, END_TIME timestamp,"
    " DOWNTIME double, UPTIME double, BRANDCODE string, CAUSE_LEVELS_1_NAME string,"
    " CAUSE_LEVELS_2_NAME string, CAUSE_LEVELS_3_NAME string"
)


def _ev(did, line, start_min, dt_min, brand, cause2):
    s = T0 + timedelta(minutes=start_min)
    return (did, line, s, s + timedelta(minutes=dt_min), float(dt_min), 10.0,
            brand, "Planned", cause2, None)


ROWS = [
    _ev("d1", "L1", 0, 10, "A", "CO"),
    _ev("d2", "L1", 20, 5, "A", "CO"),     # gap 10 < 30 same cause -> continue
    _ev("d3", "L1", 120, 5, "B", "CO"),    # gap 95 -> new session
    _ev("e1", "L2", 5, 5, "X", "CO"),
]


@pytest.fixture(scope="module")
def stream_result(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("stream_src"))
    spark.createDataFrame(ROWS, SCHEMA).coalesce(1).write.mode("overwrite").parquet(src)
    events = spark.readStream.schema(SCHEMA).parquet(src)
    sessions = streaming_sessionize(events, p_minutes=30.0)
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return {r.downtime_id: r.CO_Identifier for r in spark.sql("SELECT * FROM sess_out").collect()}


def test_streaming_sessions_match_batch_rule(stream_result):
    assert stream_result["d1"] == "L1 - 2024-01-01 - d1"
    assert stream_result["d2"] == "L1 - 2024-01-01 - d1"  # continued
    assert stream_result["d3"] == "L1 - 2024-01-01 - d3"  # split
    assert stream_result["e1"] == "L2 - 2024-01-01 - e1"  # separate key


def test_state_carries_across_batches(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("stream_src2"))
    os.makedirs(src, exist_ok=True)
    chk = str(tmp_path_factory.mktemp("chk"))
    out = str(tmp_path_factory.mktemp("out"))
    # batch 1: session opener
    spark.createDataFrame([_ev("a1", "L1", 0, 10, "A", "CO")], SCHEMA).coalesce(1)\
        .write.mode("append").parquet(src)
    events = spark.readStream.schema(SCHEMA).parquet(src)
    sessions = streaming_sessionize(events, p_minutes=30.0)

    def run_once():
        # file sink: supports checkpoint recovery (memory sink doesn't)
        q = (
            sessions.writeStream.outputMode("append").format("parquet")
            .option("path", out).option("checkpointLocation", chk)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run_once()
    # batch 2: event within gap -> must continue a1's session USING STATE
    spark.createDataFrame([_ev("a2", "L1", 15, 5, "A", "CO")], SCHEMA).coalesce(1)\
        .write.mode("append").parquet(src)
    run_once()
    got = {r.downtime_id: r.CO_Identifier
           for r in spark.read.parquet(out).collect()}
    assert got["a1"] == "L1 - 2024-01-01 - a1"
    assert got["a2"] == "L1 - 2024-01-01 - a1"  # state survived the batch boundary


def test_streaming_runtime_rollup(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("stream_src3"))
    spark.createDataFrame(ROWS, SCHEMA).coalesce(1).write.mode("overwrite").parquet(src)
    events = spark.readStream.schema(SCHEMA).parquet(src)
    rollup = streaming_runtime_per_day(events)
    q = (
        rollup.writeStream.outputMode("append").format("memory")
        .queryName("rt_out").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    # append-mode windows only emit once the watermark passes; with a
    # single batch nothing may finalize -- the query must at least run.
    rows = spark.sql("SELECT * FROM rt_out").collect()
    assert rows is not None


def test_streaming_hopping_membership(spark, tmp_path_factory):
    """2-day/1-day hopping windows: every event contributes to exactly
    TWO window starts (trunc_day(ts) and the day before), so each
    per-line daily uptime appears under both — checked in complete
    mode so every window is in the result table."""
    from fhc_rco_etl_scalable_spark.streaming.sessionize_stream import (
        streaming_hopping_runtime,
    )

    src = str(tmp_path_factory.mktemp("stream_src_hop"))
    spark.createDataFrame(ROWS, SCHEMA).coalesce(1).write.mode("overwrite").parquet(src)
    events = spark.readStream.schema(SCHEMA).parquet(src)
    rollup = streaming_hopping_runtime(events, size_days=2, slide_days=1)
    q = (
        rollup.writeStream.outputMode("complete").format("memory")
        .queryName("hop_out").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r.WindowStart, r.LINE): r.Runtime
        for r in spark.sql("SELECT * FROM hop_out").collect()
    }
    # batch truth: tumbling day sums, each day d feeding windows
    # starting d and d-1.
    import datetime as dt
    from collections import defaultdict

    days = defaultdict(float)
    for row in spark.createDataFrame(ROWS, SCHEMA).collect():
        days[(row.START_TIME.date(), row.LINE)] += row.UPTIME
    want = defaultdict(float)
    for (d, line), v in days.items():
        for k in (0, 1):
            want[(d - dt.timedelta(days=k), line)] += v
    assert {k: round(v, 6) for k, v in got.items()} == {
        k: round(v, 6) for k, v in want.items()
    }


# ---------------------------------------------------------------------------
# State Data Source inspection (streaming/state_inspect.py): read the
# sessionizer's open-session state straight from the checkpoint.
# ---------------------------------------------------------------------------


def test_state_inspect_open_sessions(spark, tmp_path_factory):
    from fhc_rco_etl_scalable_spark.streaming.state_inspect import (
        open_sessions,
        read_state,
        state_operators,
    )

    src = str(tmp_path_factory.mktemp("si_src"))
    chk = str(tmp_path_factory.mktemp("si_chk"))
    out = str(tmp_path_factory.mktemp("si_out"))
    os.makedirs(src, exist_ok=True)
    events = spark.readStream.schema(SCHEMA).parquet(src)
    sessions = streaming_sessionize(events, p_minutes=30.0)

    def run_once():
        # file sink: supports checkpoint recovery (memory sink doesn't)
        q = (
            sessions.writeStream.outputMode("append").format("parquet")
            .option("path", out).option("checkpointLocation", chk)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    # batch 0: d1 opens a session on L1, e1 on L2
    spark.createDataFrame([ROWS[0], ROWS[3]], SCHEMA).coalesce(1)\
        .write.mode("append").parquet(src)
    run_once()

    meta = {r.operatorName for r in state_operators(spark, chk).collect()}
    assert "applyInPandasWithState" in meta

    got = {r.LINE: r for r in open_sessions(spark, chk).collect()}
    assert got["L1"].session_id == "L1 - 2024-01-01 - d1"
    assert got["L2"].session_id == "L2 - 2024-01-01 - e1"
    assert got["L1"].last_brand == "A"
    # last_end_time is d1's END_TIME (START + 10 min), decoded to a ts
    assert got["L1"].last_end_time == T0 + timedelta(minutes=10)

    # batch 1: d3 is beyond every gap clause -> L1's open session flips
    spark.createDataFrame([ROWS[2]], SCHEMA).coalesce(1)\
        .write.mode("append").parquet(src)
    run_once()
    got = {r.LINE: r.session_id for r in open_sessions(spark, chk).collect()}
    assert got["L1"] == "L1 - 2024-01-01 - d3"
    assert got["L2"] == "L2 - 2024-01-01 - e1"  # untouched key carried

    # time travel: batch 0's snapshot still shows the d1 session
    hist = {r.LINE: r.session_id
            for r in open_sessions(spark, chk, batch_id=0).collect()}
    assert hist["L1"] == "L1 - 2024-01-01 - d1"

    # raw reader exposes the typed store
    raw = read_state(spark, chk)
    assert {f.name for f in raw.schema} == {"key", "value", "partition_id"}


# ---------------------------------------------------------------------------
# VERDICT r10 #2 probe: dropDuplicatesWithinWatermark keeps dedup state
# bounded by the watermark horizon, while plain dropDuplicates on a
# derived (day, user) key never evicts — state grows with days x users.
# ---------------------------------------------------------------------------


def test_dedup_state_bounded_by_watermark(spark, tmp_path_factory):
    """40 days x 5 users of duplicated events, replayed as 8 ts-ordered
    file batches (5 days each). The plain variant's dedup state is the
    full cumulative key set (200 + grows every batch); the
    within-watermark variant holds only keys whose expiry (event ts +
    2d) is ahead of the watermark — a sliding ~7-day x users band.
    Both variants must EMIT the identical deduped rows: bounded state
    changes retention, not results, inside the lateness bound."""
    import glob
    import shutil
    import tempfile
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from fhc_rco_etl_scalable_spark.streaming.state_inspect import read_state

    days, users, per_day, batch_days = 40, 5, 2, 5
    t0 = datetime(2024, 3, 1, 0, 0)
    rows = [
        (u, t0 + timedelta(days=d, hours=3 * e))
        for d in range(days)
        for u in range(users)
        for e in range(per_day)  # per_day events per (day, user) = dups
    ]
    schema_txt = "user_id long, ts timestamp"
    src = str(tmp_path_factory.mktemp("dwm_src"))
    base = 1_700_000_000
    for b in range(days // batch_days):
        batch = [r for r in rows if (r[1] - t0).days // batch_days == b]
        tmpd = tempfile.mkdtemp(prefix="dwm-stage-")
        try:
            spark.createDataFrame(batch, schema_txt).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(tmpd, "out"))
            part = glob.glob(os.path.join(tmpd, "out", "part-*.parquet"))[0]
            target = os.path.join(src, f"b{b:02d}.parquet")
            shutil.move(part, target)
            os.utime(target, (base + b, base + b))
        finally:
            shutil.rmtree(tmpd, ignore_errors=True)

    def run(variant):
        chk = str(tmp_path_factory.mktemp(f"dwm_chk_{variant}"))
        out = str(tmp_path_factory.mktemp(f"dwm_out_{variant}"))
        feed = (
            spark.readStream.schema(schema_txt)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withColumn("day", F.date_trunc("day", F.col("ts")))
        )
        if variant == "wm":
            dd = feed.withWatermark("ts", "2 days").dropDuplicatesWithinWatermark(
                ["day", "user_id"]
            )
        else:
            dd = feed.dropDuplicates(["day", "user_id"])
        q = (
            dd.writeStream.outputMode("append").format("parquet")
            .option("path", out).option("checkpointLocation", chk)
            .trigger(availableNow=True).start()
        )
        assert q.awaitTermination(300)
        last = q.lastProgress["batchId"]
        q.stop()
        emitted = spark.read.parquet(out)
        state_per_batch = [
            read_state(spark, chk, batch_id=b).count() for b in range(last + 1)
        ]
        return emitted, state_per_batch

    plain_out, plain_state = run("plain")
    wm_out, wm_state = run("wm")

    # identical deduped output (bounded state, same answer)
    canon = lambda df: sorted(
        (r.user_id, r.ts) for r in df.select("user_id", "ts").collect()
    )
    assert canon(plain_out) == canon(wm_out)
    assert plain_out.count() == days * users

    # plain: cumulative — strictly growing, ends at days*users
    assert plain_state[-1] == days * users
    assert all(b > a for a, b in zip(plain_state, plain_state[1:]))

    # wm: bounded by the horizon — the store never holds more than a
    # ~(delay + wm-lag + batch-span) day band of keys (<= 9 days x
    # users here, vs 40 x users cumulative), and it PLATEAUS: the max
    # across the second half is no larger than across the first.
    assert max(wm_state) <= 9 * users, wm_state
    half = len(wm_state) // 2
    assert max(wm_state[half:]) <= max(wm_state[:half]), wm_state


# ---------------------------------------------------------------------------
# ADVICE r10: the outer stream-stream join's cross-batch scenario the
# 1-data-batch harness entry no longer replays — a left row held in
# state whose match arrives in a LATER data batch must emit matched
# exactly once, never also as a null-padded row.
# ---------------------------------------------------------------------------


def test_ssjo_match_in_later_batch_suppresses_null_pad(spark, tmp_path_factory):
    """Purchase P1 arrives in micro-batch 0; its in-window view V1 only
    in micro-batch 1. The join must hold P1 unmatched in state across
    the boundary, emit (P1, V1) when V1 lands, and — when the sentinel
    watermark later proves no further match can arrive — NOT emit a
    null-padded P1. Purchase P2 (no view anywhere) pins the contrast:
    its null-pad MUST drain."""
    import glob
    import shutil
    import tempfile
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from fhc_rco_etl_scalable_spark.streaming.join_stream import (
        stream_stream_interval_join,
    )

    t0 = datetime(2024, 6, 1, 12, 0)
    schema_txt = "user_id long, event_id long, ts timestamp, event_type string"
    far = t0 + timedelta(days=30)
    batches = [
        # batch 0: P1 (will match later) + P2 (never matches)
        [(1, 100, t0 + timedelta(minutes=60), "purchase"),
         (2, 200, t0 + timedelta(minutes=61), "purchase")],
        # batch 1: V1 inside [P1.ts - 1h, P1.ts]
        [(1, 101, t0 + timedelta(minutes=30), "view")],
        # batch 2: sentinel generation 1 advances both watermarks
        [(-1, -1, far, "purchase"), (-1, -2, far + timedelta(hours=2), "view")],
        # batch 3: zero rows — exists only to APPLY generation 1's wm
        [],
    ]
    src = str(tmp_path_factory.mktemp("ssjo_xbatch_src"))
    base = 1_700_000_000
    for b, rows in enumerate(batches):
        tmpd = tempfile.mkdtemp(prefix="ssjo-xb-")
        try:
            spark.createDataFrame(rows, schema_txt).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(tmpd, "out"))
            part = glob.glob(os.path.join(tmpd, "out", "part-*.parquet"))[0]
            target = os.path.join(src, f"b{b:02d}.parquet")
            shutil.move(part, target)
            os.utime(target, (base + b, base + b))
        finally:
            shutil.rmtree(tmpd, ignore_errors=True)

    feed = (
        spark.readStream.schema(schema_txt)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    purchases = feed.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    views = feed.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("user_id"),
        F.col("event_id").alias("v_id"),
        F.col("ts").alias("v_ts"),
    )
    joined = stream_stream_interval_join(
        purchases, views, key="user_id",
        left_time="p_ts", right_time="v_ts", lookback="1 hour",
        delay="1 minute", how="left_outer",
    )
    out = joined.select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.p_id").alias("purchase_id"),
        F.col("r.v_id").alias("view_id"),
    )
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("ssjo_xbatch").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(300)
    n_microbatches = q.lastProgress["batchId"] + 1
    q.stop()
    assert n_microbatches >= 4  # the carry + both sentinel batches ran
    rows = [
        (r.purchase_id, r.view_id)
        for r in spark.table("ssjo_xbatch").filter(F.col("user_id") >= 0).collect()
    ]
    # P1: exactly one row, matched across the batch boundary — and no
    # null-padded duplicate after the watermark passes.
    assert rows.count((100, 101)) == 1
    assert (100, None) not in rows
    # P2: the null-pad must drain once the sentinel watermark applies.
    assert rows.count((200, None)) == 1
    assert len(rows) == 2


# ---------------------------------------------------------------------------
# The catalog's replay runner (plans/harness_queries.py::_replay): one
# seeded feed through the drained two-batch protocol the sentinel
# entries use.
# ---------------------------------------------------------------------------


def test_replay_drains_sentinel_feed_to_batch_result(spark, tmp_path):
    """A daily unique-visitor rollup replayed in 2 micro-batches plus
    the zero-row drain batch equals the batch count(DISTINCT); the
    query is gone afterwards and the session's shuffle width is back
    where it was."""
    import random

    from pyspark.sql import functions as F

    from fhc_rco_etl_scalable_spark.plans.harness_queries import _replay

    rng = random.Random(11)
    t0 = datetime(2024, 3, 1)
    rows = [
        (rng.randrange(25), i, t0 + timedelta(minutes=rng.randrange(4 * 24 * 60)))
        for i in range(300)
    ]
    # the sentinel rides in the last data batch and closes every real day
    sentinel = (-1, -1, max(r[2] for r in rows) + timedelta(days=30))
    feed = spark.createDataFrame(
        rows + [sentinel], "user_id long, event_id long, ts timestamp"
    )

    def shuffle_setting():
        explicit = {r["key"]: r["value"] for r in spark.sql("SET").collect()}
        return explicit.get("spark.sql.shuffle.partitions")

    before = shuffle_setting()
    sink = _replay(
        spark, feed, 2, ["ts", "event_id"], "sg-replaytest", str(tmp_path),
        lambda events: (
            events.withWatermark("ts", "1 minute")
            .withColumn("day", F.date_trunc("day", "ts"))
            .dropDuplicates(["day", "user_id"])
            .groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("day"), "n")
        ),
        partitions=2, drain=True,
    )
    want = (
        feed.filter(F.col("user_id") >= 0)
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
    )
    assert sorted(map(tuple, sink.collect())) == sorted(map(tuple, want.collect()))
    assert not spark.streams.active
    assert shuffle_setting() == before
