"""Incremental sink semantics: delete-overlap+append idempotence,
brandcode merge, script-data upsert, watermark, lookback policy."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import types as T

from fhc_rco_etl_scalable_spark.sinks.incremental import (
    ParquetIncrementalSink,
    lookback_start,
)

T0 = datetime(2024, 1, 10, 12, 0)

CO_SCHEMA = T.StructType(
    [
        T.StructField("CO_Identifier", T.StringType()),
        T.StructField("LINE", T.StringType()),
        T.StructField("CO_StartTime", T.TimestampType()),
        T.StructField("CO_DOWNTIME", T.DoubleType()),
        T.StructField("Server", T.StringType()),
    ]
)


def _rows(spark, specs):
    data = [
        (cid, line, T0 + timedelta(minutes=m), dt, srv)
        for cid, line, m, dt, srv in specs
    ]
    return spark.createDataFrame(data, CO_SCHEMA)


def _collect(sink, table):
    df = sink.read(table)
    return sorted((r.CO_Identifier, r.LINE, r.CO_DOWNTIME) for r in df.collect())


def test_delete_overlap_append_idempotent(spark, tmp_path):
    sink = ParquetIncrementalSink(spark, str(tmp_path / "t1"))
    wm = T0 - timedelta(minutes=30)
    old = _rows(spark, [("old1", "L1", -120, 1.0, "S"), ("old2", "L1", -40, 2.0, "S")])
    sink.delete_overlap_append(old, "co", CO_SCHEMA, "CO_StartTime", watermark=wm - timedelta(days=1))
    batch = _rows(spark, [("new1", "L1", -20, 3.0, "S"), ("new2", "L1", 0, 4.0, "S")])
    sink.delete_overlap_append(batch, "co", CO_SCHEMA, "CO_StartTime", watermark=wm)
    first = _collect(sink, "co")
    # old2 (-40min) is before the watermark-10s cutoff -> survives
    assert ("old1", "L1", 1.0) in first and ("old2", "L1", 2.0) in first
    assert ("new1", "L1", 3.0) in first
    # re-run the same batch: identical result (idempotence)
    sink.delete_overlap_append(batch, "co", CO_SCHEMA, "CO_StartTime", watermark=wm)
    assert _collect(sink, "co") == first


def test_delete_overlap_scoped_to_batch_lines(spark, tmp_path):
    sink = ParquetIncrementalSink(spark, str(tmp_path / "t2"))
    wm = T0 - timedelta(minutes=60)
    seed = _rows(spark, [("a", "L1", 0, 1.0, "S"), ("b", "L2", 0, 1.0, "S")])
    sink.delete_overlap_append(seed, "co", CO_SCHEMA, "CO_StartTime", watermark=wm - timedelta(days=1))
    # batch touches only L1; L2's overlapping row must survive
    batch = _rows(spark, [("a2", "L1", 5, 9.0, "S")])
    sink.delete_overlap_append(batch, "co", CO_SCHEMA, "CO_StartTime", watermark=wm)
    got = _collect(sink, "co")
    assert ("b", "L2", 1.0) in got and ("a2", "L1", 9.0) in got
    assert ("a", "L1", 1.0) not in got  # overlapped, replaced


def test_append_pads_missing_columns(spark, tmp_path):
    sink = ParquetIncrementalSink(spark, str(tmp_path / "t3"))
    partial = spark.createDataFrame(
        [("x", "L1")], "CO_Identifier string, LINE string"
    )
    sink.append_aligned(partial, "co", CO_SCHEMA)
    df = sink.read("co")
    assert df.columns == [f.name for f in CO_SCHEMA.fields]
    assert df.first().CO_DOWNTIME is None


BC_SCHEMA = T.StructType(
    [
        T.StructField("BRANDCODE", T.StringType()),
        T.StructField("BRANDNAME", T.StringType()),
        T.StructField("Server", T.StringType()),
    ]
)


def test_brandcode_merge(spark, tmp_path):
    sink = ParquetIncrementalSink(spark, str(tmp_path / "t4"))
    hist = spark.createDataFrame([("A", "old-A", "S"), ("B", "old-B", "S")], BC_SCHEMA)
    sink.merge_dedup_overwrite(hist, "bc", BC_SCHEMA)
    batch = spark.createDataFrame([("B", "new-B", "S"), ("C", "new-C", "S")], BC_SCHEMA)
    sink.merge_dedup_overwrite(batch, "bc", BC_SCHEMA)
    got = {r.BRANDCODE: r.BRANDNAME for r in sink.read("bc").collect()}
    assert got == {"A": "old-A", "B": "new-B", "C": "new-C"}


SD_SCHEMA = T.StructType(
    [
        T.StructField("System", T.StringType()),
        T.StructField("Data_Update_Time", T.TimestampType()),
        T.StructField("Server", T.StringType()),
    ]
)


def test_script_data_upsert_and_watermark(spark, tmp_path):
    sink = ParquetIncrementalSink(spark, str(tmp_path / "t5"))
    assert sink.watermark("sd") is None
    r1 = spark.createDataFrame([("L1", T0, "S")], SD_SCHEMA)
    sink.upsert_script_data(r1, "sd", SD_SCHEMA)
    r2 = spark.createDataFrame(
        [("L1", T0 + timedelta(hours=1), "S"), ("L2", T0, "S")], SD_SCHEMA
    )
    sink.upsert_script_data(r2, "sd", SD_SCHEMA)
    rows = {(r.System, r.Server): r.Data_Update_Time for r in sink.read("sd").collect()}
    assert rows[("L1", "S")] == T0 + timedelta(hours=1)  # replaced
    assert rows[("L2", "S")] == T0
    assert sink.watermark("sd") == T0 + timedelta(hours=1)


def test_lookback_policy():
    # Reference mapping (App/utils/time_utils.py:25-51): 3→7d, 20→2d,
    # 21→14d, 22→7d, else 3d, anchored at the watermark (now if none).
    now = datetime(2024, 1, 10, 1, 0)
    wm = datetime(2024, 1, 9, 23, 0)
    assert lookback_start(now, None) == now - timedelta(days=3)
    assert lookback_start(now.replace(hour=3), wm) == wm - timedelta(days=7)
    assert lookback_start(now.replace(hour=20), wm) == wm - timedelta(days=2)
    assert lookback_start(now.replace(hour=21), wm) == wm - timedelta(days=14)
    assert lookback_start(now.replace(hour=22), wm) == wm - timedelta(days=7)
    assert lookback_start(now.replace(hour=12), wm) == wm - timedelta(days=3)
    # a stale watermark still gets its full pre-watermark lookback
    stale = datetime(2023, 12, 1, 0, 0)
    assert lookback_start(now.replace(hour=12), stale) == stale - timedelta(days=3)


def test_delete_overlap_keeps_null_ts_rows(spark, tmp_path):
    # ADVICE r1: `ts >= cutoff` is NULL for NULL-ts rows; the survivor
    # filter must not silently delete them (reference DELETE keeps them).
    sink = ParquetIncrementalSink(spark, str(tmp_path / "t4"))
    wm = T0 - timedelta(minutes=30)
    seed = spark.createDataFrame(
        [("nullts", "L1", None, 1.0, "S"), ("ok", "L1", T0 - timedelta(days=2), 2.0, "S")],
        CO_SCHEMA,
    )
    sink.delete_overlap_append(seed, "co", CO_SCHEMA, "CO_StartTime", watermark=wm - timedelta(days=1))
    batch = _rows(spark, [("new1", "L1", 0, 3.0, "S")])
    sink.delete_overlap_append(batch, "co", CO_SCHEMA, "CO_StartTime", watermark=wm)
    got = _collect(sink, "co")
    assert ("nullts", "L1", 1.0) in got
    assert ("ok", "L1", 2.0) in got and ("new1", "L1", 3.0) in got


def _partition_file_stats(data_dir, rel):
    import os

    d = os.path.join(data_dir, rel)
    return sorted(
        (f, os.stat(os.path.join(d, f)).st_mtime_ns, os.stat(os.path.join(d, f)).st_ino)
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )


def test_untouched_partitions_not_rewritten(spark, tmp_path):
    # VERDICT r3 item 4: a load must rewrite ONLY the (LINE, Server)
    # partition dirs whose keys appear in the batch — the replaceWhere
    # pattern over plain parquet. With the version-pointer layout,
    # untouched partitions in the new snapshot are HARD LINKS of the
    # previous snapshot's files. Assert via file inode/mtime identity.
    root = str(tmp_path / "t6")
    sink = ParquetIncrementalSink(spark, root)
    wm = T0 - timedelta(minutes=30)
    seed = _rows(
        spark,
        [("a", "L1", -120, 1.0, "S"), ("b", "L2", -120, 2.0, "S"), ("c", "L3", 0, 3.0, "S")],
    )
    sink.delete_overlap_append(seed, "co", CO_SCHEMA, "CO_StartTime", watermark=wm - timedelta(days=1))
    before_l2 = _partition_file_stats(sink._data_path("co"), "LINE=L2/Server=S")
    before_l3 = _partition_file_stats(sink._data_path("co"), "LINE=L3/Server=S")
    assert before_l2 and before_l3

    batch = _rows(spark, [("a2", "L1", 0, 9.0, "S")])
    sink.delete_overlap_append(batch, "co", CO_SCHEMA, "CO_StartTime", watermark=wm)

    # L2/L3 files in the new snapshot are byte-identical (same inode —
    # never rewritten, just hard-linked forward)
    assert _partition_file_stats(sink._data_path("co"), "LINE=L2/Server=S") == before_l2
    assert _partition_file_stats(sink._data_path("co"), "LINE=L3/Server=S") == before_l3
    got = _collect(sink, "co")
    assert ("a", "L1", 1.0) in got  # pre-cutoff survivor in touched partition
    assert ("a2", "L1", 9.0) in got and ("b", "L2", 2.0) in got and ("c", "L3", 3.0) in got


def test_legacy_unpartitioned_table_migrates(spark, tmp_path):
    # A flat table (first written by append_aligned) is rewritten whole
    # into the partitioned layout on its first partition-scoped load.
    root = str(tmp_path / "t7")
    sink = ParquetIncrementalSink(spark, root)
    wm = T0 - timedelta(minutes=30)
    flat = _rows(spark, [("a", "L1", -120, 1.0, "S"), ("b", "L2", 0, 2.0, "S")])
    import os

    sink.append_aligned(flat, "co", CO_SCHEMA)
    assert sink._layout_partition_cols("co") == []
    batch = _rows(spark, [("a2", "L1", 0, 9.0, "S")])
    sink.delete_overlap_append(batch, "co", CO_SCHEMA, "CO_StartTime", watermark=wm)
    got = _collect(sink, "co")
    assert got == sorted([("a", "L1", 1.0), ("a2", "L1", 9.0), ("b", "L2", 2.0)])
    assert os.path.isdir(os.path.join(sink._data_path("co"), "LINE=L1", "Server=S"))
    assert os.path.isdir(os.path.join(sink._data_path("co"), "LINE=L2", "Server=S"))


def test_append_into_partitioned_table_follows_layout(spark, tmp_path):
    # append_aligned into a partition-scoped table must write into the
    # hive layout (flat files at the root would break reads).
    import os

    root = str(tmp_path / "t8")
    sink = ParquetIncrementalSink(spark, root)
    wm = T0 - timedelta(minutes=30)
    seed = _rows(spark, [("a", "L1", -120, 1.0, "S")])
    sink.delete_overlap_append(seed, "co", CO_SCHEMA, "CO_StartTime", watermark=wm)
    extra = _rows(spark, [("b", "L2", -120, 2.0, "S")])
    sink.append_aligned(extra, "co", CO_SCHEMA)
    data_dir = sink._data_path("co")
    flat = [f for f in os.listdir(data_dir) if f.endswith(".parquet")]
    assert not flat, f"flat files mixed into hive layout: {flat}"
    assert os.path.isdir(os.path.join(data_dir, "LINE=L2", "Server=S"))
    got = _collect(sink, "co")
    assert got == sorted([("a", "L1", 1.0), ("b", "L2", 2.0)])


def test_delete_overlap_empty_batch_is_noop(spark, tmp_path):
    sink = ParquetIncrementalSink(spark, str(tmp_path / "t9"))
    wm = T0 - timedelta(minutes=30)
    seed = _rows(spark, [("a", "L1", -120, 1.0, "S")])
    sink.delete_overlap_append(seed, "co", CO_SCHEMA, "CO_StartTime", watermark=wm)
    before = _collect(sink, "co")
    empty = _rows(spark, [])
    sink.delete_overlap_append(empty, "co", CO_SCHEMA, "CO_StartTime", watermark=wm)
    assert _collect(sink, "co") == before
    # empty FIRST load must not create an unreadable schema-less dir
    sink2 = ParquetIncrementalSink(spark, str(tmp_path / "t9b"))
    sink2.delete_overlap_append(empty, "co", CO_SCHEMA, "CO_StartTime", watermark=wm)
    assert sink2.read("co") is None


def test_delete_overlap_nonstring_partition_key(spark, tmp_path):
    # bool/int partition keys: hive dir encoding ('k=true', 'k=7') must
    # round-trip through the typed predicate — a string compare against
    # str(True)='True' would match nothing and drop survivors.
    sch = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("flag", T.BooleanType()),
            T.StructField("n", T.IntegerType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    sink = ParquetIncrementalSink(spark, str(tmp_path / "t10"))
    wm = T0 - timedelta(minutes=30)
    seed = spark.createDataFrame(
        [("old", True, 7, T0 - timedelta(days=2)), ("keep", False, 8, T0)], sch
    )
    sink.delete_overlap_append(
        seed, "t", sch, "ts", watermark=wm - timedelta(days=7),
        partition_cols=("flag", "n"),
    )
    batch = spark.createDataFrame([("new", True, 7, T0)], sch)
    sink.delete_overlap_append(
        batch, "t", sch, "ts", watermark=wm, partition_cols=("flag", "n")
    )
    got = sorted((r.id, r.flag, r.n) for r in sink.read("t").collect())
    # 'old' is pre-cutoff in the touched (true,7) partition -> survives
    assert got == [("keep", False, 8), ("new", True, 7), ("old", True, 7)]


def test_delete_overlap_string_key_keeps_leading_zero(spark, tmp_path):
    # A string partition key "01" is stored as dir 'LINE=01'; reading it
    # back must not infer an int (which would turn it into 1 and make
    # the second load's scoped delete match nothing).
    sink = ParquetIncrementalSink(spark, str(tmp_path / "t10z"))
    wm = T0 - timedelta(minutes=30)
    seed = _rows(spark, [("old", "01", -120, 1.0, "S"), ("gone", "01", 0, 2.0, "S")])
    sink.delete_overlap_append(seed, "co", CO_SCHEMA, "CO_StartTime", watermark=wm - timedelta(days=1))
    batch = _rows(spark, [("new", "01", 5, 3.0, "S")])
    sink.delete_overlap_append(batch, "co", CO_SCHEMA, "CO_StartTime", watermark=wm)
    df = sink.read("co")
    assert dict((f.name, f.dataType) for f in df.schema.fields)["LINE"] == T.StringType()
    # 'gone' is at/after the cutoff in the touched partition -> replaced
    assert _collect(sink, "co") == [("new", "01", 3.0), ("old", "01", 1.0)]


def test_crashed_writer_leftovers_are_invisible_and_gcd(spark, tmp_path):
    # Version-pointer layout: a writer crash before the pointer flip
    # leaves an orphan v{N+1} (and possibly a .stage dir) that was
    # never visible. Reads stay exactly at the committed snapshot
    # without any mutation; the next successful write GCs the orphans.
    import os

    root = str(tmp_path / "t11")
    sink = ParquetIncrementalSink(spark, root)
    wm = T0 - timedelta(minutes=30)
    seed = _rows(spark, [("a", "L1", -120, 1.0, "S"), ("b", "L2", 0, 2.0, "S")])
    sink.delete_overlap_append(seed, "co", CO_SCHEMA, "CO_StartTime", watermark=wm)
    before = _collect(sink, "co")
    table_dir = os.path.join(root, "co")

    # simulate a crash mid-write: a partial next snapshot + stale staging
    # (aged past the liveness grace window — fresh dirs are presumed to
    # belong to a LIVE writer and are left alone, see _STALE_GRACE_SECONDS)
    cur = sink._current_version("co")
    orphan = os.path.join(table_dir, f"v{cur + 1:06d}")
    os.makedirs(os.path.join(orphan, "LINE=L1", "Server=S"))
    with open(os.path.join(orphan, "LINE=L1", "Server=S", "junk.parquet"), "wb") as f:
        f.write(b"not parquet")
    os.makedirs(os.path.join(table_dir, ".stage-crashed", "LINE=L1"))
    os.utime(orphan, (1.0, 1.0))
    os.utime(os.path.join(table_dir, ".stage-crashed"), (1.0, 1.0))

    # reads never see the orphan (pointer still at the committed version)
    assert _collect(sink, "co") == before
    assert os.path.exists(orphan)  # read did NOT mutate the table

    # next write replaces the orphan's slot and GCs stale staging
    batch = _rows(spark, [("a2", "L1", 0, 9.0, "S")])
    sink.delete_overlap_append(batch, "co", CO_SCHEMA, "CO_StartTime", watermark=wm)
    got = _collect(sink, "co")
    assert ("a2", "L1", 9.0) in got and ("b", "L2", 2.0) in got
    assert not os.path.exists(os.path.join(table_dir, ".stage-crashed"))


def test_old_versions_garbage_collected(spark, tmp_path):
    import os

    root = str(tmp_path / "t13")
    sink = ParquetIncrementalSink(spark, root)
    wm = T0 - timedelta(minutes=30)
    for i in range(6):
        batch = _rows(spark, [(f"r{i}", "L1", i, float(i), "S")])
        sink.delete_overlap_append(
            batch, "co", CO_SCHEMA, "CO_StartTime",
            # far-future cutoff: prior rows are all pre-cutoff
            # survivors, so each load is a pure append + new snapshot
            watermark=wm + timedelta(days=30),
        )
    vdirs = sorted(
        e for e in os.listdir(os.path.join(root, "co"))
        if e.startswith("v") and e[1:].isdigit()
    )
    # current + at most _KEEP_PREVIOUS_VERSIONS retained
    assert len(vdirs) <= 3, vdirs
    assert vdirs[-1] == f"v{sink._current_version('co'):06d}"
    # all six batches' rows are present in the current snapshot
    assert len(_collect(sink, "co")) == 6


def test_delete_overlap_rejects_null_or_empty_partition_key(spark, tmp_path):
    # ADVICE r4: hive layout folds NULL/'' keys into
    # __HIVE_DEFAULT_PARTITION__, which cannot round-trip — fail fast.
    sink = ParquetIncrementalSink(spark, str(tmp_path / "t14"))
    wm = T0 - timedelta(minutes=30)
    bad_null = spark.createDataFrame(
        [("x", None, T0, 1.0, "S")], CO_SCHEMA
    )
    with pytest.raises(ValueError, match="partition column"):
        sink.delete_overlap_append(bad_null, "co", CO_SCHEMA, "CO_StartTime", watermark=wm)
    bad_empty = spark.createDataFrame(
        [("x", "", T0, 1.0, "S")], CO_SCHEMA
    )
    with pytest.raises(ValueError, match="partition column"):
        sink.delete_overlap_append(bad_empty, "co", CO_SCHEMA, "CO_StartTime", watermark=wm)


def test_concurrent_reader_sees_single_version(spark, tmp_path):
    # VERDICT r4 item 3: a reader concurrent with a load must see
    # either the whole old snapshot or the whole new one, never a mix.
    # Each load rewrites EVERY partition with one batch id; a mixed
    # view would surface as >1 distinct batch id in a single read.
    import threading

    root = str(tmp_path / "t15")
    sink = ParquetIncrementalSink(spark, root)
    wm = T0 - timedelta(minutes=30)
    lines = ["L1", "L2", "L3"]

    def batch_df(i):
        return _rows(spark, [(f"b{i}", ln, 0, float(i), "S") for ln in lines])

    sink.delete_overlap_append(batch_df(0), "co", CO_SCHEMA, "CO_StartTime", watermark=wm)

    stop = threading.Event()
    violations = []
    reads = [0]

    def reader():
        while not stop.is_set():
            vals = {r.CO_DOWNTIME for r in sink.read("co").collect()}
            reads[0] += 1
            if len(vals) != 1:
                violations.append(vals)

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(1, 5):
            sink.delete_overlap_append(
                batch_df(i), "co", CO_SCHEMA, "CO_StartTime", watermark=wm
            )
    finally:
        stop.set()
        t.join()
    assert not violations, f"mixed-version reads observed: {violations}"
    assert reads[0] > 0  # the reader actually raced the writer
    assert {r.CO_DOWNTIME for r in sink.read("co").collect()} == {4.0}


def test_sink_does_not_leak_session_conf(spark, tmp_path):
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    before = spark.conf.get(key, None)
    sink = ParquetIncrementalSink(spark, str(tmp_path / "t12"))
    wm = T0 - timedelta(minutes=30)
    sink.delete_overlap_append(
        _rows(spark, [("a", "L1", 0, 1.0, "S")]), "co", CO_SCHEMA,
        "CO_StartTime", watermark=wm,
    )
    sink.read("co").collect()
    assert spark.conf.get(key, None) == before


def test_time_travel_read(spark, tmp_path):
    sink = ParquetIncrementalSink(spark, str(tmp_path))
    sink.append_aligned(_rows(spark, [("a", "L1", 0, 1.0, "S")]), "tt", CO_SCHEMA)
    sink.append_aligned(_rows(spark, [("b", "L1", 5, 2.0, "S")]), "tt", CO_SCHEMA)
    sink.append_aligned(_rows(spark, [("c", "L1", 9, 3.0, "S")]), "tt", CO_SCHEMA)
    assert len(_collect(sink, "tt")) == 3
    v = sink._current_version("tt")
    old = sink.read("tt", version=v - 1)
    assert sorted(r.CO_Identifier for r in old.collect()) == ["a", "b"]
    older = sink.read("tt", version=v - 2)
    assert [r.CO_Identifier for r in older.collect()] == ["a"]
    with pytest.raises(ValueError):
        sink.read("tt", version=v + 1)  # never committed
    # push v1 past retention (keep=2) and confirm loud failure
    sink.append_aligned(_rows(spark, [("d", "L1", 12, 4.0, "S")]), "tt", CO_SCHEMA)
    sink.append_aligned(_rows(spark, [("e", "L1", 15, 5.0, "S")]), "tt", CO_SCHEMA)
    with pytest.raises(ValueError):
        sink.read("tt", version=1)


def test_compact_preserves_data_and_shrinks_files(spark, tmp_path):
    import glob
    import os

    sink = ParquetIncrementalSink(spark, str(tmp_path))
    for i in range(6):
        sink.append_aligned(
            _rows(spark, [(f"c{i}", "L1", i, float(i), "S")]), "cp", CO_SCHEMA
        )
    before = _collect(sink, "cp")
    dp = sink._data_path("cp")
    n_before = len(glob.glob(os.path.join(dp, "*.parquet")))
    assert n_before >= 6  # one file (or more) per append
    v = sink.compact("cp", target_files=1)
    assert sink._current_version("cp") == v
    dp = sink._data_path("cp")
    n_after = len(glob.glob(os.path.join(dp, "*.parquet")))
    assert n_after == 1
    assert _collect(sink, "cp") == before


def test_foreach_batch_appender_exactly_once(spark, tmp_path):
    sink = ParquetIncrementalSink(spark, str(tmp_path))
    append = sink.foreach_batch_appender("st", CO_SCHEMA, query_id="q1")
    b0 = _rows(spark, [("a", "L1", 0, 1.0, "S")])
    b1 = _rows(spark, [("b", "L1", 5, 2.0, "S")])
    append(b0, 0)
    append(b1, 1)
    assert len(_collect(sink, "st")) == 2
    # at-least-once replay after a simulated restart: same batch ids
    append(b0, 0)
    append(b1, 1)
    assert len(_collect(sink, "st")) == 2  # no duplicates
    append(_rows(spark, [("c", "L1", 9, 3.0, "S")]), 2)
    assert len(_collect(sink, "st")) == 3
    assert sink.last_stream_batch("st", "q1") == 2
    # batch metadata survives unrelated commits (e.g. compaction)
    sink.compact("st", target_files=1)
    assert sink.last_stream_batch("st", "q1") == 2
    append(_rows(spark, [("x", "L1", 1, 9.0, "S")]), 2)  # replay post-compact
    assert len(_collect(sink, "st")) == 3


def test_foreach_batch_appender_real_stream(spark, tmp_path):
    """End-to-end: a real availableNow file stream through foreachBatch
    into the versioned sink."""
    import glob
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    feed = _rows(
        spark,
        [("a", "L1", 0, 1.0, "S"), ("b", "L1", 5, 2.0, "S"),
         ("c", "L2", 9, 3.0, "S"), ("d", "L2", 12, 4.0, "S")],
    )
    src = tempfile.mkdtemp(prefix="sg-fb-src-")
    stage = tempfile.mkdtemp(prefix="sg-fb-stage-")
    try:
        rows = feed.collect()
        for k, r in enumerate(rows):
            out_dir = os.path.join(stage, f"b{k}")
            spark.createDataFrame([r], CO_SCHEMA).coalesce(1).write.mode(
                "overwrite"
            ).parquet(out_dir)
            part = glob.glob(os.path.join(out_dir, "part-*.parquet"))[0]
            shutil.copy(part, os.path.join(src, f"batch-{k:03d}.parquet"))
        sink = ParquetIncrementalSink(spark, str(tmp_path))
        stream = (
            spark.readStream.schema(feed.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(
                sink.foreach_batch_appender("live", CO_SCHEMA, query_id="s1")
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()
        assert len(_collect(sink, "live")) == 4
        assert sink.last_stream_batch("live", "s1") >= 1
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)


def test_foreach_batch_appender_partitioned_layout(spark, tmp_path):
    # Streaming appends into a hive-partitioned table must follow the
    # existing layout — flat files at the snapshot root would break
    # partition discovery.
    import os

    sink = ParquetIncrementalSink(spark, str(tmp_path))
    wm = T0 - timedelta(minutes=30)
    seed = _rows(spark, [("a", "L1", 0, 1.0, "S")])
    sink.delete_overlap_append(seed, "co", CO_SCHEMA, "CO_StartTime", watermark=wm)
    assert sink._layout_partition_cols("co") == ["LINE", "Server"]
    append = sink.foreach_batch_appender("co", CO_SCHEMA, query_id="qp")
    append(_rows(spark, [("b", "L2", 5, 2.0, "S")]), 0)
    got = _collect(sink, "co")
    assert got == sorted([("a", "L1", 1.0), ("b", "L2", 2.0)])
    dp = sink._data_path("co")
    # no flat data files beside the partition dirs
    flat = [e for e in os.listdir(dp) if e.endswith(".parquet")]
    assert flat == []
    assert os.path.isdir(os.path.join(dp, "LINE=L2", "Server=S"))


def test_concurrent_commit_raises_not_clobbers(spark, tmp_path):
    # Two writers race: both target v2; the second must surface a
    # conflict instead of silently replacing the winner's data.
    sink = ParquetIncrementalSink(spark, str(tmp_path))
    sink.append_aligned(_rows(spark, [("a", "L1", 0, 1.0, "S")]), "cc", CO_SCHEMA)
    # writer A stages, publishes, and commits v2
    stage_a, n_a = sink._begin_write("cc")
    _rows(spark, [("b", "L1", 5, 2.0, "S")]).write.mode("overwrite").parquet(stage_a)
    sink._publish("cc", stage_a, n_a)
    sink._commit_version("cc", n_a)
    # writer B (raced: computed the same n before A committed)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        sink._commit_version("cc", n_a)
    # A's committed state intact
    assert sink._current_version("cc") == n_a


def test_racing_publish_cannot_clobber_claimed_snapshot(spark, tmp_path):
    # The round-5 lost-update interleaving: A stages v2; B stages v2 and
    # must NOT be able to delete/overwrite A's claimed files.  With the
    # rename-claim protocol B's publish fails loudly, A's files survive
    # byte-for-byte, and B's own staging is cleaned up.
    import os

    sink = ParquetIncrementalSink(spark, str(tmp_path))
    sink.append_aligned(_rows(spark, [("a", "L1", 0, 1.0, "S")]), "cc", CO_SCHEMA)
    stage_a, n_a = sink._begin_write("cc")
    stage_b, n_b = sink._begin_write("cc")
    assert n_a == n_b == 2  # both raced to the same target version
    _rows(spark, [("b", "L1", 5, 2.0, "S")]).write.mode("overwrite").parquet(stage_a)
    _rows(spark, [("c", "L9", 9, 9.0, "S")]).write.mode("overwrite").parquet(stage_b)
    sink._publish("cc", stage_a, n_a)  # A claims v2
    inodes_a = {
        e: os.stat(os.path.join(sink._version_dir("cc", 2), e)).st_ino
        for e in os.listdir(sink._version_dir("cc", 2))
    }
    with pytest.raises(RuntimeError, match="concurrent writer"):
        sink._publish("cc", stage_b, n_b)
    # A's claimed snapshot untouched (same inodes, not rewritten)
    for e, ino in inodes_a.items():
        assert os.stat(os.path.join(sink._version_dir("cc", 2), e)).st_ino == ino
    assert not os.path.exists(stage_b)  # loser's staging cleaned up
    sink._commit_version("cc", n_a)
    # v2 is exactly what A staged (a full-overwrite snapshot of row b)
    assert _collect(sink, "cc") == [("b", "L1", 2.0)]


def test_commit_gc_spares_young_stage_dirs(spark, tmp_path):
    # A fresh .stage-* belonging to an in-flight writer must survive an
    # unrelated commit; only STALE leftovers (crashed writers) are GC'd.
    import os

    sink = ParquetIncrementalSink(spark, str(tmp_path))
    sink.append_aligned(_rows(spark, [("a", "L1", 0, 1.0, "S")]), "cc", CO_SCHEMA)
    live_stage, _ = sink._begin_write("cc")
    crashed = os.path.join(sink._path("cc"), ".stage-deadbeef")
    os.makedirs(crashed)
    old = 1.0  # epoch: far beyond any grace window
    os.utime(crashed, (old, old))
    sink.append_aligned(_rows(spark, [("b", "L2", 5, 2.0, "S")]), "cc", CO_SCHEMA)
    assert os.path.isdir(live_stage), "live writer's staging was GC'd"
    assert not os.path.exists(crashed), "stale crashed staging not GC'd"


def test_stale_orphan_version_dir_is_reclaimed(spark, tmp_path):
    # A crashed writer claimed v2 (rename done, pointer flip never
    # happened).  Once stale, the next writer must reclaim the slot
    # rather than being blocked forever.
    import os

    sink = ParquetIncrementalSink(spark, str(tmp_path))
    sink.append_aligned(_rows(spark, [("a", "L1", 0, 1.0, "S")]), "cc", CO_SCHEMA)
    orphan = sink._version_dir("cc", 2)
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-junk.parquet"), "w") as f:
        f.write("crashed")
    os.utime(orphan, (1.0, 1.0))
    sink.append_aligned(_rows(spark, [("b", "L2", 5, 2.0, "S")]), "cc", CO_SCHEMA)
    assert sink._current_version("cc") == 2
    assert _collect(sink, "cc") == sorted([("a", "L1", 1.0), ("b", "L2", 2.0)])


ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("LINE", T.StringType()),
        T.StructField("Day", T.DateType()),
        T.StructField("total_dt", T.DoubleType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def _rollup_fn(df):
    from pyspark.sql import functions as F

    return df.groupBy("LINE", F.to_date("CO_StartTime").alias("Day")).agg(
        F.round(F.sum("CO_DOWNTIME"), 2).alias("total_dt"),
        F.count("*").alias("n_events"),
    )


def _rollup_rows(sink, table):
    df = sink.read(table)
    return sorted(
        (r.LINE, str(r.Day), r.total_dt, r.n_events) for r in df.collect()
    )


def test_maintain_rollup_tracks_full_recompute(spark, tmp_path):
    """After a sequence of overlapping out-of-order batches, the
    incrementally-maintained rollup must equal rollup_fn(full source)."""
    sink = ParquetIncrementalSink(spark, str(tmp_path))
    wm0 = T0 - timedelta(days=2)
    batches = [
        [("a", "L1", 0, 1.5, "S"), ("b", "L2", 30, 2.0, "S")],
        [("c", "L1", 24 * 60, 3.0, "S")],               # next day
        [("a2", "L1", 5, 0.5, "S"), ("d", "L2", 24 * 60 + 10, 4.0, "S")],
    ]
    for i, specs in enumerate(batches):
        batch = _rows(spark, specs)
        sink.delete_overlap_append(
            batch, "src", CO_SCHEMA, "CO_StartTime",
            watermark=wm0 + timedelta(minutes=i),
        )
        sink.maintain_rollup(
            "src", "daily", batch, _rollup_fn, ("LINE",), ROLLUP_SCHEMA
        )
        full = _rollup_fn(sink.read("src", CO_SCHEMA))
        expect = sorted(
            (r.LINE, str(r.Day), r.total_dt, r.n_events) for r in full.collect()
        )
        assert _rollup_rows(sink, "daily") == expect, f"diverged after batch {i}"


def test_maintain_rollup_replay_is_idempotent(spark, tmp_path):
    """Replaying the same batch (at-least-once delivery) must leave the
    rollup unchanged — recompute-from-truth, not partial merge."""
    sink = ParquetIncrementalSink(spark, str(tmp_path))
    wm = T0 - timedelta(days=1)
    batch = _rows(spark, [("a", "L1", 0, 2.0, "S"), ("b", "L1", 60, 3.0, "S")])
    for _ in range(2):  # load + maintain twice
        sink.delete_overlap_append(batch, "src", CO_SCHEMA, "CO_StartTime", watermark=wm)
        sink.maintain_rollup("src", "daily", batch, _rollup_fn, ("LINE",), ROLLUP_SCHEMA)
    rows = _rollup_rows(sink, "daily")
    assert rows == [("L1", "2024-01-10", 5.0, 2)]


def test_maintain_rollup_untouched_groups_carry_over(spark, tmp_path):
    """Groups absent from the batch must survive maintenance untouched
    (anti-join carry-over, not a full recompute)."""
    sink = ParquetIncrementalSink(spark, str(tmp_path))
    wm = T0 - timedelta(days=1)
    seed = _rows(spark, [("a", "L1", 0, 1.0, "S"), ("b", "L2", 0, 2.0, "S")])
    sink.delete_overlap_append(seed, "src", CO_SCHEMA, "CO_StartTime", watermark=wm)
    sink.maintain_rollup("src", "daily", seed, _rollup_fn, ("LINE",), ROLLUP_SCHEMA)
    before_l2 = [r for r in _rollup_rows(sink, "daily") if r[0] == "L2"]
    batch = _rows(spark, [("c", "L1", 120, 9.0, "S")])  # touches only L1
    # watermark cutoff past row "a" so the source keeps it (this test
    # is about rollup carry-over, not delete-overlap replacement)
    sink.delete_overlap_append(batch, "src", CO_SCHEMA, "CO_StartTime", watermark=T0 + timedelta(minutes=90))
    sink.maintain_rollup("src", "daily", batch, _rollup_fn, ("LINE",), ROLLUP_SCHEMA)
    after = _rollup_rows(sink, "daily")
    assert [r for r in after if r[0] == "L2"] == before_l2
    assert ("L1", "2024-01-10", 10.0, 2) in after


def test_maintain_rollup_deleted_groups_via_old_snapshot(spark, tmp_path):
    """Overlap deletes can empty groups the batch no longer names; the
    deleted scope comes from the RETAINED previous snapshot (time
    travel) and rides in via deleted_group_keys — after which the
    rollup again equals rollup_fn(source), including the REMOVAL of a
    group with zero surviving rows."""
    from pyspark.sql import functions as F

    sink = ParquetIncrementalSink(spark, str(tmp_path))
    day = lambda df: df.withColumn("Day", F.to_date("CO_StartTime"))  # noqa: E731
    gcols = ("LINE", "Day")
    b1 = _rows(spark, [("a", "L1", 0, 1.5, "S"), ("b", "L1", 24 * 60, 2.0, "S")])
    sink.delete_overlap_append(
        b1, "src", CO_SCHEMA, "CO_StartTime", watermark=T0 - timedelta(days=2)
    )
    sink.maintain_rollup(
        "src", "daily", day(b1), _rollup_fn, gcols, ROLLUP_SCHEMA,
        source_keys_fn=day,
    )
    assert len(_rollup_rows(sink, "daily")) == 2  # day-1 and day-2 groups

    # second load: watermark window covers BOTH days, batch only day-2 —
    # day-1 rows are deleted from the source but the batch never names
    # that group
    v_before = sink._current_version("src")
    wm = T0 - timedelta(minutes=5)
    b2 = _rows(spark, [("c", "L1", 24 * 60 + 30, 3.0, "S")])
    sink.delete_overlap_append(b2, "src", CO_SCHEMA, "CO_StartTime", watermark=wm)
    deleted = day(
        sink.read("src", CO_SCHEMA, version=v_before).filter(
            F.col("CO_StartTime") >= F.lit(wm - timedelta(seconds=10))
        )
    )
    sink.maintain_rollup(
        "src", "daily", day(b2), _rollup_fn, gcols, ROLLUP_SCHEMA,
        deleted_group_keys=deleted, source_keys_fn=day,
    )
    full = _rollup_fn(sink.read("src", CO_SCHEMA))
    expect = sorted(
        (r.LINE, str(r.Day), r.total_dt, r.n_events) for r in full.collect()
    )
    got = _rollup_rows(sink, "daily")
    assert got == expect          # no stale day-1 row survives
    assert len(got) == 1          # the emptied group was REMOVED


def test_merge_scd2_version_chains(spark, tmp_path):
    """SCD2: change closes the current version at the new effective_ts,
    unchanged replays are no-ops, unseen keys insert open versions."""
    sink = ParquetIncrementalSink(spark, str(tmp_path))
    b1 = spark.createDataFrame(
        [("A", "red", T0), ("B", "blue", T0)],
        "sku string, color string, effective_ts timestamp",
    )
    sink.merge_scd2(b1, "dim", ("sku",), ("color",))
    # replay: idempotent
    sink.merge_scd2(b1, "dim", ("sku",), ("color",))
    t1 = T0 + timedelta(days=1)
    b2 = spark.createDataFrame(
        [("A", "green", t1), ("C", "black", t1)],  # A changes, B absent, C new
        "sku string, color string, effective_ts timestamp",
    )
    sink.merge_scd2(b2, "dim", ("sku",), ("color",))
    rows = {
        (r.sku, r.color): (r.valid_from, r.valid_to, r.is_current)
        for r in sink.read("dim").collect()
    }
    assert rows[("A", "red")] == (T0, t1, False)      # closed at change time
    assert rows[("A", "green")] == (t1, None, True)   # new open version
    assert rows[("B", "blue")] == (T0, None, True)    # untouched carry-over
    assert rows[("C", "black")] == (t1, None, True)   # fresh insert
    assert len(rows) == 4


def test_merge_scd2_null_key_chain_survives(spark, tmp_path):
    """NULL business keys are legal (the join is eqNullSafe): a
    null-key chain must version like any other, not vanish from the
    next snapshot (regression: presence was tested with isNotNull on
    the key instead of a marker)."""
    from datetime import timedelta

    sink = ParquetIncrementalSink(spark, str(tmp_path))
    b1 = spark.createDataFrame(
        [(None, "red", T0), ("B", "blue", T0)],
        "sku string, color string, effective_ts timestamp",
    )
    sink.merge_scd2(b1, "dim", ("sku",), ("color",))
    t1 = T0 + timedelta(days=1)
    # batch without the null key: chain must carry over untouched
    sink.merge_scd2(
        spark.createDataFrame([("B", "navy", t1)],
                              "sku string, color string, effective_ts timestamp"),
        "dim", ("sku",), ("color",),
    )
    rows = {(r.sku, r.color): r.is_current for r in sink.read("dim").collect()}
    assert rows[(None, "red")] is True          # carried, not dropped
    # null-key change: closes and re-opens like any key
    t2 = T0 + timedelta(days=2)
    sink.merge_scd2(
        spark.createDataFrame([(None, "gold", t2)],
                              "sku string, color string, effective_ts timestamp"),
        "dim", ("sku",), ("color",),
    )
    rows = {(r.sku, r.color): r.is_current for r in sink.read("dim").collect()}
    assert rows[(None, "red")] is False and rows[(None, "gold")] is True


def test_merge_scd2_latest_per_key_wins_within_batch(spark, tmp_path):
    sink = ParquetIncrementalSink(spark, str(tmp_path))
    b = spark.createDataFrame(
        [("A", "v1", T0), ("A", "v2", T0 + timedelta(hours=1))],
        "sku string, color string, effective_ts timestamp",
    )
    sink.merge_scd2(b, "dim", ("sku",), ("color",))
    rows = [(r.color, r.is_current) for r in sink.read("dim").collect()]
    assert rows == [("v2", True)]  # intra-batch dedup keeps the latest


def test_changes_between_snapshots(spark, tmp_path):
    """CDF over the version pointer: insert/update/delete classified by
    one full-outer join of two retained immutable snapshots."""
    sink = ParquetIncrementalSink(spark, str(tmp_path))
    s = "k long, v string"
    sink._write_snapshot(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], s), "t")
    v1 = sink._current_version("t")
    sink._write_snapshot(spark.createDataFrame([(2, "B"), (3, "c"), (4, "d")], s), "t")
    v2 = sink._current_version("t")
    ch = {r.k: (r.change_type, r.before, r.after)
          for r in sink.changes_between("t", v1, v2, ("k",)).collect()}
    assert ch[1][0] == "deleted" and ch[1][1].v == "a" and ch[1][2] is None
    assert ch[2][0] == "updated" and ch[2][1].v == "b" and ch[2][2].v == "B"
    assert ch[4][0] == "inserted" and ch[4][1] is None and ch[4][2].v == "d"
    assert 3 not in ch  # unchanged rows are not part of the feed


def test_reclaim_orphans_unwedges_fresh_claim(spark, tmp_path):
    """A writer that dies between claim and pointer flip leaves a FRESH
    (non-stale) v{n+1}; writes fail loudly until the grace window — or
    immediately after reclaim_orphans(min_age_seconds=0) when the
    claimant is known dead."""
    import os

    root = str(tmp_path / "t12")
    sink = ParquetIncrementalSink(spark, root)
    wm = T0 - timedelta(minutes=30)
    seed = _rows(spark, [("a", "L1", -120, 1.0, "S")])
    sink.delete_overlap_append(seed, "co", CO_SCHEMA, "CO_StartTime", watermark=wm)
    cur = sink._current_version("co")
    orphan = os.path.join(root, "co", f"v{cur + 1:06d}")
    os.makedirs(os.path.join(orphan, "LINE=L1", "Server=S"))  # fresh mtime

    b2 = _rows(spark, [("b", "L1", -60, 2.0, "S")])
    with pytest.raises(RuntimeError, match="concurrent writer"):
        sink.delete_overlap_append(b2, "co", CO_SCHEMA, "CO_StartTime", watermark=wm)
    # default reclaim respects the grace window: fresh claim survives
    assert sink.reclaim_orphans("co") == 0
    assert os.path.isdir(orphan)
    # operator knows the claimant is dead: immediate reclaim, then the
    # retried load succeeds
    assert sink.reclaim_orphans("co", min_age_seconds=0) == 1
    sink.delete_overlap_append(b2, "co", CO_SCHEMA, "CO_StartTime", watermark=wm)
    ids = {cid for cid, _, _ in _collect(sink, "co")}
    assert "b" in ids


def test_stale_trash_dirs_are_swept_young_ones_survive(spark, tmp_path):
    """A crash between _evict_orphan's rename and its rmtree parks the
    dir under .trash-<uuid> forever; the next commit's GC loop must
    sweep STALE trash (nothing else ever recreates it) while leaving
    YOUNG trash alone (an evictor mid-flight may still restore it)."""
    import os

    sink = ParquetIncrementalSink(spark, str(tmp_path))
    sink.append_aligned(_rows(spark, [("a", "L1", 0, 1.0, "S")]), "cc", CO_SCHEMA)
    stale = os.path.join(sink._path("cc"), ".trash-deadbeef")
    os.makedirs(stale)
    os.utime(stale, (1.0, 1.0))
    young = os.path.join(sink._path("cc"), ".trash-cafebabe")
    os.makedirs(young)  # fresh mtime
    sink.append_aligned(_rows(spark, [("b", "L2", 5, 2.0, "S")]), "cc", CO_SCHEMA)
    assert not os.path.exists(stale), "stale .trash- dir not GC'd"
    assert os.path.isdir(young), "mid-flight evictor's young .trash- was GC'd"


def test_default_evict_never_renames_a_fresh_claim(spark, tmp_path, monkeypatch):
    """The default-grace evict path must decline a FRESH dir WITHOUT
    the transient rename (the old restore-after-rename dance left a
    window where a concurrent pointer flip targeted a missing dir)."""
    import os

    sink = ParquetIncrementalSink(spark, str(tmp_path))
    sink.append_aligned(_rows(spark, [("a", "L1", 0, 1.0, "S")]), "cc", CO_SCHEMA)
    fresh = sink._version_dir("cc", 5)
    os.makedirs(fresh)  # fresh mtime: a live writer's claim
    renames = []
    real_rename = os.rename
    monkeypatch.setattr(
        os, "rename", lambda a, b: (renames.append(a), real_rename(a, b))
    )
    assert sink._evict_orphan("cc", fresh) is False
    assert renames == [], "fresh claim was renamed away, even transiently"
    assert os.path.isdir(fresh)
    # explicit operator override still evicts immediately
    assert sink._evict_orphan("cc", fresh, min_age_seconds=0) is True
    assert not os.path.exists(fresh)


def test_read_dim_as_of_reconstructs_history(spark, tmp_path):
    """SCD2 point-in-time read: each business key resolves to exactly
    the version in effect at ts; keys not yet effective are absent."""
    sink = ParquetIncrementalSink(spark, str(tmp_path))
    t1 = T0 + timedelta(days=1)
    sink.merge_scd2(
        spark.createDataFrame([("A", "red", T0), ("B", "blue", T0)],
                              "sku string, color string, effective_ts timestamp"),
        "dim", ("sku",), ("color",),
    )
    sink.merge_scd2(
        spark.createDataFrame([("A", "green", t1), ("C", "black", t1)],
                              "sku string, color string, effective_ts timestamp"),
        "dim", ("sku",), ("color",),
    )
    at = lambda ts: {r.sku: r.color for r in sink.read_dim_as_of("dim", ts).collect()}  # noqa: E731
    assert at(T0 + timedelta(hours=1)) == {"A": "red", "B": "blue"}   # before change
    assert at(t1) == {"A": "green", "B": "blue", "C": "black"}        # boundary: new version effective AT t1
    assert at(T0 - timedelta(hours=1)) == {}                          # nothing yet
