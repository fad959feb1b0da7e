"""Regression tests that read the REAL harness parquet from disk.

Round 3 lesson: every other test builds in-memory frames with
``TimestampType``, so 123/123 pytest green coexisted with 18 red driver
rows when the harness regenerated ``events.parquet`` with a different
physical timestamp encoding (micros, no timezone → Spark 4 infers
TIMESTAMP_NTZ → ``unix_micros`` fails at analysis time). These tests pin
the ingestion contract: whatever the parquet writer emitted, ``load_table``
must surface ``TimestampType`` (LTZ) with UTC wall-clock values.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from fhc_rco_etl_scalable_spark.sources.parquet import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_events_ts_loads_as_timestamp_ltz(spark):
    ev = load_table(spark, "events", SF_DIR)
    assert dict(ev.dtypes)["ts"] == "timestamp", (
        "ingestion contract: ts must be TIMESTAMP (ltz), got "
        + dict(ev.dtypes)["ts"]
    )
    # The exact call-site pattern that broke in round 3 must analyze.
    from pyspark.sql import functions as F

    out = ev.select(
        F.timestamp_micros(F.unix_micros(F.col("ts")) + F.lit(1)).alias("t")
    )
    assert out.count() > 0


@pytest.mark.parametrize("unit,tz", [("ns", None), ("us", None), ("us", "UTC")])
def test_load_table_normalizes_any_parquet_encoding(spark, tmp_path, unit, tz):
    """nanos / micros-naive / micros-UTC all load as the same ltz values."""
    ts_type = pa.timestamp(unit, tz=tz)
    micros = [1704067200_000000, 1704070800_123456]  # 2024-01-01T00/+1h UTC
    scale = 1000 if unit == "ns" else 1
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([m * scale for m in micros], ts_type),
        }
    )
    sf_dir = str(tmp_path)
    pq.write_table(tbl, os.path.join(sf_dir, "events.parquet"))
    df = load_table(spark, "events", sf_dir)
    assert dict(df.dtypes)["ts"] == "timestamp"
    from pyspark.sql import functions as F

    got = sorted(
        r["u"] for r in df.select(F.unix_micros("ts").alias("u")).collect()
    )
    assert got == micros, f"encoding {unit}/{tz} not value-preserving: {got}"


def test_all_registered_queries_run_on_harness_parquet(spark):
    """Smoke-run EVERY __spark_entry__.queries() entry at sf0.001.

    This is a miniature of the driver correctness gate: each registered
    query must at least analyze + execute against the real on-disk
    parquet. Catches analysis-time regressions (like the r3 NTZ break)
    across the whole registry, not just the handful with dedicated tests.
    """
    import __spark_entry__ as entry

    failures = {}
    for name, fn in entry.queries().items():
        try:
            n = fn(spark, SF_DIR).count()
            assert n >= 0
        except Exception as e:  # noqa: BLE001 - collect all failures
            failures[name] = f"{type(e).__name__}: {str(e)[:200]}"
    assert not failures, f"{len(failures)} queries failed: {failures}"


def test_schema_cache_sees_nested_partition_rewrite(spark, tmp_path):
    # the cached schema must follow a rewrite inside a partition dir,
    # which leaves the dataset's top directory entry untouched
    part = tmp_path / "t.parquet" / "k=1"
    part.mkdir(parents=True)
    pq.write_table(pa.table({"a": [1, 2]}), part / "part-0.parquet")
    assert "b" not in load_table(spark, "t", str(tmp_path)).columns
    (part / "part-0.parquet").unlink()
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), part / "part-0.parquet")
    assert "b" in load_table(spark, "t", str(tmp_path)).columns


def test_register_views_restores_a_dropped_view(spark):
    from fhc_rco_etl_scalable_spark.sources.parquet import register_views

    register_views(spark, SF_DIR)
    spark.catalog.dropTempView("orders")
    register_views(spark, SF_DIR)
    assert spark.catalog.tableExists("orders")


# --- harness scaffolding: parquet per application, no pinned RDDs ----------

_SCAFFOLD_ENTRIES = ("gantt_harness", "co_aggregated_harness")


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _release(spark):
    """bench.py's release_checkpoints: drop the DataFrame cache and
    unpersist every persistent RDD."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)


def _copy_fixture(dst, events=None):
    """Copy the fixture to ``dst`` (a fresh path, so fresh scaffolding),
    optionally replacing events.parquet with the arrow table ``events``."""
    import shutil

    dst.mkdir()
    for name in os.listdir(SF_DIR):
        shutil.copyfile(os.path.join(SF_DIR, name), dst / name)
    if events is not None:
        (dst / "events.parquet").unlink()
        pq.write_table(events, dst / "events.parquet")
    return str(dst)


def _query(name):
    from fhc_rco_etl_scalable_spark.plans.harness_queries import QUERIES

    return QUERIES[name]


def test_scaffold_survives_release_of_every_rdd(spark, tmp_path):
    fresh = {
        n: _rows(_query(n)(spark, _copy_fixture(tmp_path / f"fresh_{n}")))
        for n in _SCAFFOLD_ENTRIES
    }
    sf = _copy_fixture(tmp_path / "sf")
    gantt = _rows(_query("gantt_harness")(spark, sf))
    _release(spark)
    co_agg = _rows(_query("co_aggregated_harness")(spark, sf))
    assert gantt == fresh["gantt_harness"] and gantt
    assert co_agg == fresh["co_aggregated_harness"] and co_agg


def test_release_between_runs_leaves_no_rdds(spark, tmp_path):
    sf = _copy_fixture(tmp_path / "sf")
    jsc = spark.sparkContext._jsc
    _release(spark)
    start = jsc.getPersistentRDDs().size()
    runs = []
    for _ in range(2):
        for n in _SCAFFOLD_ENTRIES:
            runs.append(_rows(_query(n)(spark, sf)))
            _release(spark)
    assert jsc.getPersistentRDDs().size() == start
    assert runs[:2] == runs[2:]


def test_scaffold_follows_rewritten_events(spark, tmp_path):
    co_agg = _query("co_aggregated_harness")
    sf = _copy_fixture(tmp_path / "sf")
    before = _rows(co_agg(spark, sf))
    ev = pq.read_table(os.path.join(sf, "events.parquet"))
    fewer = ev.slice(0, ev.num_rows // 2)
    os.remove(os.path.join(sf, "events.parquet"))
    pq.write_table(fewer, os.path.join(sf, "events.parquet"))
    after = _rows(co_agg(spark, sf))
    expected = _rows(co_agg(spark, _copy_fixture(tmp_path / "fewer", fewer)))
    assert after == expected
    assert after != before
