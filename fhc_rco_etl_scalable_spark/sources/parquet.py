"""Parquet source adapters for the harness testdata.

At scale these tables are date/key-partitioned parquet or Delta on
object storage; the loader is a thin wrapper so every operator reads
through one place (enabling e.g. a global switch to bucketed tables).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Parquet TIMESTAMP(NANOS) columns (Spark reads them as long via
# spark.sql.legacy.parquet.nanosAsLong; we truncate to micros — same
# truncation DuckDB applies reading nanos into its us-precision type).
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


#: The engine's session-level ingestion contract. Every timestamp column
#: loads as Spark ``TimestampType`` (LTZ) with UTC wall-clock values,
#: whatever the writer emitted — TIMESTAMP(NANOS), TIMESTAMP(MICROS)
#: isAdjustedToUTC=true, or TIMESTAMP(MICROS) with no timezone (which
#: Spark 4 would otherwise infer as TIMESTAMP_NTZ, breaking
#: ``unix_micros``/``timestamp_micros`` call sites at analysis time).
#: ``session.get_spark`` sets all three at build time, so under an
#: engine-built session ``load_table`` mutates nothing.
_PINNED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Pin UTC so naive (untagged) parquet values keep identical wall-clock
    # readings under the LTZ type — required for oracle hash stability.
    "spark.sql.session.timeZone": "UTC",
}


def _pin_timestamp_confs(spark: SparkSession) -> None:
    """Pin the ingestion-contract confs for the LIFETIME of the session.

    These deliberately stay pinned (conditional set, never restored):
    DataFrames are lazy and Spark re-reads these confs when the scan
    actually executes — parquet schema conversion (nanosAsLong, NTZ
    inference) happens again per task, and session.timeZone governs
    every timestamp computation at action time. A save/restore around
    the ``spark.read`` call would hand back a frame whose execution
    behaves differently from its analyzed schema. Callers that need
    local-timezone rendering should scope their OWN conf change around
    that work.
    """
    for key, want in _PINNED_CONFS.items():
        if spark.conf.get(key, None) != want:
            spark.conf.set(key, want)


#: Inferred parquet schema per absolute path (metadata, not data —
#: the harness fixtures are immutable per process). Schema inference
#: reads and merges parquet footers on every ``spark.read.parquet``
#: call: measured 80-120 ms per call at sf0.1 vs 8-11 ms with an
#: explicit schema (r15, guide §6 — at production scale you pass the
#: catalog schema for the same reason). Inference runs under the
#: pinned ingestion confs below, so the cached schema is exactly what
#: a fresh inference would produce; the explicit-schema read then
#: decodes identically (same nanosAsLong long mapping, same LTZ
#: timestamps). Keyed by (path, mtime, size) — not path alone — so a
#: fixture regenerated in-process (tests, multi-round harnesses) gets
#: a fresh inference instead of a silently mismatched explicit schema
#: (ADVICE r15). Sessions differ merely in where the confs were
#: pinned, never in the resulting schema.
_SCHEMA_CACHE: dict[tuple, object] = {}


def _path_fingerprint(path: str) -> tuple:
    """(path, mtime_ns, size) of a parquet file or, for a directory
    dataset, of the directory entry itself (mtime bumps when files are
    added/replaced) — cheap stat-level identity for the schema cache."""
    try:
        st = os.stat(path)
        return (path, st.st_mtime_ns, st.st_size)
    except OSError:
        return (path, None, None)


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    sf_dir = sf_dir or DEFAULT_SF_DIR
    _pin_timestamp_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    cache_key = _path_fingerprint(path)
    schema = _SCHEMA_CACHE.get(cache_key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[cache_key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    for col, dtype in df.dtypes:
        if name in _NANOS_TS_COLS and col in _NANOS_TS_COLS[name] and dtype == "bigint":
            # nanosAsLong surfaces TIMESTAMP(NANOS) as raw int64 nanos.
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif dtype == "timestamp_ntz":
            # Belt-and-braces: if a caller's session cached the NTZ schema
            # (or a future conf rename drops the shim), cast explicitly.
            # Session tz is pinned UTC above, so the cast is value-preserving.
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str | None = None, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, n, sf_dir) for n in names}


#: SparkSession (weakly held) -> sf_dir whose views are registered.
#: WeakKeyDictionary (ADVICE r15): id()-keyed entries could alias a
#: NEW session object allocated at a dead session's address and
#: silently skip registration; weak keys die with the session.
import weakref

_REGISTERED_VIEWS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def register_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register every harness table as a temp view for the SQL API.

    Idempotent per (session, sf_dir): a temp view is lazy metadata (a
    name bound to the scan plan — nothing materializes), so re-binding
    the identical 10 views on every SQL-surface query re-paid ~0.3 s of
    reader construction per call for no semantic effect. Re-registers
    whenever ``sf_dir`` changes so multi-fixture runners stay correct,
    and re-verifies one sentinel view against the live catalog so a
    user-dropped view never stays silently missing (ADVICE r15).
    """
    sf_dir = sf_dir or DEFAULT_SF_DIR
    if _REGISTERED_VIEWS.get(spark) == sf_dir:
        # trust-but-verify: the registry says views exist — confirm one
        # against the session catalog (cheap metadata lookup) in case a
        # caller dropped temp views since registration.
        try:
            if spark.catalog.tableExists(TABLES[0]):
                return
        except Exception:
            pass
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
    _REGISTERED_VIEWS[spark] = sf_dir
