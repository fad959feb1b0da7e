"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; the same config block is what we'd
ship to a 1000-executor cluster (AQE on, skew-join handling on,
shuffle partitions sized explicitly, UTC session time so results are
reproducible against the DuckDB oracle).
"""

from __future__ import annotations

import contextlib
import os
import re
import threading

from pyspark.sql import DataFrame, SparkSession


def _default_driver_mem() -> str:
    """~1/3 of physical RAM in whole GiB, clamped to [2g, 48g]."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(2, min(48, gb // 3))}g"
    except OSError:
        pass
    return "2g"


def env_int(name: str, default: int) -> int:
    """Positive integer env knob; an unset, malformed (e.g. "2MiB")
    or non-positive value falls back to ``default`` instead of raising
    mid-run."""
    try:
        value = int(os.environ[name])
    except (KeyError, ValueError):
        return default
    return value if value > 0 else default


#: A JVM byte string as Spark parses it: digits, an optional k/m/g/t
#: unit, an optional trailing "b" ("512m", "4g", "2gb").
_JVM_BYTES = re.compile(r"\d+[kmgt]?b?", re.IGNORECASE)


def get_spark(
    app_name: str = "fhc_rco_etl_scalable_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Env overrides: ``SPARK_GRAFT_CPUS`` sets local parallelism
    (``local[*]`` when unset or malformed), ``SPARK_GRAFT_SHUFFLE`` the
    shuffle partition count, ``SPARK_GRAFT_DRIVER_MEM`` the driver heap.
    """
    cpus = env_int("SPARK_GRAFT_CPUS", 0)
    master = master or (f"local[{cpus}]" if cpus else "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = env_int("SPARK_GRAFT_SHUFFLE", 32)
    # a malformed heap size would abort the JVM launch
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "")
    if not _JVM_BYTES.fullmatch(driver_mem):
        driver_mem = _default_driver_mem()

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # local[N] runs all N task slots inside the driver JVM, and
        # Spark's default driver heap is 1g — 32 concurrent gram-
        # explode/signature tasks OOM at a few hundred thousand docs
        # (found by tools/scale_probe.py at 40x sf0.1). Size the heap
        # like the single multi-core executor this process actually is:
        # ~1/3 of physical RAM, capped at 48g (so a small laptop/CI box
        # gets a modest heap instead of an overcommitted 48g that the
        # OOM killer would reap mid-job). Only effective before the JVM
        # launches; a caller-provided session keeps its own setting.
        .config("spark.driver.memory", driver_mem)
        # AQE: runtime coalescing, skew-join splitting, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Sized for the test harness; on a real cluster this is
        # ~2-3x total executor cores.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic timestamps vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for the few pandas-UDF escape hatches.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource filter pushdown (sources/rest_datasource.py
        # prunes whole site partitions from pushed EqualTo/In filters)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        # The harness events.parquet stores TIMESTAMP(NANOS); Spark has
        # no nanos type — read as long, loader converts to micros.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Untagged TIMESTAMP(MICROS) parquet must load as TIMESTAMP (ltz,
        # UTC-pinned above), not TIMESTAMP_NTZ — the engine's ingestion
        # contract; load_table also enforces this at runtime.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Keep scans well-sized: 128m default is fine at 100 TB, the
        # harness files are tiny so AQE coalesces them anyway.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks of a ``localCheckpoint`` frame.

    ``DataFrame.unpersist`` does not: it only uncaches a plan from the
    CacheManager, and the checkpoint RDD stays in
    ``getPersistentRDDs()``. The plan of a checkpoint frame is a
    ``LogicalRDD``; this unpersists that RDD. Release a frame only
    after every frame that reads it has materialized its own
    checkpoint. Raises ``TypeError`` on any other plan (a frame
    derived from the checkpoint, say), which would release nothing.
    """
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() != "LogicalRDD":
        raise TypeError(
            f"release_checkpoint needs a localCheckpoint frame, got a "
            f"{plan.nodeName()} plan"
        )
    plan.rdd().unpersist(False)


#: Open fast_planning scopes per session: session -> [entrants, saved
#: value]. The first entrant saves and sets the conf, the last leaver
#: restores it, so overlapping scopes from site threads cannot leave
#: the session with the conf switched off.
_FAST_PLANNING: dict = {}
_FAST_PLANNING_LOCK = threading.Lock()


@contextlib.contextmanager
def fast_planning(df):
    """Context manager: disable Catalyst constraint propagation while
    CONSTRUCTING a deep pipeline plan (the subtree planning of the
    lazy-checkpoint cuts mes_etl and gantt_analysis keep). On those window-heavy trees the
    rule's cost is quadratic in predicate count and adds ~1 s of pure
    driver CPU per pipeline build at ANY data scale; its benefit —
    inferred isnotnull pushdowns — is redundant there because the
    pipelines filter their join/partition keys explicitly. Scoped to
    construction only: optimization at action time runs with the
    session default. Safe to enter from several threads at once on
    one session (see ``_FAST_PLANNING``)."""
    spark = df.sparkSession
    key = "spark.sql.constraintPropagation.enabled"
    with _FAST_PLANNING_LOCK:
        state = _FAST_PLANNING.setdefault(spark, [0, None])
        if state[0] == 0:
            state[1] = spark.conf.get(key, None)
            spark.conf.set(key, "false")
        state[0] += 1
    try:
        yield
    finally:
        with _FAST_PLANNING_LOCK:
            state[0] -= 1
            if state[0] == 0:
                del _FAST_PLANNING[spark]
                if state[1] is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, state[1])
