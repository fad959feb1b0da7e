"""The benchmark's workloads: what one timed iteration runs, and how its
outputs are checked afterwards, outside the clock.

Each iteration runs in a new Spark application and calls only the
package's public entry points. Spans are recorded around those calls
from here; nothing in the package is edited.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime

import gen
from tracing import Tracer

# ---------------------------------------------------------------------------
# rco_sites: the paper's scheduled job. The sites run concurrently
# through run_all_sites + incremental_site_loader, twice: an initial
# extraction, then an overlapping re-extraction from lookback_start, so
# the second load takes the partition-scoped rewrite path.
# ---------------------------------------------------------------------------

SITES = tuple(f"SITE{k}" for k in range(gen.SITES))
#: the eight result tables site_etl emits for these sites
RCO_TABLES = (
    "BRANDCODE_data", "CO_Aggregated_Data", "CO_Event_Log", "Event_Log_for_Gantt",
    "First_Stop_after_CO_Data", "Gantt_Data", "Runtime_per_Day_data", "Script_Data",
)
FIRST_WINDOW = (datetime(2024, 1, 1), datetime(2024, 1, 24))
DATA_END = datetime(2024, 2, 1)
#: run clock of the re-extraction; hour 12 takes the 3-day lookback
RERUN_AT = datetime(2024, 1, 31, 12, 0)


def _site_inputs(spark, site_dir: str, lo: datetime, hi: datetime):
    """(downtime, production, line_config) of one site for [lo, hi):
    the canonical downtime log derived from the site's events the way
    the harness's site_etl_full entry does."""
    from pyspark.sql import functions as F

    from fhc_rco_etl_scalable_spark.plans.harness_queries import downtime_log_from_events
    from fhc_rco_etl_scalable_spark.sources.parquet import load_table

    ev = load_table(spark, "events", site_dir).filter(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi))
    )
    downtime = downtime_log_from_events(ev)
    line_config = downtime.select("LINE").distinct().select(
        F.col("LINE").alias("MDC_Line_Name"),
        F.lit("CM").alias("Constraint_Machine_String"),
    )
    production = downtime.filter(F.col("BRANDCODE").isNotNull()).select(
        "BRANDCODE",
        F.concat(F.lit("Product "), F.col("BRANDCODE")).alias("ProdDesc"),
        F.substring("BRANDCODE", 1, 2).alias("ProdFam"),
        F.lit("G1").alias("ProdGroup"),
        (F.pmod(F.length("OPERATOR_COMMENT"), F.lit(24)) + 1).alias("FirstPackCount"),
        F.col("DOWNTIME").alias("StatFactor"),
    )
    return downtime, production, line_config


def rco_iteration(spark, data_dir: str, out_dir: str, tracer: Tracer) -> dict:
    """Two incremental loads of every site into a fresh sink.

    Returns per-site spans (via ``tracer``), the run logs, the sink (for
    the check) and every batch handed to the sink's write methods (see
    ``batch_rows``). Each write-method call gets a ``sinks.write`` span."""
    from fhc_rco_etl_scalable_spark.plans import multi_site
    from fhc_rco_etl_scalable_spark.plans.rco_pipeline import SiteParams
    from fhc_rco_etl_scalable_spark.sinks.incremental import (
        ParquetIncrementalSink,
        lookback_start,
    )

    sc = spark.sparkContext
    sink = ParquetIncrementalSink(spark, out_dir)
    batches = []
    for meth in ("delete_overlap_append", "merge_dedup_overwrite", "upsert_script_data"):
        def write(df, *a, _f=getattr(sink, meth), **k):
            batches.append(df)
            with tracer.span("sinks.write"):
                return _f(df, *a, **k)
        setattr(sink, meth, write)

    logs = []
    real_site_etl = multi_site.site_etl
    try:
        with tracer.span("iteration") as it:
            for n in range(2):
                if n == 0:
                    lo, hi = FIRST_WINDOW
                else:  # re-extraction anchored on the watermark load 1 left
                    lo, hi = lookback_start(RERUN_AT, sink.watermark("Script_Data")), DATA_END
                with tracer.span(f"load{n}") as load_span:
                    def site_etl(downtime, production, site, *, _n=n, _p=load_span["id"], **kw):
                        group = f"{site.server}/load{_n}"
                        sc.setJobGroup(group, group)
                        with tracer.span("plans.build", parent=_p, site=site.server, load=_n, group=group):
                            return real_site_etl(downtime, production, site, **kw)

                    # run_all_sites calls site_etl in its own threads: swapping
                    # the module attribute is how the build of each site is
                    # timed and tagged from outside the package
                    multi_site.site_etl = site_etl
                    loader = multi_site.incremental_site_loader(sink, lo)

                    def load(server, outputs, _n=n, _p=load_span["id"]):
                        with tracer.span("sinks.load", parent=_p, site=server, load=_n, group=f"{server}/load{_n}"):
                            loader(server, outputs)

                    runs = []
                    for k, server in enumerate(SITES):
                        dt, prod, lc = _site_inputs(spark, os.path.join(data_dir, f"site{k}"), lo, hi)
                        runs.append(multi_site.SiteRun(SiteParams(server=server), dt, prod, lc))
                    logs.append(multi_site.run_all_sites(
                        runs, load, max_parallel_sites=len(SITES), data_update_time=hi
                    ))
    finally:
        multi_site.site_etl = real_site_etl
        sc.setLocalProperty("spark.jobGroup.id", None)
    return {"span": it, "logs": logs, "sink": sink, "batches": batches}


def batch_rows(spark, batches: list) -> int:
    """Rows in the batches the sink was handed, for the rows-based write
    amplification. Run after the iteration, in a job group of its own, so
    these jobs stay out of every timed or folded figure. The batches are
    locally checkpointed, so each count is one small job."""
    sc = spark.sparkContext
    sc.setJobGroup("perfbench.count", "perfbench.count")
    try:
        return sum(df.count() for df in batches)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def rco_entries(tracer: Tracer, it: dict) -> list[float]:
    """Per (site, load) latency: build start to sink-load end."""
    builds = {(s["site"], s["load"]): s for s in tracer.named("plans.build")}
    loads = {(s["site"], s["load"]): s for s in tracer.named("sinks.load")}
    return [
        loads[k]["end"] - builds[k]["start"]
        for k in builds
        if k in loads and builds[k]["start"] >= it["start"] and loads[k]["end"] <= it["end"]
    ]


def table_digest(pdf, canon) -> dict:
    rows = canon(pdf)
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return {"rows": len(rows), "sha256": h}


def rco_check(result: dict, canon, expected: dict) -> tuple[int, int, dict]:
    """(attempted, failed, digests): every site of every load must
    report Success, and every final table must match its pinned digest."""
    attempted = failed = 0
    for log in result["logs"]:
        for server in SITES:
            attempted += 1
            failed += log.get(server) != "Success"
    digests = {}
    for name in RCO_TABLES:
        attempted += 1
        df = result["sink"].read(name)
        digests[name] = None if df is None else table_digest(df.toPandas(), canon)
        failed += digests[name] is None or digests[name] != expected.get(name)
    return attempted, failed, digests


# ---------------------------------------------------------------------------
# catalog: a fixed slice of the harness catalog at sf0.01. The data is
# tiny, so plan building, Catalyst and job scheduling dominate. The
# slice spans the operator families: sessionization, as-of and interval
# joins, dedup, windows, rollups and pivots, SQL-API and TPC-H shaped
# queries, JSON flattening, MinHash LSH, a Python UDF, the IVF-PQ query
# and semantic dedup (Arrow mapInPandas workers) and one streaming
# interval join (micro-batch triggers and the state store). It is sized
# so that one cold iteration takes about 30 s: long enough that a short
# slow spell of the shared machine moves it by little, short enough for
# the run budget.
# ---------------------------------------------------------------------------

CATALOG = (
    "co_sessionize",
    "asof_backward",
    "dim_join_chain",
    "json_flatten",
    "interval_overlap",
    "runtime_per_day",
    "minhash_lsh",
    "exact_dedup",
    "top1_latest",
    "first_stop",
    "rollup_aggregate",
    "multimodal_features",
    "session_window_native",
    "tpch_shipping_priority",
    "embedding_topk_ivfpq",
    "string_surgery",
    "pivot_event_counts",
    "semantic_dedup",
    "percentile_stats",
    "sql_api_sessionize",
    "salted_aggregate",
    "streaming_interval_join",
)


def catalog_iteration(spark, data_dir: str, out_dir: str, tracer: Tracer) -> dict:
    """Build and write every CATALOG entry; an entry that raises is
    recorded and the iteration goes on."""
    from fhc_rco_etl_scalable_spark.plans.harness_queries import QUERIES

    sc = spark.sparkContext
    errors = {}
    try:
        with tracer.span("iteration") as it:
            for name in CATALOG:
                sc.setJobGroup(name, name)
                with tracer.span("entry", entry=name):
                    try:
                        with tracer.span("plans.build", entry=name, group=name):
                            df = QUERIES[name](spark, data_dir)
                        with tracer.span("plans.action", entry=name):
                            df.write.parquet(os.path.join(out_dir, name))
                    except Exception as e:  # scored as a failed entry
                        errors[name] = f"{type(e).__name__}: {str(e)[:300]}"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return {"span": it, "errors": errors, "out": out_dir}


def catalog_entries(tracer: Tracer, it: dict) -> list[float]:
    return [
        s["end"] - s["start"] for s in tracer.named("entry")
        if s["start"] >= it["start"] and s["end"] <= it["end"]
    ]


class CatalogOracle:
    """DuckDB twins of the CATALOG entries over the generated tables,
    each computed once and compared against every iteration's output."""

    def __init__(self, data_dir: str, canon):
        import duckdb

        from fhc_rco_etl_scalable_spark.plans.harness_queries import ORACLES
        from fhc_rco_etl_scalable_spark.sources.parquet import TABLES

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'"
            )
        self.oracles, self.canon, self.cache = ORACLES, canon, {}

    def expected(self, name: str):
        if name not in self.cache:
            d = self.con.execute(self.oracles[name]).df()
            self.cache[name] = (sorted(d.columns), self.canon(d))
        return self.cache[name]

    def check(self, result: dict) -> tuple[int, int, dict]:
        import pyarrow.parquet as pq

        failures = dict(result["errors"])
        for name in CATALOG:
            if name in failures:
                continue
            try:
                got = pq.read_table(os.path.join(result["out"], name)).to_pandas()
                cols, rows = self.expected(name)
                if sorted(got.columns) != cols:
                    failures[name] = f"columns {sorted(got.columns)} != {cols}"
                elif self.canon(got) != rows:
                    failures[name] = f"values differ ({len(got)} vs {len(rows)} rows)"
            except Exception as e:  # an unreadable output is a failed entry
                failures[name] = f"check {type(e).__name__}: {e}"
        return len(CATALOG), len(failures), failures

    def close(self) -> None:
        self.con.close()

