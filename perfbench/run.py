"""Layered benchmark of the RCO engine (see perfbench/README.md).

    python3 perfbench/run.py --workload rco_sites_sf0.01x2 --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed, starts a new Spark application per iteration (``local[4]``), times
the workload through the package's public entry points until
``--seconds`` of measurement have accumulated (at least one iteration),
checks every output outside the clock, and prints one JSON line last:
the end-to-end metrics with ``--trace 0``, and with ``--trace 1`` the
per-layer metrics of a run with the Spark event log on. Everything the
run writes stays under ``.perfbench_runs/`` in the checkout.
"""

from __future__ import annotations

import argparse
import glob
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "fhc_rco_etl_scalable_spark"
#: local[CPUS]: fixed, so every box runs the same configuration
CPUS = 4
#: warm set-ups per run, after the measured iteration; setup_s is their
#: median. The first set-up, which also launches the JVM, is not one.
SETUPS = 7
WORKLOADS = {"rco_sites_sf0.01x2": "rco_sites", "catalog_sf0.01": "catalog"}

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "cpu_s": "s", "entry_p50_s": "s", "entry_p90_s": "s",
}
PER_LAYER = {
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.action_s": "s",
    "driver.nojob_s": "s", "iteration.self_s": "s",
    "sources.read_bytes": "B", "sources.read_rows": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.offcpu_s": "s",
    "exec.gc_s": "s", "exec.task_skew": "ratio", "exec.spill_bytes": "B",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "shuffle.fetch_wait_s": "s",
    "cpu.jvm_s": "s", "cpu.pyworker_s": "s", "cpu.driver_py_s": "s",
    "multi_site.site_s_max": "s", "multi_site.site_s_median": "s",
    "sinks.load_s": "s", "sinks.bytes_written": "B", "sinks.files_written": "count",
    "sinks.write_amp": "ratio",
    "streaming.batches": "count", "streaming.trigger_s": "s",
    "streaming.batch_p50_s": "s", "streaming.batch_p90_s": "s",
    "streaming.add_batch_s": "s", "streaming.planning_s": "s",
    "streaming.wal_commit_s": "s", "streaming.outside_trigger_s": "s",
    "streaming.state_rows": "count", "streaming.state_mem_bytes": "B",
    "checkpoint.rdds_left": "count",
    "trace.wall_s": "s",
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def isolate(run_dir: str, trace: bool) -> None:
    """Point the JVM, the Python workers and every temp file at this
    checkout and run directory. Must run before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    path = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join([ROOT] + path),
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    })
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        evdir = os.path.join(run_dir, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
            # one file per application (Spark 4 rolls into a directory)
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f"--conf '{k}={v}'" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    sys.path.insert(0, ROOT)


def import_package():
    pkg = __import__(PKG)
    if not os.path.abspath(pkg.__file__).startswith(os.path.join(ROOT, PKG) + os.sep):
        fail(f"{PKG} imported from {pkg.__file__}, not from this checkout")
    return pkg


def load_canon():
    """``canon_pandas`` from the repo's oracle gate, without letting
    that module change sys.path for the rest of the run."""
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod.canon_pandas


class Apps:
    """One Spark application per iteration; set-up is timed. Sample 0
    includes the JVM launch; the warm samples are ``[1:]``."""

    def __init__(self, name: str, trace: bool):
        from fhc_rco_etl_scalable_spark.session import get_spark

        self.get_spark, self.name, self.trace = get_spark, name, trace
        self.spark = None
        self.setup_s: list[float] = []
        self.start_s: list[float] = []
        self.listener = None

    def new(self):
        self.close_app()
        t0 = time.perf_counter()
        spark = self.get_spark(self.name)
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(0, 1 << 16, 1, CPUS).selectExpr("sum(id)").collect()
        self.setup_s.append(time.perf_counter() - t0)
        self.start_s.append(t1 - t0)
        self.spark = spark
        if self.trace:
            self.listener = progress_listener()
            spark.streams.addListener(self.listener)
        return spark

    def close_app(self) -> None:
        if self.spark is not None:
            # a full GC outside the clock, so every set-up starts from a
            # near-empty heap rather than whatever the iteration left
            self.spark.sparkContext._jvm.System.gc()
            self.spark.stop()
            self.spark = None

    def shutdown(self, sampler) -> None:
        """Stop the application and the JVM, and wait for every process
        this run started to end."""
        from pyspark import SparkContext

        self.close_app()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on EOF
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=10)
        deadline = time.time() + 30
        while len(sampler.tree()) > 1 and time.time() < deadline:
            time.sleep(0.2)
        for pid in sampler.tree():
            if pid != os.getpid():
                try:
                    os.kill(pid, 9)
                    os.waitpid(pid, 0)
                except (OSError, ChildProcessError):
                    pass


def progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.events.append({
                "ms": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_mem": sum(s.memoryUsedBytes for s in p.stateOperators),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def event_log(run_dir: str, app_id: str) -> str:
    paths = [p for p in glob.glob(os.path.join(run_dir, "eventlog", f"*{app_id}*"))
             if not p.endswith(".inprogress")]
    if not paths:
        raise FileNotFoundError(f"no finished event log for {app_id}")
    return paths[0]


def pct(values: list[float], q: float) -> float:
    """Percentile of the units that finished; NaN when none did (every
    unit failed, which the result reports as incorrect)."""
    from tracing import percentile

    return percentile(values, q) if values else float("nan")


def layers(kind: str, rec: dict, tracer, log: dict) -> dict[str, float]:
    """Per-layer metrics of one traced iteration."""
    from tracing import clipped, fold, jobs_started, self_times, union_length

    it = rec["span"]
    spans = [s for s in tracer.spans if "end" in s and it["start"] <= s["start"] <= it["end"]]
    in_it = {"jobs": {j: v for j, v in log["jobs"].items()
                      if it["start"] <= v["start"] <= it["end"]}}
    in_it["tasks"] = [t for t in log["tasks"] if t["job"] in in_it["jobs"]]
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(fold(in_it, {v["group"] for v in in_it["jobs"].values()}))
    builds = [s for s in spans if s["name"] == "plans.build"]
    out["plans.build_s"] = sum(s["end"] - s["start"] for s in builds)
    out["plans.build_jobs"] = sum(jobs_started(in_it, s["group"], s["start"], s["end"]) for s in builds)
    all_jobs = [(j["start"], j["end"]) for j in in_it["jobs"].values() if j["end"]]
    if kind == "catalog":
        units = [(s["start"], s["end"], all_jobs) for s in spans if s["name"] == "entry"]
        out["plans.action_s"] = sum(s["end"] - s["start"] for s in spans if s["name"] == "plans.action")
    else:
        loads = [s for s in spans if s["name"] == "sinks.load"]
        starts = {(s["site"], s["load"]): s["start"] for s in builds}
        units = [
            (starts[(s["site"], s["load"])], s["end"],
             [(j["start"], j["end"]) for j in in_it["jobs"].values()
              if j["group"] == s["group"] and j["end"]])
            for s in loads
        ]
        site_s = [b - a for a, b, _ in units]
        # the loader call checkpoints the site's outputs, which runs its
        # whole DAG, and waits for the commit lock: that is action time.
        # The sink layer is the write-method calls alone.
        out["plans.action_s"] = sum(s["end"] - s["start"] for s in loads)
        out["multi_site.site_s_max"] = max(site_s, default=float("nan"))
        out["multi_site.site_s_median"] = pct(site_s, 50)
        out["sinks.load_s"] = sum(
            s["end"] - s["start"] for s in spans if s["name"] == "sinks.write"
        ) / 2  # two loads
        out["sinks.files_written"] = rec["files_written"]
        out["sinks.write_amp"] = out["sinks.rows_written"] / max(rec["batch_rows"], 1)
    out["driver.nojob_s"] = sum(
        (b - a) - union_length(clipped(jobs, a, b)) for a, b, jobs in units
    )
    out["iteration.self_s"] = self_times(spans)[it["id"]]
    if kind != "rco_sites":
        out["sinks.bytes_written"] = 0.0
    out.pop("sinks.rows_written", None)
    for cls, v in rec["cpu"].items():
        out[f"cpu.{cls}_s"] = v
    progress = rec.get("progress") or []
    if progress:
        trig = [e["ms"].get("triggerExecution", 0) / 1e3 for e in progress]
        stream_spans = sum(
            s["end"] - s["start"] for s in spans
            if s["name"] == "entry" and s["entry"].startswith("streaming_")
        )
        out.update({
            "streaming.batches": len(progress),
            "streaming.trigger_s": sum(trig),
            "streaming.batch_p50_s": pct(trig, 50),
            "streaming.batch_p90_s": pct(trig, 90),
            "streaming.add_batch_s": sum(e["ms"].get("addBatch", 0) for e in progress) / 1e3,
            "streaming.planning_s": sum(e["ms"].get("queryPlanning", 0) for e in progress) / 1e3,
            "streaming.wal_commit_s": sum(e["ms"].get("walCommit", 0) for e in progress) / 1e3,
            "streaming.outside_trigger_s": max(stream_spans - sum(trig), 0.0),
            "streaming.state_rows": max(e["state_rows"] for e in progress),
            "streaming.state_mem_bytes": max(e["state_mem"] for e in progress),
        })
    out["peak_rss_mb"] = rec["peak_rss_mb"]
    out["checkpoint.rdds_left"] = rec["rdds_left"]
    out["trace.wall_s"] = rec["wall_s"]
    return out


def data_files(root: str) -> set[int]:
    """Inodes of the parquet data files under ``root`` (hard links to an
    unchanged partition count once)."""
    out = set()
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                out.add(os.stat(os.path.join(d, f)).st_ino)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    kind, trace = WORKLOADS[args.workload], bool(args.trace)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        fail(f"no {PKG} package in {ROOT}; run from the root of a checkout")
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir, trace)
    import_package()
    canon = load_canon()

    import gen
    import workloads as wl
    from sampler import CLASSES, ProcSampler, loadavg, steal_s
    from tracing import Tracer, read_event_log

    from fhc_rco_etl_scalable_spark.sources.parquet import DEFAULT_SF_DIR

    phases = {"start": time.time()}
    data_dir = os.path.join(run_dir, "data")
    manifest = gen.generate(kind, args.seed, os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), data_dir)
    oracle = wl.CatalogOracle(data_dir, canon) if kind == "catalog" else None
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)

    phases["generated"] = time.time()
    load_before = loadavg()
    sampler = ProcSampler().start()
    apps = Apps(f"perfbench-{args.workload}", trace)
    tracer = Tracer()
    iters: list[dict] = []
    attempted = failed = 0
    failures: dict = {}
    measured = 0.0
    try:
        while not iters or measured < args.seconds:
            i = len(iters)
            spark = apps.new()
            out_dir = os.path.join(run_dir, f"out{i}")
            cpu0, steal0 = sampler.cpu(), steal_s()
            sampler.reset_peak()
            if kind == "rco_sites":
                res = wl.rco_iteration(spark, data_dir, out_dir, tracer)
                entries = wl.rco_entries(tracer, res["span"])
            else:
                res = wl.catalog_iteration(spark, data_dir, out_dir, tracer)
                entries = wl.catalog_entries(tracer, res["span"])
            cpu1 = sampler.cpu()
            it = res["span"]
            rec = {
                "app": spark.sparkContext.applicationId,
                "span": it,
                "wall_s": it["end"] - it["start"],
                "cpu": {c: cpu1[c] - cpu0[c] for c in CLASSES},
                "peak_rss_mb": sampler.peak_rss_mb(),
                "steal_s": steal_s() - steal0,
                "entries": entries,
                "rdds_left": len(spark.sparkContext._jsc.getPersistentRDDs()),
            }
            measured += rec["wall_s"]
            if kind == "rco_sites":  # the check reads the sink through Spark
                a, f, digests = wl.rco_check(res, canon, expected)
                attempted, failed = attempted + a, failed + f
                rec.update(digests=digests, files_written=len(data_files(out_dir)))
                batches = res.pop("batches")
                if trace:
                    rec["batch_rows"] = wl.batch_rows(spark, batches)
                if f:
                    failures[f"iteration{i}"] = {"logs": res["logs"], "digests": digests}
            if trace:
                time.sleep(1.0)  # let the last progress events arrive
                rec["progress"] = list(apps.listener.events)
            iters.append((rec, res))
        while len(apps.setup_s) < SETUPS + 1:
            apps.new()
        phases["measured"] = time.time()
    finally:
        apps.shutdown(sampler)
        sampler.stop()
    phases["stopped"] = time.time()

    if oracle is not None:
        for rec, res in iters:
            a, f, errs = oracle.check(res)
            attempted, failed = attempted + a, failed + f
            failures.update({f"{k}#{rec['app']}": v for k, v in errs.items()})
        oracle.close()
    phases["checked"] = time.time()
    recs = [rec for rec, _ in iters]
    entries = [e for r in recs for e in r["entries"]]
    metrics = {
        "setup_s": statistics.median(apps.setup_s[1:]),
        "wall_s": statistics.median(r["wall_s"] for r in recs),
        "cpu_s": statistics.median(sum(r["cpu"].values()) for r in recs),
        "entry_p50_s": pct(entries, 50),
        "entry_p90_s": pct(entries, 90),
    }
    units = END_TO_END
    if trace:
        per_iter = [
            layers(kind, rec, tracer, read_event_log(event_log(run_dir, rec["app"])))
            for rec in recs
        ]
        metrics = {k: statistics.median(p[k] for p in per_iter) for k in PER_LAYER}
        metrics["session.start_s"] = statistics.median(apps.start_s[1:])
        units = PER_LAYER
        tracer.dump(os.path.join(run_dir, "spans.json"))
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "iterations": len(recs), "setup_s": apps.setup_s,
        "loadavg_before": load_before, "loadavg_after": loadavg(),
        "inputs": manifest, "failures": failures, "phases": phases,
        "per_iteration": [{k: v for k, v in r.items() if k not in ("span",)} for r in recs],
        "metrics": metrics,
    }
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    for d in glob.glob(os.path.join(run_dir, "out*")) + [data_dir, os.path.join(run_dir, "tmp")]:
        shutil.rmtree(d, ignore_errors=True)
    if failures:
        print(f"perfbench: failures: {json.dumps(failures, default=str)[:4000]}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
