"""Dump .explain("formatted") for named catalog entries to files.

Usage: python tools/dump_plan.py <outdir> <suffix> <entry> [entry ...]

Writes <outdir>/<entry>_<suffix>.txt for each entry. When the
optimized plan's root is a ``LogicalRDD``, ``LocalRelation`` or
``MemoryPlan`` — the entry returns a checkpoint, or its builder RAN a
stream into a memory sink — the dump shows only the scan of that
result and cannot show a change in the builder's plan. The file
header then carries a WARNING line, and the same line goes to stderr,
so an empty diff of two such dumps is not read as plan identity.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from fhc_rco_etl_scalable_spark.session import get_spark  # noqa: E402


MATERIALIZED_WARNING = (
    "# WARNING: materialized result (checkpoint or memory sink): "
    "this dump cannot show a change in the builder's plan"
)


def main() -> None:
    outdir, suffix, *names = sys.argv[1:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dump_plan")
    queries = entry_mod.queries()
    for name in names:
        fn = queries[name]
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        root = df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
        warn = root in ("LogicalRDD", "LocalRelation", "MemoryPlan")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — explain('formatted') at {sf_dir}\n")
            if warn:
                fh.write(MATERIALIZED_WARNING + "\n")
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)", file=sys.stderr)
        if warn:
            print(MATERIALIZED_WARNING, file=sys.stderr)


if __name__ == "__main__":
    main()
