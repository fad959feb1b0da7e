"""Dump .explain("formatted") for named catalog entries to files.

Usage: python tools/dump_plan.py <outdir> <suffix> <entry> [entry ...]

Writes <outdir>/<entry>_<suffix>.txt for each entry. Streaming entries
(whose builders RUN a stream and return a materialized frame) still
produce the plan of the returned frame; for those the interesting
evidence is the batch plan of the foreachBatch/sink path, which the
builder has already executed — noted in the file header.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from fhc_rco_etl_scalable_spark.session import get_spark  # noqa: E402


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
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — explain('formatted') at {sf_dir}\n")
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)", file=sys.stderr)


if __name__ == "__main__":
    main()
