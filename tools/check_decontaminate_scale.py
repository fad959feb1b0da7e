"""At-scale certification for the ``decontaminate`` entry.

The catalog's DuckDB oracle is a deliberate CROSS JOIN (the semantics,
not the plan — harness_queries.py:5342); at the sf1-equivalent fixture
that is ~43k x ~7k = 306M ``list_intersect`` evaluations and DuckDB
does not finish in a sweep budget.  This check certifies the SAME
semantics at 10x through an algebraically equivalent oracle: unnest
the per-doc DISTINCT gram lists and count gram-join matches per
(corpus, bench) pair — ``count(*)`` of distinct-gram equijoin rows ==
``len(list_intersect(c.grams, b.grams))`` by construction, because
both lists are deduplicated before the join.

Same canon, same vanilla session, same fixture as the gate replica
(tools/check_oracle.py); only the oracle's JOIN SHAPE differs.  The
driver's own gate still runs the catalog CROSS-JOIN oracle at sf0.01,
where it is cheap — this script is scale evidence, not a replacement.

Usage: python tools/check_decontaminate_scale.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.check_oracle import canon_pandas, vanilla_spark  # noqa: E402

EFFICIENT_ORACLE = """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 1) + 1),
           i -> array_to_string(list_slice(toks, i, i + 2), ' ')
         )) AS grams
  FROM tok
),
ex AS (SELECT doc_id, unnest(grams) AS gram FROM g),
bench  AS (SELECT doc_id AS bench_id, gram FROM ex WHERE doc_id % 7 = 0),
corpus AS (SELECT doc_id, gram FROM ex WHERE doc_id % 7 <> 0)
SELECT c.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS n_shared
FROM corpus c JOIN bench b USING (gram)
GROUP BY c.doc_id, b.bench_id
HAVING count(*) >= 2
"""


def main() -> int:
    import duckdb

    import __spark_entry__ as entry_mod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".scale", "sf1eq")

    spark = vanilla_spark()
    t0 = time.time()
    sdf = entry_mod.queries()["decontaminate"](spark, sf_dir)
    s_pdf = sdf.toPandas()
    t_spark = time.time() - t0

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    t0 = time.time()
    d_pdf = con.execute(EFFICIENT_ORACLE).df()
    t_duck = time.time() - t0

    s_rows, d_rows = canon_pandas(s_pdf), canon_pandas(d_pdf)
    ok_rows = len(s_rows) == len(d_rows)
    ok_hash = s_rows == d_rows
    status = "OK" if (ok_rows and ok_hash) else "FAIL"
    print(
        f"{status} decontaminate@{sf_dir}: spark_rows={len(s_rows)} "
        f"oracle_rows={len(d_rows)} hash_match={ok_hash} "
        f"[spark {t_spark:.1f}s, duckdb gram-join {t_duck:.1f}s]"
    )
    return 0 if status == "OK" else 1


if __name__ == "__main__":
    raise SystemExit(main())
