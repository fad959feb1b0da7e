"""Persist an sf1-equivalent fixture (VERDICT r14 #1): N-fold
replicated copies of the sf0.1 tables, written as single parquet files
in the same layout the driver's testdata uses, so check_oracle and
bench run against it UNMODIFIED — the same correctness gate and the
same bench CLI, just 10x the rows (lineitem ~6M, events 1M).

Replication follows tools/scale_probe.py's disjoint-key-space salting
(replica 0 is the identity copy, so value-literal filters like
``vec_id < 10`` keep matching the original rows):

- events: event_id + k*1e9, user_id + k*1e7 — N times the lines, the
  realistic RCO growth axis.
- documents: per-token cipher suffix (token n-gram sets map
  bijectively, so within-replica Jaccard structure is EXACT while
  cross-replica grams share nothing — banding stays linear in N).
- embeddings: k%64-step rotation — unit norms and within-replica
  geometry preserved, cross-replica neighbors scrambled.
- TPC-H tables: every FK family offset consistently per replica
  (orders/customer/part/supplier key spaces), names suffixed so
  group-by-name cardinalities grow with N; nation/region stay the
  5/25-row dims every replica shares.

Generation is pure DuckDB (no Spark session): one COPY per table,
single-file output, deterministic.

Usage: python tools/make_scale_fixture.py [N] [out_dir] [src_dir]
Defaults: N=10, out=<checkout>/.scale/sf1eq, src=the sf0.1 fixture (SRC below).
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

N = int(sys.argv[1]) if len(sys.argv) > 1 else 10
OUT = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale", "sf1eq"
)
SRC = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"

# per-replica key offsets: larger than any base key space
TABLE_SQL = {
    "events": """
        SELECT event_id + k * 1000000000 AS event_id, ts,
               user_id + k * 10000000 AS user_id, event_type, value, props
        FROM src, range({n}) t(k)
    """,
    "documents": """
        SELECT doc_id + k * 1000000000 AS doc_id,
               CASE WHEN k = 0 THEN text
                    ELSE array_to_string(list_transform(
                        list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),
                        x -> x || 'zq' || k::VARCHAR), ' ')
               END AS text,
               lang, source,
               CASE WHEN k = 0 THEN n_chars
                    ELSE length(array_to_string(list_transform(
                        list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),
                        x -> x || 'zq' || k::VARCHAR), ' '))
               END AS n_chars
        FROM src, range({n}) t(k)
    """,
    "embeddings": """
        SELECT vec_id + k * 1000000000 AS vec_id,
               CASE WHEN k % 64 = 0 THEN embedding
                    ELSE embedding[(k % 64) + 1:64] || embedding[1:(k % 64)]
               END AS embedding,
               label
        FROM src, range({n}) t(k)
    """,
    "customer": """
        SELECT c_custkey + k * 1000000 AS c_custkey,
               CASE WHEN k = 0 THEN c_name ELSE c_name || '#' || k::VARCHAR END
                 AS c_name,
               c_nationkey, c_acctbal, c_mktsegment
        FROM src, range({n}) t(k)
    """,
    "orders": """
        SELECT o_orderkey + k * 10000000 AS o_orderkey,
               o_custkey + k * 1000000 AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM src, range({n}) t(k)
    """,
    "lineitem": """
        SELECT l_orderkey + k * 10000000 AS l_orderkey,
               l_partkey + k * 100000 AS l_partkey,
               l_suppkey + k * 10000 AS l_suppkey,
               l_linenumber, l_quantity, l_extendedprice, l_discount,
               l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM src, range({n}) t(k)
    """,
    "part": """
        SELECT p_partkey + k * 100000 AS p_partkey,
               CASE WHEN k = 0 THEN p_name ELSE p_name || ' #' || k::VARCHAR END
                 AS p_name,
               p_brand, p_type, p_size, p_retailprice
        FROM src, range({n}) t(k)
    """,
    "supplier": """
        SELECT s_suppkey + k * 10000 AS s_suppkey,
               CASE WHEN k = 0 THEN s_name ELSE s_name || '#' || k::VARCHAR END
                 AS s_name,
               s_nationkey, s_acctbal
        FROM src, range({n}) t(k)
    """,
    "nation": "SELECT * FROM src",
    "region": "SELECT * FROM src",
}


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    for table, sql in TABLE_SQL.items():
        t0 = time.time()
        body = sql.format(n=N)
        con.execute(
            f"CREATE OR REPLACE VIEW src AS SELECT * FROM '{SRC}/{table}.parquet'"
        )
        dest = os.path.join(OUT, f"{table}.parquet")
        con.execute(f"COPY ({body}) TO '{dest}' (FORMAT PARQUET)")
        n_rows = con.execute(f"SELECT count(*) FROM '{dest}'").fetchone()[0]
        print(f"{table}: {n_rows} rows -> {dest} [{time.time()-t0:.1f}s]")
    print(f"done: N={N} out={OUT}")


if __name__ == "__main__":
    main()
