"""Seeded benchmark inputs, generated with DuckDB alone (no Spark).

Every input is derived from the harness fixture tables the package is
configured with (``sources.parquet.DEFAULT_SF_DIR`` and its sibling
scale directories); nothing is downloaded. The seed changes row order
and, on the catalog workload, a whole-week time offset of the event
stream. It never changes row counts or key cardinalities, so two seeds
do the same amount of work.

The multi-site workload's final tables are checked against digests
pinned in ``expected.json``, so its seed changes only row order: the
pipeline's result must not depend on the order rows arrive in, and a
time offset or id salt would change every digest.

Usage: python3 perfbench/gen.py <workload> <seed> <src_root> <out_dir>
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

#: harness tables (sources.parquet.TABLES)
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: sites of the multi-site workload: each site is one copy of the base
#: event stream, with its users folded onto LINES production lines
#: (line ids are disjoint across sites).
SITES = 2
LINES = 4


def _order(seed: int, cols: str) -> str:
    """A seeded row order that does not depend on the input order."""
    return f"ORDER BY hash({cols}, {int(seed)}), {cols}"


def _copy(con, sql: str, dest: str) -> dict:
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    con.execute(f"COPY ({sql}) TO '{dest}' (FORMAT PARQUET)")
    rows = con.execute(f"SELECT count(*) FROM '{dest}'").fetchone()[0]
    return {"rows": int(rows), "bytes": os.path.getsize(dest)}


def rco_sites(con, seed: int, src: str, out: str) -> dict:
    """Per-site event files ``site<k>/events.parquet``."""
    manifest = {}
    for k in range(SITES):
        sql = f"""
            SELECT event_id, ts, {k * 100} + user_id % {LINES} AS user_id,
                   event_type, value, props
            FROM '{src}/events.parquet'
            {_order(seed + k, 'event_id')}
        """
        manifest[f"site{k}/events"] = _copy(
            con, sql, os.path.join(out, f"site{k}", "events.parquet")
        )
    return manifest


def catalog(con, seed: int, src: str, out: str) -> dict:
    """Every harness table, rows shuffled; events shifted by 0-4 weeks."""
    manifest = {}
    weeks = seed % 5
    for t in TABLES:
        cols = "*"
        if t == "events":
            cols = (f"* REPLACE (ts + INTERVAL {7 * weeks} DAY AS ts)")
        names = [r[0] for r in con.execute(
            f"SELECT column_name FROM (DESCRIBE SELECT * FROM '{src}/{t}.parquet')"
        ).fetchall()]
        # ties on the hashed key are broken by every column, so one seed
        # always writes the same row order
        sql = f"SELECT {cols} FROM '{src}/{t}.parquet' {_order(seed, ', '.join(names))}"
        manifest[t] = _copy(con, sql, os.path.join(out, f"{t}.parquet"))
    return manifest


#: workload -> (generator, source scale directory)
GENERATORS = {
    "rco_sites": (rco_sites, "sf0.01"),
    "catalog": (catalog, "sf0.01"),
}


def generate(kind: str, seed: int, src_root: str, out: str) -> dict:
    """Write the inputs of one workload kind under ``out``; return the
    manifest ``{file: {"rows", "bytes"}}``, also saved as
    ``out/manifest.json``."""
    fn, scale = GENERATORS[kind]
    src = os.path.join(src_root, scale)
    if not os.path.isfile(os.path.join(src, "events.parquet")):
        raise FileNotFoundError(f"no harness fixture at {src}")
    con = duckdb.connect()
    try:
        manifest = fn(con, seed, src, out)
    finally:
        con.close()
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    kind, seed, src_root, out = sys.argv[1:5]
    print(json.dumps(generate(kind, int(seed), src_root, out), indent=1))
