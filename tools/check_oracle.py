"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then
compares row count, column names, and an order-insensitive value hash.

Canonicalization is deliberately built on the SAME pipeline the driver
uses (established from the round-6 driver traceback and divergences):

* DuckDB results come through ``con.execute(sql).df()`` (pandas), NOT
  ``fetchall()`` — DuckDB types an uncast integer ``sum()`` as HUGEINT
  which pandas renders as float64 (``966.0``), while ``fetchall()``
  yields Python ints (``966``).  Two round-6 entries shipped locally
  green and officially red through exactly that gap.
* Spark results come through ``df.toPandas()``.
* Rows are ordered with ``DataFrame.sort_values`` over all columns
  (sorted by name) — which raises ``TypeError: unhashable type`` on a
  list-typed column, exactly as the driver's ``_canon`` did on
  ``encode_documents`` in round 6.  That crash is a FAILURE here.
* Cell stringification is dtype-sensitive: a float64 column formats as
  ``repr(float)`` even when every value is integral (NO integral-float
  to int collapse — the round-6 replica's blind spot), and floats keep
  full precision (a 6-sig-digit canon shipped two cent-level wrong
  answers as green in round 5).

The gate also lints every oracle's DuckDB OUTPUT types: HUGEINT,
DECIMAL, LIST, STRUCT and MAP columns are rejected outright, because
each of those classes canonicalizes differently (or crashes) under the
driver's pandas path vs Spark's.  A sweep of the 120-entry round-6
catalog with this linter flagged exactly the three officially-red
entries and nothing else.

Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# DuckDB logical types whose pandas materialization diverges from (or
# crashes against) Spark's toPandas under the driver's canon.
_BANNED_TYPE_TOKENS = ("HUGEINT", "DECIMAL", "[]", "STRUCT", "MAP", "UNION")


def lint_oracle_types(con, name: str, sql: str) -> list[str]:
    """Return lint errors for banned DuckDB output column types."""
    rel = con.sql(sql)
    errs = []
    for col, typ in zip(rel.columns, rel.types):
        t = str(typ).upper()
        if any(tok in t for tok in _BANNED_TYPE_TOKENS):
            errs.append(f"{name}: oracle output column {col!r} has banned type {t}"
                        " (pandas-canon-unsafe; CAST it / serialize it)")
    return errs


def lint_dtype_pairing(name: str, s_pdf, d_pdf) -> list[str]:
    """WARN-level cross-engine dtype report (ADVICE r7 #2): a column
    that materializes as datetime64 on one side but object-dates (or
    anything else) on the other is only hash-equal because the
    driver's canon collapses midnight timestamps to bare dates — an
    assumption, not a contract. Date-columned entries certified green
    prove the collapse is real driver behavior, so this is a warning
    (surface the dependence), not a failure."""
    warns = []
    for col in s_pdf.columns:
        if col not in d_pdf.columns:
            continue
        sk, dk = s_pdf[col].dtype.kind, d_pdf[col].dtype.kind
        if sk != dk and "M" in (sk, dk):
            warns.append(
                f"{name}: column {col!r} is dtype kind {sk!r} on spark vs "
                f"{dk!r} on duckdb — hash equality depends on the driver "
                f"canon's midnight-timestamp collapse; prefer emitting the "
                f"same logical type on both engines (CAST both to DATE or "
                f"VARCHAR)"
            )
    return warns


def canon_cell(v) -> str:
    """Dtype-sensitive canonical string for one pandas cell.

    Mirrors the driver: float stays float-formatted (``966.0``), int
    stays int (``966``), no cross-dtype collapse.
    """
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "\x00NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "\x00NULL"
        if math.isinf(f):
            return repr(f)
        # NO integral collapse: float64(966.0) canonicalizes as '966.0',
        # which is precisely how it diverges from Spark's int64 '966'.
        return repr(f)
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        s = v.isoformat(sep=" ")
        if s.endswith(".000000"):
            s = s[:-7]
        if s.endswith(" 00:00:00"):
            s = s[:-9]
        return s
    if isinstance(v, datetime.datetime):
        s = v.isoformat(sep=" ")
        if s.endswith(".000000"):
            s = s[:-7]
        if s.endswith(" 00:00:00"):
            s = s[:-9]
        return s
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        # Unreachable when sort_values ran first (it raises on lists,
        # like the driver); kept for direct canon_cell unit tests.
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return str(v)


def canon_pandas(df) -> list[str]:
    """The driver's `_canon`: column-name sort, sort_values over all
    columns (raises TypeError on unhashable/list cells — callers treat
    that as a gate failure), then dtype-sensitive stringification.
    Returns a sorted list of row strings (order-insensitive compare).
    """
    cols = sorted(df.columns)
    df = df[cols]
    if len(df):
        df = df.sort_values(by=cols, kind="mergesort")
    out = ["\x01".join(canon_cell(v) for v in row)
           for row in df.itertuples(index=False, name=None)]
    out.sort()
    return out


def vanilla_spark():
    """A bone-vanilla SparkSession — master, UI off, console progress
    bar off and NOTHING else.

    The gate exists to reproduce the driver's environment, and the
    driver grades entries on a session with no engine confs set
    (round 8's one red, ``rest_scan_harness``, was green under
    ``get_spark()`` and red officially purely because ``get_spark``
    sets ``spark.sql.python.filterPushdown.enabled``).  Running the
    replica vanilla makes every entry self-provision any conf it
    needs — the actual driver contract.  An entry that goes red here
    is a bug in the entry, never a reason to re-add a conf below.
    The progress bar conf changes console rendering only, not
    execution: the bar redraws with ``\r`` on the stdout the OK/FAIL
    lines go to, so with it on a line count of the log misses results.
    """
    from pyspark.sql import SparkSession

    from fhc_rco_etl_scalable_spark.session import env_int

    cpus = env_int("SPARK_GRAFT_CPUS", 32)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("oracle-check-vanilla")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def session_conf_snapshot(spark) -> dict:
    """Explicitly-set session confs (SET output), for leak detection."""
    return {r["key"]: r["value"] for r in spark.sql("SET").collect()}


# The ingestion-contract confs that sources/parquet.load_table pins for
# the LIFETIME of the session by documented design (timestamp semantics
# must not flip between a frame's analysis and its execution). Every
# entry self-provisions them through load_table, so their appearance is
# the contract working — not a leak.
from fhc_rco_etl_scalable_spark.sources.parquet import (  # noqa: E402
    _PINNED_CONFS as _LIFETIME_PINS,
)


def main() -> int:
    import duckdb

    import __spark_entry__ as entry_mod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = vanilla_spark()
    con = duckdb.connect()
    # At the 100x scale fixture the oracle must not fight the sized
    # Spark JVM for the whole machine: an opt-in cap + disk spill
    # keeps the twin correct (slower, never OOM). No effect on the
    # driver-scale runs, which leave the env unset.
    mem_limit = os.environ.get("CHECK_ORACLE_DUCKDB_MEM")
    if mem_limit:
        spill = os.environ.get("CHECK_ORACLE_DUCKDB_TMP", "/tmp/duckdb_spill")
        os.makedirs(spill, exist_ok=True)
        con.execute(f"SET memory_limit='{mem_limit}'")
        con.execute(f"SET temp_directory='{spill}'")
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sql = oracles.get(name)
        linted = False
        if sql is not None:
            try:
                lint = lint_oracle_types(con, name, sql)
            except Exception as e:
                lint = [f"{name}: linter could not type the oracle: {e}"]
            if lint:
                linted = True
                for e in lint:
                    print(f"LINT {e}")
        conf_before = session_conf_snapshot(spark)
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_pdf = sdf.toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        finally:
            # Conf-leak lint: an entry that needs a non-default conf
            # must set AND restore it — a leaked conf can silently
            # green a LATER entry that would be red standalone on the
            # driver (the rotation order differs between gate and
            # driver, so leaks are a correctness hazard, not hygiene).
            conf_after = session_conf_snapshot(spark)
            leaked = {
                k: v
                for k, v in conf_after.items()
                if conf_before.get(k) != v and k not in _LIFETIME_PINS
            } | {
                k: "<unset>"
                for k in conf_before
                if k not in conf_after and k not in _LIFETIME_PINS
            }
            if leaked:
                print(f"WARN {name}: leaked session confs {leaked}")
        if sql is None:
            print(f"ok?  {name}: rows={len(s_pdf)} (no oracle, rows-only check)"
                  f" [{time.time()-t0:.1f}s]")
            if len(s_pdf) == 0:
                print(f"WARN {name}: zero rows")
            continue
        try:
            d_pdf = con.execute(sql).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        for w in lint_dtype_pairing(name, s_pdf, d_pdf):
            print(f"WARN {w}")
        ok = True
        if sorted(s_cols) != sorted(d_pdf.columns):
            ok = False
            print(f"FAIL {name}: columns spark={sorted(s_cols)}"
                  f" duck={sorted(d_pdf.columns)}")
        elif len(s_pdf) != len(d_pdf):
            ok = False
            print(f"FAIL {name}: rowcount spark={len(s_pdf)} duck={len(d_pdf)}")
        else:
            try:
                cs = canon_pandas(s_pdf)
                cd = canon_pandas(d_pdf)
            except TypeError as e:
                # The driver's _canon crashes here too (err row, not a
                # hash mismatch) — e.g. an array-typed output column.
                failures.append(name)
                print(f"FAIL {name}: canon crash (driver would err): {e}")
                continue
            if cs != cd:
                ok = False
                diff = [(a, b) for a, b in zip(cs, cd) if a != b][:3]
                print(f"FAIL {name}: value mismatch; first diffs:")
                for a, b in diff:
                    print(f"  spark: {a[:250]}")
                    print(f"  duck : {b[:250]}")
        if linted:
            ok = False
        if ok:
            print(f"OK   {name}: rows={len(s_pdf)} [{time.time()-t0:.1f}s]")
        elif name not in failures:
            failures.append(name)

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
