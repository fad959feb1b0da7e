"""The correctness checks report a deliberately corrupted output."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen
import workloads as wl
from run import load_canon

from fhc_rco_etl_scalable_spark.sources.parquet import DEFAULT_SF_DIR

SRC_ROOT = os.path.dirname(DEFAULT_SF_DIR.rstrip("/"))
ENTRY = "union_dedup"


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    if not os.path.isdir(os.path.join(SRC_ROOT, "sf0.01")):
        pytest.skip("harness fixture tables not present")
    data = str(tmp_path_factory.mktemp("data"))
    manifest = gen.generate("catalog", 7, SRC_ROOT, data)
    assert manifest["events"]["rows"] > 0
    o = wl.CatalogOracle(data, load_canon())
    yield o
    o.close()


def _write(out, table):
    os.makedirs(os.path.join(out, ENTRY))
    pq.write_table(table, os.path.join(out, ENTRY, "part-0.parquet"))


def test_twin_output_passes_and_a_changed_value_fails(oracle, tmp_path, monkeypatch):
    monkeypatch.setattr(wl, "CATALOG", (ENTRY,))
    good = pa.Table.from_pandas(oracle.con.execute(oracle.oracles[ENTRY]).df(), preserve_index=False)
    _write(str(tmp_path / "good"), good)
    assert oracle.check({"errors": {}, "out": str(tmp_path / "good")})[:2] == (1, 0)

    bad = good.to_pandas()
    col = next(c for c in bad.columns if bad[c].dtype.kind in "if")
    bad.loc[0, col] = bad.loc[0, col] + 1
    _write(str(tmp_path / "bad"), pa.Table.from_pandas(bad, preserve_index=False))
    attempted, failed, failures = oracle.check({"errors": {}, "out": str(tmp_path / "bad")})
    assert (attempted, failed) == (1, 1) and "values differ" in failures[ENTRY]


def test_missing_output_and_raised_entry_count_as_failures(oracle, tmp_path, monkeypatch):
    monkeypatch.setattr(wl, "CATALOG", (ENTRY, "json_flatten"))
    res = {"errors": {"json_flatten": "ValueError: boom"}, "out": str(tmp_path)}
    assert oracle.check(res)[:2] == (2, 2)


def test_table_digest_changes_with_one_cell():
    import pandas as pd

    canon = load_canon()
    df = pd.DataFrame({"LINE": ["1", "2"], "DOWNTIME": [0.5, 1.25]})
    same = df.iloc[::-1].reset_index(drop=True)  # row order does not matter
    assert wl.table_digest(df, canon) == wl.table_digest(same, canon)
    df.loc[1, "DOWNTIME"] = 1.26
    assert wl.table_digest(df, canon) != wl.table_digest(same, canon)
