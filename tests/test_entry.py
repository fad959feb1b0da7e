"""The driver-contract module reads its certification history from the
checkout it was loaded from, whatever the working directory."""

import importlib.util
import json
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_green_history_reads_its_own_checkout(tmp_path, monkeypatch):
    shutil.copy(os.path.join(REPO, "__spark_entry__.py"), tmp_path)
    green = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    (tmp_path / "CORRECTNESS_r99.json").write_text(json.dumps({"fake_entry": green}))
    monkeypatch.setattr(sys, "path", list(sys.path))  # the module prepends its dir
    spec = importlib.util.spec_from_file_location(
        "copied_spark_entry", tmp_path / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod._green_history() == {"fake_entry": 99}
