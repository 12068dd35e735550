"""The spark-submit job builds the store the way `cli --build` does."""

from __future__ import annotations

import importlib.util
import os
import sys

from wikidata_sparql_history_spark.pipeline import extract

SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts", "kg_submit_job.py",
)


def test_submit_job_builds_with_builtin_extractor(spark, tmp_path, monkeypatch):
    spec = importlib.util.spec_from_file_location("kg_submit_job", SCRIPT)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    def no_pandas(*_args, **_kwargs):
        raise AssertionError("submit job planned the pandas extractor")

    monkeypatch.setattr(extract, "_facts_pandas", no_pandas)
    out = str(tmp_path / "store")
    monkeypatch.setattr(sys, "argv", [SCRIPT, "--n-synth", "5", "--output", out])
    assert job.main() == 0
    assert os.path.exists(os.path.join(out, "ranges", "_SUCCESS"))
