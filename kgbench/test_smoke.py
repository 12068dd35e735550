"""Smoke test of the benchmark at a tiny corpus size.

    python3 -m pytest kgbench/test_smoke.py -q

Runs each workload untraced and traced, checks that every metric named
in BENCHMARK.json is printed with its unit, that a store with one row
dropped is caught by the correctness check, and that the benchmark
refuses to run where the product is missing. Each case starts its own
Spark JVM, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = ["--seed", "3", "--seconds", "1", "--convs", "40"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(*args, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "kgbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_emitted_with_its_unit(workload, trace):
    code, res, p = bench("--workload", workload, "--trace", str(trace), *TINY)
    assert code == 0, p.stderr[-4000:]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    named = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in named}
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    elif workload == "store_build":
        # the stage spans cover run_pipeline's wall time
        assert res["metrics"]["materialize.stage_coverage"]["value"] >= 0.9
        assert res["metrics"]["coalesce.ranges.rows_out"]["value"] > 0
    else:
        assert res["metrics"]["sparql.execute_ms.path"]["value"] > 0


def test_dropped_row_fails_the_check():
    code, res, p = bench("--workload", "store_build", "--trace", "0",
                         "--corrupt", *TINY)
    assert code == 1, p.stderr[-4000:]
    assert res["correct"] is False
    assert res["failed"] / res["attempted"] > 0


def test_refuses_without_the_product(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "kgbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, res, p = bench("--workload", "store_build", "--trace", "0", *TINY,
                         cwd=str(tmp_path))
    assert code != 0
    assert res is None
