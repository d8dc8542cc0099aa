"""Smoke tests for the benchmark at sf0.001.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import dataclasses
import io
import json
import os
import shutil
import subprocess
import sys
from contextlib import redirect_stdout

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import run  # noqa: E402
from session_setup import build_session  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SF = os.path.join(BENCH, "data", "sf0.001")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    DECLARED = json.load(_fh)


@pytest.fixture(scope="module")
def session():
    spark, get_spark_s, setup_s = build_session()
    yield spark, (get_spark_s, setup_s)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_declared_metric_is_printed(session, workload, trace):
    spark, setup = session
    result, details = run.run_workload(spark, workload, 1, 0, trace, SF, setup)
    out = io.StringIO()
    with redirect_stdout(out):
        run.emit(result, details, DECLARED["per_layer" if trace else "end_to_end"])
    *_, detail_line, result_line = out.getvalue().splitlines()
    printed = json.loads(result_line)
    assert set(printed) == {"correct", "attempted", "failed", "metrics"}
    for m in DECLARED["per_layer" if trace else "end_to_end"]:
        assert printed["metrics"][m["name"]]["unit"] == m["unit"]
        assert isinstance(printed["metrics"][m["name"]]["value"], (int, float))
    assert json.loads(detail_line)["error_rate"] == 0, details["failures"]
    assert printed["correct"] and printed["failed"] == 0


def test_layer_split_follows_the_workloads(session):
    spark, setup = session
    layers = {
        w: run.run_workload(spark, w, 2, 0, 1, SF, setup)[0]["metrics"] for w in WORKLOADS
    }
    assert layers["stream-ingest"]["streaming.passes"] > 0
    assert layers["sql-analytics"]["streaming.passes"] == 0
    assert layers["decode-udf"]["streaming.passes"] == 0
    assert layers["sql-analytics"]["functions.py_run_s"] == 0
    assert layers["decode-udf"]["functions.py_run_s"] > 0


def test_wrong_rows_raise_the_error_rate(session):
    """Negative control: a query that drops its result rows must be caught
    by the oracle check."""
    from odin_rs_spark.plans.catalog import CATALOG

    spark, setup = session
    spec = CATALOG["q01_pricing_summary"]
    wrong = dataclasses.replace(spec, fn=lambda s, sf: spec.fn(s, sf).limit(0))
    result, details = run.run_workload(
        spark, "sql-analytics", 1, 0, 0, SF, setup, specs={spec.name: wrong}
    )
    assert details["error_rate"] > 0
    assert not result["correct"] and result["failed"] == 1
    assert "row count differs" in details["failures"][0]


def test_cli_fails_without_the_package(tmp_path):
    """Given only BENCHMARK.json and the benchmark's own code, the command
    exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("data", ".work", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sql-analytics", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_tail_percentile_leaves_ten_samples_beyond():
    assert run.tail_percentile(100) == 90
    assert run.tail_percentile(1000) == 99
    assert run.tail_percentile(12) == 50
    assert run.quantile([1.0, 2.0, 3.0, 4.0], 50) == 2.0
