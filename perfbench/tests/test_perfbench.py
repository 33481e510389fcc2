"""Self-tests of the benchmark.

    python3 -m pytest perfbench/tests -q

The subprocess tests start Spark several times and take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, ROOT)

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int, seed: int = 3, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return proc


def _parse(proc) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def test_spec_matches_runner():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert [w["why"] for w in SPEC["workloads"]] == [w.why for w in WORKLOADS.values()]
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


class _Frame:
    """Stands in for a Spark DataFrame in the output check."""

    def __init__(self, pdf: pd.DataFrame):
        self.pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self.pdf.copy()


@pytest.mark.parametrize("perturb", [False, True])
def test_oracle_mismatch_is_a_failed_operation(perturb):
    w = WORKLOADS["star_olap"]
    b = run.Bench(w, seed=0, seconds=1, trace=False, data_dir="unused")
    key = w.keys[0]
    got = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    oracle = got.copy()
    if perturb:
        oracle.loc[1, "v"] += 1.0
    b.expected[key] = b.testing._canon(oracle)
    b.check(key, _Frame(got))
    assert (b.attempted, b.failed) == (1, int(perturb))


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_untraced_run_prints_end_to_end_metrics(workload):
    detail, result = _parse(_run(workload, 0))
    assert list(result) == ["correct", "attempted", "failed", "metrics"]
    assert list(result["metrics"]) == list(run.END_TO_END)
    assert result["correct"] and result["failed"] == 0
    assert detail["error_frac"] == 0
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_counts_repeat(workload):
    runs = [_parse(_run(workload, 1)) for _ in range(2)]
    for detail, result in runs:
        assert list(result["metrics"]) == list(run.PER_LAYER)
        assert result["correct"] and detail["error_frac"] == 0
        assert set(detail["spark_counts"]) == set(WORKLOADS[workload].keys)
    assert runs[0][0]["spark_counts"] == runs[1][0]["spark_counts"]
    m0, m1 = (r[1]["metrics"] for r in runs)
    for name in m0:
        if name.endswith(("_calls", "_jobs")) or name.startswith("spark."):
            assert m0[name] == m1[name], name


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".out", "__pycache__"))
    proc = _run("star_olap", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
