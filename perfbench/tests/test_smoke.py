"""End-to-end smoke runs of every workload at sf0.001 for a few ops.

Each run happens in a scratch checkout (a copy of the benchmark plus a
link to the engine package), so it never touches the work directory of
a benchmark running in the real checkout. Spark starts once per run, so
this module takes a few minutes.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("ingest_mor", "read_serving", "mv_maintain")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _copy_bench(dest: str) -> None:
    shutil.copytree(BENCH, os.path.join(dest, "perfbench"),
                    ignore=shutil.ignore_patterns("tests", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dest)


@pytest.fixture(scope="module")
def checkout(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("checkout"))
    _copy_bench(d)
    os.symlink(os.path.join(ROOT, "starlake_spark"), os.path.join(d, "starlake_spark"))
    return d


def _run(cwd: str, workload: str, trace: int, timeout: float = 900):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--scale", "sf0.001"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_reported_and_oracles_pass(checkout, workload, trace):
    p = _run(checkout, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    detail = json.loads(lines[-2])["perfbench"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, detail["errors"]
    assert result["attempted"] >= 2
    spec = _spec()["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    if not trace:
        assert all(result["metrics"][m]["value"] > 0 for m in want)
    for key in ("seed", "master", "cores", "mem_total_mb", "driver_mem_mb"):
        assert key in detail


def test_fails_without_the_engine(tmp_path):
    _copy_bench(str(tmp_path))
    p = _run(str(tmp_path), "read_serving", 0, timeout=180)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
