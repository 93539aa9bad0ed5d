"""Self-test of the benchmark on tiny inputs.

    python3 -m pytest perfbench -q

Each case runs perfbench/run.py in its own process, from the checkout
root, and checks the result line against BENCHMARK.json. About five
minutes on 4 cores.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from corpus import result_digest  # noqa: E402
from measure import closed_loop  # noqa: E402


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def bench(cwd: str, workload: str, trace: int, scale: str = "0.05"):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", scale],
        cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["crawl_rounds", "corpus_pass"])
def test_result_line(workload, trace):
    s = spec()
    assert workload in [w["name"] for w in s["workloads"]]
    p = bench(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(res) == ["attempted", "correct", "failed", "metrics"]
    assert res["correct"] is True and res["failed"] == 0, p.stdout
    assert res["attempted"] >= 1
    want = s["per_layer" if trace else "end_to_end"]
    assert sorted(res["metrics"]) == sorted(m["name"] for m in want)
    for m in want:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if m["unit"] == "s" and m["name"] != "trace.overhead_s":
            assert got["value"] > 0, m["name"]  # every time is measured
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_runs"))


def test_fails_without_engine(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = bench(str(tmp_path), "crawl_rounds", 0)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_digest_ignores_row_order_and_int_float_width():
    a = pd.DataFrame({"k": [2, 1], "v": [0.5, 3.0]})
    b = pd.DataFrame({"v": [3, 0.5], "k": [1.0, 2.0]})
    assert result_digest(a) == result_digest(b)
    c = pd.DataFrame({"k": [2, 1], "v": [0.5, 3.0000000000000004]})
    assert result_digest(a) != result_digest(c)


def test_closed_loop_runs_at_least_min_ops():
    calls = []
    times = closed_loop(lambda i: calls.append(i) or 0.5, 0.0, min_ops=3)
    assert calls == [0, 1, 2] and times == [0.5, 0.5, 0.5]
