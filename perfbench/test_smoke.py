"""Smoke test for the benchmark: tiny sizes (sf0.001 tables, a 2 s
stream), every declared metric printed with its unit, correctness
checks that run and that catch a wrong answer.

    python3 -m pytest perfbench/test_smoke.py -q

The end-to-end cases start a Spark session each (two to three minutes in
all on a 4-core host).
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
sys.path.insert(0, ROOT)

from perfbench.analytics import _check_oracle, _check_pagerank, _numpy_pagerank  # noqa: E402
from perfbench.common import percentile  # noqa: E402
from perfbench.jobs import check_jobs  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = BENCH["command"] + ["--workload", workload, "--seed", "7", "--seconds", "2",
                              "--trace", str(trace), "--scale", "tiny"]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_printed_with_unit(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-2000:]
    assert result["attempted"] >= 1
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0, m["name"]


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = _run(str(tmp_path), BENCH["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_job_check_catches_wrong_outcomes():
    jobs = [{"id": "a", "kind": "noop"}, {"id": "b", "kind": "flaky"},
            {"id": "c", "kind": "scheduled"}]
    due = {"a": 1.0, "b": 1.0, "c": 5.0}
    good = [("a", "success", 2e9), ("b", "retrying", 2e9), ("b", "success", 3e9),
            ("c", "success", 6e9)]
    assert check_jobs(jobs, due, good, executions=4, scheduled_left=0) == []
    assert "a" in check_jobs(jobs, due, good + [("a", "success", 4e9)], 4, 0)
    assert "c" in check_jobs(jobs, due, good[:3] + [("c", "success", 4e9)], 4, 0)
    assert check_jobs(jobs, due, good, executions=3, scheduled_left=0)
    assert check_jobs(jobs, due, good, executions=4, scheduled_left=2)
    assert "b" in check_jobs(jobs, due, good + [("b", "dead", 4e9)], 4, 0)


def test_query_checks_catch_wrong_answers():
    oracle = (["k", "n"], [("1", "2"), ("3", "4")])
    ok = {"columns": ["n", "k"], "rows": [(4, 3), (2, 1)]}
    assert _check_oracle(oracle, ok) is None
    assert _check_oracle(oracle, {"columns": ["n", "k"], "rows": [(4, 3), (2, 9)]})
    assert _check_oracle(oracle, {"columns": ["n", "k"], "rows": [(4, 3)]})

    want = _numpy_pagerank([(0, 1), (1, 2), (2, 0), (2, 3)], 10, 0.85)
    assert abs(sum(want.values()) - 1.0) < 1e-9
    res = {"columns": ["doc_id", "pr"], "rows": list(want.items())}
    assert _check_pagerank(want, res) is None
    res["rows"][0] = (res["rows"][0][0], res["rows"][0][1] + 1e-5)
    assert _check_pagerank(want, res)


def test_nearest_rank_percentile():
    vals = list(range(1, 201))
    assert percentile(vals, 50) == 100
    assert percentile(vals, 99) == 198
    assert percentile([3.0, 1.0, 2.0], 99) == 3.0
