"""Tests of the benchmark itself.

    python -m pytest perfbench/test_perfbench.py -q

The span/attribution tests need no Spark. The smoke tests run each
benchmarked workload end to end on tiny inputs (about a minute each) and
check the result line against BENCHMARK.json.
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
sys.path.insert(0, HERE)

import tracing  # noqa: E402


class _FakeSc:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, desc, interruptOnCancel=False):
        self.groups.append(group)


def test_self_time_and_attribution():
    tr = tracing.Tracer(_FakeSc())
    with tr.span("op") as op:
        with tr.span("workloads.build") as build:
            pass
    # pin the clock so self time and submission-time attribution are exact
    op.start, op.end = 100.0, 110.0
    build.start, build.end = 100.0, 104.0
    assert tr.self_times() == {op.sid: 6.0, build.sid: 4.0}
    assert tr.sc.groups[-1] == ""  # the top-level span restores no group
    log = {
        "jobs": {
            0: {"group": f"{tracing.GROUP_PREFIX}{build.sid}|workloads.build", "submit": 100.5},
            # an operator's own job group: charged to the innermost open span
            1: {"group": "bpe_merges_1k", "submit": 103.0},
            2: {"group": "bpe_merges_1k", "submit": 107.0},
            3: {"group": "", "submit": 200.0},  # outside every span
        },
        "stage_job": {0: 0, 1: 1, 2: 2, 3: 3},
        "tasks": [
            {"stage": 0, "failed": False, "dur_ms": 10, "executor_run_ms": 9},
            {"stage": 0, "failed": True, "dur_ms": 30, "executor_run_ms": 25},
            {"stage": 2, "failed": False, "dur_ms": 5, "python_ms": 4, "python_rows": 7},
            {"stage": 3, "failed": False, "dur_ms": 5},
        ],
    }
    per = tracing.attribute(tr.spans, log)
    assert per[build.sid]["jobs"] == 2 and per[op.sid]["jobs"] == 1
    assert per[build.sid]["tasks"] == 2 and per[build.sid]["tasks_failed"] == 1
    assert per[build.sid]["executor_run_ms"] == 34
    assert per[op.sid]["python_ms"] == 4 and per[op.sid]["python_rows"] == 7
    assert tracing.task_skew(per[build.sid]["stage_task_ms"]) == 30 / 20


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.parametrize("workload,trace", [("query_mix", 1), ("sentiment140_workflow", 0)])
def test_smoke(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] > 0
    wanted = bench["per_layer"] if trace else bench["end_to_end"]
    assert sorted(result["metrics"]) == sorted(m["name"] for m in wanted)
    for m in wanted:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
