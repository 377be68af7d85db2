"""Spans around layer calls, and the fold that attributes Spark's own
monitoring to them.

The benchmark measures the engine from outside. Every call it makes into a
layer's public function runs inside :meth:`Tracer.span`, which records
``(name, start, end, parent)`` in memory and sets one Spark job group for
the call. In a traced run the session also writes Spark's event log;
:func:`fold_event_log` reads it after the session stops and
:func:`attribute` charges every job, stage and task to the innermost span
that launched it (by job group, or by submission time for jobs an operator
submitted under a job group of its own). Nothing here touches engine code.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench|"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; one per run, single-threaded (closed loop)."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{s.sid}|{name}", name, interruptOnCancel=False)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(
                    f"{GROUP_PREFIX}{parent.sid}|{parent.name}", parent.name, interruptOnCancel=False
                )
            else:
                self.sc.setJobGroup("", "", interruptOnCancel=False)

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        return kids

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover."""
        kids = self.children()
        return {s.sid: s.dur - sum(c.dur for c in kids.get(s.sid, ())) for s in self.spans}

    def dump(self) -> list[dict]:
        return [
            {"id": s.sid, "name": s.name, "parent": s.parent, "start": s.start,
             "end": s.end, **s.attrs}
            for s in self.spans
        ]


# -- event log ----------------------------------------------------------------

_TASK_SUMS = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.fetchWaitTime": "fetch_wait_ms",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}
_PY_TIME = "time to run Python workers"


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for a single plain-JSON event log file in ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }


def _walk_plan(node: dict, python_rows_ids: set[int]) -> None:
    names = {m["name"]: m["accumulatorId"] for m in node.get("metrics", ())}
    if _PY_TIME in names and "number of output rows" in names:
        python_rows_ids.add(names["number of output rows"])
    for child in node.get("children", ()):
        _walk_plan(child, python_rows_ids)


def fold_event_log(log_dir: str) -> dict:
    """Read the (finished) event log into jobs, stage→job and task records."""
    files = glob.glob(os.path.join(log_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    python_rows_ids: set[int] = set()
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id") or "",
                    "submit": ev["Submission Time"] / 1000.0,
                }
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = min(stage_job.get(sid, jid), jid)
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                _walk_plan(ev["sparkPlanInfo"], python_rows_ids)
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                rec = {
                    "stage": ev["Stage ID"],
                    "failed": bool(info.get("Failed")) or ev["Task End Reason"]["Reason"] != "Success",
                    "dur_ms": info["Finish Time"] - info["Launch Time"],
                    "python_ms": 0.0,
                    "python_rows": 0,
                }
                for acc in info.get("Accumulables", ()):
                    key = _TASK_SUMS.get(acc["Name"])
                    if key:
                        rec[key] = rec.get(key, 0) + int(acc.get("Update") or 0)
                    elif acc["Name"] == _PY_TIME:
                        rec["python_ms"] += int(acc.get("Update") or 0)
                    elif acc["ID"] in python_rows_ids:
                        rec["python_rows"] += int(acc.get("Update") or 0)
                tasks.append(rec)
    return {"jobs": jobs, "stage_job": stage_job, "tasks": tasks}


def attribute(spans: list[Span], log: dict) -> dict[int, dict]:
    """Per-span job/stage/task counters (each job charged to one span)."""
    by_id = {s.sid: s for s in spans}
    ordered = sorted(spans, key=lambda s: s.start)
    job_span: dict[int, int] = {}
    for jid, job in log["jobs"].items():
        sid = None
        if job["group"].startswith(GROUP_PREFIX):
            sid = int(job["group"].split("|")[1])
        else:
            # a foreign job group (an operator's own): the innermost span
            # open at submission time launched it — the loop is closed and
            # single-threaded, so at most one chain of spans is open
            for s in ordered:
                if s.start <= job["submit"] <= s.end and (
                    sid is None or by_id[sid].start <= s.start
                ):
                    sid = s.sid
        if sid is not None:
            job_span[jid] = sid
    out: dict[int, dict] = defaultdict(
        lambda: {"jobs": 0, "stages": set(), "tasks": 0, "tasks_failed": 0,
                 "executor_run_ms": 0, "gc_ms": 0, "shuffle_write_bytes": 0,
                 "fetch_wait_ms": 0, "spill_bytes": 0, "python_ms": 0,
                 "python_rows": 0, "stage_task_ms": defaultdict(list)}
    )
    for jid, sid in job_span.items():
        out[sid]["jobs"] += 1
    for t in log["tasks"]:
        jid = log["stage_job"].get(t["stage"])
        sid = job_span.get(jid) if jid is not None else None
        if sid is None:
            continue
        agg = out[sid]
        agg["stages"].add(t["stage"])
        agg["tasks"] += 1
        agg["tasks_failed"] += int(t["failed"])
        for key in ("executor_run_ms", "gc_ms", "shuffle_write_bytes", "fetch_wait_ms",
                    "spill_bytes", "python_ms", "python_rows"):
            agg[key] += t.get(key, 0)
        agg["stage_task_ms"][t["stage"]].append(t["dur_ms"])
    return out


def task_skew(stage_task_ms: dict[int, list[int]]) -> float:
    """Worst stage's max ÷ median task time (stages with ≥ 2 tasks)."""
    worst = 1.0
    for durs in stage_task_ms.values():
        if len(durs) >= 2:
            worst = max(worst, max(durs) / max(statistics.median(durs), 1.0))
    return worst


# -- processes and memory -----------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root`` (the JVM's Python workers)."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """(JVM VmHWM, summed VmHWM of the live Python worker processes) in MB."""
    workers = sum(_status_kb(p, "VmHWM") for p in descendants(jvm_pid))
    return _status_kb(jvm_pid, "VmHWM") / 1024.0, workers / 1024.0
