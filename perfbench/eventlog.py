"""Per-call aggregates from a Spark event log.

The benchmark labels every call into the program with
``setJobDescription("<workload>/<op>/<layer>")``. This module reads the
JSON-lines event log Spark writes when ``spark.eventLog.enabled`` is set
and sums, per description, the task metrics of ``SparkListenerTaskEnd``
and the SQL metrics (task accumulables and driver-side updates), keyed by
``(plan node, metric name)``.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter
from dataclasses import dataclass, field

PY_RUN = "time to run Python workers"


@dataclass
class Calls:
    """Everything Spark recorded for the jobs of one description."""

    jobs: int = 0
    stages: set = field(default_factory=set)
    tasks: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    #: (node, metric) -> sum over tasks, and over driver-side updates
    sql: Counter = field(default_factory=Counter)
    #: wall of each task of a stage that runs Python workers, in ms
    python_task_ms: list = field(default_factory=list)
    #: stage id -> (wall ms, shuffle bytes written, runs Python)
    stage_info: dict = field(default_factory=dict)

    def sql_sum(self, metric: str, node_prefix: str = "") -> int:
        return sum(
            v for (node, name), v in self.sql.items()
            if name == metric and node.startswith(node_prefix)
        )


def _event_files(log_dir: str) -> list[str]:
    files = []
    for base, _, names in os.walk(log_dir):
        for name in names:
            if not name.startswith(".") and not name.startswith("appstatus"):
                files.append(os.path.join(base, name))

    def order(path: str):
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0)

    return sorted(files, key=order)


def _walk_plan(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = (plan["nodeName"].strip(), m["name"])
    for child in plan.get("children", ()):
        _walk_plan(child, out)


def read(log_dir: str) -> dict[str, Calls]:
    """Description -> aggregates, over every application logged in
    ``log_dir``."""
    calls: dict[str, Calls] = {}
    stage_desc: dict[int, str] = {}
    exec_desc: dict[int, str] = {}
    accum_node: dict[int, tuple[str, str]] = {}
    stage_tasks: dict[int, list] = {}
    stage_py: set[int] = set()
    stage_wall: dict[int, int] = {}
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    desc = e.get("Properties", {}).get("spark.job.description") or ""
                    c = calls.setdefault(desc, Calls())
                    c.jobs += 1
                    for sid in e["Stage IDs"]:
                        stage_desc.setdefault(sid, desc)
                elif kind.endswith("SQLExecutionStart"):
                    exec_desc[e["executionId"]] = e.get("description") or ""
                    _walk_plan(e["sparkPlanInfo"], accum_node)
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _walk_plan(e["sparkPlanInfo"], accum_node)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    desc = exec_desc.get(e["executionId"], "")
                    c = calls.setdefault(desc, Calls())
                    for acc_id, value in e["accumUpdates"]:
                        if acc_id in accum_node:
                            c.sql[accum_node[acc_id]] += int(value)
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    sid = info["Stage ID"]
                    if "Completion Time" in info and "Submission Time" in info:
                        stage_wall[sid] = info["Completion Time"] - info["Submission Time"]
                    calls.setdefault(stage_desc.get(sid, ""), Calls()).stages.add(sid)
                elif kind == "SparkListenerTaskEnd":
                    _task_end(e, calls, stage_desc, accum_node, stage_tasks, stage_py)
    for sid, desc in stage_desc.items():
        c = calls.get(desc)
        if c is None or sid not in c.stages:
            continue
        tasks = stage_tasks.get(sid, [])
        c.stage_info[sid] = (
            stage_wall.get(sid, 0),
            sum(t[1] for t in tasks),
            sid in stage_py,
        )
        if sid in stage_py:
            c.python_task_ms.extend(t[0] for t in tasks)
    return calls


def _task_end(e, calls, stage_desc, accum_node, stage_tasks, stage_py) -> None:
    sid = e["Stage ID"]
    c = calls.setdefault(stage_desc.get(sid, ""), Calls())
    info = e["Task Info"]
    m = e.get("Task Metrics") or {}
    c.tasks += 1
    c.cpu_ns += m.get("Executor CPU Time", 0)
    c.gc_ms += m.get("JVM GC Time", 0)
    c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    c.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
    shuffle_w = m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    c.shuffle_write_bytes += shuffle_w
    for acc in info.get("Accumulables", ()):
        if acc.get("Metadata") != "sql" or "Update" not in acc:
            continue
        key = accum_node.get(acc["ID"], ("", acc.get("Name", "")))
        c.sql[key] += int(acc["Update"])
        if key[1] == PY_RUN:
            stage_py.add(sid)
    stage_tasks.setdefault(sid, []).append(
        (info["Finish Time"] - info["Launch Time"], shuffle_w)
    )
