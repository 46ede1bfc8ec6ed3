"""Reduce a Spark event log to per-layer totals.

The benchmark labels each layer's Spark jobs (``setJobDescription``), or
groups a streaming query's jobs by its run id, and turns the event log on
through the session conf.  This module reads the finished log -- a single
JSON-lines file or a rolling ``eventlog_v2_*`` directory -- maps every
stage to the label of the job that submitted it, and sums the task
metrics of that stage under the label: executor run time, shuffle
bytes written, spill, and the Python operator metrics (time to run the
Python workers, Arrow bytes sent to and returned from them).
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import dataclass, field
from typing import Callable, Iterator

PY_RUN = "time to run Python workers"                    # ms
PY_SENT = "data sent to Python workers"                  # bytes
PY_RETURNED = "data returned from Python workers"        # bytes
_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate")


@dataclass
class LayerTotals:
    tasks: int = 0
    run_s: float = 0.0
    python_s: float = 0.0
    arrow_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_stages: set = field(default_factory=set)   # that wrote output
    spill_bytes: int = 0
    # executor run time of each task that ran Python code
    python_task_s: list = field(default_factory=list)
    # Python time per plan operator (node name), where the plan is logged
    python_s_by_op: dict = field(default_factory=dict)

    @property
    def max_python_task_s(self) -> float:
        return max(self.python_task_s, default=0.0)

    @property
    def python_task_skew(self) -> float:
        """Slowest Python task over the median one."""
        if not self.python_task_s:
            return 0.0
        med = statistics.median(self.python_task_s)
        return self.max_python_task_s / med if med > 0 else 0.0


def log_files(path: str) -> list[str]:
    """The files of one application's log, in write order."""
    if os.path.isfile(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]

    def index(name: str) -> int:
        m = re.match(r"events_(\d+)_", name)
        return int(m.group(1)) if m else 0

    return [os.path.join(path, f) for f in sorted(parts, key=index)]


def find_app_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if app_id in name and not name.endswith((".inprogress", ".crc")):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def iter_events(path: str) -> Iterator[dict]:
    for fname in log_files(path):
        with open(fname) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def job_description(props: dict) -> str | None:
    return props.get("spark.job.description")


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def reduce_events(events, label_of: Callable[[dict], str | None]
                  = job_description) -> dict[str, LayerTotals]:
    """Per-label totals over the tasks of every labelled job's stages.
    A stage belongs to the first job that lists it.  SQL plans in the log
    map each operator metric to the operator that owns it."""
    stage_label: dict[int, str] = {}
    acc_op: dict[int, str] = {}
    out: dict[str, LayerTotals] = {}

    def index_plan(node: dict) -> None:
        for m in node.get("metrics", ()):
            acc_op[m["accumulatorId"]] = node["nodeName"]
        for child in node.get("children", ()):
            index_plan(child)

    for ev in events:
        kind = ev.get("Event")
        if kind in _PLAN_EVENTS:
            index_plan(ev.get("sparkPlanInfo") or {})
        elif kind == "SparkListenerJobStart":
            label = label_of(ev.get("Properties") or {})
            if label is None:
                continue
            for sid in ev.get("Stage IDs", ()):
                stage_label.setdefault(sid, label)
        elif kind == "SparkListenerTaskEnd":
            label = stage_label.get(ev.get("Stage ID"))
            metrics = ev.get("Task Metrics")
            if label is None or not metrics:
                continue
            t = out.setdefault(label, LayerTotals())
            t.tasks += 1
            run_s = metrics.get("Executor Run Time", 0) / 1000.0
            t.run_s += run_s
            t.spill_bytes += (metrics.get("Memory Bytes Spilled", 0) +
                              metrics.get("Disk Bytes Spilled", 0))
            sw = metrics.get("Shuffle Write Metrics") or {}
            written = sw.get("Shuffle Bytes Written", 0)
            t.shuffle_write_bytes += written
            if written:
                t.shuffle_stages.add(ev.get("Stage ID"))
            py_ms = 0.0
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                name = acc.get("Name")
                if name == PY_RUN:
                    ms = _num(acc.get("Update"))
                    py_ms += ms
                    op = acc_op.get(acc.get("ID"), "")
                    t.python_s_by_op[op] = \
                        t.python_s_by_op.get(op, 0.0) + ms / 1000.0
                elif name in (PY_SENT, PY_RETURNED):
                    t.arrow_bytes += int(_num(acc.get("Update")))
            if py_ms > 0:
                t.python_s += py_ms / 1000.0
                t.python_task_s.append(run_s)
    return out


def reduce_log(path: str, label_of: Callable[[dict], str | None]
               = job_description) -> dict[str, LayerTotals]:
    return reduce_events(iter_events(path), label_of)
