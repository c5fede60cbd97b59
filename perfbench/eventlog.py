"""Stdlib reducer for an uncompressed Spark event log.

``read(path)`` returns the jobs, stages, task metrics and SQL metric
updates of one application.  Stage and task metrics are attached to the
job that ran the stage, and SQL plan metrics to the SQL execution, so
callers can attribute everything to the job group each job carried.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

PYTHON_INIT = ("time to start Python workers", "time to initialize Python workers")
PYTHON_RUN = ("time to run Python workers",)

# task-metric totals kept per stage: output key -> path in "Task Metrics"
_TASK_SUMS = {
    "executor_run_ms": ("Executor Run Time",),
    "executor_cpu_ns": ("Executor CPU Time",),
    "gc_ms": ("JVM GC Time",),
    "spill_bytes": ("Disk Bytes Spilled",),
    "shuffle_write_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "shuffle_read_remote": ("Shuffle Read Metrics", "Remote Bytes Read"),
    "shuffle_read_local": ("Shuffle Read Metrics", "Local Bytes Read"),
    "input_bytes": ("Input Metrics", "Bytes Read"),
    "output_bytes": ("Output Metrics", "Bytes Written"),
}


@dataclass
class Stage:
    id: int
    submit_ms: float = 0.0
    end_ms: float = 0.0
    tasks: int = 0
    sums: dict[str, float] = field(default_factory=dict)
    peak_exec_memory: int = 0
    # accumulator id -> summed task updates
    accums: dict[int, float] = field(default_factory=dict)


@dataclass
class Job:
    id: int
    group: str | None
    execution: int | None
    submit_ms: float
    end_ms: float = 0.0
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Log:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    # accumulator id -> (plan node name, metric name), from every plan
    # version (initial and adaptive) of every SQL execution
    sql_metrics: dict[int, tuple[str, str]] = field(default_factory=dict)
    # execution id -> {accumulator id: value} posted by the driver
    driver_accums: dict[int, dict[int, float]] = field(default_factory=dict)

    def stage_list(self, job_ids) -> list[Stage]:
        ids = {s for j in job_ids for s in self.jobs[j].stage_ids}
        # stages that never ran (skipped) have no completion event
        return [self.stages[i] for i in sorted(ids) if i in self.stages]

    def python_seconds(self, stages) -> tuple[float, float]:
        """(init, run) seconds of Python-worker SQL metrics in ``stages``."""
        init = run = 0.0
        for st in stages:
            for acc, v in st.accums.items():
                name = self.sql_metrics.get(acc, ("", ""))[1]
                if name in PYTHON_INIT:
                    init += v / 1000.0
                elif name in PYTHON_RUN:
                    run += v / 1000.0
        return init, run

    def broadcast_bytes(self, executions) -> float:
        total = 0.0
        for ex in executions:
            for acc, v in self.driver_accums.get(ex, {}).items():
                node, name = self.sql_metrics.get(acc, ("", ""))
                if node == "BroadcastExchange" and name == "data size":
                    total += v
        return total


def _dig(d: dict, path: tuple[str, ...]) -> float:
    for k in path:
        d = d.get(k) if isinstance(d, dict) else None
        if d is None:
            return 0.0
    return float(d)


def _walk_plan(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for c in node.get("children", []):
        _walk_plan(c, out)


def read(event_dir: str) -> Log:
    """The log of the one application that wrote into ``event_dir``
    (single-file layout: rolling event logs are off; dot files are the
    file system's checksums)."""
    (name,) = [n for n in os.listdir(event_dir) if not n.startswith(".")]
    log = Log()
    with open(os.path.join(event_dir, name), encoding="utf-8") as fh:
        for line in fh:
            _apply(log, json.loads(line))
    return log


def _apply(log: Log, e: dict) -> None:
    kind = e["Event"]
    if kind == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        ex = props.get("spark.sql.execution.id")
        log.jobs[e["Job ID"]] = Job(
            e["Job ID"],
            props.get("spark.jobGroup.id"),
            int(ex) if ex is not None else None,
            e["Submission Time"],
            stage_ids=list(e.get("Stage IDs", [])),
        )
    elif kind == "SparkListenerJobEnd":
        if e["Job ID"] in log.jobs:
            log.jobs[e["Job ID"]].end_ms = e["Completion Time"]
    elif kind == "SparkListenerTaskEnd":
        st = log.stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
        st.tasks += 1
        tm = e.get("Task Metrics") or {}
        for key, path in _TASK_SUMS.items():
            st.sums[key] = st.sums.get(key, 0.0) + _dig(tm, path)
        st.peak_exec_memory = max(st.peak_exec_memory, int(_dig(tm, ("Peak Execution Memory",))))
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            upd = acc.get("Update")
            if isinstance(upd, (int, float)) or (isinstance(upd, str) and upd.lstrip("-").isdigit()):
                st.accums[acc["ID"]] = st.accums.get(acc["ID"], 0.0) + float(upd)
    elif kind == "SparkListenerStageCompleted":
        info = e["Stage Info"]
        st = log.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
        st.submit_ms = info.get("Submission Time", 0.0)
        st.end_ms = info.get("Completion Time", 0.0)
    elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
        "SparkListenerSQLAdaptiveExecutionUpdate"
    ):
        _walk_plan(e["sparkPlanInfo"], log.sql_metrics)
    elif kind.endswith("SparkListenerDriverAccumUpdates"):
        acc = log.driver_accums.setdefault(e["executionId"], {})
        for acc_id, value in e["accumUpdates"]:
            acc[acc_id] = acc.get(acc_id, 0.0) + float(value)


def interval_union_ms(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
