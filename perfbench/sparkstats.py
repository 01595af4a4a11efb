"""Spark counters taken from outside the engine.

Each traced op runs under its own job group. Job, stage and task counts
come from ``SparkContext.statusTracker()``; executor time, GC, shuffle
and spill come from the JSON event log Spark writes when
``spark.eventLog.enabled`` is on, parsed after the session stops.
"""

from __future__ import annotations

import glob
import json
import os

from perfbench.trace import union_length

GROUP_PREFIX = "perfbench-op-"


def group_of(op_id: int) -> str:
    return f"{GROUP_PREFIX}{op_id}"


def op_of(group: str | None) -> int | None:
    if group and group.startswith(GROUP_PREFIX):
        return int(group[len(GROUP_PREFIX):])
    return None


def status_counts(sc, group: str) -> dict:
    """Jobs, stages and tasks Spark ran under ``group``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                stages += 1
                tasks += st.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def _empty() -> dict:
    return {
        "jobs": [],
        "executor_run_ms": 0,
        "executor_cpu_ns": 0,
        "gc_ms": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "tasks": 0,
    }


def parse_event_log(lines) -> dict[int, dict]:
    """Op id -> job intervals (epoch ms) and summed task metrics, from
    the lines of one Spark JSON event log. Jobs outside a benchmark job
    group are ignored."""
    job_op: dict[int, int] = {}
    stage_op: dict[int, int] = {}
    job_start: dict[int, int] = {}
    out: dict[int, dict] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            op = op_of((ev.get("Properties") or {}).get("spark.jobGroup.id"))
            if op is None:
                continue
            jid = ev["Job ID"]
            job_op[jid] = op
            job_start[jid] = ev["Submission Time"]
            for sid in ev.get("Stage IDs", ()):
                stage_op.setdefault(sid, op)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_op:
                agg = out.setdefault(job_op[jid], _empty())
                agg["jobs"].append((job_start[jid], ev["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if op is None or not m:
                continue
            agg = out.setdefault(op, _empty())
            agg["tasks"] += 1
            agg["executor_run_ms"] += m.get("Executor Run Time", 0)
            agg["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
            agg["gc_ms"] += m.get("JVM GC Time", 0)
            agg["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            r = m.get("Shuffle Read Metrics") or {}
            agg["shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get(
                "Local Bytes Read", 0
            )
            w = m.get("Shuffle Write Metrics") or {}
            agg["shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
    return out


def read_event_logs(log_dir: str) -> dict[int, dict]:
    """Parse every application log under ``log_dir`` (one file per
    application; the run turns rolling logs off)."""
    out: dict[int, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isfile(path):
            with open(path) as f:
                out.update(parse_event_log(f))
    return out


def driver_gap_s(op_start_s: float, op_end_s: float, jobs_ms) -> float:
    """Op wall time minus the union of its Spark job spans (epoch
    seconds in, seconds out): planning, barriers and py4j."""
    covered = union_length(
        (max(s / 1000.0, op_start_s), min(e / 1000.0, op_end_s))
        for s, e in jobs_ms
        if e / 1000.0 > op_start_s and s / 1000.0 < op_end_s
    )
    return max(0.0, (op_end_s - op_start_s) - covered)
