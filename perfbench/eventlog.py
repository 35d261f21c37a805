"""Spark event-log reader: Spark's own execution layer, per timed pass.

A traced run starts Spark with ``spark.eventLog.enabled`` (plain JSON lines,
uncompressed, not rolling). This module turns that log into jobs, stages,
tasks and SQL plans, and summarises the part of it that falls inside one
time window (a timed pass).
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

from perfbench.trace import covered

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

# stage roles, by the RDD scopes (physical operators) a stage runs
ROLES = ("kernel", "write", "exchange", "scan")


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_s: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    output_bytes: int


@dataclass
class Stage:
    id: int
    submit_ms: int
    complete_ms: int
    n_tasks: int
    role: str


@dataclass
class EventLog:
    jobs: dict[int, int] = field(default_factory=dict)      # job id -> submit ms
    stages: dict[int, Stage] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    # execution id -> (start ms, last physical plan description)
    plans: dict[int, tuple[int, str]] = field(default_factory=dict)


def stage_role(scopes: set[str]) -> str:
    """Classify a stage by the operators it runs: Python kernels first (the
    Arrow ``mapInPandas`` bodies), then file writes, then stages that read a
    shuffle, then plain scans."""
    if any("Pandas" in s or "Python" in s for s in scopes):
        return "kernel"
    if any(s.startswith("WriteFiles") or s.startswith("Execute Insert") for s in scopes):
        return "write"
    if any(s in ("AQEShuffleRead", "ShuffleQueryStage") or s.startswith("Exchange")
           for s in scopes):
        return "exchange"
    return "scan"


def _scopes(stage_info: dict) -> set[str]:
    out = set()
    for rdd in stage_info.get("RDD Info", []):
        raw = rdd.get("Scope")
        if not raw:
            continue
        try:
            name = json.loads(raw).get("name", "").strip()
        except ValueError:
            continue
        if name:
            out.add(name)
    return out


def parse(lines) -> EventLog:
    """Parse an iterable of event-log lines (non-JSON lines are skipped)."""
    log = EventLog()
    for line in lines:
        try:
            e = json.loads(line)
        except ValueError:
            continue
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            log.jobs[e["Job ID"]] = e["Submission Time"]
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if si.get("Submission Time") is None or si.get("Completion Time") is None:
                continue
            log.stages[si["Stage ID"]] = Stage(
                id=si["Stage ID"],
                submit_ms=si["Submission Time"],
                complete_ms=si["Completion Time"],
                n_tasks=si.get("Number of Tasks", 0),
                role=stage_role(_scopes(si)),
            )
        elif ev == "SparkListenerTaskEnd":
            ti = e.get("Task Info") or {}
            tm = e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            log.tasks.append(Task(
                stage=e["Stage ID"],
                launch_ms=ti.get("Launch Time", 0),
                finish_ms=ti.get("Finish Time", 0),
                run_s=tm.get("Executor Run Time", 0) / 1e3,
                cpu_s=tm.get("Executor CPU Time", 0) / 1e9,
                gc_s=tm.get("JVM GC Time", 0) / 1e3,
                input_bytes=(tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                shuffle_read_bytes=sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0),
                shuffle_write_bytes=(tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
                spill_bytes=tm.get("Disk Bytes Spilled", 0),
                output_bytes=(tm.get("Output Metrics") or {}).get("Bytes Written", 0),
            ))
        elif ev == SQL_START:
            log.plans[e["executionId"]] = (e["time"], e["physicalPlanDescription"])
        elif ev == SQL_AQE_UPDATE:
            start = log.plans.get(e["executionId"], (0, ""))[0]
            log.plans[e["executionId"]] = (start, e["physicalPlanDescription"])
    return log


def read_dir(ev_dir: str) -> EventLog:
    """Parse every event-log file under ``ev_dir`` (one per application)."""
    lines: list[str] = []
    for root, _dirs, files in os.walk(ev_dir):
        for name in sorted(files):
            with open(os.path.join(root, name), errors="replace") as f:
                lines.extend(f)
    return parse(lines)


def window(log: EventLog, t0_ms: int, t1_ms: int) -> dict:
    """Summary of the jobs, stages and tasks submitted inside ``[t0, t1]``.

    ``idle_s`` is the part of the window during which no task ran (driver
    planning, probes and scheduling gaps). ``task_skew`` is max ÷ median task
    run time in the stage with the most tasks.
    """
    stages = {s.id: s for s in log.stages.values() if t0_ms <= s.submit_ms <= t1_ms}
    tasks = [t for t in log.tasks if t.stage in stages]
    busy_ms = covered([(t.launch_ms, t.finish_ms) for t in tasks], t0_ms, t1_ms)
    out = {
        "jobs": sum(1 for ms in log.jobs.values() if t0_ms <= ms <= t1_ms),
        "stages": len(stages),
        "tasks": len(tasks),
        "idle_s": max(0, (t1_ms - t0_ms) - busy_ms) / 1e3,
        "run_core_s": sum(t.run_s for t in tasks),
        "cpu_core_s": sum(t.cpu_s for t in tasks),
        "gc_core_s": sum(t.gc_s for t in tasks),
        "input_bytes": sum(t.input_bytes for t in tasks),
        "shuffle_read_bytes": sum(t.shuffle_read_bytes for t in tasks),
        "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "spill_bytes": sum(t.spill_bytes for t in tasks),
        "output_bytes": sum(t.output_bytes for t in tasks),
    }
    for role in ROLES:
        mine = [t for t in tasks if stages[t.stage].role == role]
        out[f"run_core_s.{role}"] = sum(t.run_s for t in mine)
        out[f"cpu_core_s.{role}"] = sum(t.cpu_s for t in mine)
        out[f"gc_core_s.{role}"] = sum(t.gc_s for t in mine)
    skew = 0.0
    if stages:
        widest = max(stages.values(), key=lambda s: (s.n_tasks, s.complete_ms - s.submit_ms))
        runs = [t.run_s for t in tasks if t.stage == widest.id]
        med = statistics.median(runs) if runs else 0.0
        skew = max(runs) / med if runs and med > 0 else 0.0
    out["task_skew"] = skew
    return out


def plans_in(log: EventLog, t0_ms: int, t1_ms: int) -> list[str]:
    """Last (final adaptive) plan of every SQL execution started in the window."""
    return [plan for start, plan in log.plans.values() if t0_ms <= start <= t1_ms]
