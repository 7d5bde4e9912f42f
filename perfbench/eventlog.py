"""Spark event-log collector for the traced benchmark run.

Reads the uncompressed rolling event log (``eventlog_v2_*/events_*``)
that a session started with ``spark.eventLog.enabled=true``,
``spark.eventLog.rolling.enabled=true`` and
``spark.eventLog.compress=false`` writes, and charges every job's task
metrics to the benchmark call whose wall window contains the job's
submission time. The benchmark makes one call at a time, so the windows
never overlap; job groups would not work here because they are
thread-local and ``build_index`` submits stages from its own thread pool.

Pure Python: no Spark import, so it can be tested on synthetic events.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field

# SQL metric names as the Python-UDF operators register them (Spark 4.1
# PythonSQLMetrics): "time to run Python workers" is a timing metric,
# "data sent to Python workers" a byte size. The plan events give each
# metric's type; a "timing" metric counts milliseconds, an "nsTiming" one
# nanoseconds.
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
MS_PER_UNIT = {"timing": 1.0, "nsTiming": 1e-6}


@dataclass
class Call:
    """One benchmark call into the package: name, phase and wall window
    in epoch seconds (the clock Spark stamps its events with)."""

    name: str
    phase: str
    t0: float
    t1: float
    result_rows: int = 0
    cpu_s: float = 0.0  # CPU seconds of the driver's process tree


@dataclass
class Usage:
    """Task-side cost charged to one call."""

    jobs: int = 0
    tasks: int = 0
    task_run_ms: float = 0.0
    task_cpu_ns: float = 0.0
    gc_ms: float = 0.0
    python_ms: float = 0.0
    python_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    records_read: float = 0.0


@dataclass
class Attribution:
    usage: list[Usage]  # aligned with the calls passed in
    unattributed: list[tuple[int, float]] = field(default_factory=list)  # (job id, submit s)


def event_files(log_dir: str) -> list[str]:
    """Rolling event-log parts in write order (events_1_…, events_2_…)."""

    def part(path: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    return sorted(files, key=lambda p: (os.path.dirname(p), part(p)))


def read_events(log_dir: str):
    files = event_files(log_dir)
    if not files:
        raise FileNotFoundError(f"no rolling event log under {log_dir}")
    for path in files:
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _plan_metric_types(e: dict, types: dict[int, str]) -> None:
    """Record the type of every SQL metric a plan event declares."""

    def walk(node: dict) -> None:
        for m in node.get("metrics", []):
            types[int(m["accumulatorId"])] = m.get("metricType", "")
        for child in node.get("children", []):
            walk(child)

    if "sparkPlanInfo" in e:
        walk(e["sparkPlanInfo"])
    for m in e.get("sqlPlanMetrics", []):
        types[int(m["accumulatorId"])] = m.get("metricType", "")


def attribute(events, calls: list[Call]) -> Attribution:
    """Charge each job (and the tasks of every stage it ran) to the call
    whose window holds the job's submission time."""
    windows = sorted(range(len(calls)), key=lambda i: calls[i].t0)
    usage = [Usage() for _ in calls]
    out = Attribution(usage)
    metric_types: dict[int, str] = {}  # SQL accumulator id -> metric type

    def owner(t: float) -> int | None:
        for i in windows:
            if calls[i].t0 <= t <= calls[i].t1:
                return i
        return None

    job_owner: dict[int, int | None] = {}
    job_stages: dict[int, set[int]] = {}
    active: list[int] = []
    stage_owner: dict[int, int | None] = {}
    for e in events:
        kind = e.get("Event")
        if "sparkPlanInfo" in e or "sqlPlanMetrics" in e:
            _plan_metric_types(e, metric_types)
        elif kind == "SparkListenerJobStart":
            jid = int(e["Job ID"])
            t = _num(e["Submission Time"]) / 1000.0
            i = owner(t)
            job_owner[jid] = i
            job_stages[jid] = {int(s) for s in e.get("Stage IDs", [])}
            active.append(jid)
            if i is None:
                out.unattributed.append((jid, t))
            else:
                usage[i].jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = int(e["Job ID"])
            if jid in active:
                active.remove(jid)
        elif kind == "SparkListenerStageSubmitted":
            sid = int(e["Stage Info"]["Stage ID"])
            # the newest running job that lists the stage ran it
            for jid in reversed(active):
                if sid in job_stages.get(jid, ()):
                    stage_owner[sid] = job_owner[jid]
                    break
        elif kind == "SparkListenerTaskEnd":
            i = stage_owner.get(int(e["Stage ID"]))
            if i is None:
                continue
            u = usage[i]
            u.tasks += 1
            m = e.get("Task Metrics") or {}
            u.task_run_ms += _num(m.get("Executor Run Time"))
            u.task_cpu_ns += _num(m.get("Executor CPU Time"))
            u.gc_ms += _num(m.get("JVM GC Time"))
            u.spill_bytes += _num(m.get("Disk Bytes Spilled"))
            u.shuffle_write_bytes += _num(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written")
            )
            u.records_read += _num((m.get("Input Metrics") or {}).get("Records Read"))
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name == PY_TIME:
                    kind_of = metric_types.get(int(_num(acc.get("ID"))), "timing")
                    u.python_ms += _num(acc.get("Update")) * MS_PER_UNIT.get(kind_of, 1.0)
                elif name == PY_SENT:
                    u.python_bytes += _num(acc.get("Update"))
    return out


FAMILY = (
    "wall_s", "task_cpu_s", "task_run_s", "python_s", "python_mb",
    "shuffle_write_mb", "spill_mb", "gc_s", "jobs", "tasks",
)


def family(calls: list[Call], usage: list[Usage], name: str, phases: set[str],
           with_rows: bool = False) -> dict[str, float]:
    """Per-call mean of the family for every call named *name* in *phases*
    (0 for every member when the workload makes no such call)."""
    idx = [i for i, c in enumerate(calls) if c.name == name and c.phase in phases]
    n = len(idx) or 1
    tot = Usage()
    wall = rows = 0.0
    for i in idx:
        u = usage[i]
        wall += calls[i].t1 - calls[i].t0
        rows += calls[i].result_rows
        for f in vars(tot):
            setattr(tot, f, getattr(tot, f) + getattr(u, f))
    mb = 1024.0 * 1024.0
    out = {
        "wall_s": wall / n,
        "task_cpu_s": tot.task_cpu_ns / 1e9 / n,
        "task_run_s": tot.task_run_ms / 1e3 / n,
        "python_s": tot.python_ms / 1e3 / n,
        "python_mb": tot.python_bytes / mb / n,
        "shuffle_write_mb": tot.shuffle_write_bytes / mb / n,
        "spill_mb": tot.spill_bytes / mb / n,
        "gc_s": tot.gc_ms / 1e3 / n,
        "jobs": tot.jobs / n,
        "tasks": tot.tasks / n,
    }
    if with_rows:
        out["rows_read_per_result"] = tot.records_read / rows if rows else 0.0
    return out
