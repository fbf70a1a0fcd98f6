"""Per-layer metrics from a Spark JSON event log, read offline.

The traced run starts the session with ``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=false``
so the log is one plain JSON-lines file. Nothing here talks to the
running application: the file is read after ``SparkContext.stop()``.

Jobs are attributed to benchmark ops by ``spark.jobGroup.id`` (the
benchmark sets one group per op phase). DataFrame jobs carry no Python
call site, so the group is the only handle; a job without a group (one
fired from a thread the query started) falls back to the op whose wall
interval contains its submission time. SQL executions are attributed to
a table by the sink path in their ``physicalPlanDescription``.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


@dataclass
class Job:
    group: str | None
    execution_id: int | None
    start_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Execution:
    plan: str
    start_ms: int
    end_ms: int = 0


@dataclass
class StageTotals:
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    input_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job]
    executions: dict[int, Execution]
    stages: dict[int, StageTotals]


def read(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    executions: dict[int, Execution] = {}
    stages: dict[int, StageTotals] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                root = props.get("spark.sql.execution.root.id")
                eid = root if root not in (None, "") else props.get(
                    "spark.sql.execution.id"
                )
                jobs[ev["Job ID"]] = Job(
                    group=props.get("spark.jobGroup.id"),
                    execution_id=None if eid in (None, "") else int(eid),
                    start_ms=ev["Submission Time"],
                    stage_ids=list(ev.get("Stage IDs") or []),
                )
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                _add_task(stages.setdefault(ev["Stage ID"], StageTotals()), ev)
            elif kind == _SQL_START:
                executions[ev["executionId"]] = Execution(
                    ev.get("physicalPlanDescription") or "", ev["time"]
                )
            elif kind == _SQL_END:
                ex = executions.get(ev["executionId"])
                if ex is not None:
                    ex.end_ms = ev["time"]
    return EventLog(jobs, executions, stages)


def _add_task(acc: StageTotals, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    acc.tasks += 1
    acc.task_s += m.get("Executor Run Time", 0) / 1e3
    acc.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    acc.gc_s += m.get("JVM GC Time", 0) / 1e3
    sw = m.get("Shuffle Write Metrics") or {}
    acc.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    acc.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0
    )
    acc.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    acc.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
        "Disk Bytes Spilled", 0
    )


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals, in their unit."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def jobs_by_op(log: EventLog, ops: list[dict]) -> dict[int, list[Job]]:
    """Map op index -> its jobs. ``ops`` carry ``group`` (the job-group
    prefix the op set) and ``start``/``end`` epoch seconds."""
    out: dict[int, list[Job]] = {i: [] for i in range(len(ops))}
    for job in log.jobs.values():
        for i, op in enumerate(ops):
            if job.group is not None:
                if job.group.startswith(op["group"] + ":"):
                    out[i].append(job)
                    break
            elif op["start"] * 1e3 <= job.start_ms <= op["end"] * 1e3:
                out[i].append(job)
                break
    return out


def exec_metrics(log: EventLog, jobs: list[Job], wall_s: float, cores: int) -> dict:
    """Spark execution totals for one op's jobs."""
    tot = StageTotals()
    # a shuffle stage another job already ran is listed again, skipped;
    # one that never ran has no tasks in the log
    ran = {sid for job in jobs for sid in job.stage_ids if sid in log.stages}
    for sid in ran:
        for name in vars(tot):
            setattr(tot, name, getattr(tot, name) + getattr(log.stages[sid], name))
    busy = union_s([(j.start_ms / 1e3, j.end_ms / 1e3) for j in jobs if j.end_ms])
    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(ran),
        "exec.tasks": tot.tasks,
        "exec.task_s": tot.task_s,
        "exec.cpu_s": tot.cpu_s,
        "exec.gc_s": tot.gc_s,
        "exec.core_util": tot.task_s / (wall_s * cores),
        "exec.shuffle_write_bytes": tot.shuffle_write_bytes,
        "exec.shuffle_read_bytes": tot.shuffle_read_bytes,
        "exec.input_bytes": tot.input_bytes,
        "exec.spill_bytes": tot.spill_bytes,
        "exec.driver_gap_s": max(0.0, wall_s - busy),
    }


def sink_of(plan: str, tables: dict[str, str]) -> str | None:
    """Name of the table the plan writes, read from the ``Arguments:``
    line of its ``InsertIntoHadoopFsRelationCommand`` node, whose first
    argument is the output path (``<table>__tmp_merge`` for a MERGE)."""
    at = plan.find("Execute InsertIntoHadoopFsRelationCommand\n")
    if at < 0:
        return None
    args = plan.find("Arguments: ", at)
    out = plan[args + len("Arguments: "):].split(",", 1)[0].removeprefix("file:")
    for name, path in tables.items():
        if out == path or out.startswith((path + "_", path + "/")):
            return name
    return None


#: Tables of the medallion write path, keyed by the per-layer metric
#: that carries the time of the SQL executions writing them.
TABLE_METRICS = {
    "bronze": "bronze.write_s",
    "silver": "merge.silver_s",
    "dim": "merge.dim_s",
    "gold": "merge.gold_s",
}


def per_layer(path: str, ops: list[dict], cores: int, tables: dict[str, str]) -> dict:
    """Median over ops of each per-op layer metric. An op dict carries
    ``wall``, ``start``/``end`` (epoch seconds), ``group`` and the
    ``layers`` the workload measured from outside (fetch, state, bytes,
    build time)."""
    log = read(path)
    by_op = jobs_by_op(log, ops)
    per_op = []
    for i, op in enumerate(ops):
        jobs = by_op[i]
        m = exec_metrics(log, jobs, op["wall"], cores)
        m["build.jobs"] = sum(1 for j in jobs if j.group and ":build:" in j.group)
        m.update(op["layers"])
        if tables:
            m.update(_table_times(log, jobs, op, tables))
        per_op.append(m)
    keys = {k for m in per_op for k in m}
    return {k: statistics.median(m.get(k, 0) for m in per_op) for k in sorted(keys)}


def _table_times(log: EventLog, jobs: list[Job], op: dict, tables: dict[str, str]) -> dict:
    """Split the op's wall time: SQL executions that write a table, other
    Spark jobs, and driver time outside any job (Arrow row building,
    planning, file swaps), net of the fetch and state time measured by
    the workload."""
    out = {metric: 0.0 for metric in TABLE_METRICS.values()}
    sink_spans = []
    for eid in sorted({j.execution_id for j in jobs if j.execution_id is not None}):
        ex = log.executions.get(eid)
        table = sink_of(ex.plan, tables) if ex is not None else None
        if table is None or not ex.end_ms:
            continue
        span = (ex.start_ms / 1e3, ex.end_ms / 1e3)
        out[TABLE_METRICS[table]] += span[1] - span[0]
        sink_spans.append(span)
    job_spans = [(j.start_ms / 1e3, j.end_ms / 1e3) for j in jobs if j.end_ms]
    busy = union_s(job_spans + sink_spans)
    out["exec.other_s"] = busy - union_s(sink_spans)
    layers = op["layers"]
    out["pipeline.driver_s"] = (
        op["wall"] - busy - layers["sources.fetch_s"] - layers["incremental.state_s"]
    )
    return out


def print_table(workload: str, metrics: dict, units: dict, walls: list[float]) -> None:
    print(f"per-layer ({workload}, median over {len(walls)} ops)")
    for name, unit in units.items():
        print(f"  {name:28s} {metrics.get(name, 0):>16.4f} {unit}")
    if workload == "medallion_incremental":
        parts = ["sources.fetch_s", "incremental.state_s", *TABLE_METRICS.values(),
                 "exec.other_s", "pipeline.driver_s"]
        total = sum(metrics.get(p, 0) for p in parts)
        print(f"  accounting: {' + '.join(parts)} = {total:.4f} s "
              f"vs op_p50 {metrics['traced.op_p50_s']:.4f} s")
