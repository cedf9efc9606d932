"""Parse a local Spark event log into the benchmark's execution-side
numbers: jobs, stages and tasks with their times and metrics, SQL
executions with every plan node's SQL metrics, and the micro-batches of
streaming queries with their progress.

Everything is attributed to the benchmark's op spans by time interval,
never by job group: gate fixtures launch jobs from thread pools whose
threads do not inherit job-group properties.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from datetime import datetime

JOIN_NODES = (
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)
CANDIDATE_NODES = JOIN_NODES + ("Generate",)


@dataclass
class Task:
    stage: int
    start_ms: int
    end_ms: int
    failed: bool
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0


@dataclass
class Job:
    job_id: int
    start_ms: int
    end_ms: int = 0
    stages: list = field(default_factory=list)


@dataclass
class Execution:
    exec_id: int
    start_ms: int
    # accumulator id -> (node name, metric name)
    metrics: dict = field(default_factory=dict)


@dataclass
class Batch:
    """One streaming micro-batch, from its QueryProgressEvent."""

    run_id: str  # the query run the batch belongs to
    start_ms: float
    dur_ms: int
    add_batch_ms: int
    commit_ms: int  # offset log (walCommit) and commit log writes
    state_rows: int  # rows held in state after the batch
    state_bytes: int
    dropped_by_watermark: int


@dataclass
class EventLog:
    jobs: dict
    tasks: list
    executions: dict
    accum: dict  # accumulator id -> summed value
    batches: list

    def node_metric(self, executions, nodes, metric: str) -> float:
        """Sum of ``metric`` over plan nodes whose name starts with one of
        ``nodes``, each accumulator counted once across plan versions."""
        total = 0.0
        for ex in executions:
            for acc, (node, name) in ex.metrics.items():
                if name == metric and node.startswith(nodes):
                    total += self.accum.get(acc, 0)
        return total


def _walk_plan(info: dict, out: dict) -> None:
    node = info.get("nodeName", "")
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (node, m["name"])
    for child in info.get("children", []):
        _walk_plan(child, out)


def _task(e: dict) -> Task:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    reason = (e.get("Task End Reason") or {}).get("Reason", "Success")
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    return Task(
        stage=e["Stage ID"],
        start_ms=info["Launch Time"],
        end_ms=info["Finish Time"],
        failed=bool(info.get("Failed")) or reason != "Success",
        run_ms=m.get("Executor Run Time", 0),
        cpu_ns=m.get("Executor CPU Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        shuffle_write=sw.get("Shuffle Bytes Written", 0),
        shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        spill=m.get("Disk Bytes Spilled", 0),
    )


def _batch(p: dict) -> Batch:
    d, ops = p["durationMs"], p.get("stateOperators") or []
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%f%z")
    return Batch(
        run_id=p["runId"],
        start_ms=start.timestamp() * 1e3,
        dur_ms=p.get("batchDuration", d.get("triggerExecution", 0)),
        add_batch_ms=d.get("addBatch", 0),
        commit_ms=d.get("walCommit", 0) + d.get("commitOffsets", 0),
        state_rows=sum(o.get("numRowsTotal", 0) for o in ops),
        state_bytes=sum(o.get("memoryUsedBytes", 0) for o in ops),
        dropped_by_watermark=sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
    )


def parse(path: str) -> EventLog:
    """Read one uncompressed, non-rolling event-log file."""
    jobs: dict = {}
    tasks: list = []
    executions: dict = {}
    accum: dict = {}
    batches: list = []
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = Job(
                    e["Job ID"], e["Submission Time"], stages=list(e["Stage IDs"])
                )
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                jobs[e["Job ID"]].end_ms = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                tasks.append(_task(e))
                for a in e["Task Info"].get("Accumulables", []):
                    if a.get("Metadata") == "sql":
                        accum[a["ID"]] = accum.get(a["ID"], 0) + int(a["Update"])
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                ex = Execution(e["executionId"], e["time"])
                _walk_plan(e["sparkPlanInfo"], ex.metrics)
                executions[ex.exec_id] = ex
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                ex = executions.get(e["executionId"])
                if ex is not None:
                    _walk_plan(e["sparkPlanInfo"], ex.metrics)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc, value in e["accumUpdates"]:
                    accum[acc] = accum.get(acc, 0) + value
            elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                batches.append(_batch(e["progress"]))
    return EventLog(jobs, tasks, executions, accum, batches)


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def exec_metrics(log: EventLog, jobs: list) -> dict:
    """Task-level totals over the given jobs."""
    stage_ids = {s for j in jobs for s in j.stages}
    tasks = [t for t in log.tasks if t.stage in stage_ids]
    by_stage: dict = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.end_ms - t.start_ms)
    skews = [
        max(d) / max(statistics.median(d), 1.0) for d in by_stage.values() if len(d) > 1
    ]
    return {
        "jobs": len(jobs),
        "stages": len(by_stage),
        "tasks": len(tasks),
        "task_s": sum(t.run_ms for t in tasks) / 1e3,
        "cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "shuffle_write_mb": sum(t.shuffle_write for t in tasks) / 2**20,
        "shuffle_read_mb": sum(t.shuffle_read for t in tasks) / 2**20,
        "spill_mb": sum(t.spill for t in tasks) / 2**20,
        "task_skew": max(skews, default=1.0),
        "failed_tasks": sum(t.failed for t in tasks),
    }


def stream_metrics(batches: list) -> dict:
    """Totals over the given micro-batches; state is the most each query
    run held after any of its batches, summed over the runs."""
    rows: dict = {}
    size: dict = {}
    for b in batches:
        rows[b.run_id] = max(rows.get(b.run_id, 0), b.state_rows)
        size[b.run_id] = max(size.get(b.run_id, 0), b.state_bytes)
    return {
        "batches": len(batches),
        "batch_s": sum(b.dur_ms for b in batches) / 1e3,
        "add_batch_s": sum(b.add_batch_ms for b in batches) / 1e3,
        "commit_s": sum(b.commit_ms for b in batches) / 1e3,
        "state_rows": sum(rows.values()),
        "state_mb": sum(size.values()) / 2**20,
        "rows_dropped_by_watermark": sum(b.dropped_by_watermark for b in batches),
    }
