"""Per-layer metrics of a traced run. Totals are divided by the number of
measured passes, so every count and time reads "per pass"; ratios are
ratios. Spark jobs and SQL executions are attributed to the call or sink
span whose interval contains their start."""

from __future__ import annotations

import glob
import statistics

import eventlog


def _window_ms(spans) -> list[tuple[float, float]]:
    return [(s.start * 1e3, s.end * 1e3) for s in spans]


def _inside(ms: float, windows) -> bool:
    return any(a <= ms <= b for a, b in windows)


def per_layer(runner, tracer, pass_times, setup, work, n_cores) -> dict:
    n = max(len(pass_times), 1)
    measured = [s for s in tracer.spans if s.pass_idx >= 0]
    calls = [s for s in measured if s.kind == "call"]
    sinks = [s for s in measured if s.kind == "sink"]
    timed = _window_ms(calls + sinks)
    log = eventlog.parse(glob.glob(f"{work}/events/*")[0])

    jobs = [j for j in log.jobs.values() if _inside(j.start_ms, timed)]
    job_iv = [(j.start_ms, j.end_ms or j.start_ms) for j in jobs]
    call_job_ms = sum(eventlog.union_ms(job_iv, a, b) for a, b in _window_ms(calls))
    call_s = sum(s.dur for s in calls)
    ex = eventlog.exec_metrics(log, jobs)
    execs = [e for e in log.executions.values() if _inside(e.start_ms, timed)]
    busy = sum(pass_times)

    c = tracer.counts
    lookups = c["memo_lookups"]
    phases = runner.phases
    m = {
        "gates.call_s": call_s / n,
        "driver.self_s": (call_s - call_job_ms / 1e3) / n,
        "driver.py4j_calls": c["py4j_calls"] / n,
        "plans.execute_s": c["plan_execute_s"] / n,
        "plans.nodes": c["plan_nodes"] / n,
        "exprmemo.lookups": lookups / n,
        "exprmemo.hit_ratio": c["memo_hits"] / lookups if lookups else 0.0,
        "catalyst.analysis_s": sum(p["analysis"] for p in phases) / n,
        "catalyst.optimization_s": sum(p["optimization"] for p in phases) / n,
        "catalyst.planning_s": sum(p["planning"] for p in phases) / n,
        "catalyst.plan_nodes": runner.plan_nodes / n,
        "exec.jobs": ex["jobs"] / n,
        "exec.stages": ex["stages"] / n,
        "exec.tasks": ex["tasks"] / n,
        "exec.fixture_s": call_job_ms / 1e3 / n,
        "exec.sink_s": sum(s.dur for s in sinks) / n,
        "exec.task_s": ex["task_s"] / n,
        "exec.cpu_s": ex["cpu_s"] / n,
        "exec.gc_s": ex["gc_s"] / n,
        "exec.core_util": ex["task_s"] / (busy * n_cores) if busy else 0.0,
        "exec.shuffle_write_mb": ex["shuffle_write_mb"] / n,
        "exec.shuffle_read_mb": ex["shuffle_read_mb"] / n,
        "exec.spill_mb": ex["spill_mb"] / n,
        "exec.task_skew": ex["task_skew"],
        "exec.failed_tasks": ex["failed_tasks"],
        "sources.scan_mb": log.node_metric(execs, ("Scan",), "size of files read") / 2**20 / n,
        "sources.scan_files": log.node_metric(execs, ("Scan",), "number of files read") / n,
        "sources.scan_s": log.node_metric(execs, ("Scan",), "scan time") / 1e3 / n,
    }

    cand = 0.0
    if runner.w.name == "corpus_dedup":
        cand = log.node_metric(execs, eventlog.CANDIDATE_NODES, "number of output rows")
    results = sum(r.res.rows for r in runner.measured())
    m["training.candidate_rows"] = cand / n
    m["training.candidates_per_result"] = cand / results if results else 0.0

    st = eventlog.stream_metrics([b for b in log.batches if _inside(b.start_ms, timed)])
    for k in ("batches", "batch_s", "add_batch_s", "commit_s", "state_rows", "state_mb",
              "rows_dropped_by_watermark"):
        m[f"streaming.{k}"] = st[k] / n

    m["setup.session_s"] = setup["session_s"]
    m["setup.inputs_s"] = setup["inputs_s"]
    m["setup.warmup_s"] = setup["warmup_s"]
    m["trace.pass_s"] = statistics.median(pass_times)
    m["trace.pass_cpu_s"] = runner.pass_cpu_s()
    return m
