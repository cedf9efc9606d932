"""Benchmark runner for openeo-processes-spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One Spark session at ``local[<cores>]`` with
the configuration fixed below, driven from one client thread through the
library's public entry points. A run sets up (session, seeded inputs,
warm-up passes), measures passes for ``--seconds`` (at least three), checks
every operation's output, and prints its metrics: the end-to-end ones with
``--trace 0``, the per-layer ones (from a local Spark event log and counters
wrapped around the library's entry points) with ``--trace 1``. The last line of
standard output is one JSON object. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
# The first pass of a run is 4-6x slower (class loading, cold JIT, stream
# fixtures written), and CPU per pass keeps falling for a few passes more
# (cube_batch: 14.6, 4.0, 3.0, 3.3, 2.5, 2.6, 2.4, 2.5 CPU-s). After two
# warm-up passes, each op's fastest of three measured passes is on the
# flat part; a third would lengthen every run without lowering it.
WARMUP_PASSES = 2
# Each op's CPU is its fastest measured pass, so that bursts of host
# contention do not move it; at least three passes give it samples.
MIN_PASSES = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="openeo-processes-spark benchmark")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def check_checkout() -> None:
    """Fail fast, before any process starts, outside a full checkout."""
    needed = ("__spark_entry__.py", "openeo_processes_dask_spark")
    missing = [n for n in needed if not os.path.exists(os.path.join(ROOT, n))]
    if missing:
        sys.exit(f"perfbench: not a repository checkout, missing {missing}")


def prepare_workdir(workload: str) -> str:
    """Every file a run writes lives under <root>/.perfbench."""
    work = os.path.join(OUT, f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "events", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    return work


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, trace: bool):
    from pyspark.sql import SparkSession

    n = cores()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("openeo-processes-spark-perfbench")
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # No hsperfdata file in /tmp, JVM temp files under work/, a fixed set
        # of JIT compiler threads (see spans.cpu_seconds), and the serial
        # collector. G1 sizes its heap by the time spent collecting, so
        # peak RSS moved with host load (1462-1879 MB over five seeds);
        # the serial collector sizes it by the live data (1067-1094 MB).
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -XX:+UseSerialGC"
            f" -Djava.io.tmpdir={work}/tmp",
        )
        .config("spark.eventLog.enabled", str(trace).lower())
        .config("spark.eventLog.dir", "file://" + os.path.join(work, "events"))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")  # one file
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until it has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def host_calibration(spark) -> dict:
    """The engine-independent shuffle and disk probes of tools/hostcal.py
    (the shuffle at a hundredth of its size), one sample each. Side data
    only: they never select, retry or discard a pass."""
    n = cores()
    t0 = time.perf_counter()
    spark.range(0, 200_000, 1, n).selectExpr("id % 10000 AS k", "id AS v").groupBy(
        "k"
    ).sum("v").selectExpr("sum(`sum(v)`)").collect()
    shuffle_s = time.perf_counter() - t0
    buf = b"\x5a" * (8 << 20)
    t0 = time.perf_counter()
    with tempfile.NamedTemporaryFile(delete=False) as f:
        for _ in range(8):
            f.write(buf)
        f.flush()
        os.fsync(f.fileno())
    with open(f.name, "rb") as fh:
        while fh.read(16 << 20):
            pass
    os.unlink(f.name)
    return {"shuffle_s": shuffle_s, "io_s": time.perf_counter() - t0}


def cpu_ticks() -> list:
    """Aggregate /proc/stat CPU counters (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list, after: list) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta), 1)


class OpRun(NamedTuple):
    pass_idx: int  # -1 for warm-up passes
    res: object  # workloads.OpResult
    latency_s: float  # call + sink wall time
    sink_s: float
    cpu_s: float  # CPU over call + sink (see spans.cpu_seconds)


class Runner:
    """Runs passes: every op once, in an order drawn from the seed."""

    def __init__(self, args, workload, spark, tracer):
        import numpy as np

        self.args, self.w, self.spark, self.tracer = args, workload, spark, tracer
        self.rng = np.random.default_rng(args.seed)
        self.attempted = self.failed = 0
        self.results: list[OpRun] = []
        self.failures: list = []
        self.phases: list = []  # Catalyst phase seconds per measured op
        self.plan_nodes = 0
        self.calibration: list = []
        self.jvm_pid = spark.sparkContext._gateway.proc.pid

    def one_pass(self, pass_idx: int) -> float:
        """Returns the pass time: the sum of its ops' call + sink spans."""
        from planguard import catalyst_phases
        from spans import cpu_seconds

        tracer = self.tracer
        tracer.pass_idx = pass_idx
        ticks = cpu_ticks()
        total = 0.0
        with tracer.span("pass", self.w.name):
            for i in self.rng.permutation(len(self.w.ops)):
                op = self.w.ops[i]
                self.attempted += 1
                first = len(tracer.spans)
                cpu0 = cpu_seconds(self.jvm_pid, opening=True)
                with tracer.span("op", op):
                    try:
                        res = self.w.run_op(self.spark, op, tracer)
                    except Exception as exc:  # counted and reported, never retried
                        res = None
                        self.failures.append(f"{op}: {type(exc).__name__}: {exc}"[:300])
                cpu = cpu_seconds(self.jvm_pid) - cpu0
                if res is None:
                    self.failed += 1
                    continue
                if res.problems:
                    self.failed += 1
                    self.failures.append(f"{op}: {'; '.join(res.problems)}"[:300])
                timed = {s.kind: s.dur for s in tracer.spans[first:] if s.kind != "check"}
                latency = timed["call"] + timed["sink"]
                self.results.append(
                    OpRun(pass_idx, res, latency, timed["sink"], cpu - res.check_cpu_s)
                )
                total += latency
                if self.args.trace and pass_idx >= 0:
                    self.phases.append(catalyst_phases(res.df))
                    plan = res.df._jdf.queryExecution().optimizedPlan()
                    self.plan_nodes += len(plan.treeString().splitlines())
        if pass_idx >= 0:
            steal = steal_share(ticks, cpu_ticks())
            self.calibration.append(host_calibration(self.spark) | {"steal": steal})
        return total

    def measured(self) -> list[OpRun]:
        return [r for r in self.results if r.pass_idx >= 0]

    def pass_cpu_s(self) -> float:
        """Per op, the least CPU over the measured passes; summed over ops.
        Other guests on the host only ever add CPU time (shared cores and
        caches slow execution), and they come in bursts that inflate the
        ops they land on; the fastest pass of an op is the one they moved
        least."""
        per_op: dict = {}
        for r in self.measured():
            per_op.setdefault(r.res.name, []).append(r.cpu_s)
        return sum(min(v) for v in per_op.values())


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(runner, pass_times, setup, rss) -> tuple[dict, list]:
    from spans import percentile_tail

    lat = [r.latency_s for r in runner.measured()]
    tail, pct = percentile_tail(lat)
    m = {
        "setup_s": setup["cpu_s"],
        "pass_cpu_s": runner.pass_cpu_s(),
        "peak_rss_mb": rss,
    }
    busy = sum(pass_times)
    rows = sum(r.res.rows for r in runner.measured())
    per_op: dict = {}
    for r in runner.measured():
        per_op.setdefault(r.res.name, []).append(r)
    lines = [
        f"setup_s {m['setup_s']:.4f} s of CPU (session {setup['session_s']:.2f},"
        f" inputs {setup['inputs_s']:.2f}, warm-up {setup['warmup_s']:.2f});"
        f" wall {sum(setup['wall'].values()):.2f} s (session"
        f" {setup['wall']['session_s']:.2f}, inputs {setup['wall']['inputs_s']:.2f},"
        f" warm-up {setup['wall']['warmup_s']:.2f})",
        f"pass_s {median(pass_times):.4f} s (median of {len(pass_times)} passes)",
        f"pass_cpu_s {m['pass_cpu_s']:.4f} s",
        f"op_p50_s {median(lat):.4f} s (n={len(lat)})",
        f"op_tail_s {tail:.4f} s (p{pct}, n={len(lat)})",
        f"ops_per_s {len(lat) / busy:.4f} 1/s",
        f"rows_per_s {rows / busy:.1f} 1/s",
        f"error_rate {runner.failed / runner.attempted:.4f}"
        f" ({runner.failed}/{runner.attempted}) 1",
        f"peak_rss_mb {m['peak_rss_mb']:.1f} MB",
    ] + [
        f"op {k} {median([r.latency_s for r in v]):.4f} s"
        f" cpu min {min(r.cpu_s for r in v):.4f} s (n={len(v)})"
        for k, v in sorted(per_op.items())
    ]
    return m, lines


def prune_report(runner) -> tuple[list, list]:
    """Pruned-plan guard and sink-vs-count timing per op, on the last
    measured pass, after the measured window."""
    from planguard import pruned_nodes, sink_and_count_plans

    sinks: dict = {}
    for r in runner.measured():
        sinks.setdefault(r.res.name, []).append(r.sink_s)
    last = max(r.pass_idx for r in runner.results)
    rows, lines = [], []
    for r in runner.results:
        if r.pass_idx != last:
            continue
        res = r.res
        sink_hist, count_hist = sink_and_count_plans(res.df)
        count_s = median([timed_count(res.df) for _ in range(3)])
        row = {
            "op": res.name,
            "sink_s": median(sinks[res.name]),
            "count_s": count_s,
            "pruned_by_count": pruned_nodes(sink_hist, count_hist),
        }
        rows.append(row)
        lines.append(
            f"plan {row['op']}: sink_s {row['sink_s']:.4f} count_s {count_s:.4f}"
            f" pruned_by_count {json.dumps(row['pruned_by_count'], sort_keys=True)}"
        )
    return rows, lines


def timed_count(df) -> float:
    t0 = time.perf_counter()
    df.count()
    return time.perf_counter() - t0


def overhead_line(workload: str, metrics: dict) -> list:
    """Tracing overhead against the latest untraced run of the workload."""
    reports = sorted(
        glob.glob(os.path.join(OUT, "reports", f"{workload}-*-trace0.json")),
        key=os.path.getmtime,
    )
    if not reports:
        return ["trace.overhead n/a (no untraced run of this workload yet)"]
    with open(reports[-1]) as fh:
        base = json.load(fh)
    return [
        f"trace.overhead pass_s {metrics['trace.pass_s'] / base['pass_s'] - 1:+.4f}"
        f" pass_cpu_s {metrics['trace.pass_cpu_s'] / base['pass_cpu_s'] - 1:+.4f}"
        f" (untraced seed {base['seed']}: pass_s {base['pass_s']:.4f},"
        f" pass_cpu_s {base['pass_cpu_s']:.4f})"
    ]


def load_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def run(args, work: str) -> dict:
    import workloads
    from spans import Tracer, cpu_seconds, peak_rss_mb

    if args.workload not in workloads.WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}")
    w = workloads.GateBatch(args.workload, workloads.WORKLOADS[args.workload])
    tracer = Tracer()
    # Set-up is counted in CPU seconds of the whole run so far (this
    # process from its start, the JVM from its launch): its wall time is
    # mostly the warm-up passes and moves with host contention.
    wall: dict = {}
    t0 = time.perf_counter()
    spark = start_session(work, bool(args.trace))
    wall["session_s"] = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        cpu = [cpu_seconds(jvm_pid)]
        t0 = time.perf_counter()
        w.make_inputs(os.path.join(work, "inputs"), args.seed)
        w.setup()
        wall["inputs_s"] = time.perf_counter() - t0
        cpu.append(cpu_seconds(jvm_pid))

        runner = Runner(args, w, spark, tracer)
        t0 = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            runner.one_pass(-1)
        wall["warmup_s"] = time.perf_counter() - t0
        cpu.append(cpu_seconds(jvm_pid))
        setup = {
            "cpu_s": cpu[2],
            "session_s": cpu[0],
            "inputs_s": cpu[1] - cpu[0],
            "warmup_s": cpu[2] - cpu[1],
            "wall": wall,
        }

        if args.trace:
            tracer.install(spark)
        pass_times: list = []
        start = time.perf_counter()
        while len(pass_times) < MIN_PASSES or time.perf_counter() - start < args.seconds:
            pass_times.append(runner.one_pass(len(pass_times)))
        tracer.uninstall()

        plans, plan_lines = prune_report(runner) if args.trace else ([], [])
        rss = peak_rss_mb(jvm_pid)
    finally:
        stop_session(spark)

    metrics, lines = end_to_end(runner, pass_times, setup, rss)
    if args.trace:
        import layers

        metrics = layers.per_layer(runner, tracer, pass_times, setup, work, cores())
        lines = [f"{k} {v:.6g}" for k, v in metrics.items()]
        lines += overhead_line(w.name, metrics) + plan_lines
    cal = runner.calibration
    lines.append(
        "calibration (side data) shuffle_s "
        + " ".join(f"{c['shuffle_s']:.3f}" for c in cal)
        + " io_s "
        + " ".join(f"{c['io_s']:.3f}" for c in cal)
        + " cpu_steal "
        + " ".join(f"{c['steal']:.3f}" for c in cal)
    )
    lines += [f"FAILED {f}" for f in runner.failures]
    return {
        "workload": w.name,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores(),
        "lines": lines,
        "metrics": metrics,
        "pass_s": median(pass_times),
        "pass_cpu_s": runner.pass_cpu_s(),
        "plans": plans,
        "calibration": cal,
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    check_checkout()
    sys.path[:0] = [ROOT, HERE]
    work = prepare_workdir(args.workload)
    try:
        report = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(OUT, "reports"), exist_ok=True)
    name = f"{report['workload']}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(OUT, "reports", name), "w") as fh:
        json.dump(report, fh, indent=1)

    print(f"# perfbench workload={report['workload']} seed={args.seed}"
          f" trace={args.trace} cores={report['cores']}")
    for line in report["lines"]:
        print(line)
    units = load_units()
    metrics = {k: {"value": v, "unit": units[k]} for k, v in report["metrics"].items()}
    print(json.dumps({k: report[k] for k in ("correct", "attempted", "failed")}
                     | {"metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
