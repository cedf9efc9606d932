"""Spans and counters recorded from the benchmark's own files.

Spans: pass -> op -> {call, sink, check}; Spark jobs join them later as
children, from the event log. Counters are installed only in traced runs,
by wrapping the library's entry points from outside: py4j round trips,
``exprmemo.memoized_exprs`` lookups, and the process-graph executor.
"""

from __future__ import annotations

import os
import resource
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    kind: str  # pass | op | call | sink | check
    name: str
    pass_idx: int
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.pass_idx = -1
        self.counts = {
            "py4j_calls": 0,
            "memo_lookups": 0,
            "memo_hits": 0,
            "plan_nodes": 0,
            "plan_execute_s": 0.0,
        }
        self._undo: list = []
        self.in_op = False  # inside a call or sink span

    @contextmanager
    def span(self, kind: str, name: str):
        s = Span(kind, name, self.pass_idx, time.time())
        timed = kind in ("call", "sink")  # never nested in each other
        self.in_op |= timed
        try:
            yield s
        finally:
            s.end = time.time()
            self.in_op &= not timed
            self.spans.append(s)

    # -- counters (traced runs only) ---------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, wrapper(orig))
        self._undo.append((owner, attr, orig))

    def install(self, spark) -> None:
        import openeo_processes_dask_spark.exprmemo as exprmemo
        import openeo_processes_dask_spark.plans as plans
        import openeo_processes_dask_spark.plans.graph as graph

        c = self.counts

        def count_py4j(orig):
            def send_command(client, *a, **kw):
                c["py4j_calls"] += self.in_op
                return orig(client, *a, **kw)

            return send_command

        def count_memo(orig):
            def memoized_exprs(key_parts, build):
                c["memo_lookups"] += 1
                hit = [True]

                def build_miss():
                    hit[0] = False
                    return build()

                out = orig(key_parts, build_miss)
                c["memo_hits"] += hit[0]
                return out

            return memoized_exprs

        def count_nodes(orig):
            def _exec_node(node_id, g, memo, params):
                c["plan_nodes"] += node_id not in memo
                return orig(node_id, g, memo, params)

            return _exec_node

        def time_execute(orig):
            def execute_process_graph(*a, **kw):
                t0 = time.perf_counter()
                try:
                    return orig(*a, **kw)
                finally:
                    c["plan_execute_s"] += time.perf_counter() - t0

            return execute_process_graph

        client = spark.sparkContext._gateway._gateway_client
        self._patch(type(client), "send_command", count_py4j)
        self._patch(exprmemo, "memoized_exprs", count_memo)
        self._patch(graph, "_exec_node", count_nodes)
        self._patch(plans, "execute_process_graph", time_execute)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


def percentile_tail(values: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); the median when there are fewer than 20 samples."""
    n = len(values)
    if n < 20:
        return (statistics.median(values) if values else 0.0), 50
    return sorted(values)[n - 11], int(100 * (n - 10) / n)


def _stat(path: str) -> tuple[str, list]:
    """(comm, fields after comm) of a /proc stat file."""
    with open(path) as fh:
        head, _, rest = fh.read().rpartition(")")
    return head.partition("(")[2], rest.split()


def _ticks(fields: list, children: bool) -> int:
    # utime stime [cutime cstime]
    return sum(int(x) for x in fields[11 : 15 if children else 13])


def _descendants(pid: int) -> set:
    parents: dict = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                parents[int(d)] = int(_stat(f"/proc/{d}/stat")[1][1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = set(), [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


def cpu_seconds(jvm_pid: int, opening: bool = False) -> float:
    """CPU time (user + system) used so far by this process, the driver JVM
    (whose threads run every Spark task in local mode) minus its JIT
    compiler threads, and the JVM's descendants (Python workers).

    The JVM's process-level counters include threads that have exited, so
    short-lived threads (the py4j threads that serve fixture thread pools)
    are counted; reaped children are counted through cutime/cstime. The JVM
    runs with a fixed set of compiler threads
    (-XX:-UseDynamicNumberOfCompilerThreads), so subtracting the live ones
    leaves out all JIT compilation, which keeps the tail of JVM warm-up out
    of the figure. The /proc scan's own CPU stays outside the interval: an
    opening read takes this process's times after the scan, a closing read
    before it."""
    own = None if opening else os.times()
    ticks = 0
    for pid in [jvm_pid, *_descendants(jvm_pid)]:
        try:
            ticks += _ticks(_stat(f"/proc/{pid}/stat")[1], True)
        except OSError:
            continue
    try:
        tids = os.listdir(f"/proc/{jvm_pid}/task")
    except OSError:
        tids = []
    for tid in tids:
        try:
            comm, fields = _stat(f"/proc/{jvm_pid}/task/{tid}/stat")
        except OSError:
            continue  # a thread that has just exited; never a compiler thread
        if comm.startswith(("C1 Compiler", "C2 Compiler")):
            ticks -= _ticks(fields, False)
    own = own or os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Driver JVM high-water RSS plus this Python process's peak RSS."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = 0.0
    if jvm_pid:
        try:
            with open(f"/proc/{jvm_pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm = int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return py + jvm
