"""Pruned-plan guard: compare the optimized plan the timed sink executes
with the plan ``count()`` would execute. ``count()`` reads no columns, so
Catalyst prunes every operator whose output it does not need — timing it
measures a smaller plan than the user's."""

from __future__ import annotations

import re
from collections import Counter

_NODE = re.compile(r"^[\s:|+\-]*([A-Za-z][A-Za-z0-9_]*)")


def node_histogram(tree_string: str) -> Counter:
    """Operator-name histogram of a logical plan's ``treeString``."""
    hist: Counter = Counter()
    for line in tree_string.splitlines():
        m = _NODE.match(line)
        if m:
            hist[m.group(1)] += 1
    return hist


def sink_and_count_plans(df) -> tuple[Counter, Counter]:
    """Histograms of the optimized plan under the full-output sink (the
    DataFrame's own QueryExecution) and under ``count()``."""
    sink = df._jdf.queryExecution().optimizedPlan().treeString()
    count = df.groupBy().count()._jdf.queryExecution().optimizedPlan().treeString()
    return node_histogram(sink), node_histogram(count)


def pruned_nodes(sink: Counter, count: Counter) -> dict:
    """Operators present under the sink that ``count()`` drops."""
    return {k: v - count.get(k, 0) for k, v in sink.items() if v > count.get(k, 0)}


def catalyst_phases(df) -> dict:
    """Seconds per planning phase from the QueryExecution's tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        out[k] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out
