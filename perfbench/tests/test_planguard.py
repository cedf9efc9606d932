"""The timed sink executes the whole plan: cumsum's and interpolate_gaps'
windows and mask_high_discount's join stay in it, while ``count()`` would
prune them."""

from __future__ import annotations

import pytest

import inputs
import planguard
from spans import percentile_tail

TREE = """Project [x#1, value#2]
+- Window [sum(value#2) windowspecdefinition(x#1, t#3 ASC NULLS FIRST)]
   +- Join Inner, (a#4 = b#5)
      :- Filter isnotnull(a#4)
      :  +- Relation [a#4] parquet
      +- LocalRelation [b#5]
"""


def test_node_histogram():
    h = planguard.node_histogram(TREE)
    assert h == {
        "Project": 1, "Window": 1, "Join": 1, "Filter": 1, "Relation": 1,
        "LocalRelation": 1,
    }
    assert planguard.pruned_nodes(h, {"Project": 1, "Relation": 1}) == {
        "Window": 1, "Join": 1, "Filter": 1, "LocalRelation": 1,
    }


@pytest.fixture(scope="module")
def tables(tmp_path_factory):
    out = tmp_path_factory.mktemp("tables")
    inputs.make_tables(str(out), 0.001, 1)
    return str(out)


@pytest.mark.parametrize(
    "gate, node",
    [("cumsum", "Window"), ("interpolate_gaps", "Window"), ("mask_high_discount", "Join")],
)
def test_sink_keeps_what_count_prunes(spark, tables, gate, node):
    import __spark_entry__ as entry

    df = entry.queries()[gate](spark, tables)
    sink, count = planguard.sink_and_count_plans(df)
    assert sink[node] >= 1
    assert node in planguard.pruned_nodes(sink, count)


def test_catalyst_phases(spark):
    df = spark.range(10).selectExpr("id * 2 AS x")
    df.toPandas()
    phases = planguard.catalyst_phases(df)
    assert set(phases) == {"analysis", "optimization", "planning"}
    assert all(v >= 0 for v in phases.values())


def test_percentile_tail():
    assert percentile_tail([1.0, 2.0, 3.0]) == (2.0, 50)
    xs = [float(i) for i in range(1, 101)]
    value, pct = percentile_tail(xs)
    assert (value, pct) == (90.0, 90)
    assert sum(x > value for x in xs) == 10
