"""The event-log parser on a tiny recorded run (see record_eventlog.py):
a 1000-row aggregate into 7 groups, a one-file parquet scan of 100 rows,
a 3-row explode (6 rows out) sort-merge-joined to 2 rows, and a stream of
two 3-event files deduplicated on user_id, one file per micro-batch."""

from __future__ import annotations

import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.jsonl")


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(LOG)


def test_jobs_and_tasks(log):
    assert len(log.jobs) >= 3
    assert all(j.end_ms >= j.start_ms for j in log.jobs.values())
    m = eventlog.exec_metrics(log, list(log.jobs.values()))
    assert m["tasks"] == len(log.tasks) > 0
    assert m["failed_tasks"] == 0
    assert m["task_s"] > 0 and m["cpu_s"] > 0
    assert m["shuffle_write_mb"] > 0
    assert m["shuffle_read_mb"] == pytest.approx(m["shuffle_write_mb"])
    assert m["task_skew"] >= 1.0


def test_sql_node_metrics(log):
    stream_start = min(b.start_ms for b in log.batches)
    execs = [e for e in log.executions.values() if e.start_ms < stream_start]
    assert log.node_metric(execs, ("Generate",), "number of output rows") == 6
    # 6 exploded rows, 4 of them match x in (1, 2)
    assert log.node_metric(execs, ("SortMergeJoin",), "number of output rows") == 4
    assert log.node_metric(execs, ("Scan parquet",), "number of output rows") == 100
    assert log.node_metric(execs, ("Scan",), "number of files read") == 1
    assert log.node_metric(execs, ("Scan",), "size of files read") > 0


def test_attribution_by_interval(log):
    jobs = sorted(log.jobs.values(), key=lambda j: j.start_ms)
    first = jobs[0]
    inside = [j for j in jobs if first.start_ms <= j.start_ms <= first.end_ms]
    assert first in inside
    m = eventlog.exec_metrics(log, [first])
    assert 0 < m["tasks"] < len(log.tasks)


def test_stream_batches(log):
    batches = sorted(log.batches, key=lambda b: b.start_ms)
    # one batch per file, then a batch without data that moves the
    # watermark past every key and so empties the state
    assert len(batches) == 3
    assert len({b.run_id for b in batches}) == 1
    # the first file holds users 1, 1, 2: two keys in state
    assert batches[0].state_rows == 2
    assert batches[-1].state_rows == 0
    assert all(b.dur_ms >= b.add_batch_ms > 0 for b in batches)
    m = eventlog.stream_metrics(batches)
    assert m["batches"] == 3
    assert m["batch_s"] > m["add_batch_s"] > 0
    assert m["commit_s"] > 0
    assert m["state_rows"] == max(b.state_rows for b in batches) == 2
    assert m["state_mb"] > 0
    assert m["rows_dropped_by_watermark"] == 0


def test_stream_batches_attributed_by_interval(log):
    first, *rest = sorted(log.batches, key=lambda b: b.start_ms)
    window = (first.start_ms, first.start_ms + first.dur_ms)
    inside = [b for b in log.batches if window[0] <= b.start_ms <= window[1]]
    assert inside == [first]


def test_union_ms():
    assert eventlog.union_ms([(0, 10), (5, 15), (20, 30)], 0, 100) == 25
    assert eventlog.union_ms([(0, 10), (5, 15)], 8, 12) == 4
    assert eventlog.union_ms([], 0, 10) == 0
