"""Record the tiny Spark event log that test_eventlog.py parses.

    python3 perfbench/tests/record_eventlog.py

Runs three small queries on local[2] with a known shape (a two-stage
aggregate, a parquet scan, and a join fed by an explode) and one small
stream (two files of events, one file per trigger, through
streaming/events.py ``stream_dedup_exact``), then writes the event log to
perfbench/tests/data/tiny_eventlog.jsonl with environment details, call
sites, plan descriptions, task-start events and non-SQL accumulator copies
removed, and the temporary directory's path replaced by ``WORK``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from openeo_processes_dask_spark.streaming.events import (  # noqa: E402
    stream_dedup_exact,
    stream_events,
)

OUT = os.path.join(HERE, "data", "tiny_eventlog.jsonl")
DROP = {
    "Details", "details", "Properties", "Spark Properties", "System Properties",
    "Classpath Entries", "Hadoop Properties", "Metrics Properties",
    "JVM Information", "physicalPlanDescription", "Callsite", "metadata",
    "simpleString", "description", "Stage Name", "RDD Info", "Logs", "Attributes",
}


SKIP = {"SparkListenerTaskStart", "SparkListenerStageSubmitted"}


def scrub(value):
    if isinstance(value, dict):
        out = {k: scrub(v) for k, v in value.items() if k not in DROP}
        if isinstance(out.get("Accumulables"), list):
            # keep SQL metrics; the internal ones repeat "Task Metrics"
            out["Accumulables"] = [
                a for a in out["Accumulables"] if a.get("Metadata") == "sql"
            ]
        return out
    if isinstance(value, list):
        return [scrub(v) for v in value]
    return value


def main() -> None:
    work = tempfile.mkdtemp()
    events = os.path.join(work, "events")
    os.makedirs(events)
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + events)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    # 1: two-stage aggregate, 1000 rows into 7 groups
    spark.range(1000).selectExpr("id % 7 AS k", "id AS v").groupBy("k").sum("v").toPandas()
    # 2: parquet scan of one file
    path = os.path.join(work, "t.parquet")
    spark.range(100).coalesce(1).write.parquet(path)
    spark.read.parquet(path).toPandas()
    # 3: explode (3 rows -> 6) joined to a 2-row table
    left = spark.createDataFrame([(1, [1, 2]), (2, [2, 3]), (3, [3, 1])], "id int, xs array<int>")
    right = spark.createDataFrame([(1,), (2,)], "x int")
    left.select("id", F.explode("xs").alias("x")).join(right.hint("shuffle_merge"), "x").toPandas()
    # 4: a stream of two one-file batches, 3 events each, deduplicated on
    # user_id: 2 users in the first file, 1 new and 1 repeated in the second
    src = os.path.join(work, "src")
    os.makedirs(src)
    for i, users in enumerate(([1, 1, 2], [3, 2, 3])):
        pd.DataFrame({
            "event_id": [3 * i + j for j in range(3)],
            "ts": pd.to_datetime([f"2024-01-0{i + 1} 0{j}:00" for j in range(3)]).astype(
                "datetime64[us]"
            ),
            "user_id": users,
            "event_type": ["view"] * 3,
            "value": [1.0, 2.0, 3.0],
            "props": [""] * 3,
        }).to_parquet(os.path.join(src, f"part-{i}.parquet"))
    q = (
        stream_dedup_exact(stream_events(spark, src, max_files_per_trigger=1), ["user_id"])
        .writeStream.format("noop")
        .option("checkpointLocation", os.path.join(work, "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark.stop()

    (log,) = glob.glob(os.path.join(events, "*"))
    with open(log) as src, open(OUT, "w") as dst:
        for line in src:
            e = scrub(json.loads(line))
            if e["Event"] not in SKIP:
                dst.write(json.dumps(e, sort_keys=True).replace(work, "WORK") + "\n")
    shutil.rmtree(work)


if __name__ == "__main__":
    main()
