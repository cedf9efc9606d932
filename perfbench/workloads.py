"""The workloads. Each runs a fixed set of registry gates
(``__spark_entry__.queries()``) over seeded tables; every gate is timed to
full output (a ``toPandas`` collect, which executes the DataFrame's own
QueryExecution, so nothing the result needs is pruned) and checked
afterwards against its DuckDB oracle (``oracle_sql()``) at the same scale.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import inputs
from spans import Tracer
from tools.check_oracle import compare

CUBE_GATES = (
    "flagship_daily_mean",
    "process_graph",
    "reduce_mean_over_time",
    "aggregate_dekad",
    "merge_multiply",
    "mask_high_discount",
    "cumsum",
    "interpolate_gaps",
)
# streaming_dedup is the registry's stream gate for the streaming twin of
# exact dedup: it drains a stream of the events table (Trigger.AvailableNow)
# through streaming/events.py stream_dedup_exact, with keyed state in the
# state store and offset/commit logs, into a memory sink.
CORPUS_GATES = ("dedup_exact", "minhash_near_dups", "streaming_dedup")
SCALE = 0.01  # sf0.01: 60k lineitem rows, 500 documents


@dataclass
class OpResult:
    name: str
    rows: int
    problems: list
    df: object  # the DataFrame whose QueryExecution ran the sink
    check_cpu_s: float  # the check's own CPU, kept out of pass_cpu_s


class GateBatch:
    def __init__(self, name: str, gates: tuple):
        self.name, self.ops = name, gates

    def make_inputs(self, work: str, seed: int) -> None:
        self.tables = os.path.join(work, "tables")
        inputs.make_tables(self.tables, SCALE, seed)

    def setup(self) -> None:
        """Resolve the gates and compute each one's expected output."""
        import duckdb

        import __spark_entry__ as entry

        self.queries = entry.queries()
        # oracle replay builders (if any) read their fixture dir from here
        os.environ["ORACLE_SF_DIR"] = self.tables
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in inputs.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
        self.expected = {g: con.sql(oracles[g]).df() for g in self.ops}
        con.close()

    def run_op(self, spark, op: str, tracer: Tracer) -> OpResult:
        with tracer.span("call", op):
            df = self.queries[op](spark, self.tables)
        with tracer.span("sink", op):
            got = df.toPandas()
        with tracer.span("check", op):
            t0 = os.times()
            problems = compare(op, got, self.expected[op])
            t1 = os.times()
        cpu = t1.user + t1.system - t0.user - t0.system
        return OpResult(op, len(got), problems, df, cpu)


WORKLOADS = {"cube_batch": CUBE_GATES, "corpus_dedup": CORPUS_GATES}
