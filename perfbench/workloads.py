"""The benchmark's workloads: what each runs and how its outputs are checked.

An ``Op`` is one timed operation. A frame op returns a DataFrame: the
harness times its build, then saves it to the ``noop`` sink. A collect op
runs its whole job (``run_map_reduce`` returns rows) and is timed as one
execute phase.
"""

from __future__ import annotations

import os
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import pandas as pd

import datagen
import mrjobs
from check import compare, digest

# Catalyst + JVM execution only: no Python workers, no iterative operators.
# The bypass side of any construction or Python-boundary change.
RELATIONAL = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q13_order_count_distribution",
    "window_rank_customers",
    "sessionization_30m",
    "asof_join_latest_order",
    "interval_join_events",
]

# Construction-heavy: label propagation joins and pins its state each round
# while the frame is built, so its rounds run as construction-time jobs.
ITERATIVE = [
    "label_propagation_communities",
]


@dataclass(frozen=True)
class Op:
    name: str
    fn: Callable[[], Any]
    collects: bool = False


@dataclass
class Output:
    cols: list[str]
    rows: list[tuple]
    float32_cols: frozenset[str] = frozenset()


def collect(op: Op) -> Output:
    """Run ``op`` once and return its output rows, untimed."""
    if op.collects:
        rows = [tuple(r) for r in op.fn()]
        return Output(["k", "v"], rows)
    df = op.fn()
    f32 = frozenset(f.name for f in df.schema.fields if f.dataType.typeName() == "float")
    return Output(df.columns, [tuple(r) for r in df.collect()], f32)


class Registry:
    """Registered queries over generated tables, checked against their
    DuckDB oracles; a query without one must give the same non-empty
    result twice. ``passes`` is how many timed passes a run makes at least,
    after ``settle`` untimed ones."""

    def __init__(self, names: list[str], sf: float, passes: int = 2, settle: int = 0, python: bool = True):
        self.names, self.sf, self.passes, self.settle, self.python = names, sf, passes, settle, python

    def setup(self, spark, data_dir: str, seed: int) -> list[Op]:
        from mapreducefw_spark.queries import QUERIES

        self.data_dir = data_dir
        datagen.write_tables(data_dir, self.sf, seed)
        return [Op(n, lambda n=n: QUERIES[n](spark, data_dir)) for n in self.names]

    def check(self, ops: list[Op], outputs: dict[str, Output]) -> dict[str, str | None]:
        import duckdb

        from mapreducefw_spark.queries import ORACLES
        from mapreducefw_spark.sources.tables import TABLES

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
            verdicts = {}
            for op in ops:
                got = outputs[op.name]
                if op.name in ORACLES:
                    res = con.execute(ORACLES[op.name])
                    want_cols = [d[0] for d in res.description]
                    verdicts[op.name] = compare(got.cols, got.rows, want_cols, res.fetchall(), got.float32_cols)
                elif not got.rows:
                    verdicts[op.name] = "empty result"
                else:
                    again = collect(op)
                    same = digest(got.cols, got.rows) == digest(again.cols, again.rows)
                    verdicts[op.name] = None if same else "result differs between runs"
            return verdicts
        finally:
            con.close()


class MapReduce:
    """The reference job shape: word counts over Zipf-skewed corpora (many
    small groups) through both adapters, and the Search job (few, large
    groups) through the DataFrame adapter. Outputs must equal a Python
    ground truth exactly, in the contract's global key order."""

    def __init__(self, n_tokens: int, n_keys: int, search_rows: int, search_dirs: int):
        self.n_tokens, self.n_keys = n_tokens, n_keys
        self.search_rows, self.search_dirs = search_rows, search_dirs

    def setup(self, spark, data_dir: str, seed: int) -> list[Op]:
        from mapreducefw_spark.plans.map_reduce import map_reduce
        from mapreducefw_spark.plans.map_reduce_rdd import run_map_reduce

        os.makedirs(data_dir, exist_ok=True)
        lines = datagen.wordcount_lines(self.n_tokens, self.n_keys, seed)
        corpus = os.path.join(data_dir, "corpus.parquet")
        pd.DataFrame({"line": lines}).to_parquet(corpus)
        truth = sorted(Counter(tok for line in lines for tok in line.split(" ")).items())
        self.expected: dict[str, list[tuple]] = {"wordcount_df": truth, "wordcount_rdd": truth}
        ops = [
            Op("wordcount_df", lambda: map_reduce(
                spark.read.parquet(corpus), mrjobs.wordcount_map, mrjobs.wordcount_reduce,
                map_schema=mrjobs.WORDCOUNT_MAP_SCHEMA, out_schema=mrjobs.WORDCOUNT_OUT_SCHEMA,
                sort_cols=("token",))),
            Op("wordcount_rdd", lambda: run_map_reduce(
                spark, enumerate(lines), mrjobs.wordcount_map_kv, mrjobs.wordcount_reduce_kv,
                parallelism=spark.sparkContext.defaultParallelism), collects=True),
        ]
        dirs, names = datagen.search_rows(self.search_rows, self.search_dirs, seed)
        search = os.path.join(data_dir, "search.parquet")
        pd.DataFrame({"dir": dirs, "name": names}).to_parquet(search)
        truth = sorted((n, None) for n in names.tolist() if mrjobs.SEARCH_SUBSTR in n)
        self.expected["search_df"] = truth
        ops.append(Op("search_df", lambda: map_reduce(
            spark.read.parquet(search), mrjobs.search_map, mrjobs.search_reduce,
            map_schema=mrjobs.SEARCH_MAP_SCHEMA, out_schema=mrjobs.SEARCH_OUT_SCHEMA,
            sort_cols=("key",))))
        return ops

    def check(self, ops: list[Op], outputs: dict[str, Output]) -> dict[str, str | None]:
        verdicts = {}
        for op in ops:
            got, want = outputs[op.name].rows, self.expected[op.name]
            if len(got) != len(want):
                verdicts[op.name] = f"row count {len(got)} != {len(want)}"
            else:
                bad = next((i for i, (g, w) in enumerate(zip(got, want)) if tuple(g) != w), None)
                verdicts[op.name] = None if bad is None else f"row {bad}: {got[bad]!r} != {want[bad]!r}"
        return verdicts


class Combined:
    """The operations of several workloads, run in one pass."""

    passes, settle, python = 2, 0, True

    def __init__(self, *parts):
        self.parts = parts

    def setup(self, spark, data_dir: str, seed: int) -> list[Op]:
        self.owner, ops = {}, []
        for part in self.parts:
            for op in part.setup(spark, data_dir, seed):
                self.owner[op.name] = part
                ops.append(op)
        return ops

    def check(self, ops: list[Op], outputs: dict[str, Output]) -> dict[str, str | None]:
        verdicts = {}
        for part in self.parts:
            verdicts.update(part.check([op for op in ops if self.owner[op.name] is part], outputs))
        return verdicts


# Two workloads, not three: a run starts a session and warms up every
# operation, about 20 s to 40 s on a 4-core host, and the benchmark is run
# 4 + 22 x (workloads) times within 3420 s. The construction-heavy queries
# and the MapReduce contract therefore share one workload, and the
# relational queries stay apart as the workload that neither exercises.
WORKLOADS = {
    # short queries, whose per-query median needs more samples per run; the
    # first pass after the warm-up still spends about 30% more CPU on JIT
    # compilation than the ones after it
    "relational": Registry(RELATIONAL, sf=0.001, passes=4, settle=1, python=False),
    "iterative_mapreduce": Combined(
        Registry(ITERATIVE, sf=0.001),
        MapReduce(n_tokens=30_000, n_keys=256, search_rows=10_000, search_dirs=64),
    ),
}
