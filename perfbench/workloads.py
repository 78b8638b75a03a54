"""The closed-loop workloads.

Each workload has a ``setup`` (repeated to time it), a checked ``warm``
iteration, and an ``iteration`` that runs the timed region once and then
checks everything it committed or collected; ``summary`` turns the timed
iterations into ``job_s`` and ``round_s``.  In a traced run, ``traced``
repeats the iteration a fixed number of times with spans and probes, on a
session that writes the Spark event log.
"""

from __future__ import annotations

import multiprocessing
import os
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

from perfbench import layers
from perfbench import transcripts as T
from perfbench.harness import CORES, median
from perfbench.metrics import OPERATOR_QUERIES, SMALL_OPS

PARTITIONS = 2 * CORES  # run_extraction's default at local[CORES]
KERNEL_SAMPLE = 1500  # turns in the single-thread kernel loop
# the operators' tables: a copy of the sf0.01 testdata, the scale
# the registry's DuckDB parity gate runs at
FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


@dataclass
class Iteration:
    job_s: float
    attempted: int
    failed: int
    rounds: list[float] = field(default_factory=list)
    new_turns: int = 0
    snapshot_mb: list[float] = field(default_factory=list)
    op_s: dict[str, float] = field(default_factory=dict)


class Workload:
    stage_labels: frozenset[str] = frozenset()
    traced_iterations = 1

    def __init__(self, seed: int, sessions, dirs):
        self.seed = seed
        self.sessions = sessions
        self.dirs = dirs
        self.tracer = None

    @property
    def spark(self):
        return self.sessions.spark

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def setup(self) -> None:
        raise NotImplementedError

    def warm(self) -> Iteration:
        return self.iteration()

    def iteration(self) -> Iteration:
        raise NotImplementedError

    def inputs(self) -> dict:
        """Input sizes, recorded with every result."""
        raise NotImplementedError

    def summary(self, timed: list[Iteration]) -> tuple[float, float]:
        """``job_s`` and ``round_s`` of the timed iterations: medians."""
        return median([i.job_s for i in timed]), median([r for i in timed for r in i.rounds])

    def close(self) -> None:
        """Release what set-up holds beyond the Spark session."""

    def untraced_layers(self, values: dict) -> None:
        """Layer figures that must come from a session without tracing."""

    def traced(self, tracer, values: dict) -> list[Iteration]:
        self.tracer = tracer
        out = []
        try:
            for k in range(self.traced_iterations):
                with tracer.span("iteration", iteration=k):
                    out.append(self.iteration())
            return out
        finally:
            self.tracer = None

    def after_trace(self, values: dict) -> None:
        """Layer figures taken after the traced session has stopped."""


class BatchMixed(Workload):
    """Cold full batch: run_extraction into an empty store, then
    lineage_metrics and the conversation rollup."""

    N_CONVS = 1000
    MEDIAN_TURNS = 40
    traced_iterations = 2
    stage_labels = frozenset({"commit"})
    pool = None

    def setup(self) -> None:
        self.sessions.start()
        if self.pool is None:
            # generation and the oracle run on the cores the load runs on;
            # spawned, not forked, because the driver holds the JVM gateway
            self.pool = multiprocessing.get_context("spawn").Pool(CORES)
        spans = T.batch_spans(self.seed, self.N_CONVS, self.MEDIAN_TURNS)
        self.input = self.dirs.fresh("data", "input")
        self.expected = T.build_input(spans, self.input, PARTITIONS, self.pool)

    def close(self) -> None:
        if self.pool is not None:
            self.pool.close()
            self.pool.join()
            self.pool = None
            # the spawned pool started multiprocessing's resource tracker;
            # it would otherwise live until this process exits
            from multiprocessing import resource_tracker

            resource_tracker._resource_tracker._stop()

    def inputs(self) -> dict:
        return {
            "convs": self.N_CONVS,
            "median_turns": self.MEDIAN_TURNS,
            "turns": len(self.expected.hashes),
        }

    def read(self, path: str):
        from unraveldocs_spark.schemas import TRANSCRIPTS_SCHEMA

        return self.spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(path)

    def extract(self, df, store):
        """run_extraction into ``store`` under the "commit" job label,
        plus the size of the snapshot it published."""
        from unraveldocs_spark.pipeline import run_extraction

        with self.sessions.job_label("commit"), self.span("pipeline.run_extraction"):
            res = run_extraction(self.spark, df, store)
        snap = res["snapshot_id"]
        mb = layers.dir_mb(os.path.join(store.snap_dir, snap)) if snap else 0.0
        return res, mb

    def lineage(self, store):
        from unraveldocs_spark.pipeline import lineage_metrics

        with self.sessions.job_label("lineage_metrics"), self.span("pipeline.lineage_metrics"):
            return lineage_metrics(store, self.spark).collect()

    def check(self, store, lineage_rows, rollup_rows) -> int:
        exp = self.expected
        # Arrow, not Row objects: the read-back is a fifth of the cost
        failed = T.failed_turns(store.results(self.spark).toArrow().to_pylist(), exp)
        failed += T.failed_lineage(lineage_rows, exp)
        failed += T.failed_rollup(rollup_rows, exp)
        return min(failed, len(exp.hashes))

    def instrumented(self, store):
        if self.tracer is None:
            return nullcontext()
        return layers.instrument(self.sessions, self.tracer, store)

    def iteration(self) -> Iteration:
        from unraveldocs_spark.checkpoint import DirCheckpointStore

        store = DirCheckpointStore(self.dirs.fresh("store"))
        df = self.read(self.input)
        with self.instrumented(store):
            t0 = time.monotonic()
            res, mb = self.extract(df, store)
            t1 = time.monotonic()
            lin = self.lineage(store)
            with self.sessions.job_label("rollup"), self.span("rollup.conversation_rollup"):
                roll = res["rollup"].collect()
            t2 = time.monotonic()
        return Iteration(
            job_s=t2 - t0,
            rounds=[t1 - t0],
            attempted=len(self.expected.hashes),
            failed=self.check(store, lin, roll),
            new_turns=res["new_rows"] or 0,
            snapshot_mb=[mb],
        )

    def untraced_layers(self, values: dict) -> None:
        df = self.read(self.input)
        passes = [layers.extraction_pass(self.sessions, df, PARTITIONS) for _ in range(5)]
        values["extract.pass_s"] = median(passes)
        values["extract.turns_per_s"] = len(self.expected.hashes) / values["extract.pass_s"]

    def traced(self, tracer, values: dict) -> list[Iteration]:
        values.update(layers.ladder(self.sessions, self.read(self.input), PARTITIONS))
        iters = super().traced(tracer, values)
        mean = tracer.mean
        values.update(
            {
                "checkpoint.append_s": mean("checkpoint.append"),
                "checkpoint.snapshot_mb": median([m for i in iters for m in i.snapshot_mb]),
                "checkpoint.resume_filter_s": mean("checkpoint.resume_filter"),
                "checkpoint.results_read_s": mean("checkpoint.results_read"),
                "checkpoint.new_turns": iters[-1].new_turns,
                "pipeline.partition_lineage_s": mean("pipeline.partition_lineage"),
                "pipeline.lineage_metrics_s": mean("pipeline.lineage_metrics"),
                "rollup.conversation_rollup_s": mean("rollup.conversation_rollup"),
                "pipeline.partition_turns_max_over_mean": layers.partition_skew(
                    self.read(self.input), PARTITIONS
                ),
            }
        )
        return iters

    def after_trace(self, values: dict) -> None:
        rows = T.read_rows(self.input)
        # scaling leg: a quarter of the turns (every 4th row, same mix and
        # skew) at local[1]; efficiency = tps(local[4]) / (4 * tps(local[1]))
        quarter = rows[::4]
        path = self.dirs.fresh("data", "quarter")
        T.write_parquet(quarter, path, 2)
        self.sessions.start(cores=1)
        df = self.read(path)
        layers.extraction_pass(self.sessions, df, 2)
        one = median([layers.extraction_pass(self.sessions, df, 2) for _ in range(3)])
        self.sessions.stop()
        values["pipeline.scaling_eff"] = values["extract.turns_per_s"] / (
            CORES * len(quarter) / one
        )
        sample = rows[:: max(1, len(rows) // KERNEL_SAMPLE)][:KERNEL_SAMPLE]
        values.update(layers.kernel_loop(sample))
        for rule, n in self.expected.rules.items():
            values[f"oracle.turns.{rule}"] = n


def oracle_sql(name: str) -> str:
    """One query's DuckDB oracle, from the registry spec (``oracle_sql()``
    renders all 132)."""
    from unraveldocs_spark.entry_queries import ENTRY_REGISTRY
    from unraveldocs_spark.queries import REGISTRY
    from unraveldocs_spark.trainingdata import TRAINING_REGISTRY

    spec = {**REGISTRY, **TRAINING_REGISTRY, **ENTRY_REGISTRY}[name]
    return spec["sql"] if spec.get("sql") is not None else spec["sql_fn"]()


class Operators(Workload):
    """One pass over a fixed registry subset, in seed-permuted order,
    each query checked against its DuckDB oracle."""

    stage_labels = frozenset(OPERATOR_QUERIES)

    def setup(self) -> None:
        import duckdb

        import __spark_entry__ as entry
        from tools.check_correctness import TABLES, frame_hash
        from unraveldocs_spark.generator import mix64

        self.sessions.start()
        self.builders = entry.queries()
        self.frame_hash = frame_hash
        con = duckdb.connect(config={"temp_directory": self.dirs.path("tmp")})
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{FIXTURE}/{t}.parquet')"
                )
            self.expected = {}
            for q in OPERATOR_QUERIES:
                cur = con.execute(oracle_sql(q))
                cols = [d[0] for d in cur.description]
                rows = cur.fetchall()
                self.expected[q] = (len(rows), sorted(cols), frame_hash(cols, rows))
        finally:
            con.close()
        self.order = sorted(
            OPERATOR_QUERIES,
            key=lambda q: mix64(self.seed * 131 + OPERATOR_QUERIES.index(q)),
        )

    def inputs(self) -> dict:
        import pyarrow.parquet as pq

        from tools.check_correctness import TABLES

        rows = {
            t: pq.ParquetFile(os.path.join(FIXTURE, f"{t}.parquet")).metadata.num_rows
            for t in TABLES
        }
        return {"tables": rows, "queries": list(self.order)}

    def summary(self, timed: list[Iteration]) -> tuple[float, float]:
        """Per-query medians over the timed passes, summed: all 13 queries
        for ``job_s``; the five AQE-floor victims for ``round_s``, so a
        small-query regression is not hidden under the dedup leaves."""
        per = {q: median([i.op_s[q] for i in timed]) for q in OPERATOR_QUERIES}
        return sum(per.values()), sum(per[q] for q in SMALL_OPS)

    def run_query(self, q: str, label: str):
        """(seconds, outcome-matches-oracle) for one query."""
        with self.sessions.job_label(label), self.span(f"op.{q}"):
            t = time.monotonic()
            try:
                sdf = self.builders[q](self.spark, FIXTURE)
                rows = sdf.collect()
            except Exception:  # a raising query is a failed operation
                traceback.print_exc(file=sys.stderr)
                return time.monotonic() - t, False
            dt = time.monotonic() - t
        cols = sdf.columns
        got = (len(rows), sorted(cols), self.frame_hash(cols, [[r[c] for c in cols] for r in rows]))
        return dt, got == self.expected[q]

    def iteration(self) -> Iteration:
        op_s, failed = {}, 0
        for q in self.order:
            op_s[q], ok = self.run_query(q, q)
            failed += not ok
        return Iteration(
            job_s=sum(op_s.values()),
            attempted=len(self.order),
            failed=failed,
            op_s=op_s,
        )

    def warm(self) -> Iteration:
        """One checked, untimed pass that warms the JVM and the Python
        workers, under labels the stage summary leaves out.  The queries
        run CORES at a time so that their cold-start costs (code
        generation, worker imports) overlap: a cold pass run one query at
        a time takes about a third longer."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(CORES) as pool:
            oks = list(pool.map(lambda q: self.run_query(q, "warm:" + q)[1], self.order))
        return Iteration(job_s=0.0, attempted=len(oks), failed=oks.count(False))

    def traced(self, tracer, values: dict) -> list[Iteration]:
        # the traced session starts new Python workers: warm them first
        warm = self.warm()
        iters = super().traced(tracer, values)
        iters[0].attempted += warm.attempted
        iters[0].failed += warm.failed
        for q in OPERATOR_QUERIES:
            values[f"op.{q}_s"] = median([i.op_s[q] for i in iters])
        values["op.small_ops_s"] = sum(values[f"op.{q}_s"] for q in SMALL_OPS)
        return iters


WORKLOADS = {
    "batch_mixed": BatchMixed,
    "operators": Operators,
}
