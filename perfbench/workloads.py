"""Benchmark inputs and the four workloads.

Every input is a pure function of ``(seed, size)``: the transcript table
comes from ``synth.generate_transcripts`` with the generator's seed set to
the workload seed, and everything derived from it (head/tail splits, the
micro-batch backlog, lookup ids) is computed from that table with seeded,
partitioning-independent operations. Staged inputs are cached on disk per
``(seed, size)`` so repeated runs of one seed do not regenerate them.

A workload object is driven by ``run.py`` through these calls:

- ``prepare()`` loads what it needs before this process starts Spark;
- ``stage(spark)`` generates (or reuses) the inputs and reference answers;
- ``commit(spark)`` makes the program commit the starting state the timed
  operations run against (timed once, reported as ``state_commit_s``);
- ``warm_op(spark)`` runs one untimed warm-up operation (``warm_ops`` of
  them run before timing starts);
- ``op(spark)`` runs one timed operation and returns an ``OpResult``;
- ``check(spark, result)`` is the correctness gate for that operation
  (untimed) and returns a list of mismatch messages (empty = correct);
- ``after_op(spark)`` cleans up between operations (untimed).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import Window
from pyspark.sql import functions as F

from commerce_logs_pipeline_spark import synth
from commerce_logs_pipeline_spark.functions.parse import parse_transcripts
from commerce_logs_pipeline_spark.operators.router import (
    DEFAULT_SINKS,
    read_conversation,
)
from commerce_logs_pipeline_spark.plans.checkpoint import ManifestStore
from commerce_logs_pipeline_spark.plans.pipeline import run_pipeline
from commerce_logs_pipeline_spark.streaming.stream_pipeline import (
    run_streaming_pipeline,
)

from gate import Gate

HERE = os.path.dirname(os.path.abspath(__file__))

# Day span of every generated table: partition directories per write are
# days x 16 buckets x categories, so the span is sized to the data volume
# (synth.generate_transcripts docstring) rather than the 30-day default.
N_DAYS = 1


@dataclass
class OpResult:
    """One timed operation: its latency samples (one per operation, or one
    per micro-batch), the work units it completed, and what the gate needs."""

    wall_s: float
    latencies_s: list[float]
    work: int
    detail: dict = field(default_factory=dict)


@contextmanager
def generator_seed(seed: int):
    """Point the synthetic generator's row mixer at ``seed``."""
    saved = synth.SEED
    synth.SEED = seed
    try:
        yield
    finally:
        synth.SEED = saved


def _staged(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


class Inputs:
    """Seeded input tables, staged as parquet under ``root`` and cached."""

    def __init__(self, root: str, seed: int):
        self.root = root
        self.seed = seed

    def table(self, spark, n_turns: int) -> str:
        path = f"{self.root}/seed{self.seed}-n{n_turns}-d{N_DAYS}/table"
        if not _staged(path):
            with generator_seed(self.seed):
                df = synth.generate_transcripts(spark, n_turns, n_days=N_DAYS)
                df.write.mode("overwrite").parquet(path)
        return path

    def split(self, spark, n_turns: int, head_share: float) -> tuple[str, str]:
        """(head, tail) of every conversation: head holds each
        conversation's first ``floor(head_share * n)`` turns."""
        table = self.table(spark, n_turns)
        tag = int(round(head_share * 100))
        head = f"{table}-head{tag}"
        tail = f"{table}-tail{tag}"
        if not (_staged(head) and _staged(tail)):
            df = spark.read.parquet(table)
            n = F.count("*").over(Window.partitionBy("conv_id"))
            marked = df.withColumn(
                "_head", F.col("turn_idx") < F.floor(n * F.lit(head_share))
            )
            marked.filter("_head").drop("_head").write.mode(
                "overwrite"
            ).parquet(head)
            marked.filter("NOT _head").drop("_head").write.mode(
                "overwrite"
            ).parquet(tail)
        return head, tail

    def cached_json(self, path: str, compute):
        """``compute()``'s JSON-able result, cached at ``path``."""
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        value = compute()
        with open(path + ".tmp", "w") as f:
            json.dump(value, f)
        os.replace(path + ".tmp", path)
        return value

    def files(self, spark, source: str, n_files: int) -> str:
        """``source`` re-staged as ``n_files`` time-ordered parquet files
        (the backlog a file-source stream drains)."""
        path = f"{source}-files{n_files}"
        if not _staged(path):
            spark.read.parquet(source).repartitionByRange(
                n_files, "ts", "conv_id", "turn_idx"
            ).write.mode("overwrite").parquet(path)
        return path


def category_counts(spark, table: str) -> dict[str, int]:
    """Reference per-category counts from the independent pure-Column parse
    path (no pandas grok UDF)."""
    parsed = parse_transcripts(spark.read.parquet(table), use_pandas_grok=False)
    return {
        r["category"]: r["n"]
        for r in parsed.groupBy("category").agg(F.count("*").alias("n")).collect()
    }


def expected_sink_counts(by_cat: dict[str, int]) -> dict[str, int]:
    out = {
        f"sink:{name}": sum(by_cat.get(c, 0) for c in cats)
        for name, cats in DEFAULT_SINKS.items()
    }
    out["skipped"] = by_cat.get("skipped", 0)
    out["total"] = sum(by_cat.values())
    return out


def manifest_rows_processed(spark, base: str) -> int:
    state = ManifestStore(f"{base}/_manifest").current_state(spark)
    return state.agg(F.sum("rows_processed")).collect()[0][0] or 0


def drain(query, timeout_s: int = 120):
    """Wait for an ``availableNow`` query to finish; raise if it failed or
    did not finish in time."""
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise RuntimeError(f"stream query still running after {timeout_s} s")
    if query.exception() is not None:
        raise RuntimeError(f"stream query failed: {query.exception()}")
    return query


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


class Workload:
    name = ""
    #: what ``OpResult.work`` counts, for the printed summary
    work_unit = "turns"
    #: untimed operations before timing starts
    warm_ops = 1

    def __init__(self, inputs: Inputs, work_dir: str):
        self.inputs = inputs
        self.work_dir = work_dir
        self.gate = Gate()
        self.n_ops = 0

    def prepare(self) -> None:
        """Work done before any session exists in this process."""

    def stage(self, spark) -> None:
        """Generate (or reuse) the seeded inputs and their reference
        answers. Not part of ``setup_s``: this is the load generator."""

    def commit(self, spark) -> None:
        """Commit the starting state the timed operations run against."""

    def warm_op(self, spark) -> None:
        self.op(spark)
        self.after_op(spark)

    def op(self, spark) -> OpResult:
        raise NotImplementedError

    def check(self, spark, result: OpResult) -> list[str]:
        raise NotImplementedError

    def after_op(self, spark) -> None:
        """Untimed cleanup between operations."""


class FullReprocess(Workload):
    """``run_pipeline(resume=False)`` over the whole table, into an empty
    base every time. The table is sized so that per-row work (parse,
    enrich, the routed write's shuffle and encoding) is about half of a
    warm run; the rest is the run's fixed cost (job scheduling, one file per
    partition directory, the aggregates' and the manifest's jobs)."""

    name = "full_reprocess"
    n_turns = 200_000
    warm_turns = 20_000

    def stage(self, spark) -> None:
        self.warm_table = self.inputs.table(spark, self.warm_turns)

        def table_and_reference():
            table = self.inputs.table(spark, self.n_turns)
            return table, self.inputs.cached_json(
                f"{table}-reference.json", lambda: {
                    "by_cat": category_counts(spark, table),
                    "convs": spark.read.parquet(table)
                    .select("conv_id").distinct().count(),
                })

        # the full table and its reference are made beside the warm-up
        # operation, which waits for them before it returns
        pool = ThreadPoolExecutor(max_workers=1)
        self._staged = pool.submit(table_and_reference)
        pool.shutdown(wait=False)

    def expected(self) -> tuple[dict[str, int], int, int]:
        """(sink counts, conversations, tool calls) of the reference."""
        by_cat = self.reference["by_cat"]
        return (expected_sink_counts(by_cat), self.reference["convs"],
                by_cat.get("tool_call", 0))

    def commit(self, spark) -> None:
        self.base = _fresh(f"{self.work_dir}/full")

    def after_op(self, spark) -> None:
        _fresh(self.base)

    def warm_op(self, spark) -> None:
        # the same call on a smaller table of the same seed compiles the
        # same plans in a fraction of a first full run's time
        run_pipeline(spark, spark.read.parquet(self.warm_table), self.base,
                     resume=False, write_aggregates=True)
        _fresh(self.base)
        self.table, self.reference = self._staged.result()

    def op(self, spark) -> OpResult:
        t0 = time.perf_counter()
        report = run_pipeline(
            spark, spark.read.parquet(self.table), self.base,
            resume=False, write_aggregates=True,
        )
        wall = time.perf_counter() - t0
        return OpResult(wall, [wall], report.rows_in, {"report": report})

    def check(self, spark, result: OpResult) -> list[str]:
        report = result.detail["report"]
        if "aggregates" not in result.detail:  # read once per operation
            conv = spark.read.parquet(f"{self.base}/agg/conv_turn_counts").agg(
                F.sum("n_turns").alias("turns"), F.count("*").alias("convs")
            ).collect()[0]
            calls = spark.read.parquet(f"{self.base}/agg/tool_rates").agg(
                F.sum("calls")
            ).collect()[0][0]
            result.detail["aggregates"] = (conv["turns"], conv["convs"], calls)
        turns, n_convs, calls = result.detail["aggregates"]
        counts, convs, tool_calls = self.expected()
        g = self.gate
        errs = g.equal("full.counts", report.counts, counts)
        errs += g.equal("full.agg_turns", turns, counts["total"])
        errs += g.equal("full.agg_convs", n_convs, convs)
        errs += g.equal("full.tool_calls", calls, tool_calls)
        return errs


class IncrementalResume(Workload):
    """``run_pipeline(resume=True)`` over the full table, starting from
    committed OPEN partitions holding each conversation's first 90% of
    turns. The state is restored before every operation."""

    name = "incremental_resume"
    n_turns = 20_000
    head_share = 0.9

    def stage(self, spark) -> None:
        self.table = self.inputs.table(spark, self.n_turns)
        self.head, tail = self.inputs.split(spark, self.n_turns, self.head_share)
        self.total_rows = spark.read.parquet(self.table).count()
        self.tail_rows = spark.read.parquet(tail).count()

    def commit(self, spark) -> None:
        self.base = _fresh(f"{self.work_dir}/resume")
        run_pipeline(
            spark, spark.read.parquet(self.head), self.base,
            resume=True, close_partitions=False,
        )
        self._snapshot = self._listing()

    def _listing(self) -> set[str]:
        names = set()
        for sub in ("_manifest", "sinks/routed"):
            d = f"{self.base}/{sub}"
            names.update(f"{sub}/{n}" for n in os.listdir(d))
        return names

    def after_op(self, spark) -> None:
        # restore the committed starting state: drop what the op added
        # (its run directory and manifest part files) and its aggregates
        for rel in self._listing() - self._snapshot:
            p = f"{self.base}/{rel}"
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)
        shutil.rmtree(f"{self.base}/agg", ignore_errors=True)

    def op(self, spark) -> OpResult:
        t0 = time.perf_counter()
        report = run_pipeline(
            spark, spark.read.parquet(self.table), self.base, resume=True
        )
        wall = time.perf_counter() - t0
        return OpResult(wall, [wall], report.rows_in, {"report": report})

    def check(self, spark, result: OpResult) -> list[str]:
        g = self.gate
        errs = g.equal("resume.rows_in", result.work, self.tail_rows)
        errs += g.equal(
            "resume.manifest_rows",
            manifest_rows_processed(spark, self.base),
            self.total_rows,
        )
        return errs


class StreamMicrobatch(Workload):
    """``run_streaming_pipeline(available_now=True)`` draining a staged
    backlog of many small files (4 files per micro-batch)."""

    name = "stream_microbatch"
    n_turns = 20_000
    n_files = 8

    def stage(self, spark) -> None:
        table = self.inputs.table(spark, self.n_turns)
        self.backlog = self.inputs.files(spark, table, self.n_files)
        self.total_rows = spark.read.parquet(self.backlog).count()

    def commit(self, spark) -> None:
        self.root = _fresh(f"{self.work_dir}/stream")
        os.makedirs(self.root)

    def op(self, spark) -> OpResult:
        self.n_ops += 1
        self.base = f"{self.root}/op{self.n_ops}"
        t0 = time.perf_counter()
        q = drain(run_streaming_pipeline(
            spark, self.backlog, f"{self.base}/out", f"{self.base}/ckpt",
            available_now=True,
        ))
        wall = time.perf_counter() - t0
        batches = [p for p in q.recentProgress if p.numInputRows > 0]
        return OpResult(
            wall,
            [p.durationMs["triggerExecution"] / 1000.0 for p in batches],
            self.total_rows,
            {"progress": batches},
        )

    def check(self, spark, result: OpResult) -> list[str]:
        return self.gate.equal(
            "stream.manifest_rows",
            manifest_rows_processed(spark, f"{self.base}/out"),
            self.total_rows,
        )

    def after_op(self, spark) -> None:
        shutil.rmtree(self.base, ignore_errors=True)


class ConversationLookup(Workload):
    """One client issuing ``read_conversation(incremental=True)`` for
    seeded, Zipf-drawn conversation ids (hot and cold) plus absent ids,
    against a table committed by one batch run and several stream chunk
    runs (see ``lookup_table.py``)."""

    name = "conversation_lookup"
    work_unit = "lookups"
    warm_ops = 6  # the first lookup in a fresh JVM takes ~6 warm ones
    absent_share = 0.1
    plan_len = 4096

    def prepare(self) -> None:
        root = lookup_table_dir(self.inputs)
        self.base = f"{root}/out"
        with open(f"{root}/sizes.json") as f:
            self.sizes = json.load(f)
        self.plan = lookup_plan(self.sizes, self.inputs.seed, self.plan_len,
                                self.absent_share)

    def op(self, spark) -> OpResult:
        conv_id = self.plan[self.n_ops % len(self.plan)]
        self.n_ops += 1
        t0 = time.perf_counter()
        rows = read_conversation(
            spark, self.base, conv_id, incremental=True
        ).select("turn_idx").collect()
        wall = time.perf_counter() - t0
        return OpResult(
            wall, [wall], 1,
            {"conv_id": conv_id, "turns": [r["turn_idx"] for r in rows]},
        )

    def check(self, spark, result: OpResult) -> list[str]:
        cid = result.detail["conv_id"]
        return self.gate.dense_turns(
            f"lookup.{cid}", result.detail["turns"], self.sizes.get(cid, 0)
        )


LOOKUP_TURNS = 20_000


def lookup_table_dir(inputs: Inputs) -> str:
    return os.path.join(inputs.root, f"lookup-table-n{LOOKUP_TURNS}")


def ensure_lookup_table(inputs: Inputs) -> None:
    """Build the conversation-lookup dataset if there is none yet under
    ``inputs.root`` (one per source digest), in its own process (see
    ``lookup_table.py``). Every run calls this first, so the one-time build
    lands in the first run made with the current sources, whichever
    workload that is."""
    root = lookup_table_dir(inputs)
    if not os.path.isdir(root):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "lookup_table.py"), root,
             str(LOOKUP_TURNS)],
            stdout=sys.stderr, check=True, timeout=600,
        )


def lookup_plan(sizes: dict[str, int], seed: int, length: int,
                absent_share: float) -> list[str]:
    """Seeded lookup sequence: conversations drawn Zipf(1.1) over their size
    rank (rank 1 = largest, the hot end), with ``absent_share`` of draws
    replaced by ids that are not in the table."""
    rng = random.Random(seed)
    ranked = sorted(sizes, key=lambda c: (-sizes[c], c))
    weights = [1.0 / (k + 1) ** 1.1 for k in range(len(ranked))]
    drawn = rng.choices(ranked, weights=weights, k=length)
    out = []
    for cid in drawn:
        if rng.random() < absent_share:
            cid = f"absent-{rng.randrange(10**8):08d}"
        out.append(cid)
    return out


WORKLOADS = {
    w.name: w
    for w in (FullReprocess, IncrementalResume, StreamMicrobatch,
              ConversationLookup)
}
