"""Tracing for the per-layer run: spans, Spark metric attribution, and the
layer sweep.

A span records one public call made from the benchmark's own files: name,
start, end and parent span. While a span is open, jobs submitted from the
calling thread carry the span's Spark job group. Stage, task and SQL
metrics are attributed to spans after the run, from Spark's status REST
API: a job belongs to the span whose job group it carries, and a job
submitted from another thread (the pipeline's aggregate pool, a streaming
query's micro-batch thread) to the innermost span open when it was
submitted. Spans stay in memory and are written out once, at the end.

The layer sweep calls each layer's public functions one at a time on a
fixed seeded input, so fused lazy stages (parse and enrich run inside the
routed write's job) can be timed apart by difference.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

from pyspark.sql import functions as F

from commerce_logs_pipeline_spark.functions.parse import parse_transcripts
from commerce_logs_pipeline_spark.operators.router import (
    read_conversation,
    with_partition_cols,
)
from commerce_logs_pipeline_spark.plans.aggregate import (
    conv_turn_counts,
    hourly_error_rollup,
    per_tool_call_rates,
)
from commerce_logs_pipeline_spark.plans.checkpoint import (
    ManifestStore,
    completion_events,
)
from commerce_logs_pipeline_spark.plans.enrich import enrich_with_default_dims
from commerce_logs_pipeline_spark.plans.pipeline import run_pipeline
from commerce_logs_pipeline_spark.streaming.stream_pipeline import (
    run_streaming_pipeline,
)

from workloads import drain

SWEEP_TURNS = 5_000
SWEEP_HEAD = 0.9
SWEEP_FILES = 4  # one micro-batch (the file source takes 4 files a batch)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": f"perfbench-span-{len(self.spans)}",
        }
        self.spans.append(rec)
        prev = [self.sc.getLocalProperty(k) for k in _GROUP_PROPS]
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            for k, v in zip(_GROUP_PROPS, prev):
                self.sc.setLocalProperty(k, v)

    def jvm_gc_s(self) -> float:
        """Total collection time of the driver JVM's garbage collectors. In
        local mode the driver JVM runs every task, so this is all JVM GC."""
        beans = (self.sc._jvm.java.lang.management.ManagementFactory
                 .getGarbageCollectorMXBeans())
        return sum(b.getCollectionTime() for b in beans) / 1e3

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    # --- attribution ------------------------------------------------------
    def attribute(self) -> None:
        """Fetch jobs, stages and SQL executions from the status REST API
        and attach their metrics to the spans (inclusive of child spans)."""
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                f"{self.sc.applicationId}")
        self._base = base
        jobs = _get(f"{base}/jobs")
        stages = _get(f"{base}/stages")
        sql = _get(f"{base}/sql?details=true&planDescription=false"
                   "&offset=0&length=100000")
        by_group = {s["group"]: s for s in self.spans}
        owner: dict[int, dict] = {}
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            span = by_group.get(job.get("jobGroup")) or self._innermost(
                _epoch(job["submissionTime"])
            )
            if span is not None:
                owner[job["jobId"]] = span
        stage_by_id: dict[int, list[dict]] = {}
        for st in stages:
            if st["status"] in ("COMPLETE", "FAILED"):
                stage_by_id.setdefault(st["stageId"], []).append(st)
        for s in self.spans:
            s.update(jobs=[], stages=[], sql=[])
        claimed: set[int] = set()
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            span = owner.get(job["jobId"])
            if span is None:
                continue
            span["jobs"].append(job["jobId"])
            for sid in job["stageIds"]:
                if sid in claimed:  # a reused stage ran once, in its first job
                    continue
                claimed.add(sid)
                span["stages"].extend(stage_by_id.get(sid, []))
        for ex in sql:
            ids = ex["successJobIds"] + ex["failedJobIds"] + ex["runningJobIds"]
            span = next((owner[j] for j in sorted(ids) if j in owner), None)
            if span is not None:
                span["sql"].append(ex)
        for s in self.spans:
            s["metrics"] = _stage_totals(self.subtree(s, "stages"))

    def _innermost(self, t: float):
        best = None
        for s in self.spans:
            if s["start"] <= t <= s.get("end", float("inf")):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    def subtree(self, span: dict, key: str) -> list:
        out = list(span.get(key, []))
        for c in self.spans:
            if c["parent"] == span["id"]:
                out += self.subtree(c, key)
        return out

    def sql_metric(self, span: dict, node: str, metric: str) -> float:
        """Sum of ``metric`` over every ``node``-named plan node of the SQL
        executions under ``span``."""
        return _sql_total(self.subtree(span, "sql"), node, metric)

    def write_execution(self, span: dict) -> dict:
        """The SQL execution under ``span`` that wrote the most bytes."""
        return max(self.subtree(span, "sql"), key=lambda ex: _sql_total(
            [ex], "Execute", "written output"))

    def write_stage(self, span: dict) -> dict:
        """The stage under ``span`` that wrote the most output bytes."""
        return max(self.subtree(span, "stages"),
                   key=lambda s: s["outputBytes"])

    def task_skew(self, st: dict) -> float:
        """max / median task run time of stage ``st``."""
        summary = _get(f"{self._base}/stages/{st['stageId']}/{st['attemptId']}"
                       "/taskSummary?quantiles=0.5,1.0")
        med, mx = summary["executorRunTime"]
        return mx / med if med else 0.0

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        out = []
        for s in self.spans:
            out.append({
                k: s.get(k) for k in
                ("id", "name", "parent", "group", "start", "end", "jobs",
                 "metrics")
            } | {"stage_ids": [st["stageId"] for st in s.get("stages", [])],
                 "sql_ids": [ex["id"] for ex in s.get("sql", [])]})
        with open(path, "w") as f:
            json.dump(extra | {"spans": out}, f, indent=1)


_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


def _get(url: str):
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


def _epoch(ts: str) -> float:
    # "2026-10-16T20:59:51.559GMT"
    return datetime.strptime(ts[:-3], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _metric_value(text: str) -> float:
    """Parse a SQL UI metric: ``"1,234"``, ``"12.5 MiB"``, ``"2 ms"``, or
    the per-task form ``"total (min, med, max ...)\\n12.5 MiB (...)"``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _sql_total(executions: list[dict], node: str, metric: str) -> float:
    total = 0.0
    for ex in executions:
        for n in ex.get("nodes", []):
            if n["nodeName"].startswith(node):
                for m in n.get("metrics", []):
                    if m["name"] == metric:
                        total += _metric_value(m["value"])
    return total


def _stage_totals(stages: list[dict]) -> dict:
    n_tasks = sum(s["numTasks"] for s in stages)
    attempts = sum(s["numCompleteTasks"] + s["numFailedTasks"]
                   + s["numKilledTasks"] for s in stages)
    return {
        "tasks": n_tasks,
        "task_attempts": attempts,
        "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "memory_spill_bytes": sum(s["memoryBytesSpilled"] for s in stages),
        "disk_spill_bytes": sum(s["diskBytesSpilled"] for s in stages),
    }


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _data_files(root: str) -> int:
    return sum(
        1 for _, _, files in os.walk(root) for f in files
        if not f.startswith((".", "_"))
    )


class LayerSweep:
    """Each layer's public functions called one at a time, each call in a
    span, on the seeded ``SWEEP_TURNS`` table: a batch run commits the head
    (90% of every conversation) as open partitions, then the checkpoint,
    read and aggregate layers run against that state, whose pending tail is
    what a resume would ingest. One call per layer: per-layer figures carry
    no bound, and the sweep has to fit the run's time limit."""

    def __init__(self, spark, tracer: Tracer, inputs, work_dir: str):
        self.spark = spark
        self.tr = tracer
        self.inputs = inputs
        self.dir = work_dir
        self.times: dict[str, float] = {}
        self.facts: dict = {}

    def _timed(self, name: str, fn):
        with self.tr.span(name) as s:
            out = fn()
        self.times[name] = s["end"] - s["start"]
        return out

    def run(self) -> None:
        spark, inputs, rd = self.spark, self.inputs, self.spark.read.parquet
        table = inputs.table(spark, SWEEP_TURNS)
        head, _ = inputs.split(spark, SWEEP_TURNS, SWEEP_HEAD)
        backlog = inputs.files(spark, table, SWEEP_FILES)
        self.facts["rows"] = rd(table).count()
        self.facts["head_rows"] = rd(head).count()
        self.facts["watermark_rows"] = (
            with_partition_cols(rd(head))
            .select("day", "bucket", "conv_id").distinct().count()
        )

        # parse and enrich run fused into the routed write's job: time the
        # same plan prefixes against a no-op sink and take differences,
        # after one untimed run (a lookup run parses nothing before this,
        # so its first parse would pay for starting the grok UDF's workers)
        _noop(enrich_with_default_dims(parse_transcripts(rd(head))))
        self._timed("sweep.scan", lambda: _noop(rd(head)))
        self._timed("functions.parse.parse_transcripts",
                    lambda: _noop(parse_transcripts(rd(head))))
        self._timed("plans.enrich.enrich_with_default_dims",
                    lambda: _noop(enrich_with_default_dims(
                        parse_transcripts(rd(head)))))

        base = f"{self.dir}/batch"
        self.head = head
        self.facts["pipeline_report"] = self._timed(
            "plans.pipeline.run_pipeline",
            lambda: run_pipeline(spark, rd(head), base, resume=True,
                                 close_partitions=False))
        manifest = ManifestStore(f"{base}/_manifest")
        self.facts["manifest_rows"] = rd(manifest.path).count()
        self._timed("plans.checkpoint.ManifestStore.current_state",
                    lambda: manifest.current_state(spark).collect())
        self.facts["pending_rows"] = self._timed(
            "plans.checkpoint.ManifestStore.pending",
            lambda: manifest.pending(
                spark, with_partition_cols(rd(table)),
                routed_path=f"{base}/sinks/routed",
            ).count(),
        )

        hot = (rd(head).groupBy("conv_id").count()
               .orderBy(F.desc("count"), "conv_id").first()["conv_id"])
        self.facts["files_listed"] = _data_files(f"{base}/sinks/routed")
        self._timed("operators.router.read_conversation",
                    lambda: read_conversation(
                        spark, base, hot, incremental=True).collect())

        run_id = self.facts["pipeline_report"].run_id
        slim = (
            spark.read.option("basePath", f"{base}/sinks/routed")
            .parquet(f"{base}/sinks/routed/runid={run_id}")
            .select("conv_id", "turn_idx", "role", "ts", "category",
                    "tool_name", "tool_status", "tool_latency_ms")
        )
        for name, fn in (("conv_turn_counts", conv_turn_counts),
                         ("tool_rates", per_tool_call_rates),
                         ("hourly_errors", hourly_error_rollup)):
            self._timed(f"plans.aggregate.{name}",
                        lambda fn=fn, name=name: fn(slim).write.mode(
                            "overwrite").parquet(f"{self.dir}/agg/{name}"))
        # the batch run's completion events, appended to a fresh manifest
        events = completion_events(with_partition_cols(slim), run_id,
                                   status="open")
        self._timed("plans.checkpoint.ManifestStore.append",
                    lambda: ManifestStore(f"{self.dir}/manifest").append(
                        events))

        q = self._timed(
            "streaming.stream_pipeline.run_streaming_pipeline",
            lambda: drain(run_streaming_pipeline(
                spark, backlog, f"{self.dir}/stream/out",
                f"{self.dir}/stream/ckpt")))
        self.facts["stream_progress"] = [
            p for p in q.recentProgress if p.numInputRows > 0
        ]

    def metrics(self) -> dict[str, float]:
        tr, t, f = self.tr, self.times, self.facts

        def span(name):
            return tr.named(name)[-1]

        parse_name = "functions.parse.parse_transcripts"
        enrich_name = "plans.enrich.enrich_with_default_dims"
        pipe = span("plans.pipeline.run_pipeline")
        report = f["pipeline_report"]
        phases = report.extras["phases"]
        m: dict[str, float] = {}
        parse_s = t[parse_name] - t["sweep.scan"]
        m["parse.self_s"] = parse_s
        m["parse.rows_per_s"] = f["head_rows"] / parse_s if parse_s > 0 else 0.0
        m["parse.grok_udf_rows"] = tr.sql_metric(
            span(parse_name), "ArrowEvalPython", "number of output rows")
        m["parse.arrow_bytes_to_python"] = tr.sql_metric(
            span(parse_name), "ArrowEvalPython", "data sent to Python workers")
        m["enrich.self_s"] = t[enrich_name] - t[parse_name]
        m["enrich.broadcast_bytes"] = tr.sql_metric(
            span(enrich_name), "BroadcastExchange", "data size")
        # the batch run's pass 1 is scan + parse + enrich + routed write
        pass1_s = phases["pass1_parse_route_write"]
        m["route.write_s"] = pass1_s - t[enrich_name]
        # the routed write is the run's largest write; the aggregates and
        # the manifest append are its other writes
        write = tr.write_execution(pipe)
        m["route.files_written"] = _sql_total(
            [write], "Execute", "number of written files")
        m["route.bytes_written"] = _sql_total([write], "Execute",
                                              "written output")
        # the routed write's stage reads the repartition shuffle
        stage = tr.write_stage(pipe)
        m["route.shuffle_write_bytes"] = float(stage["shuffleReadBytes"])
        m["route.write_task_skew"] = tr.task_skew(stage)
        m["route.spill_bytes"] = float(stage["memoryBytesSpilled"]
                                       + stage["diskBytesSpilled"])
        read = span("operators.router.read_conversation")
        m["route.read_s"] = t[read["name"]]
        m["route.files_listed"] = f["files_listed"]
        m["route.files_read"] = tr.sql_metric(read, "Scan parquet",
                                              "number of files read")
        m["aggregate.shuffle_bytes"] = 0.0
        for name in ("conv_turn_counts", "tool_rates", "hourly_errors"):
            key = f"plans.aggregate.{name}"
            m[f"aggregate.{name}_s"] = t[key]
            m["aggregate.shuffle_bytes"] += span(key)["metrics"][
                "shuffle_write_bytes"]
        pend = "plans.checkpoint.ManifestStore.pending"
        m["checkpoint.pending_s"] = t[pend]
        m["checkpoint.pending_useful_ratio"] = f["pending_rows"] / f["rows"]
        m["checkpoint.watermark_rows"] = f["watermark_rows"]
        m["checkpoint.join_shuffle_bytes"] = float(
            span(pend)["metrics"]["shuffle_write_bytes"])
        m["checkpoint.current_state_s"] = t[
            "plans.checkpoint.ManifestStore.current_state"]
        m["checkpoint.append_s"] = t["plans.checkpoint.ManifestStore.append"]
        m["checkpoint.manifest_rows"] = f["manifest_rows"]

        # run_pipeline's own phase timings; pre-flight (resume scan, plan
        # building) is the rest of its wall time
        m["pipeline.pass1_s"] = pass1_s
        m["pipeline.pass2_read_s"] = phases["pass2_read_counts"]
        m["pipeline.aggregates_s"] = phases["aggregates"]
        m["pipeline.manifest_s"] = phases["manifest"]
        m["pipeline.preflight_s"] = report.elapsed_sec - sum(
            phases[k] for k in ("pass1_parse_route_write", "pass2_read_counts",
                                "aggregates", "manifest"))

        prog = f["stream_progress"]
        m["stream.batches"] = len(prog)
        m["stream.add_batch_s_p50"] = _med(
            p.durationMs["addBatch"] / 1e3 for p in prog)
        m["stream.source_rows_per_input_row"] = (
            sum(p.numInputRows for p in prog) / f["rows"])
        m["stream.query_planning_s"] = _med(
            p.durationMs["queryPlanning"] / 1e3 for p in prog)
        m["stream.wal_commit_s"] = _med(
            p.durationMs["walCommit"] / 1e3 for p in prog)
        return m


def engine_metrics(tracer: Tracer, op_span: str,
                   loop_gc_s: float) -> dict[str, float]:
    """Spark engine totals per timed operation (median over operations);
    GC is the JVM's collection time over the loop, per operation."""
    ops = tracer.named(op_span)

    def med(fn):
        return _med(fn(s) for s in ops)

    return {
        "spark.jobs": med(lambda s: len(tracer.subtree(s, "jobs"))),
        "spark.tasks": med(lambda s: s["metrics"]["tasks"]),
        "spark.task_attempts_per_task": med(
            lambda s: s["metrics"]["task_attempts"] / s["metrics"]["tasks"]
            if s["metrics"]["tasks"] else 0.0),
        "spark.executor_run_s": med(lambda s: s["metrics"]["executor_run_s"]),
        "spark.executor_cpu_s": med(lambda s: s["metrics"]["executor_cpu_s"]),
        "spark.jvm_gc_s": loop_gc_s / len(ops),
        "spark.shuffle_read_bytes": med(
            lambda s: s["metrics"]["shuffle_read_bytes"]),
        "spark.shuffle_write_bytes": med(
            lambda s: s["metrics"]["shuffle_write_bytes"]),
        "spark.disk_spill_bytes": med(
            lambda s: s["metrics"]["disk_spill_bytes"]),
    }


def weak_scaling(spark_local1, head: str, work_dir: str, cpus: int,
                 full_turns_per_s: float) -> float:
    """Turns/s of ``local[cpus]`` (the sweep's batch run over ``head``) over
    ``cpus`` x the turns/s of ``local[1]`` running the same call over the
    1/cpus share of the same table (rows picked by a hash of conversation
    and turn), after one untimed run of that call: 1.0 = perfect weak
    scaling. Diagnostic only."""
    share = spark_local1.read.parquet(head).filter(
        F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(cpus)) == 0)
    run_pipeline(spark_local1, share, f"{work_dir}/warm", resume=True,
                 close_partitions=False)
    report = run_pipeline(spark_local1, share, f"{work_dir}/timed",
                          resume=True, close_partitions=False)
    return full_turns_per_s / (cpus * report.turns_per_sec)
