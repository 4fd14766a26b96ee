"""End-to-end batch pipeline: scan -> parse -> enrich -> route -> aggregate,
with per-partition lineage checkpointing and idempotent resume.

This is the Spark job equivalent of the reference's service topology
(/root/reference: blob-monitor -> ingest -> extraction -> sinks; SURVEY §3):
one DataFrame DAG per run instead of long-running Kafka consumers.

Execution shape (exactly two passes over the data):

  run_pipeline (batch face; the stream's foreachBatch replaces it):
    input (day/bucket partitioned)
      -> anti-join closed partitions from the lineage manifest   [resume]
      -> vectorized parse kernel (no shuffle)                    [parse]
      -> broadcast joins with role/tool dims (no shuffle)        [enrich]

  commit_run (shared by batch and stream):
    PASS 1 — ONE write partitioned by (category, day, bucket),
      with routed counts observed on the same job               [route]
      -> conservation check on the observed counts               [metrics]
    PASS 2 — read back the run's routed parquet; scans touch only the
    few columns each consumer needs, not the wide text payloads
      -> grouped/window aggregates                               [aggregate]
      -> per-(day,bucket) completion events -> manifest append   [checkpoint]

Rationale at 100 TB: caching the wide parsed frame for K sink writes (the
obvious design) spills heavily and re-reads text columns for every
aggregate; writing once and re-reading pruned columnar data is strictly
cheaper past trivial scale, and the routed table IS the product anyway.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.parse import parse_transcripts
from ..schemas import CATEGORIES
from ..util import ensure_min_partitions, fs_glob
from ..operators.router import (
    check_conservation,
    with_partition_cols,
    write_sinks_single_pass,
)
from .aggregate import (
    conv_turn_counts,
    hourly_error_rollup,
    per_tool_call_rates,
)
from .checkpoint import (
    SELF_CONTAINED_PREFIXES,
    ManifestStore,
    completion_events,
    new_run_id,
)
from .enrich import enrich_with_default_dims


@dataclass
class PipelineReport:
    run_id: str
    rows_in: int
    counts: dict[str, int]
    sink_paths: dict[str, str]
    elapsed_sec: float
    resumed_partitions_skipped: bool = False
    extras: dict = field(default_factory=dict)

    @property
    def turns_per_sec(self) -> float:
        return self.rows_in / self.elapsed_sec if self.elapsed_sec > 0 else 0.0


def _noop_report(run_id: str, t0: float) -> PipelineReport:
    return PipelineReport(
        run_id=run_id, rows_in=0, counts={}, sink_paths={},
        elapsed_sec=time.monotonic() - t0, resumed_partitions_skipped=True,
    )


# the columns pass 2 reads back: the aggregates' and completion events'
# inputs, never the wide text payloads
SLIM_COLS = ["conv_id", "turn_idx", "role", "ts", "category", "tool_name",
             "tool_status", "tool_latency_ms", "day", "bucket"]


def _write_aggregates(routed: DataFrame, base_path: str,
                      phases: dict[str, float]) -> None:
    """The three aggregates are independent consumers of the same
    (persisted) slim scan: submit them from a small thread pool so each
    job's straggler tail is back-filled by the next job's tasks (Spark's
    scheduler runs concurrently submitted jobs side by side). Cache fill
    is safe under concurrency — BlockManager serializes per-partition
    computes. Job descriptions are thread-local, so the UI stays
    labeled."""

    def _write_agg(item):
        name, frame = item
        ta = time.monotonic()
        frame.write.mode("overwrite").parquet(f"{base_path}/agg/{name}")
        return name, round(time.monotonic() - ta, 2)

    with ThreadPoolExecutor(max_workers=3) as pool:
        for name, sec in pool.map(
            _write_agg,
            [
                ("conv_turn_counts", conv_turn_counts(routed)),
                ("tool_rates", per_tool_call_rates(routed)),
                ("hourly_errors", hourly_error_rollup(routed)),
            ],
        ):
            phases[f"agg_{name}"] = sec


def commit_run(
    enriched: DataFrame,
    base_path: str,
    run_id: str,
    status: str = "closed",
    write_aggregates: bool = True,
    superseded_asof: datetime | None = None,
) -> PipelineReport:
    """Commit a parsed, enriched frame as run ``run_id`` under
    ``base_path`` — the one commit path of batch runs and stream
    micro-batches alike:

    1. PASS 1: one write into the run's own ``sinks/routed/runid=`` dir,
       with the router counts attached as OBSERVED METRICS on the same job
       (A4 metrics-collector analog, factories.go:112-139) — zero extra
       jobs for the conservation check.
    2. PASS 2: a slim read-back of that dir, persisted only when the
       aggregates share it with the completion events.
    3. the aggregates, when ``write_aggregates``.
    4. per-(day, bucket) completion events with ``status`` ("open" keeps
       the partition resumable mid-way, from the chunk's turn watermark),
       stamped with ``superseded_asof`` for self-contained runs, appended
       to the manifest: the commit point that makes the run visible.

    Delivery is recorded only after the write (worker.go:416-509): a
    crash before the append leaves an invisible dir, and a replayed
    run_id overwrites its own dir while the manifest fold dedupes its
    events on run_id. An empty frame writes no partition dir and commits
    nothing.
    """
    t0 = time.monotonic()
    spark = enriched.sparkSession
    phases: dict[str, float] = {}
    obs = Observation(f"router_counts_{run_id}")
    observed = enriched.observe(
        obs,
        *[
            F.sum(F.when(F.col("category") == c, 1).otherwise(0)).alias(c)
            for c in CATEGORIES
        ],
    )
    sink_paths = write_sinks_single_pass(
        observed, f"{base_path}/sinks", run_id=run_id
    )
    phases["pass1_parse_route_write"] = round(time.monotonic() - t0, 2)
    run_dir = f"{base_path}/sinks/routed/runid={run_id}"
    # an empty input optimizes the observed aggregate away (the
    # observation then holds no row) and leaves a dir without data files
    if not fs_glob(spark, f"{run_dir}/category=*"):
        return _noop_report(run_id, t0)

    tp = time.monotonic()
    counts = check_conservation({c: n for c, n in obs.get.items() if n})
    routed = (
        spark.read.option("basePath", f"{base_path}/sinks/routed")
        .parquet(run_dir)
        .select(*SLIM_COLS)
    )
    if write_aggregates:
        # 4 consumers share one cached scan; A/B on a 4x8 cluster (12M
        # turns): aggregates+manifest 4.3-5.6 s cached vs 6.5-13.2 s not.
        # A lone consumer gains nothing from the cache store.
        routed = routed.persist()
    phases["pass2_read_counts"] = round(time.monotonic() - tp, 2)
    try:
        tp = time.monotonic()
        if write_aggregates:
            _write_aggregates(routed, base_path, phases)
        phases["aggregates"] = round(time.monotonic() - tp, 2)

        tp = time.monotonic()
        # partition inference reads day= back as a date: re-derive the
        # writer's string day and bucket
        events = completion_events(
            with_partition_cols(routed), run_id, status=status
        )
        if superseded_asof is not None:
            events = events.withColumn(
                "superseded_asof", F.lit(superseded_asof).cast("timestamp")
            )
        ManifestStore(f"{base_path}/_manifest").append(events)
        phases["manifest"] = round(time.monotonic() - tp, 2)
    finally:
        routed.unpersist()

    return PipelineReport(
        run_id=run_id,
        rows_in=counts["total"],
        counts=counts,
        sink_paths=sink_paths,
        elapsed_sec=time.monotonic() - t0,
        extras={"phases": phases},
    )


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    base_path: str,
    run_id: str | None = None,
    resume: bool = True,
    write_aggregates: bool = True,
    close_partitions: bool = True,
) -> PipelineReport:
    """Run the full pipeline over ``transcripts``; outputs under ``base_path``.

    Resume skips what the manifest already holds, then parse and enrich
    feed ``commit_run``. Idempotence contract: each run writes its own
    ``runid=`` snapshot dir and the manifest append is its commit point —
    a crashed run re-executed on the same inputs converges to the same
    state (X3/X9/X10 in SURVEY §4).
    """
    t0 = time.monotonic()
    # Self-contained runs record the instant they started reading their
    # source as the supersession boundary (see ManifestStore.visible_runs):
    # a chunk that commits while this full reprocess is running stays
    # visible rather than being hidden by the later commit timestamp.
    read_asof = datetime.now(timezone.utc)
    # resume=False reprocesses WHOLE partitions, so its rows overlap any
    # earlier commits of the same partitions: its run id must carry a
    # self-contained prefix (checkpoint.SELF_CONTAINED_PREFIXES; the
    # auto-generated one is "full") so reads and compaction take this run
    # as the partition's complete row set instead of unioning it with the
    # runs it superseded.
    if run_id is None:
        run_id = new_run_id() if resume else "full" + new_run_id()
    elif not resume and not run_id.startswith(SELF_CONTAINED_PREFIXES):
        raise ValueError(
            f"a full reprocess (resume=False) run_id must carry a "
            f"self-contained prefix ({'/'.join(SELF_CONTAINED_PREFIXES)}) "
            f"(got {run_id!r}) — its rows overlap every earlier commit of "
            "its partitions"
        )

    # Feed and BALANCE every core: compressed text inputs can collapse to
    # few read splits, and real inputs are Zipf-skewed by conversation — a
    # round-robin repartition to 2x cores evens both. Empirical rule, now
    # confirmed twice: 2.3x faster parse at 32 cores on a skewed
    # 33-partition input (r1), and 1.9x faster pass-1 at 4x8 executors on
    # a BALANCED 52-split input (1.6 ragged waves -> 2 clean waves; a
    # 1.25-wave threshold was tried and cost 2x, so low-wave-count
    # raggedness matters as much as skew). No-op at real scale where
    # inputs carry balanced >= 2x-cores splits.
    cores = spark.sparkContext.defaultParallelism
    todo = with_partition_cols(ensure_min_partitions(transcripts, cores * 2))
    if resume:
        todo = ManifestStore(f"{base_path}/_manifest").pending(
            spark, todo, routed_path=f"{base_path}/sinks/routed"
        )
        # cheap pre-flight: which (day, bucket) partitions does this run
        # own? (columnar scan of two small columns; no parse). Empty ->
        # resume no-op without touching the parse kernel at all.
        if not todo.select("day", "bucket").distinct().collect():
            return _noop_report(run_id, t0)

    enriched = enrich_with_default_dims(parse_transcripts(todo))
    # close_partitions=False records OPEN events with the chunk's turn
    # watermark: the next resume continues MID-PARTITION from turn > w
    # (the growing-blob tail model, processor.go:86-116); the final chunk
    # closes the latch.
    report = commit_run(
        enriched, base_path, run_id,
        status="closed" if close_partitions else "open",
        write_aggregates=write_aggregates,
        # a self-contained full reprocess stamps its read boundary
        superseded_asof=None if resume else read_asof,
    )
    report.elapsed_sec = time.monotonic() - t0
    return report
