"""Per-partition lineage manifest with idempotent resume.

Reference parity: the compacted ``Ingestion.BlobState`` topic + fold logic
(/root/reference/pipeline/blob-monitor/internal/service/
blob_state_processor.go:163-375 and configs/kafka_topics.yaml:5-9) and the
worker's resume-from-state loop (pipeline/ingest/internal/service/
worker.go:307-413). Semantics preserved:

- the manifest is an APPEND-ONLY event log of per-(day, bucket) completion
  events; current state = fold of the log (exactly how the reference replays
  the compacted topic into its in-memory map, :289-375);
- watermark is MONOTONIC — ``max`` over events, "never go backwards"
  (worker.go:378-385);
- counts are summed (totalLinesIngested accumulation, :255);
- the open->closed status latch never reopens (:195-198, :224);
- duplicate deliveries are idempotent: events are deduped on
  (day, bucket, run_id) before folding (at-least-once + idempotent keys,
  docs/trace-model.md:50-57).

Scale notes: the manifest holds one row per (day, bucket) partition — for a
10^12-turn table with days(ts) x bucket(16) that is thousands of rows, so
fold + anti-join are trivially broadcastable; the data-side writes stay
partition-parallel and the driver never touches row-level data.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.errors import AnalysisException

from ..schemas import MANIFEST_SCHEMA
from ..util import hadoop_fs

KEY = ["day", "bucket"]

# Run-id prefixes that declare a run SELF-CONTAINED: it holds its
# partitions' ENTIRE row set, superseding every run committed before it
# ("compact" = maintenance snapshot from compact_routed, "full" = forced
# whole-partition reprocess). Everything else is a CHUNK (disjoint append:
# resume tails, streaming batch-N micro-batches). The distinction is what
# lets reads and compaction union chunk runs without double counting
# overlapping whole-partition runs.
SELF_CONTAINED_PREFIXES = ("compact", "full")


def is_self_contained(run_col: Column) -> Column:
    """Column predicate: does this run_id declare a self-contained run?"""
    cond = F.lit(False)
    for p in SELF_CONTAINED_PREFIXES:
        cond = cond | run_col.startswith(p)
    return cond


def new_run_id() -> str:
    """Letter-prefixed so the id can NEVER be number-like. run_id is a
    partition directory value (``runid=<id>``), and Spark's partition-value
    type inference parses bare values: an all-digit hex id silently infers
    as LONG (string comparisons in read_routed then match nothing), and a
    ``<digits>e<digits>`` id parses as scientific notation whose
    Decimal(10^huge) materialization livelocks the driver for hours
    (observed: runid with exponent 8e8 pinned a driver core >45 min in
    BigInteger.pow). ~1 in 130 uuid-hex 12-char prefixes hits one of the
    two. The leading letter forces string inference."""
    return "r" + uuid.uuid4().hex[:11]


@dataclass(frozen=True)
class ManifestSnapshot:
    """Driver-side view of one manifest version — the one resolver of
    what is committed. Per bucket, the (run_id, day) pairs of the visible
    data runs (``visible``, the ``visible_runs`` rule) that every read,
    resume, compaction and vacuum resolves; the (day, bucket) partitions
    whose status latch is ``closed`` (seal-only partitions included); and
    the routed table's schema (None while no visible run holds data)."""

    visible: dict[int, list[tuple[str, str]]]
    closed: frozenset[tuple[str, int]]
    schema: StructType | None


# manifest path -> (version, snapshot); see ManifestStore.snapshot
_SNAPSHOTS: dict[str, tuple[tuple, ManifestSnapshot]] = {}


class ManifestStore:
    """Append-only lineage manifest over a parquet directory."""

    def __init__(self, path: str):
        self.path = path

    def append(self, events: DataFrame) -> None:
        """Append completion events (schema = MANIFEST_SCHEMA; optional
        trailing fields like ``superseded_asof`` are null-filled so
        chunk-event producers don't have to carry them)."""
        for f in MANIFEST_SCHEMA.fields:
            if f.name not in events.columns:
                events = events.withColumn(f.name, F.lit(None).cast(f.dataType))
        events.select([f.name for f in MANIFEST_SCHEMA.fields]).write.mode(
            "append"
        ).parquet(self.path)

    def _read_log(self, spark: SparkSession) -> DataFrame:
        try:
            return spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)
        except AnalysisException:
            return spark.createDataFrame([], MANIFEST_SCHEMA)

    def _log_asof(self, spark: SparkSession, asof=None) -> DataFrame:
        """The event log, optionally truncated to commits at or before
        ``asof`` — an append-only log makes time travel a filter."""
        log = self._read_log(spark)
        if asof is not None:
            log = log.filter(F.col("updated_at") <= F.lit(asof))
        return log

    def current_state(self, spark: SparkSession, asof=None) -> DataFrame:
        """Fold the event log into latest state per (day, bucket).
        ``asof`` (datetime) folds only events committed at or before that
        instant — the table state as a past reader saw it."""
        return fold_manifest(self._log_asof(spark, asof))

    def committed_runs(self, spark: SparkSession) -> DataFrame:
        """Every committed (day, bucket, run_id) triple in the log —
        the full snapshot lineage (includes superseded runs; most readers
        want ``visible_runs``)."""
        return self._read_log(spark).select(*KEY, "run_id").dropDuplicates()

    def visible_runs(self, spark: SparkSession, asof=None) -> DataFrame:
        """(day, bucket, run_id) triples that together hold each
        partition's complete current row set, under the supersede
        convention: the LATEST self-contained run (``compact``/``full``
        prefix — see SELF_CONTAINED_PREFIXES) anchors the partition and
        hides every run committed before it; chunk runs committed after
        the anchor still append; with no anchor, every committed chunk is
        visible (disjoint appends); seal latches hold no data and are
        never visible. This is what every read, resume, compaction and
        vacuum resolves — ``committed_runs`` would double-count
        partitions that carry overlapping whole-partition runs (a forced
        reprocess, or a compaction whose superseded chunks have not been
        vacuumed yet).

        Supersession ordering: a self-contained run hides only what it
        actually consolidated — its boundary is ``superseded_asof`` (the
        wall-clock instant it READ its sources, recorded by
        compact_routed / full reprocess) falling back to commit time for
        pre-r5 events. A chunk that commits while a compaction is in
        flight therefore stays visible (its commit time is after the
        compactor's read boundary) instead of being lost to the anchor
        and then vacuum-deleted. Residual caveat: two concurrent
        MAINTENANCE writers are still undefined (single maintenance
        writer at a time; normal chunk writers are safe).

        ``asof`` (datetime) evaluates visibility against only the events
        committed at or before that instant — snapshot time travel (the
        Iceberg TIMESTAMP AS OF analog): runs committed later do not
        exist, later anchors do not supersede, vacuumed-away history is
        of course gone (retention = what vacuum has not yet reclaimed).

        Scale: manifest-sized frames throughout (one row per partition
        per run); the anchor is a window over the partition's runs."""
        return self._run_flags(spark, asof).filter(
            F.col("_visible") & F.col("_data")
        ).select(*KEY, "run_id")

    def _run_flags(self, spark: SparkSession, asof=None) -> DataFrame:
        """One row per (day, bucket, run_id) with three flags:
        ``_visible`` (the supersede rule of ``visible_runs``), ``_data``
        (the run carries counts, i.e. it is not a seal latch) and
        ``_closed`` (it carries a closed event)."""
        per_run = (
            self._log_asof(spark, asof)
            .groupBy(*KEY, "run_id")
            .agg(
                F.max("updated_at").alias("_ts"),
                F.min("superseded_asof").alias("_asof"),
                F.max(F.col("rows_processed").isNotNull()).alias("_data"),
                F.max(F.col("status") == "closed").alias("_closed"),
            )
            .withColumn("_sc", is_self_contained(F.col("run_id")))
            .withColumn("_b", F.coalesce("_asof", "_ts"))
            # the partition's anchor: its latest self-contained run
            .withColumn("_a", F.max(F.when(
                F.col("_sc"), F.struct("_b", F.col("run_id").alias("_rid"))
            )).over(Window.partitionBy(*KEY)))
        )
        return per_run.select(
            *KEY, "run_id", "_data", "_closed",
            (
                F.col("_a").isNull()
                | (F.col("run_id") == F.col("_a._rid"))
                | ((~F.col("_sc")) & (F.col("_ts") > F.col("_a._b")))
            ).alias("_visible"),
        )

    def _version(self, spark: SparkSession) -> tuple:
        """(name, length, mtime) of every part file — one Hadoop
        ``listStatus``. Appends only ever add part files, so any commit
        changes it; empty when nothing was ever committed."""
        fs, path = hadoop_fs(spark, self.path)
        if not fs.exists(path):
            return ()
        return tuple(sorted(
            (s.getPath().getName(), s.getLen(), s.getModificationTime())
            for s in fs.listStatus(path)
            if not s.getPath().getName().startswith(("_", "."))
        ))

    def snapshot(
        self, spark: SparkSession, routed_path: str, asof=None
    ) -> ManifestSnapshot:
        """The manifest folded once per version into a driver-side
        ``ManifestSnapshot`` — the reference processor's in-memory map,
        rebuilt from the compacted topic only when it changed
        (blob_state_processor.go:289-375). A cache hit costs one listing
        of the manifest dir and no Spark job; a miss makes one collect of
        the per-run visibility flags (manifest-sized) and reads one footer
        of ``routed_path`` for the schema. The version is taken
        BEFORE the fold, so a commit racing the fold can only make the
        cached snapshot newer than its key, never staler. ``asof`` reads
        bypass the cache. A manifest with no commit is the empty snapshot,
        without a read."""
        version = self._version(spark)
        if not version:
            return ManifestSnapshot({}, frozenset(), None)
        if asof is not None:
            return self._fold_snapshot(spark, routed_path, asof)
        key = (routed_path, version)
        hit = _SNAPSHOTS.get(self.path)
        if hit is not None and hit[0] == key:
            return hit[1]
        snap = self._fold_snapshot(spark, routed_path)
        _SNAPSHOTS[self.path] = (key, snap)
        return snap

    def _fold_snapshot(
        self, spark: SparkSession, routed_path: str, asof=None
    ) -> ManifestSnapshot:
        from ..operators.router import routed_schema

        rows = self._run_flags(spark, asof=asof).filter(
            F.col("_visible") | F.col("_closed")
        ).collect()
        visible: dict[int, list[tuple[str, str]]] = {}
        for r in sorted(rows, key=lambda r: (r["run_id"], r["day"])):
            if r["_visible"] and r["_data"]:
                visible.setdefault(r["bucket"], []).append(
                    (r["run_id"], r["day"])
                )
        closed = frozenset(
            (r["day"], r["bucket"]) for r in rows if r["_closed"]
        )
        return ManifestSnapshot(
            visible, closed, routed_schema(spark, routed_path, visible)
        )

    def seal_partitions(
        self, spark: SparkSession, before_day: str | None = None
    ) -> list[tuple[str, int]]:
        """Seal open partitions: append a pure status latch (closed, NULL
        counts, no data directory) for every currently-open (day, bucket)
        — all of them, or only days strictly before ``before_day``. The
        streaming operational loop is: tail appends chunk runs -> seal
        days that have ended -> compact_routed consolidates the sealed
        partitions -> vacuum_superseded reclaims the chunks. Without
        sealing, chunk-committed partitions stay open forever and are
        never compactable (compact_routed only touches closed ones).

        The latch never reopens, so sealing is idempotent; a seal event
        carries NULL counts, so it is a latch, not a data run: it closes
        the partition without ever being visible (``visible_runs``). Late
        chunks arriving after the seal are the operator's contract to
        avoid — batch resume anti-joins sealed partitions, and the
        streaming writer appends regardless (the same close-latch
        semantics as the reference's blob state processor).

        Returns the (day, bucket) pairs sealed.
        """
        open_parts = self.current_state(spark).filter(
            F.col("status") == "open"
        )
        if before_day is not None:
            open_parts = open_parts.filter(F.col("day") < before_day)
        todo = [(r["day"], r["bucket"]) for r in
                open_parts.select(*KEY).collect()]
        if not todo:
            return []
        run_id = f"seal{new_run_id()[:8]}"
        events = spark.createDataFrame(
            [(d, b, "closed", run_id) for d, b in todo],
            "day string, bucket int, status string, run_id string",
        ).withColumn("updated_at", F.current_timestamp())
        self.append(events)
        return todo

    def pending(
        self,
        spark: SparkSession,
        partitioned_input: DataFrame,
        routed_path: str,
    ) -> DataFrame:
        """Rows still needing ingestion — TWO granularities, mirroring the
        reference's resume ladder (worker.go:346-351 partition skip +
        processor.go:86-116 mid-blob offset resume), both resolved from
        the cached manifest snapshot (``snapshot``):

        - CLOSED (day, bucket) partitions drop entirely (broadcast
          anti-join against the snapshot's closed set);
        - OPEN partitions resume MID-PARTITION at PER-CONVERSATION
          granularity: the snapshot's visible runs of the open partitions
          — and only those — are scanned through the routed read's
          path-scoped scan (``router._scan_runs``) for each conversation's
          max ingested ``turn_idx``, and only rows beyond their own
          conversation's watermark flow. This is the exact analog of the
          reference's per-blob ``lastIngestedOffset`` (one offset per
          stream, not per partition): conversations that advance unevenly
          within one (day, bucket) partition never lose rows to a
          partition-wide max. Orphan run dirs are never listed;
        - unseen partitions / unseen conversations flow whole.

        Scale: the closed set is manifest-sized (one row per partition)
        -> broadcast; the per-conversation watermark frame is one row per
        conversation in the OPEN partitions only (the recent tail, a sliver
        of the table) and joins distributed — never collected.
        """
        from ..operators.router import _scan_runs

        snap = self.snapshot(spark, routed_path)
        closed = spark.createDataFrame(
            sorted(snap.closed), "day string, bucket int"
        )
        out = partitioned_input.join(F.broadcast(closed), on=KEY, how="left_anti")
        open_runs = {
            bucket: [(r, d) for r, d in pairs if (d, bucket) not in snap.closed]
            for bucket, pairs in snap.visible.items()
        }
        if not any(open_runs.values()):
            return out
        conv_wm = (
            _scan_runs(spark, routed_path, snap, open_runs)
            .groupBy(*KEY, "conv_id")
            .agg(F.max("turn_idx").alias("_cwm"))
        )
        return (
            out.join(conv_wm, on=KEY + ["conv_id"], how="left")
            .filter(F.col("_cwm").isNull() | (F.col("turn_idx") > F.col("_cwm")))
            .drop("_cwm")
        )


def fold_manifest(log: DataFrame) -> DataFrame:
    """Pure fold of a completion-event log into latest state per
    (day, bucket) — the compacted-topic replay semantics
    (blob_state_processor.go:163-375): status latch (closed never reopens),
    MONOTONIC watermark (max; worker.go:378-385 "never go backwards"),
    summed counters, first/last observed, latest-wins run metadata.
    Duplicate deliveries dedup on (day, bucket, run_id) first
    (at-least-once + idempotent keys)."""
    log = log.dropDuplicates(KEY + ["run_id"])
    return log.groupBy(*KEY).agg(
        # status latch: closed wins and never reopens
        F.when(F.max(F.when(F.col("status") == "closed", 1).otherwise(0)) == 1,
               F.lit("closed")).otherwise(F.lit("open")).alias("status"),
        F.max("max_turn_watermark").alias("max_turn_watermark"),  # monotonic
        F.sum("rows_processed").alias("rows_processed"),
        F.sum("rows_routed").alias("rows_routed"),
        F.sum("rows_skipped").alias("rows_skipped"),
        F.sum("rows_error").alias("rows_error"),
        F.min("first_processed_ts").alias("first_processed_ts"),
        F.max("last_processed_ts").alias("last_processed_ts"),
        # latest-wins run meta over DATA-CARRYING events only (pure latch
        # events — seal_partitions, NULL counts — flip the status but are
        # skipped: max_by ignores rows whose ordering key is null). The
        # column is informational: reads resolve rows from visible_runs,
        # never from this run_id.
        F.max_by(
            "run_id",
            F.when(F.col("rows_processed").isNotNull(), F.col("updated_at")),
        ).alias("run_id"),
        F.max("updated_at").alias("updated_at"),
    )


def completion_events(
    parsed_with_parts: DataFrame, run_id: str, status: str = "closed"
) -> DataFrame:
    """Per-(day,bucket) completion events from one processed batch —
    BlobCompletionEvent analog (events/blob.go:46-54: fromOffset/toOffset/
    linesSent -> watermark/counts)."""
    return (
        parsed_with_parts.groupBy(*KEY)
        .agg(
            F.max("turn_idx").cast("long").alias("max_turn_watermark"),
            F.count("*").alias("rows_processed"),
            F.sum(
                F.when(~F.col("category").isin("skipped"), 1).otherwise(0)
            ).alias("rows_routed"),
            F.sum(F.when(F.col("category") == "skipped", 1).otherwise(0)).alias(
                "rows_skipped"
            ),
            F.sum(
                F.when(F.col("category").isin("error", "parse_error"), 1).otherwise(0)
            ).alias("rows_error"),
            F.min("ts").alias("first_processed_ts"),
            F.max("ts").alias("last_processed_ts"),
        )
        .withColumn("status", F.lit(status))
        .withColumn("run_id", F.lit(run_id))
        .withColumn("updated_at", F.current_timestamp())
    )
