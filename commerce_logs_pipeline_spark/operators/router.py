"""Rule-driven multi-sink router with count reconciliation.

Reference parity: the extraction service's type dispatch + per-topic fan-out
(/root/reference/pipeline/extraction/internal/service/service.go:312-344,
proxy_service.go:280-313, error sink :405-444) and the ingest topic chooser
(processor.go:36-41). Spark has no native multi-output write, so the router
is ONE write partitioned by (category, day, bucket): a sink is the union of
its category partitions (``write_sinks_single_pass``). The conservation
invariant  Σ sinks + skips = input  mirrors the reference's success-counting
of silent skips (service.go:232-235).

Scale notes: the (day, bucket(conv_id)) partitions are the Iceberg
``days(ts), bucket(16, conv_id)`` layout, so downstream reads prune.
"""

from __future__ import annotations

from datetime import datetime, timezone
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import PARSED_SCHEMA

# Sink name -> categories routed into it (FIXTURES.md §4 routed_counts).
DEFAULT_SINKS: dict[str, list[str]] = {
    "errors": ["error", "parse_error"],
    "tool_calls": ["tool_call"],
    "proxy_logs": ["proxy"],
    "http_logs": ["http"],
    "app_logs": ["app", "container"],
    "user_turns": ["user_turn"],
    "assistant_turns": ["assistant_turn"],
}
# "skipped" is deliberately not a sink: silently dropped but counted
# (service.go:232-235 semantics).

N_BUCKETS = 16


def with_partition_cols(df: DataFrame) -> DataFrame:
    """Add Iceberg-style partition transforms: days(ts) + bucket(conv_id)."""
    return df.withColumn("day", F.date_format("ts", "yyyy-MM-dd")).withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(N_BUCKETS)).cast("int")
    )


# XXH64 primes and Spark's hash seed; arithmetic is mod 2^64 like the
# JVM's long
_SEED = 42
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxhash64(data: bytes) -> int:
    """Spark's ``xxhash64`` of a string column, on the driver: XXH64 of
    the UTF-8 bytes with Spark's seed 42 (``XXH64.hashUnsafeBytes``:
    32-byte stripes, then 8-byte lanes, one 4-byte lane, single bytes),
    returned as the signed long Spark yields."""
    n, i = len(data), 0
    if n >= 32:
        v = [(_SEED + _P1 + _P2) & _M64, _SEED + _P2, _SEED,
             (_SEED - _P1) & _M64]
        while i <= n - 32:
            v = [_xxh_round(acc, int.from_bytes(data[i + 8 * k:i + 8 * k + 8],
                                                "little"))
                 for k, acc in enumerate(v)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for acc in v:
            h = ((h ^ _xxh_round(0, acc)) * _P1 + _P4) & _M64
    else:
        h = _SEED + _P5
    h = (h + n) & _M64
    while i <= n - 8:
        h ^= _xxh_round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i:i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= data[i] * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
        i += 1
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def conv_bucket(conv_id: str) -> int:
    """The ``bucket`` ``with_partition_cols`` writes for ``conv_id``
    (``pmod(xxhash64(conv_id), N_BUCKETS)``), computed without a job."""
    return xxhash64(conv_id.encode("utf-8")) % N_BUCKETS


# Routed-table schema when no committed run holds data yet: the parsed
# columns, then the partition columns as partition inference types them.
_EMPTY_ROUTED_SCHEMA = T.StructType(
    [f for f in PARSED_SCHEMA.fields if f.name != "category"]
    + [
        T.StructField("runid", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("day", T.DateType()),
        T.StructField("bucket", T.IntegerType()),
    ]
)


def bucket_files(
    spark, root: str, run_id: str, day: str, bucket: int
) -> list[str]:
    """Data files of one run's (day, bucket) across categories: one
    Hadoop ``globStatus``."""
    from ..util import fs_glob

    return fs_glob(
        spark,
        f"{root}/runid={run_id}/category=*/day={day}/bucket={bucket}/*.parquet",
    )


def routed_schema(
    spark, root: str, runs: dict[int, list[tuple[str, str]]]
) -> T.StructType | None:
    """The routed table's schema, read from the footer of ONE data file of
    ``runs`` (bucket -> (run_id, day) pairs) with ``basePath`` at the
    routed root, so the partition columns type exactly as a read of the
    whole root infers them. None when no listed run has a data file."""
    for bucket, pairs in sorted(runs.items()):
        for run_id, day in pairs:
            files = bucket_files(spark, root, run_id, day, bucket)
            if files:
                return (
                    spark.read.option("basePath", root).parquet(files[0])
                    .schema
                )
    return None


def routed_counts(parsed: DataFrame) -> DataFrame:
    """(category, n) — one job computes every sink/skip count at once."""
    return parsed.groupBy("category").agg(F.count("*").alias("n"))


def check_conservation(by_cat: dict[str, int],
                       sinks: dict[str, list[str]] | None = None
                       ) -> dict[str, int]:
    """Assert Σ rows(sinks) + rows(skipped) == Σ rows over ``by_cat``
    (category -> row count, e.g. the router counts observed on the write
    job) and return the per-sink counts plus ``skipped`` and ``total``."""
    sinks = sinks or DEFAULT_SINKS
    out = {f"sink:{name}": sum(by_cat.get(c, 0) for c in cats)
           for name, cats in sinks.items()}
    out["skipped"] = by_cat.get("skipped", 0)
    out["total"] = sum(by_cat.values())
    routed = sum(out[f"sink:{n}"] for n in sinks)
    if routed + out["skipped"] != out["total"]:
        raise AssertionError(
            f"router conservation violated: total={out['total']} "
            f"routed={routed} skipped={out['skipped']} by_cat={by_cat}"
        )
    return out


def write_sinks_single_pass(
    parsed: DataFrame,
    base_path: str,
    run_id: str = "run0",
    sort_cols: tuple[str, ...] | None = None,
) -> dict[str, str]:
    """ONE write job, partitioned by (category, day, bucket): every sink
    lands in its category partition directories in a single pass over the
    parsed frame — the multi-output write the reference does with K Kafka
    producers (S5), collapsed into one Spark job. It is the only writer
    of routed run dirs: ingest (``commit_run``) writes through it
    unsorted, and compaction (``compact_routed``) rewrites closed
    partitions through it with ``sort_cols=("conv_id", "turn_idx")``.
    Either way every (category, day, bucket) dir gets exactly one file.

    Snapshot discipline (Iceberg-commit analog without the runtime jar):
    each run writes into its OWN ``runid={run_id}`` directory with a fast
    task-side commit; the lineage manifest append afterwards is the atomic
    commit point. Dynamic partition overwrite is deliberately NOT used —
    its job commit renames every partition dir serially on the driver
    (~45 ms/dir; measured 45 s for 960 dirs), a hard scaling ceiling.
    Readers resolve the visible runs per (day, bucket) from the
    manifest (``read_routed``), so uncommitted/crashed run dirs are simply
    never visible — replays converge without overwrites.

    A "sink" is the union of its category partitions; read one with
    ``read_sink``. category='skipped' rows are written too (their
    partition is NOT any sink — silent-drop-but-counted semantics,
    service.go:232-235) so counts/manifest/aggregates all derive from the
    written output without re-parsing or caching the wide frame.
    """
    if not (run_id and run_id[0].isalpha()):
        # runid is a partition directory value; a number-like id trips
        # Spark partition-value type inference (all-digits -> LONG column
        # that breaks string matching; <digits>e<digits> -> scientific
        # notation whose Decimal expansion livelocks the driver). See
        # checkpoint.new_run_id.
        raise ValueError(
            f"run_id must start with a letter (got {run_id!r}): number-like "
            "partition values break Spark's partition type inference"
        )
    run_path = f"{base_path}/routed/runid={run_id}"
    spark = parsed.sparkSession

    def _apply_sort_cols(d: DataFrame) -> DataFrame:
        # A typo in sort_cols must not silently produce UNCLUSTERED files
        # (defeating the point-read layout the caller asked for): fail
        # loudly instead of skipping the sort.
        if not sort_cols:
            return d
        missing = [c for c in sort_cols if c not in d.columns]
        if missing:
            raise ValueError(
                f"sort_cols {missing} not in frame columns; "
                "ingest-time clustering would be silently skipped"
            )
        return d.sortWithinPartitions("category", "day", "bucket", *sort_cols)
    # Write-task count sized by shuffle partitioning, floored at the core
    # count: fewer tasks than shuffle.partitions makes each task sort its
    # whole slice of the run in memory (dynamic-partition writes sort by
    # partition cols) and spill — measured 3x slower pass1 at 8 cores.
    n_tasks = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
    )
    (
        with_partition_cols(parsed)
        # hash-distribute on the partition key before the write (the
        # Iceberg write.distribution-mode=hash analog): each (day, bucket)
        # group lands in exactly one task, so every (category, day,
        # bucket) dir gets exactly one file instead of one per task.
        .repartition(n_tasks, "day", "bucket")
        # Optional file clustering (sort_cols): extends the writer's
        # required partition-column sort with e.g. (conv_id, turn_idx)
        # for parquet row-group min/max skipping on point reads. Ingest
        # passes none — the wider sort key measured ~10% on pass-1 wall
        # time (interleaved A/B at 4M turns: 27.0/29.2 s sorted vs
        # 25.8/25.4 unsorted) — and compaction passes (conv_id, turn_idx),
        # the Iceberg posture of clustering at COMPACTION, not ingest.
        .transform(_apply_sort_cols)
        .write.mode("overwrite")
        # static overwrite of this run's own dir (v2 task-side commit);
        # NEVER the serial dynamic-partition staging path
        .option("partitionOverwriteMode", "static")
        .partitionBy("category", "day", "bucket")
        .parquet(run_path)
    )
    # Hadoop-glob paths: each sink reads exactly its category partitions
    # (read via read_sink(), which sets basePath for partition discovery)
    return {
        name: f"{run_path}/category={{{','.join(cats)}}}"
        for name, cats in DEFAULT_SINKS.items()
    }


def read_sink(spark, sink_path: str) -> DataFrame:
    """Read a sink written by write_sinks_single_pass (glob of category
    partition dirs inside one run dir). basePath points at the routed root
    so runid/day/bucket/category partition columns resolve and partition
    pruning applies."""
    base = sink_path.split("/runid=")[0]
    return spark.read.option("basePath", base).parquet(sink_path)


def _read_paths(spark, root: str, schema: T.StructType | None,
                paths: list[str]) -> DataFrame:
    """Scan explicit routed-table paths with the snapshot's schema (no
    inference job) and ``basePath`` at the routed root, so runid,
    category, day and bucket resolve from the paths. No paths read as an
    empty frame of that schema."""
    reader = spark.read.schema(schema or _EMPTY_ROUTED_SCHEMA)
    if not paths:
        return reader.parquet()
    return reader.option("basePath", root).parquet(*paths)


def read_routed(spark, pipeline_base: str, asof=None) -> DataFrame:
    """Authoritative snapshot read of the routed table — the reader-side
    half of the Iceberg-style commit protocol. Uncommitted run dirs
    (crashed before their manifest append) are never visible.

    The rows are those of every VISIBLE committed run
    (``ManifestStore.visible_runs``): chunk runs append disjoint row sets
    (batch_id-keyed run dirs make replays overwrite themselves, so no
    duplicates), and a self-contained run (``compact``/``full`` prefix)
    supersedes all runs committed before it, so compacted-but-not-yet-
    vacuumed partitions and forced reprocesses read exactly once. The
    result depends only on what was committed, not on whether it arrived
    as one run, resume chunks or stream micro-batches.

    ``asof`` (datetime): TIME TRAVEL — resolve the snapshot a reader saw
    at that instant (the Iceberg TIMESTAMP AS OF analog; an append-only
    manifest makes this a filter on commit time). History reaches back as
    far as vacuum has not yet reclaimed superseded run dirs.

    Mechanism: the visible (run, day, bucket) triples come from the
    cached driver-side manifest snapshot (``ManifestStore.snapshot``; no
    fold job unless the manifest changed) and are scanned by
    ``_scan_runs``, the committed-run scan that resume shares: only the
    ``runid=`` dirs the snapshot references are handed to the scan, with
    the snapshot's schema, so orphan and unreferenced run dirs are never
    listed. A base with no commit reads as an empty frame.
    """
    from ..plans.checkpoint import ManifestStore

    root = f"{pipeline_base}/sinks/routed"
    snap = ManifestStore(f"{pipeline_base}/_manifest").snapshot(
        spark, root, asof=asof
    )
    return _scan_runs(spark, root, snap, snap.visible)


def _scan_runs(spark, root: str, snap, runs: dict[int, list[tuple[str, str]]]
               ) -> DataFrame:
    """Rows of the (run_id, day) pairs per bucket in ``runs``, resolved
    from the manifest snapshot ``snap``. Only the referenced ``runid=``
    dirs that exist are scanned (seal latches are runs without a data
    dir), with the snapshot's schema; the (run, day, bucket) triples
    become a filter on partition columns that prunes those runs' other
    (day, bucket) dirs before any data IO. No pairs read as an empty
    frame."""
    from ..util import fs_glob

    triples = [
        f"{run_id}\x1f{day}\x1f{bucket}"
        for bucket, pairs in runs.items() for run_id, day in pairs
    ]
    referenced = {run_id for pairs in runs.values() for run_id, _ in pairs}
    run_dirs = [
        d for d in fs_glob(spark, f"{root}/runid=*")
        if d.rstrip("/").rsplit("=", 1)[-1] in referenced
    ]
    routed = _read_paths(spark, root, snap.schema, run_dirs)
    key = F.concat_ws("\x1f", F.col("runid"), F.col("day"),
                      F.col("bucket").cast("string"))
    return routed.filter(key.isin(triples))


def read_conversation(
    spark,
    pipeline_base: str,
    conv_id: str,
    incremental: bool = True,
) -> DataFrame:
    """Point read of one conversation from the routed table, touching only
    the metadata and files it needs (``incremental`` is accepted only as
    True, the one visibility rule, for callers that still pass it):

    1. **Bucket on the driver**: bucket is a pure function of conv_id
       (``pmod(xxhash64(conv_id), N_BUCKETS)``, with_partition_cols);
       ``conv_bucket`` recomputes it with a Python port of Spark's hash.
    2. **Snapshot, not fold**: the bucket's visible (run, day) pairs come
       from the cached manifest snapshot (``ManifestStore.snapshot``).
    3. **Exact files**: one ``globStatus`` per pair
       (``runid=R/category=*/day=D/bucket=B/*.parquet``) yields the data
       files, read with the snapshot's schema and ``basePath``. The files
       are read in chunks of at most
       ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths,
       unioned: above it Spark lists the paths with a job of its own.
    4. **Row-group skipping**: the bucket and conv_id equalities stay on
       the plan; on compacted partitions (compact_routed clusters each
       file by (conv_id, turn_idx); ingest writes unsorted) the pushed
       conv_id filter prunes on tight parquet min/max footer stats.

    Neither orphan or superseded run dirs nor other buckets' files are
    listed: the cost tracks the bucket's visible runs, not the table's
    history. A base with no commit, or a bucket with no visible run,
    reads as an empty frame.
    """
    from ..plans.checkpoint import ManifestStore

    if incremental is not True:
        raise ValueError(
            f"read_conversation resolves the visible runs only "
            f"(incremental=True); got incremental={incremental!r}"
        )
    root = f"{pipeline_base}/sinks/routed"
    snap = ManifestStore(f"{pipeline_base}/_manifest").snapshot(spark, root)
    bucket = conv_bucket(conv_id)
    files = [
        f
        for run_id, day in snap.visible.get(bucket, [])
        for f in bucket_files(spark, root, run_id, day, bucket)
    ]
    limit = int(spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold"
    ))
    routed = reduce(DataFrame.union, [
        _read_paths(spark, root, snap.schema, files[i:i + limit])
        for i in range(0, max(len(files), 1), limit)
    ])
    return routed.filter(
        (F.col("bucket") == bucket) & (F.col("conv_id") == conv_id)
    ).orderBy("turn_idx")


def vacuum_uncommitted(
    spark, pipeline_base: str, min_age_seconds: int = 3600
) -> list[str]:
    """Delete run dirs never referenced by any manifest commit — the
    expire-orphan-snapshots maintenance op (Iceberg expire_snapshots
    analog). All listing/deletion goes through the Hadoop FileSystem API,
    so it runs against any store the cluster can reach (S3/HDFS/ABFS),
    not just the local filesystem.

    ``min_age_seconds`` (default 1 h) protects IN-FLIGHT writes: a run
    dir with no manifest commit is indistinguishable from a job that is
    mid-write and has simply not reached its commit point yet, so only
    subtrees whose newest file mtime is older than the threshold are
    reclaimed (same rationale as Iceberg's
    remove_orphan_files(older_than)). Pass 0 only when no writer can be
    live (tests, single-writer cron gaps). Returns removed paths."""
    import time

    from ..plans.checkpoint import ManifestStore
    from ..util import fs_delete, fs_glob, fs_newest_mtime_ms

    manifest = ManifestStore(f"{pipeline_base}/_manifest")
    committed = {
        r["run_id"] for r in manifest.committed_runs(spark).collect()
    }
    cutoff_ms = (time.time() - min_age_seconds) * 1000
    removed = []
    root = f"{pipeline_base}/sinks/routed"
    for d in fs_glob(spark, f"{root}/runid=*"):
        rid = d.rstrip("/").rsplit("/", 1)[-1].split("=", 1)[1]
        if rid not in committed and fs_newest_mtime_ms(spark, d) <= cutoff_ms:
            fs_delete(spark, d)
            removed.append(d)
    return removed


def compact_routed(
    spark,
    pipeline_base: str,
    run_id: str | None = None,
) -> dict:
    """Rewrite-small-files / consolidate-snapshots maintenance op — the
    Iceberg ``rewrite_data_files`` analog (SURVEY §4 X9) on the
    snapshot-dir protocol. Incremental ingestion legitimately fragments a
    partition: every committed chunk is its own ``runid=`` dir, so a
    (day, bucket) closed after N chunk commits carries N small file sets.
    This op rewrites each such CLOSED partition's visible row set (the
    union of its visible runs) into a fresh run dir with ONE file per
    (category, day, bucket) dir, then commits via a zero-count manifest
    event: fold sums stay exact, the null watermark keeps the monotonic
    max, the closed latch stays closed, and the self-contained compact
    run supersedes the runs it read (``visible_runs``), so reads resolve
    the compacted copy. Open partitions are skipped (tails still grow).

    Selection: one manifest snapshot (``ManifestStore.snapshot``) gives
    the closed partitions and each one's visible data runs (seal latches
    are not data runs); a closed partition compacts when its visible runs
    number >1, or any of its partition dirs holds >1 file. Partitions
    that already hold one run with one file per dir — a compacted
    partition, or one chunk then sealed — are left alone. The sources are
    exactly the data files the selection globbed for those partitions'
    visible runs, so orphan run dirs are never listed.

    Commit safety is inherited from the write protocol: a crash before the
    manifest append leaves an orphan run dir that ``vacuum_uncommitted``
    removes; readers never see it. The superseded chunk dirs stay on disk,
    invisible to reads — reclaim them with
    ``vacuum_superseded(spark, base, run_id)``.

    Scale: the rewrite is ``write_sinks_single_pass`` with the (conv_id,
    turn_idx) cluster sort — one shuffle of the compacted partitions'
    rows, hash-distributed on (day, bucket) so each group lands in
    exactly one task => exactly one file per (category, day, bucket) dir;
    the driver only ever handles manifest-sized partition lists and file
    metadata.

    Returns {"run_id", "partitions", "files_before", "files_after"}.
    """
    from ..plans.checkpoint import ManifestStore, new_run_id
    from ..util import fs_glob

    if run_id is not None and not run_id.startswith("compact"):
        raise ValueError(
            f"compaction run_id must carry the reserved 'compact' prefix "
            f"(got {run_id!r}) — it marks the snapshot as self-contained "
            "for later maintenance passes"
        )
    manifest = ManifestStore(f"{pipeline_base}/_manifest")
    # Supersession boundary: everything this compaction consolidates was
    # committed BEFORE this instant; a chunk that commits after it (while
    # the rewrite below runs) is not in the source set and must stay
    # visible — visible_runs orders supersession by this read-asof, not
    # by the compact commit's wall clock.
    read_asof = datetime.now(timezone.utc)
    root = f"{pipeline_base}/sinks/routed"
    snap = manifest.snapshot(spark, root)
    # A closed partition's complete row set is its visible runs
    # (ManifestStore.visible_runs); unioning every committed run would
    # duplicate the rows of partitions carrying overlapping self-contained
    # runs (a forced reprocess, or re-compaction before a vacuum).
    found: dict[tuple[str, int], tuple[list[str], list[str]]] = {}
    for bucket, pairs in snap.visible.items():
        for rid, day in pairs:
            if (day, bucket) in snap.closed:
                rids, files = found.setdefault((day, bucket), ([], []))
                rids.append(rid)
                files.extend(bucket_files(spark, root, rid, day, bucket))
    parts = {
        k for k, (rids, files) in found.items()
        if len(rids) > 1
        or len(files) > len({p.rsplit("/", 1)[0] for p in files})
    }
    if not parts:
        return {"run_id": None, "partitions": 0, "files_before": 0,
                "files_after": 0}
    run_id = run_id or f"compact{new_run_id()[:8]}"
    sources = [f for k in sorted(parts) for f in found[k][1]]
    write_sinks_single_pass(
        # runid is a PATH-derived partition column of the source read;
        # carrying it into the new files would bake a stale data column
        # that shadows under the new runid= dir
        _read_paths(spark, root, snap.schema, sources).drop("runid"),
        f"{pipeline_base}/sinks",
        run_id,
        # table sort order applied at compaction: conv point reads
        # (read_conversation) skip row groups on tight min/max stats
        sort_cols=("conv_id", "turn_idx"),
    )
    events = spark.createDataFrame(
        sorted(parts), "day string, bucket int"
    ).withColumns({
        "status": F.lit("closed"),
        "run_id": F.lit(run_id),
        # zero counts, not null: the compact run stays a data run
        **{c: F.lit(0).cast("long") for c in (
            "rows_processed", "rows_routed", "rows_skipped", "rows_error"
        )},
        "superseded_asof": F.lit(read_asof),
        "updated_at": F.current_timestamp(),
    })
    manifest.append(events)
    files_after = len(
        fs_glob(
            spark,
            f"{root}/runid={run_id}/category=*/day=*/bucket=*/*.parquet",
        )
    )
    return {"run_id": run_id, "partitions": len(parts),
            "files_before": sum(len(found[k][1]) for k in parts),
            "files_after": files_after}


def vacuum_superseded(spark, pipeline_base: str, compacted_run_id: str
                      ) -> list[str]:
    """Delete the (runid, day, bucket) subtrees that a committed
    SELF-CONTAINED run superseded — the remove-orphan-files half of
    snapshot maintenance. Deliberately scoped to the closed partitions
    where ``compacted_run_id`` is visible, and that run must carry a
    self-contained prefix (``compact`` snapshot or ``full`` reprocess):
    only such a run holds everything committed before its read boundary.
    In those partitions only the subtrees of runs that are NOT visible
    there are deleted, so a chunk that committed while the compaction
    ran (visible after the anchor) survives, and earlier chunks of
    chunk-committed partitions are never touched. Reads are unchanged by
    a vacuum. Returns removed paths."""
    from ..plans.checkpoint import (
        SELF_CONTAINED_PREFIXES,
        ManifestStore,
    )
    from ..util import fs_delete, fs_glob

    if not compacted_run_id.startswith(SELF_CONTAINED_PREFIXES):
        raise ValueError(
            f"vacuum_superseded requires a self-contained run id "
            f"({'/'.join(SELF_CONTAINED_PREFIXES)} prefix), got "
            f"{compacted_run_id!r}: only such runs hold a partition's "
            "complete row set, so scoping deletion to anything else could "
            "destroy live chunk data"
        )

    root = f"{pipeline_base}/sinks/routed"
    snap = ManifestStore(f"{pipeline_base}/_manifest").snapshot(spark, root)
    # closed partitions where the run is visible -> their visible runs
    owned = {
        (day, bucket): {r for r, d in pairs if d == day}
        for bucket, pairs in snap.visible.items() for rid, day in pairs
        if rid == compacted_run_id and (day, bucket) in snap.closed
    }
    removed = []
    for d in fs_glob(spark, f"{root}/runid=*/category=*/day=*/bucket=*"):
        parts = d.rstrip("/").split("/")
        rid = parts[-4].split("=", 1)[1]
        key = (parts[-2].split("=", 1)[1], int(parts[-1].split("=", 1)[1]))
        if key in owned and rid not in owned[key]:
            fs_delete(spark, d)
            removed.append(d)
    return removed


def partition_file_stats(spark, pipeline_base: str) -> DataFrame:
    """Physical A8 stats for the routed layout: per (day, bucket) row,
    FILE, and BYTE counts straight from the parquet scan's ``_metadata``
    hidden column (file_path/file_size) — no driver-side filesystem
    listing, fully distributed, and partition-pruned like any other read.
    The per-file grouping happens first so file sizes are counted once,
    not once per row. MANIFEST-GATED exactly like ``read_routed``:
    orphaned/uncommitted run dirs and snapshots superseded by a
    compaction never inflate the counts."""
    df = read_routed(spark, pipeline_base).select(
        "day",
        "bucket",
        F.col("_metadata.file_path").alias("_fp"),
        F.col("_metadata.file_size").alias("_fs"),
    )
    per_file = df.groupBy("day", "bucket", "_fp", "_fs").agg(
        F.count("*").alias("_rows")
    )
    return per_file.groupBy("day", "bucket").agg(
        F.sum("_rows").alias("n_rows"),
        F.count("*").alias("n_files"),
        F.sum("_fs").alias("total_bytes"),
    )
