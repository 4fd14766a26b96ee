"""Snapshot maintenance: consolidate chunk-run snapshots / rewrite small
files + superseded-file vacuum (Iceberg rewrite_data_files /
remove_orphan_files analogs on the snapshot-dir protocol)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from commerce_logs_pipeline_spark.functions.parse import parse_transcripts
from commerce_logs_pipeline_spark.operators.router import (
    N_BUCKETS,
    compact_routed,
    partition_file_stats,
    read_conversation,
    read_routed,
    vacuum_superseded,
    vacuum_uncommitted,
    with_partition_cols,
    write_sinks_single_pass,
)
from commerce_logs_pipeline_spark.plans.enrich import enrich_with_default_dims
from commerce_logs_pipeline_spark.plans.pipeline import run_pipeline
from commerce_logs_pipeline_spark.synth import generate_transcripts

KEY_COLS = ["conv_id", "turn_idx", "category", "role", "day", "bucket"]


def _routed_files(base: str) -> int:
    return len(list(Path(base, "sinks", "routed").glob("runid=*/**/*.parquet")))


def test_compact_and_vacuum_roundtrip(spark, tmp_path):
    """Three chunked commits fragment every (day,bucket) into three run
    dirs; compaction must consolidate each closed partition to one file
    per dir and preserve the read's rows exactly."""
    base = str(tmp_path / "out")
    full = generate_transcripts(spark, 4_000, partitions=4)
    run_pipeline(spark, full.filter(F.col("turn_idx") <= 1), base,
                 run_id="chunk1", close_partitions=False)
    run_pipeline(spark, full.filter(F.col("turn_idx") <= 3), base,
                 run_id="chunk2", close_partitions=False)
    run_pipeline(spark, full, base, run_id="chunk3")  # closes the latch

    # materialize driver-side: the lazy plan would re-read chunk files the
    # vacuum below deletes
    before_rows = sorted(
        map(tuple, read_routed(spark, base)
            .select(KEY_COLS).collect())
    )
    n_before = len(before_rows)
    assert n_before == 4_000
    files_before = _routed_files(base)
    # an uncommitted run dir (a crash before its manifest append) holding
    # every row again: compaction must neither read nor resurrect it
    write_sinks_single_pass(
        enrich_with_default_dims(parse_transcripts(full)),
        f"{base}/sinks", run_id="orphan0",
    )

    rep = compact_routed(spark, base, run_id="compactA")
    assert rep["partitions"] > 0
    assert rep["files_after"] < rep["files_before"]
    # exactly one file per compacted partition dir
    assert rep["files_after"] == sum(
        1 for _ in Path(base, "sinks", "routed").glob(
            "runid=compactA/category=*/day=*/bucket=*"
        )
    )

    # the read resolves the compacted run (a complete snapshot) with the
    # pre-compaction rows and never picks up the orphan's copies
    rows = sorted(
        map(tuple, read_routed(spark, base).select(KEY_COLS).collect())
    )
    assert rows == before_rows
    assert len({r[:2] for r in rows}) == n_before

    # superseded chunk subtrees reclaimed; the read is unchanged
    removed = vacuum_superseded(spark, base, "compactA")
    assert removed, "chunk-run dirs should be reclaimed"
    assert _routed_files(base) < files_before
    inc_rows = sorted(
        map(tuple, read_routed(spark, base)
            .select(KEY_COLS).collect())
    )
    assert inc_rows == before_rows

    # idempotence: a second pass finds nothing fragmented
    rep2 = compact_routed(spark, base)
    assert rep2["partitions"] == 0


def test_recompaction_before_vacuum_never_duplicates(spark, tmp_path):
    """Compacting AGAIN while the superseded chunk dirs still exist must
    not double rows: the authoritative compaction snapshot (reserved
    'compact' run-id prefix) is self-contained, so a later maintenance
    pass sources from it alone, never from snapshot+chunks."""
    base = str(tmp_path / "out")
    full = generate_transcripts(spark, 3_000, partitions=4)
    run_pipeline(spark, full.filter(F.col("turn_idx") <= 1), base,
                 run_id="chunk1", close_partitions=False)
    run_pipeline(spark, full, base, run_id="chunk2")

    rep1 = compact_routed(spark, base, run_id="compactA")
    assert rep1["partitions"] > 0
    # NO vacuum — chunk dirs and compactA coexist on disk
    rep2 = compact_routed(spark, base, run_id="compactB")
    # compactA is already one file per dir -> nothing to do
    assert rep2["partitions"] == 0
    assert read_routed(spark, base).count() == 3_000

    # even a forced rewrite (simulate fragmentation by re-compacting after
    # more chunk commits land in OTHER partitions) keeps rows exact
    assert read_routed(spark, base).select(
        "conv_id", "turn_idx").distinct().count() == 3_000

    import pytest

    with pytest.raises(ValueError, match="reserved 'compact' prefix"):
        compact_routed(spark, base, run_id="maintenanceX")


def test_forced_reprocess_supersedes_chunks(spark, tmp_path):
    """A forced whole-partition reprocess (resume=False) overlaps the
    chunk runs committed before it. Its auto run id carries the 'full'
    self-contained prefix, so reads and compaction take it as
    the partition's complete row set — never chunk+full doubled."""
    base = str(tmp_path / "out")
    full = generate_transcripts(spark, 2_000, partitions=4)
    run_pipeline(spark, full.filter(F.col("turn_idx") <= 1), base,
                 run_id="chunk1", close_partitions=False)
    run_pipeline(spark, full, base, run_id="chunk2")  # closes the latch

    # a caller-named full reprocess must declare itself self-contained:
    # a chunk id would make its overlap with the chunks double-count
    import pytest

    with pytest.raises(ValueError, match="self-contained prefix"):
        run_pipeline(spark, full, base, resume=False, run_id="chunk3")
    rep = run_pipeline(spark, full, base, resume=False)
    assert rep.run_id.startswith("full")
    # the read sees each row exactly once, with chunk dirs on disk
    assert read_routed(spark, base).count() == 2_000
    assert read_routed(spark, base).select(
        "conv_id", "turn_idx").distinct().count() == 2_000

    # compaction sources ONLY the visible (full) run — r3 unioned all
    # committed runs here and permanently doubled every row
    crep = compact_routed(spark, base, run_id="compactA")
    assert read_routed(spark, base).count() == 2_000
    if crep["partitions"]:
        removed = vacuum_superseded(spark, base, "compactA")
        assert removed  # chunk + full dirs reclaimed
        assert read_routed(spark, base).count() == 2_000


def test_maintenance_on_uri_scheme_base(spark, tmp_path):
    """compact/vacuum list and delete through the Hadoop FileSystem API:
    a ``file://`` URI base (the non-local-path scheme shape of
    s3a://.../hdfs://...) works end-to-end — pathlib/shutil silently
    could not."""
    base = "file://" + str(tmp_path / "out")
    full = generate_transcripts(spark, 1_500, partitions=4)
    run_pipeline(spark, full.filter(F.col("turn_idx") <= 1), base,
                 run_id="chunk1", close_partitions=False)
    run_pipeline(spark, full, base, run_id="chunk2")  # closes the latch

    rep = compact_routed(spark, base, run_id="compactU")
    assert rep["partitions"] > 0
    assert rep["files_after"] > 0  # FS-API glob saw the new files
    assert read_routed(spark, base).count() == 1_500

    removed = vacuum_superseded(spark, base, "compactU")
    assert removed and all(p.startswith("file:/") for p in removed)
    assert read_routed(spark, base).count() == 1_500
    assert vacuum_uncommitted(spark, base) == []  # nothing orphaned


def test_visible_runs_supersede_ordering(spark, tmp_path):
    """visible_runs = latest self-contained run + chunks committed after
    it; all chunks when no anchor exists."""
    import datetime as dt

    from commerce_logs_pipeline_spark.plans.checkpoint import ManifestStore

    ms = ManifestStore(str(tmp_path / "m"))
    t = lambda m: dt.datetime(2025, 6, 15, 12, m)  # noqa: E731
    rows = [
        ("2025-06-15", 0, "open", 1, 10, 10, 0, 0, None, None, rid, ts)
        for rid, ts in [
            ("chunk1", t(1)), ("chunk2", t(2)),
            ("fullA", t(3)),           # supersedes chunk1+chunk2
            ("chunk3", t(4)),          # appends after the anchor
            ("fullStale", t(0)),       # older anchor: hidden by fullA
        ]
    ] + [
        # second partition: chunks only -> all visible
        ("2025-06-15", 1, "open", 1, 10, 10, 0, 0, None, None, "chunkX", t(5)),
        ("2025-06-15", 1, "open", 1, 10, 10, 0, 0, None, None, "chunkY", t(6)),
    ]
    ms.append(spark.createDataFrame(
        rows,
        "day string, bucket int, status string, max_turn_watermark long, "
        "rows_processed long, rows_routed long, rows_skipped long, "
        "rows_error long, first_processed_ts timestamp, "
        "last_processed_ts timestamp, run_id string, updated_at timestamp",
    ))
    vis = {
        (r["bucket"], r["run_id"]) for r in ms.visible_runs(spark).collect()
    }
    assert vis == {(0, "fullA"), (0, "chunk3"), (1, "chunkX"), (1, "chunkY")}


def test_compact_skips_open_partitions(spark, tmp_path):
    base = str(tmp_path / "out")
    df = generate_transcripts(spark, 2_000, partitions=4)
    run_pipeline(spark, df.filter(F.col("turn_idx") <= 1), base,
                 run_id="chunk1", close_partitions=False)
    run_pipeline(spark, df.filter(F.col("turn_idx") <= 3), base,
                 run_id="chunk2", close_partitions=False)
    rep = compact_routed(spark, base)
    assert rep["partitions"] == 0  # open tails are never rewritten
    # vacuum scoped to an unknown self-contained run id touches nothing
    assert vacuum_superseded(spark, base, "compactNonexistent") == []
    # a chunk run id can never anchor a vacuum (it may not hold a
    # partition's complete row set)
    import pytest

    with pytest.raises(ValueError, match="self-contained"):
        vacuum_superseded(spark, base, "chunk1")
    # both chunk dirs still fully readable
    n = df.filter(F.col("turn_idx") <= 3).count()
    assert read_routed(spark, base).count() == n


def test_visible_runs_read_asof_supersession(spark, tmp_path):
    """The lost-update race ADVICE r5 flagged: a chunk that commits while
    a compaction is in flight (after the compactor read the manifest,
    before its commit landed) must STAY visible — supersession is ordered
    by the maintenance run's source-read instant (superseded_asof), not
    its commit wall-clock."""
    import datetime as dt

    from commerce_logs_pipeline_spark.plans.checkpoint import ManifestStore

    store = ManifestStore(str(tmp_path / "_manifest"))

    def ev(run_id, upd, asof=None):
        return spark.createDataFrame(
            [("2024-01-01", 0, "closed", None, 10, 10, 0, 0, None, None,
              run_id, upd, asof)],
            "day string, bucket int, status string, "
            "max_turn_watermark long, rows_processed long, "
            "rows_routed long, rows_skipped long, rows_error long, "
            "first_processed_ts timestamp, last_processed_ts timestamp, "
            "run_id string, updated_at timestamp, "
            "superseded_asof timestamp",
        )

    t = lambda s: dt.datetime(2024, 1, 2, 12, 0, s)
    store.append(ev("chunkA", t(0)))          # before the compactor read
    store.append(ev("chunkB", t(20)))         # commits DURING compaction
    # compactor: read manifest at t=10 (saw only chunkA), committed t=30
    store.append(ev("compactX", t(30), asof=t(10)))

    vis = {r["run_id"] for r in store.visible_runs(spark).collect()}
    assert vis == {"compactX", "chunkB"}, vis  # chunkA folded, B survives

    # a later full reprocess supersedes everything committed before ITS
    # read boundary, including the compact anchor
    store.append(ev("fullY", t(50), asof=t(40)))
    vis2 = {r["run_id"] for r in store.visible_runs(spark).collect()}
    assert vis2 == {"fullY"}, vis2


def test_vacuum_keeps_chunk_committed_during_compaction(spark, tmp_path):
    """A chunk committed while a compaction is in flight (after the
    compactor's read boundary, before its commit) stays visible, so
    vacuuming that compaction may delete only the runs it superseded:
    every row stays readable and only chunk1's subtrees go."""
    import datetime as dt

    from commerce_logs_pipeline_spark.plans.checkpoint import (
        ManifestStore,
        completion_events,
    )

    base = str(tmp_path / "out")
    enriched = enrich_with_default_dims(parse_transcripts(
        generate_transcripts(spark, 2_000, partitions=4))).cache()
    head = F.col("turn_idx") == 0
    chunk1, late = enriched.filter(head), enriched.filter(~head)
    # compactA holds chunk1's rows: the compactor read before chunkLate
    runs = [("chunk1", chunk1), ("chunkLate", late), ("compactA", chunk1)]
    for run_id, frame in runs:
        write_sinks_single_pass(frame, f"{base}/sinks", run_id=run_id)

    store = ManifestStore(f"{base}/_manifest")
    t = lambda m: dt.datetime(2024, 1, 2, 12, m)  # noqa: E731
    for (run_id, frame), at in zip(runs, [t(1), t(3), t(4)]):
        events = completion_events(with_partition_cols(frame), run_id)
        events = events.withColumn("updated_at", F.lit(at))
        if run_id == "compactA":  # read its sources at t2
            events = events.withColumn("superseded_asof", F.lit(t(2)))
        store.append(events)

    n = enriched.count()
    assert read_routed(spark, base).count() == n
    removed = vacuum_superseded(spark, base, "compactA")
    assert removed and all("/runid=chunk1/" in p for p in removed)
    rows = read_routed(spark, base).select("conv_id", "turn_idx")
    assert rows.count() == rows.distinct().count() == n
    enriched.unpersist()


def test_maintenance_schedule_property(spark, tmp_path):
    """Interleaved chunk appends / latch close / compaction / vacuum /
    full reprocess: the authoritative row set (read_routed, the
    partition_file_stats row counts and one conversation's point read)
    must equal the committed turn set after EVERY step — the supersede
    convention may never hide or duplicate a row. Deterministic schedule
    battery instead of @given: each schedule is a worst-case interleaving
    pattern (compact-after-chunks, full-after-compact, double-compact,
    compact-before-close-noop). Schedule grammar respects the latch
    contract: ``closeN`` is the terminal growth step (closed partitions
    never reopen, so a grow after a real close is silently dropped BY
    DESIGN and would make the expected set partition-dependent)."""
    schedules = [
        ["grow2", "grow3", "close5", "compact", "vacuum", "full"],
        ["grow3", "compact", "close2", "compact", "vacuum"],
        ["grow2", "close1", "full", "compact", "vacuum", "full"],
        ["close5", "compact", "compact", "vacuum", "full", "full"],
    ]
    for si, schedule in enumerate(schedules):
        base = str(tmp_path / f"out{si}")
        full = generate_transcripts(spark, 1_500, partitions=4)
        full = full.persist()
        max_turn = full.agg(F.max("turn_idx")).collect()[0][0]
        target = full.groupBy("conv_id").count().orderBy(
            F.desc("count"), "conv_id").first()[0]
        cap = -1
        compacted = None

        def committed_keys():
            return sorted(
                map(tuple,
                    read_routed(spark, base)
                    .select("conv_id", "turn_idx").collect())
            )

        def expected_keys(c):
            return sorted(
                map(tuple,
                    full.filter(F.col("turn_idx") <= c)
                    .select("conv_id", "turn_idx").collect())
            )

        for step, op in enumerate(schedule):
            if op.startswith("grow"):
                cap = min(max_turn, cap + int(op[4:]))
                run_pipeline(
                    spark, full.filter(F.col("turn_idx") <= cap), base,
                    run_id=f"s{si}g{step}", close_partitions=False,
                    write_aggregates=False,
                )
            elif op.startswith("close"):
                cap = min(max_turn, cap + int(op[5:]))
                run_pipeline(
                    spark, full.filter(F.col("turn_idx") <= cap), base,
                    write_aggregates=False,
                )
            elif op == "full":
                run_pipeline(
                    spark, full.filter(F.col("turn_idx") <= cap), base,
                    resume=False, write_aggregates=False,
                )
            elif op == "compact":
                rep = compact_routed(spark, base)
                compacted = rep["run_id"] or compacted
            elif op == "vacuum":
                if compacted:
                    vacuum_superseded(spark, base, compacted)
            got = committed_keys()
            want = expected_keys(cap)
            assert got == want, (
                f"schedule {si} step {step} ({op}): "
                f"{len(got)} rows vs expected {len(want)}"
            )
            stats_rows = partition_file_stats(spark, base).agg(
                F.sum("n_rows")).first()[0] or 0
            assert stats_rows == len(want), (si, step, op)
            turns = [r.turn_idx for r in
                     read_conversation(spark, base, target).collect()]
            assert turns == [t for c, t in want if c == target], (
                si, step, op)
        full.unpersist()


def _commit_two_chunks(spark, full, base, first, second):
    """Commit ``full`` as two OPEN chunks: ``first`` holds every row but
    bucket 0's turns past 1, ``second`` (a resume) exactly those, so only
    bucket-0 partitions hold two chunks."""
    b0 = F.pmod(F.xxhash64("conv_id"), F.lit(N_BUCKETS)) == 0
    run_pipeline(spark, full.filter(~b0 | (F.col("turn_idx") <= 1)), base,
                 run_id=first, close_partitions=False)
    run_pipeline(spark, full, base, run_id=second, close_partitions=False)


def _partition_dirs(root: str, run_id: str) -> dict[tuple[str, int], list]:
    """(day, bucket) -> the run's (category, day, bucket) dirs."""
    out: dict[tuple[str, int], list] = {}
    for d in Path(root).glob(f"runid={run_id}/category=*/day=*/bucket=*"):
        key = (d.parent.name.split("=", 1)[1], int(d.name.split("=", 1)[1]))
        out.setdefault(key, []).append(d)
    return out


def _one_file_partitions(root: str, run_id: str) -> set[tuple[str, int]]:
    """The run's partitions whose every dir already holds one file."""
    return {
        k for k, dirs in _partition_dirs(root, run_id).items()
        if all(len(list(d.glob("*.parquet"))) == 1 for d in dirs)
    }


def test_seal_partitions_latch_and_run_resolution(spark, tmp_path):
    """seal_partitions closes open chunk partitions with a latch that is
    never a visible run (a seal event has no data dir); sealing is
    idempotent and respects --before-day; compaction then rewrites the
    sealed partitions holding two chunks and leaves alone a sealed
    single-chunk partition that already holds one file per dir."""
    from commerce_logs_pipeline_spark.plans.checkpoint import ManifestStore

    base = str(tmp_path / "out")
    full = generate_transcripts(spark, 2_000, partitions=4)
    _commit_two_chunks(spark, full, base, "chunkA", "chunkB")

    ms = ManifestStore(f"{base}/_manifest")
    root = f"{base}/sinks/routed"
    assert ms.snapshot(spark, root).closed == frozenset()
    state0 = ms.current_state(spark)
    assert state0.filter(F.col("status") == "open").count() > 0
    days = sorted(r["day"] for r in state0.select("day").distinct().collect())
    assert len(days) >= 2

    # before_day seals only strictly-earlier days
    sealed1 = ms.seal_partitions(spark, before_day=days[1])
    assert sealed1 and all(d < days[1] for d, _ in sealed1)
    st = ms.current_state(spark)
    assert st.filter(
        (F.col("day") >= days[1]) & (F.col("status") == "closed")
    ).count() == 0
    # the snapshot reports the seal-only partitions as closed, and only them
    assert ms.snapshot(spark, root).closed == frozenset(sealed1)

    # full seal closes the rest; the fold's run_id stays a DATA run
    sealed2 = ms.seal_partitions(spark)
    assert sealed2
    st = ms.current_state(spark)
    assert st.filter(F.col("status") == "open").count() == 0
    assert {r["run_id"] for r in st.select("run_id").collect()} == {
        "chunkA", "chunkB"}
    snap = ms.snapshot(spark, root)
    assert snap.closed == frozenset(sealed1) | frozenset(sealed2)
    # seal latches are never visible: outside bucket 0 the visible runs
    # are exactly chunkA, and bucket 0 adds only chunkB
    assert {rid for bucket, pairs in snap.visible.items() if bucket != 0
            for rid, _ in pairs} == {"chunkA"}
    assert {rid for pairs in snap.visible.values()
            for rid, _ in pairs} == {"chunkA", "chunkB"}

    # idempotent: nothing left to seal
    assert ms.seal_partitions(spark) == []

    # sealed two-chunk partitions are compactable and reads stay exact
    two_chunk = set(_partition_dirs(root, "chunkB"))
    left_alone = _one_file_partitions(root, "chunkA") - two_chunk
    assert two_chunk and left_alone
    before = sorted(map(tuple, read_routed(spark, base)
                        .select(KEY_COLS).collect()))
    rep = compact_routed(spark, base)
    assert rep["partitions"] > 0
    rewritten = set(_partition_dirs(root, rep["run_id"]))
    assert two_chunk <= rewritten
    assert not rewritten & left_alone
    after = sorted(map(tuple, read_routed(spark, base).select(KEY_COLS)
                       .collect()))
    assert after == before


def test_maintain_cli_seal(spark, tmp_path, capsys):
    import json
    import os
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    import maintain

    base = str(tmp_path / "out")
    root = f"{base}/sinks/routed"
    _commit_two_chunks(spark, generate_transcripts(spark, 1_000, partitions=2),
                       base, "chunkZ", "chunkY")
    left_alone = (_one_file_partitions(root, "chunkZ")
                  - set(_partition_dirs(root, "chunkY")))
    assert left_alone
    assert maintain.main(["--base", base, "seal"], spark=spark) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["sealed"] > 0
    assert maintain.main(["--base", base, "compact"], spark=spark) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["partitions"] > 0
    # a sealed single-chunk partition with one file per dir is left alone
    assert not set(_partition_dirs(root, rep["run_id"])) & left_alone


def test_read_routed_time_travel(spark, tmp_path):
    """read_routed(asof=...) resolves the snapshot a reader saw at that
    instant: chunk history accumulates, a later forced reprocess
    supersedes only for readers at-or-after its commit, and asof=now
    equals the current read (the Iceberg TIMESTAMP AS OF analog over the
    append-only manifest)."""
    from datetime import datetime, timezone

    base = str(tmp_path / "out")
    full = generate_transcripts(spark, 2_000, partitions=4)

    run_pipeline(spark, full.filter(F.col("turn_idx") <= 1), base,
                 run_id="chunk1", close_partitions=False)
    t1 = datetime.now(timezone.utc)
    n1 = read_routed(spark, base).count()

    run_pipeline(spark, full, base, run_id="chunk2")
    t2 = datetime.now(timezone.utc)

    # forced reprocess supersedes everything before it
    run_pipeline(spark, full, base, run_id="full3", resume=False)

    # asof t1: only chunk1's rows exist
    at1 = read_routed(spark, base, asof=t1)
    assert at1.count() == n1
    assert {r["runid"] for r in at1.select("runid").distinct().collect()} \
        == {"chunk1"}
    # asof t2: both chunks, no supersession yet
    at2 = read_routed(spark, base, asof=t2)
    assert at2.count() == 2_000
    assert {r["runid"] for r in at2.select("runid").distinct().collect()} \
        == {"chunk1", "chunk2"}
    # asof now == current read: the full3 snapshot only
    now = datetime.now(timezone.utc)
    atn = read_routed(spark, base, asof=now)
    assert atn.count() == 2_000
    assert {r["runid"] for r in atn.select("runid").distinct().collect()} \
        == {"full3"}


def test_sealed_partitions_are_skipped_by_batch_resume(spark, tmp_path):
    """The seal contract: once sealed, a partition accepts no more batch
    resume appends — late rows for sealed days are anti-joined away
    exactly like reference-closed blobs, and the authoritative row set
    stays what was committed before the seal."""
    from commerce_logs_pipeline_spark.plans.checkpoint import ManifestStore

    base = str(tmp_path / "out")
    full = generate_transcripts(spark, 2_000, partitions=4)
    early = full.filter(F.col("turn_idx") <= 1)
    run_pipeline(spark, early, base, run_id="chunkA", close_partitions=False)
    n_early = early.count()

    ManifestStore(f"{base}/_manifest").seal_partitions(spark)

    # resume over the FULL input: every (day,bucket) is sealed, so the
    # run processes nothing new
    rep = run_pipeline(spark, full, base, run_id="chunkB")
    assert rep.rows_in == 0
    assert read_routed(spark, base).count() == n_early
