"""Checkpoint/lineage manifest + idempotent resume (SURVEY §5: the
race/offset tests become kill-and-rerun idempotence tests)."""

from __future__ import annotations

from pyspark.sql import functions as F

from commerce_logs_pipeline_spark.functions.parse import parse_transcripts
from commerce_logs_pipeline_spark.operators.router import with_partition_cols
from commerce_logs_pipeline_spark.plans.checkpoint import (
    ManifestStore,
    completion_events,
)
from commerce_logs_pipeline_spark.plans.enrich import enrich_with_default_dims
from commerce_logs_pipeline_spark.plans.pipeline import commit_run, run_pipeline
from commerce_logs_pipeline_spark.synth import generate_transcripts


def test_manifest_fold_monotonic_and_latched(spark, tmp_path):
    store = ManifestStore(str(tmp_path / "manifest"))
    df1 = spark.createDataFrame(
        [("2024-01-01", 0, "open", 10, 100, 90, 10, 0, None, None, "r1", None)],
        "day string, bucket int, status string, max_turn_watermark long, "
        "rows_processed long, rows_routed long, rows_skipped long, rows_error long, "
        "first_processed_ts timestamp, last_processed_ts timestamp, run_id string, "
        "updated_at timestamp",
    )
    store.append(df1)
    # second event: LOWER watermark, closed status
    df2 = df1.withColumn("max_turn_watermark", F.lit(5)).withColumn(
        "status", F.lit("closed")
    ).withColumn("run_id", F.lit("r2"))
    store.append(df2)
    state = store.current_state(spark).collect()[0]
    assert state.max_turn_watermark == 10  # monotonic: never goes backwards
    assert state.status == "closed"
    assert state.rows_processed == 200  # summed

    # duplicate delivery of r2 must be idempotent (dedup on run_id)
    store.append(df2)
    state = store.current_state(spark).collect()[0]
    assert state.rows_processed == 200

    # a later "open" event must NOT reopen the latch
    df3 = df1.withColumn("run_id", F.lit("r3"))
    store.append(df3)
    assert store.current_state(spark).collect()[0].status == "closed"


def test_empty_input_commits_nothing(spark, tmp_path):
    """A full run over no rows, and an empty micro-batch committed
    directly, return the no-op report and append no manifest event."""
    base = str(tmp_path / "out")
    rep = run_pipeline(
        spark, generate_transcripts(spark, 200).limit(0), base, resume=False
    )
    assert (rep.rows_in, rep.counts) == (0, {})
    # empty only at run time (the optimizer cannot prune the plan away)
    empty = generate_transcripts(spark, 200).filter(F.col("turn_idx") < 0)
    rep = commit_run(
        enrich_with_default_dims(parse_transcripts(empty)), base, "batch-0",
        status="open",
    )
    assert (rep.rows_in, rep.counts) == (0, {})
    assert ManifestStore(f"{base}/_manifest").committed_runs(spark).count() == 0


def test_pipeline_end_to_end_and_resume_noop(spark, tmp_path):
    base = str(tmp_path / "out")
    df = generate_transcripts(spark, 5_000, partitions=4)
    rep1 = run_pipeline(spark, df, base, run_id="runA")
    assert rep1.rows_in == 5_000
    assert rep1.counts["total"] == 5_000

    # all partitions closed -> immediate no-op on rerun
    rep2 = run_pipeline(spark, df, base, run_id="runB")
    assert rep2.rows_in == 0
    assert rep2.resumed_partitions_skipped

    # sink outputs readable + row-accounting matches
    from commerce_logs_pipeline_spark.operators.router import read_sink

    total_sink_rows = 0
    for name, path in rep1.sink_paths.items():
        total_sink_rows += read_sink(spark, path).count()
    assert total_sink_rows == rep1.counts["total"] - rep1.counts["skipped"]


def test_crash_rerun_is_idempotent(spark, tmp_path):
    """Simulate: run 1 writes sinks but dies BEFORE manifest append; rerun
    must converge to the same final state without duplicates."""
    base = str(tmp_path / "out")
    df = generate_transcripts(spark, 3_000, partitions=4)

    # "crashed" first attempt: sinks written, manifest never appended
    from commerce_logs_pipeline_spark.operators.router import (
        write_sinks_single_pass,
    )
    from commerce_logs_pipeline_spark.plans.enrich import enrich_with_default_dims

    parsed = enrich_with_default_dims(
        parse_transcripts(with_partition_cols(df))
    )
    write_sinks_single_pass(parsed, f"{base}/sinks")

    # full rerun (resume sees nothing committed -> reprocesses everything)
    rep = run_pipeline(spark, df, base, run_id="runC")
    assert rep.rows_in == 3_000

    from commerce_logs_pipeline_spark.operators.router import (
        read_routed,
        read_sink,
        vacuum_uncommitted,
    )

    http = read_sink(spark, rep.sink_paths["http_logs"])
    expected = parsed.filter("category = 'http'").count()
    assert http.count() == expected

    # every row still unique by (conv_id, turn_idx)
    assert http.select("conv_id", "turn_idx").distinct().count() == http.count()

    # authoritative snapshot read: the crashed (uncommitted) run dir is
    # invisible; exactly one copy of every row
    auth = read_routed(spark, base)
    assert auth.count() == 3_000
    assert auth.select("conv_id", "turn_idx").distinct().count() == 3_000

    # with the default in-flight guard the fresh orphan is PROTECTED (it
    # could be a concurrent writer mid-run); with age 0 it is reclaimed
    assert vacuum_uncommitted(spark, base) == []
    removed = vacuum_uncommitted(spark, base, min_age_seconds=0)
    assert len(removed) == 1 and "runid=run0" in removed[0]
    assert read_routed(spark, base).count() == 3_000


def test_partial_progress_resume(spark, tmp_path):
    """Partitions committed in run 1 are skipped by run 2; totals still add
    up exactly once (per-partition lineage, worker.go:307-413 analog)."""
    base = str(tmp_path / "out")
    df = generate_transcripts(spark, 4_000, partitions=4)
    part = with_partition_cols(df)

    # run 1: process only bucket < 8 (half the partitions)
    half = part.filter(F.col("bucket") < 8).drop("day", "bucket")
    rep1 = run_pipeline(spark, half, base, run_id="run1")

    # run 2: full input; must process only the remaining partitions
    rep2 = run_pipeline(spark, df, base, run_id="run2")
    assert rep1.rows_in + rep2.rows_in == 4_000

    store = ManifestStore(f"{base}/_manifest")
    state = store.current_state(spark)
    assert state.filter("status != 'closed'").count() == 0
    total = state.agg(F.sum("rows_processed")).collect()[0][0]
    assert total == 4_000


def test_offset_level_resume_within_open_partition(spark, tmp_path):
    """S2 mid-partition resume (processor.go:86-116 analog): a chunk that
    commits turns <= w with status OPEN is resumed from turn > w — already
    committed turns are never re-parsed, and the default readers (the
    routed read, the per-partition stats and a conversation's point read)
    over the two chunks equal a one-shot run."""
    base = str(tmp_path / "out")
    full = generate_transcripts(spark, 4_000, partitions=4)

    # chunk 1: the "blob so far" — turns 0..2 of every conversation,
    # committed with OPEN status (the tail keeps growing)
    chunk1 = full.filter(F.col("turn_idx") <= 2)
    n1 = chunk1.count()
    rep1 = run_pipeline(spark, chunk1, base, run_id="chunk1",
                        close_partitions=False)
    assert rep1.rows_in == n1

    # chunk 2: rerun over the FULL input; resume must skip every committed
    # turn (no re-parse) and ingest exactly the tail
    rep2 = run_pipeline(spark, full, base, run_id="chunk2")
    assert rep1.rows_in + rep2.rows_in == 4_000
    assert rep2.rows_in == 4_000 - n1

    # the routed read across both committed chunks equals a one-shot run,
    # row-for-row
    from commerce_logs_pipeline_spark.operators.router import (
        partition_file_stats,
        read_conversation,
        read_routed,
    )

    two_chunk = read_routed(spark, base)
    assert two_chunk.count() == 4_000
    assert (
        two_chunk.select("conv_id", "turn_idx").distinct().count() == 4_000
    )

    base_one = str(tmp_path / "oneshot")
    run_pipeline(spark, full, base_one, run_id="oneshot")
    one = read_routed(spark, base_one)
    cols = ["conv_id", "turn_idx", "category", "role"]
    assert two_chunk.select(cols).exceptAll(one.select(cols)).count() == 0
    assert one.select(cols).exceptAll(two_chunk.select(cols)).count() == 0

    # the per-partition stats and the longest conversation's point read
    # see the same rows
    def stats(b):
        return sorted(map(tuple, partition_file_stats(spark, b)
                          .select("day", "bucket", "n_rows").collect()))

    assert stats(base) == stats(base_one)
    assert sum(r[2] for r in stats(base)) == 4_000
    cid = one.groupBy("conv_id").count().orderBy(
        F.desc("count"), "conv_id").first()[0]

    def turns(b):
        return [tuple(r) for r in read_conversation(spark, b, cid)
                .select(*cols).collect()]

    assert turns(base) == turns(base_one)
    assert len(turns(base)) == one.filter(F.col("conv_id") == cid).count()

    # the manifest watermark advanced monotonically and the latch closed
    state = ManifestStore(f"{base}/_manifest").current_state(spark)
    assert state.filter("status != 'closed'").count() == 0
    assert state.agg(F.min("max_turn_watermark")).collect()[0][0] >= 2


def test_uneven_conversation_resume_no_data_loss(spark, tmp_path):
    """Conversations in ONE (day,bucket) partition advance unevenly: conv A
    commits turns 0..4 while conv B commits only turn 0. A partition-wide
    max watermark (4) would silently drop conv B's turns 1..4 on resume as
    "already ingested" — the per-conversation watermark must not. This is
    the reference's per-blob lastIngestedOffset semantics (one offset per
    stream, processor.go:86-116), which makes no uniform-tail assumption."""
    base = str(tmp_path / "out")
    full = generate_transcripts(spark, 4_000, partitions=4)

    # uneven committed prefix: even-hash conversations are 5 turns deep,
    # odd-hash conversations only 1 turn deep
    deep = F.pmod(F.xxhash64("conv_id"), F.lit(2)) == 0
    chunk1 = full.filter(
        (deep & (F.col("turn_idx") <= 4)) | (~deep & (F.col("turn_idx") <= 0))
    )
    n1 = chunk1.count()
    rep1 = run_pipeline(spark, chunk1, base, run_id="chunk1",
                        close_partitions=False)
    assert rep1.rows_in == n1

    # resume over the full input: exactly the complement must flow —
    # including odd-conv turns 1..4 that sit BELOW the partition max
    rep2 = run_pipeline(spark, full, base, run_id="chunk2")
    assert rep1.rows_in + rep2.rows_in == 4_000

    from commerce_logs_pipeline_spark.operators.router import read_routed

    both = read_routed(spark, base)
    assert both.count() == 4_000
    assert both.select("conv_id", "turn_idx").distinct().count() == 4_000


def test_completion_events_shape(spark, parsed_10k):
    ev = completion_events(with_partition_cols(parsed_10k), "runX")
    rows = ev.collect()
    assert all(r.status == "closed" and r.run_id == "runX" for r in rows)
    assert sum(r.rows_processed for r in rows) == 10_000
    for r in rows:
        assert r.rows_processed == r.rows_routed + r.rows_skipped


def test_run_ids_never_number_like(spark, parsed_10k):
    """runid is a partition-dir value; Spark's partition type inference
    turns all-digit ids into LONG columns (string matches then fail) and
    <digits>e<digits> ids into scientific-notation decimals whose
    expansion livelocks the driver. Generated ids must always start with
    a letter, and the writer must reject number-like ids outright."""
    import pytest

    from commerce_logs_pipeline_spark.plans.checkpoint import new_run_id
    from commerce_logs_pipeline_spark.operators.router import (
        write_sinks_single_pass,
    )

    for _ in range(64):
        assert new_run_id()[0].isalpha()

    frame = with_partition_cols(parsed_10k)
    for bad in ("123456789012", "469e826447734", "7", ""):
        with pytest.raises(ValueError, match="start with a letter"):
            write_sinks_single_pass(frame, "/tmp/never-written", run_id=bad)
