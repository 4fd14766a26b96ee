"""Metadata-first reads: ``read_conversation`` / ``read_routed`` resolve
runs from the cached manifest snapshot and scan only the files of
visible runs. Pins that the cache is never stale across commits and
maintenance, that orphan run dirs never reach the scan (of the reads and
of resume), and that reads of a base with nothing committed return
empty frames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from commerce_logs_pipeline_spark.functions.parse import parse_transcripts
from commerce_logs_pipeline_spark.operators.router import (
    compact_routed,
    conv_bucket,
    read_conversation,
    read_routed,
    vacuum_superseded,
    with_partition_cols,
    write_sinks_single_pass,
)
from commerce_logs_pipeline_spark.plans.checkpoint import ManifestStore
from commerce_logs_pipeline_spark.plans.enrich import enrich_with_default_dims
from commerce_logs_pipeline_spark.plans.pipeline import commit_run, run_pipeline
from commerce_logs_pipeline_spark.synth import generate_transcripts

ROW_COLS = ["conv_id", "turn_idx", "role", "text", "category", "day",
            "bucket"]


def _enriched(spark, n=2_000):
    return enrich_with_default_dims(
        parse_transcripts(generate_transcripts(spark, n, partitions=4))
    ).cache()


def _rows(df):
    return [tuple(r) for r in df.select(*ROW_COLS).collect()]


def test_reads_on_empty_base_return_empty_frames(spark, tmp_path):
    """Nothing committed (no manifest, no routed dir), and a bucket with
    no visible run: both reads return empty frames with the routed
    columns instead of raising PATH_NOT_FOUND."""
    base = str(tmp_path / "out")
    assert read_conversation(spark, base, "c1").select(
        "conv_id", "turn_idx").collect() == []
    assert read_routed(spark, base).select(
        "conv_id", "turn_idx").collect() == []

    enriched = _enriched(spark)
    committed = with_partition_cols(enriched).filter(F.col("bucket") != 0)
    commit_run(committed.drop("day", "bucket"), base, "chunk0",
               status="open", write_aggregates=False)
    absent = next(f"absent{i}" for i in range(10_000)
                  if conv_bucket(f"absent{i}") == 0)
    out = read_conversation(spark, base, absent)
    assert out.select("conv_id", "turn_idx").collect() == []
    assert read_routed(spark, base).filter(F.col("bucket") == 0).count() == 0


def test_lookup_sees_every_commit_and_survives_maintenance(spark, tmp_path):
    """The cached snapshot is keyed by the manifest's file list, so a
    lookup after another chunk commit sees the new turns; seal, compaction
    and vacuum of the superseded chunks leave the looked-up rows
    unchanged."""
    base = str(tmp_path / "out")
    enriched = _enriched(spark)
    target, n = (
        enriched.groupBy("conv_id").count()
        .orderBy(F.desc("count"), "conv_id").first()
    )
    cut = n // 2
    commit_run(enriched.filter(F.col("turn_idx") < cut), base, "chunk0",
               status="open", write_aggregates=False)
    head = read_conversation(spark, base, target)
    assert [r.turn_idx for r in head.collect()] == list(range(cut))

    commit_run(enriched.filter(F.col("turn_idx") >= cut), base, "chunk1",
               status="open", write_aggregates=False)
    full = _rows(read_conversation(spark, base, target))
    assert [r[1] for r in full] == list(range(n))

    ManifestStore(f"{base}/_manifest").seal_partitions(spark)
    rep = compact_routed(spark, base)
    assert rep["partitions"] > 0
    assert vacuum_superseded(spark, base, rep["run_id"])
    assert _rows(read_conversation(spark, base, target)) == full
    # the keyword survives only as the one visibility rule
    assert _rows(read_conversation(spark, base, target,
                                   incremental=True)) == full
    with pytest.raises(ValueError, match="visible runs only"):
        read_conversation(spark, base, target, incremental=False)


def test_point_read_scans_only_visible_bucket_files(spark, tmp_path):
    """A run dir written without a manifest append (a crash before the
    commit point) holds the same conversation, yet never reaches either
    read: every input file of the point read sits under bucket=<b> of a
    visible run."""
    base = str(tmp_path / "out")
    enriched = _enriched(spark)
    commit_run(enriched, base, "chunk0", status="open",
               write_aggregates=False)
    target = enriched.select("conv_id").orderBy("conv_id").first()[0]
    expected = _rows(read_conversation(spark, base, target))
    assert expected

    write_sinks_single_pass(enriched, f"{base}/sinks", run_id="orphan0")
    bucket = conv_bucket(target)
    visible = {
        r["run_id"]
        for r in ManifestStore(f"{base}/_manifest").visible_runs(spark)
        .filter(F.col("bucket") == bucket).collect()
    }
    out = read_conversation(spark, base, target)
    files = out.inputFiles()
    assert files
    assert not any("runid=orphan0" in p for p in files)
    for p in files:
        assert f"/bucket={bucket}/" in p
        assert p.split("/runid=", 1)[1].split("/", 1)[0] in visible
    assert _rows(out) == expected
    assert not any("runid=orphan0" in p
                   for p in read_routed(spark, base).inputFiles())


def test_resume_never_lists_orphan_runs(spark, tmp_path):
    """Resume resolves the open partitions' visible runs from the manifest
    snapshot and scans only their run dirs: an uncommitted run dir holding
    every row never reaches the resume scan, and the pending rows are
    exactly the uncommitted tail."""
    base = str(tmp_path / "out")
    full = generate_transcripts(spark, 2_000, partitions=4).cache()
    head = full.filter(F.col("turn_idx") <= 2)
    run_pipeline(spark, head, base, run_id="chunk0", close_partitions=False)
    write_sinks_single_pass(
        enrich_with_default_dims(parse_transcripts(full)),
        f"{base}/sinks", run_id="orphan0",
    )
    todo = ManifestStore(f"{base}/_manifest").pending(
        spark, with_partition_cols(full),
        routed_path=f"{base}/sinks/routed",
    )
    files = todo.inputFiles()
    assert any("/runid=chunk0/" in p for p in files)
    assert not any("runid=orphan0" in p for p in files)
    assert todo.count() == full.count() - head.count()
    full.unpersist()
