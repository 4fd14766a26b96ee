"""Structured Streaming tests (T1-T6 semantics) — all with availableNow
triggers so they terminate deterministically."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from commerce_logs_pipeline_spark.streaming.stream_pipeline import (
    conversation_state_stream,
    run_streaming_pipeline,
    stream_transcripts,
    streaming_hourly_counts,
    streaming_session_close,
)
from commerce_logs_pipeline_spark.synth import generate_transcripts


@pytest.fixture(scope="module")
def input_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream_in"))
    generate_transcripts(spark, 4_000, partitions=4).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def test_streaming_pipeline_matches_batch_counts(spark, input_dir, tmp_path):
    base = str(tmp_path / "stream_out")
    q = run_streaming_pipeline(
        spark, input_dir, base, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(300)
    # each micro-batch reads its source rows once: the manifest events
    # come from the written output, not from a second parse
    assert sum(p.numInputRows for p in q.recentProgress) == 4_000
    routed = spark.read.parquet(f"{base}/sinks/routed")
    assert routed.count() == 4_000
    # per-category counts equal the batch engine's on the same input
    from commerce_logs_pipeline_spark.functions.parse import parse_transcripts

    batch = parse_transcripts(spark.read.parquet(input_dir))
    batch_counts = {
        r.category: r.n
        for r in batch.groupBy("category").agg(F.count("*").alias("n")).collect()
    }
    stream_counts = {
        r.category: r.n
        for r in routed.groupBy("category").agg(F.count("*").alias("n")).collect()
    }
    assert stream_counts == batch_counts
    # manifest recorded progress
    from commerce_logs_pipeline_spark.plans.checkpoint import ManifestStore

    state = ManifestStore(f"{base}/_manifest").current_state(spark)
    assert state.agg(F.sum("rows_processed")).collect()[0][0] == 4_000


def test_replayed_batch_commits_once(spark, input_dir, tmp_path):
    """A foreachBatch replay commits batch-N again under the same run id:
    the snapshot dir is overwritten and the manifest fold dedupes the
    events, so rows and counts land exactly once."""
    from commerce_logs_pipeline_spark.functions.parse import parse_transcripts
    from commerce_logs_pipeline_spark.operators.router import read_routed
    from commerce_logs_pipeline_spark.plans.checkpoint import ManifestStore
    from commerce_logs_pipeline_spark.plans.enrich import (
        enrich_with_default_dims,
    )
    from commerce_logs_pipeline_spark.plans.pipeline import commit_run

    base = str(tmp_path / "out")
    frame = enrich_with_default_dims(
        parse_transcripts(spark.read.parquet(input_dir))
    )
    n = frame.count()
    for _ in range(2):
        commit_run(frame, base, "batch-0", status="open",
                   write_aggregates=False)
    routed = read_routed(spark, base)
    assert routed.count() == n
    assert routed.select("conv_id", "turn_idx").distinct().count() == n
    state = ManifestStore(f"{base}/_manifest").current_state(spark)
    assert state.agg(F.sum("rows_processed")).first()[0] == n


def test_streaming_restart_is_noop_after_drain(spark, input_dir, tmp_path):
    base = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    q = run_streaming_pipeline(spark, input_dir, base, ckpt, available_now=True)
    q.awaitTermination(300)
    n1 = spark.read.parquet(f"{base}/sinks/routed").count()
    # restart with same checkpoint: no new files -> no duplicate appends
    q2 = run_streaming_pipeline(spark, input_dir, base, ckpt, available_now=True)
    q2.awaitTermination(300)
    n2 = spark.read.parquet(f"{base}/sinks/routed").count()
    assert n1 == n2 == 4_000


def test_backfill_then_tail(spark, tmp_path):
    """T5 (service.go:220-299 analog): drain the historical backlog with
    one availableNow run, then new files arrive and a SECOND run on the
    SAME checkpoint ingests exactly the tail — no reprocessing, no gaps.
    The routed read across both phases equals one batch over the
    union."""
    from commerce_logs_pipeline_spark.operators.router import read_routed

    inp = str(tmp_path / "in")
    base = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # historical backlog: first 3k turns
    backlog = generate_transcripts(spark, 5_000, partitions=4)
    backlog.filter(F.col("turn_idx") < 3).write.mode("overwrite").parquet(inp)
    n_backlog = backlog.filter(F.col("turn_idx") < 3).count()
    q = run_streaming_pipeline(spark, inp, base, ckpt, available_now=True)
    q.awaitTermination(300)
    assert read_routed(spark, base).count() == n_backlog

    # the "current day" keeps producing: new files land in the SAME dir
    backlog.filter(F.col("turn_idx") >= 3).write.mode("append").parquet(inp)
    q2 = run_streaming_pipeline(spark, inp, base, ckpt, available_now=True)
    q2.awaitTermination(300)
    tailed = read_routed(spark, base)
    assert tailed.count() == 5_000
    assert tailed.select("conv_id", "turn_idx").distinct().count() == 5_000


def test_streaming_session_close(spark, input_dir, tmp_path):
    stream = stream_transcripts(spark, input_dir)
    sessions = streaming_session_close(stream, gap="5 minutes")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_t")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    q.awaitTermination(300)
    out = spark.sql("select * from sessions_t")
    assert out.count() > 0
    # sessions respect the ordering invariant: last_turn_idx < n_turns only
    # if turns are missing from the window -- per conv totals must match
    totals = out.groupBy("conv_id").agg(F.sum("n_turns").alias("n"))
    src = spark.read.parquet(input_dir).groupBy("conv_id").agg(
        F.count("*").alias("n")
    )
    mism = (
        totals.withColumnRenamed("n", "a")
        .join(src.withColumnRenamed("n", "b"), "conv_id")
        .filter(F.col("a") != F.col("b"))
        .count()
    )
    assert mism == 0


def test_streaming_hourly_counts(spark, input_dir, tmp_path):
    stream = stream_transcripts(spark, input_dir)
    agg = streaming_hourly_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("hourly_t")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .start()
    )
    q.awaitTermination(300)
    out = spark.sql("select * from hourly_t")
    assert out.agg(F.sum("n")).collect()[0][0] == 4_000


def test_conversation_state_stream(spark, input_dir, tmp_path):
    stream = stream_transcripts(spark, input_dir)
    states = conversation_state_stream(stream, timeout_ms=60_000)
    q = (
        states.writeStream.format("memory")
        .queryName("conv_state_t")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck4"))
        .start()
    )
    q.awaitTermination(300)
    out = spark.sql(
        "select conv_id, max(total_turns) as total from conv_state_t group by conv_id"
    )
    src = spark.read.parquet(input_dir).groupBy("conv_id").agg(
        F.count("*").alias("n")
    )
    mism = (
        out.join(src, "conv_id").filter(F.col("total") != F.col("n")).count()
    )
    assert mism == 0


def test_kafka_wire_decode_and_source_seam(spark):
    """The Kafka path's wire decode is a pure Column transform, tested on a
    batch frame with the Kafka wire columns (no broker). The source seam
    errors clearly when the connector jar is absent."""
    import datetime as dt
    import json

    import pytest

    from commerce_logs_pipeline_spark.streaming.stream_pipeline import (
        build_stream_source,
        decode_kafka_transcripts,
        kafka_connector_available,
    )

    msg = {
        "conv_id": "c-1", "turn_idx": 3, "role": "assistant",
        "text": "hello", "tool": None, "ts": "2024-01-01T00:00:05.000Z",
    }
    wire = spark.createDataFrame(
        [("c-1".encode(), json.dumps(msg).encode(), "turns", 0, 42,
          dt.datetime(2024, 1, 1))],
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp",
    )
    row = decode_kafka_transcripts(wire).collect()[0]
    assert row.conv_id == "c-1" and row.turn_idx == 3
    assert row.role == "assistant" and row.text == "hello"

    if not kafka_connector_available(spark):
        with pytest.raises(ImportError, match="spark-sql-kafka"):
            build_stream_source(spark, "kafka", kafka_bootstrap="b:9092",
                                topic="turns")
    with pytest.raises(ValueError, match="unknown stream source"):
        build_stream_source(spark, "pulsar")

    # sink half is gated identically (no broker/jar in this sandbox)
    from commerce_logs_pipeline_spark.streaming.stream_pipeline import (
        write_stream_kafka,
    )

    if not kafka_connector_available(spark):
        with pytest.raises(ImportError, match="spark-sql-kafka"):
            write_stream_kafka(
                spark.createDataFrame([], "conv_id string, turn_idx int, "
                                      "role string, text string, "
                                      "tool string, ts timestamp"),
                "b:9092", "turns", "/tmp/ck",
            )


def test_streaming_dedup_drops_redeliveries(spark, tmp_path):
    """A redelivered (at-least-once) input file must not duplicate rows
    downstream of streaming_dedup_turns; state is watermark-bounded."""
    from commerce_logs_pipeline_spark.streaming.stream_pipeline import (
        streaming_dedup_turns,
    )

    src = str(tmp_path / "in")
    base = generate_transcripts(spark, 1_000, partitions=2)
    base.write.mode("overwrite").parquet(src)
    # simulate redelivery: the same rows land AGAIN as new files
    base.write.mode("append").parquet(src)
    assert spark.read.parquet(src).count() == 2_000

    out = streaming_dedup_turns(stream_transcripts(spark, src))
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_turns")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("SELECT * FROM dedup_turns")
    assert got.count() == 1_000
    assert got.select("conv_id", "turn_idx").distinct().count() == 1_000


def test_kafka_wire_round_trip(spark):
    """encode -> decode over the wire columns is lossless for every
    transcript field (including null text/tool and sub-second
    timestamps), and the key carries conv_id bytes for per-conversation
    Kafka partition ordering."""
    import datetime as dt

    from commerce_logs_pipeline_spark.streaming.stream_pipeline import (
        decode_kafka_transcripts,
        encode_kafka_transcripts,
    )
    from commerce_logs_pipeline_spark.schemas import TRANSCRIPT_SCHEMA

    rows = [
        ("c-1", 0, "user", "hi there", None,
         dt.datetime(2024, 1, 1, 0, 0, 5, 250000)),
        ("c-1", 1, "assistant", None, "search",
         dt.datetime(2024, 1, 1, 0, 0, 6)),
        ("c-2", 0, "tool", "{\"a\": 1}", "calc",
         dt.datetime(2024, 6, 30, 23, 59, 59, 999000)),
    ]
    src = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    wire = encode_kafka_transcripts(src)
    keys = [bytes(r.key).decode() for r in wire.collect()]
    assert sorted(keys) == ["c-1", "c-1", "c-2"]
    back = decode_kafka_transcripts(wire)
    # from_json fields are always nullable; names+types must match exactly
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in src.schema.fields
    ]
    assert sorted(map(tuple, back.collect())) == sorted(rows)


def test_streaming_composed_e2e_with_restart(spark, tmp_path):
    """VERDICT r5 #6: the streaming operators COMPOSED — at-least-once
    source -> watermark-bounded dedup -> session close AND hourly counts
    in the same logical stream — with a stop/restart (new backlog files +
    fresh redeliveries of already-processed rows) in the middle. The
    individually-tested pieces must keep their guarantees when their
    state machines (dedup state, session windows, window aggregates,
    watermark) share one pipeline across a checkpoint recovery."""
    from commerce_logs_pipeline_spark.streaming.stream_pipeline import (
        streaming_dedup_turns,
        streaming_hourly_counts,
        streaming_session_close,
    )

    src = str(tmp_path / "in")
    all_rows = generate_transcripts(spark, 2_000, partitions=4).persist()
    # split by TIME, the real backlog shape: phase 2's new rows sit ahead
    # of the recovered watermark (an id-based split would feed the
    # restarted stream rows behind the phase-1 watermark, which the
    # lateness contract DROPS by design — that's a different test)
    split_ts = all_rows.agg(
        F.percentile_approx("ts", 0.5).alias("p")
    ).collect()[0]["p"]
    half_a = all_rows.filter(F.col("ts") <= F.lit(split_ts))
    half_b = all_rows.filter(F.col("ts") > F.lit(split_ts))

    def run_phase():
        deduped = streaming_dedup_turns(stream_transcripts(spark, src))
        qs = []
        for name, frame in (
            ("e2e_sessions", streaming_session_close(
                deduped, gap="5 minutes", lateness=None)),
            ("e2e_hourly", streaming_hourly_counts(deduped, lateness=None)),
        ):
            qs.append(
                frame.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .trigger(availableNow=True)
                .option(
                    "checkpointLocation", str(tmp_path / f"ck_{name}")
                )
                .start()
            )
        for q in qs:
            q.awaitTermination(300)

    # phase 1: half the turns, plus a same-phase redelivery of them
    half_a.write.mode("overwrite").parquet(src)
    half_a.write.mode("append").parquet(src)
    run_phase()
    mid = spark.sql("SELECT sum(n) AS s FROM e2e_hourly").collect()[0]["s"]
    assert mid == half_a.count()  # redelivered rows deduped pre-agg

    # "crash"/restart: new backlog lands — the other half PLUS another
    # redelivery of phase-1 rows — and both queries resume from their
    # checkpoints (dedup + aggregate state recovered, not recomputed)
    half_b.write.mode("append").parquet(src)
    half_a.limit(200).write.mode("append").parquet(src)
    run_phase()

    n_total = all_rows.count()
    got_hourly = spark.sql("SELECT sum(n) AS s FROM e2e_hourly").collect()[
        0
    ]["s"]
    assert got_hourly == n_total  # every unique turn exactly once

    # session totals per conversation == unique turns per conversation
    totals = (
        spark.sql(
            "SELECT conv_id, sum(n_turns) AS n FROM e2e_sessions "
            "GROUP BY conv_id"
        )
    )
    src_counts = all_rows.groupBy("conv_id").agg(F.count("*").alias("m"))
    mism = (
        totals.join(src_counts, "conv_id", "full")
        .filter(
            F.coalesce(F.col("n"), F.lit(-1))
            != F.coalesce(F.col("m"), F.lit(-2))
        )
        .count()
    )
    assert mism == 0
    all_rows.unpersist()


def test_streaming_appends_interleaved_with_live_compaction(spark, tmp_path):
    """LIVE writer + maintenance: stream half the input, run
    compact_routed + vacuum_superseded while the stream is stopped
    mid-data, stream the rest into the same table, compact again — the
    authoritative routed read must hold the exact input row set at
    every step (the read-asof supersession ordering under a real
    streaming writer, not just the manifest-level property test)."""
    from commerce_logs_pipeline_spark.operators.router import (
        compact_routed,
        read_routed,
        vacuum_superseded,
    )
    from commerce_logs_pipeline_spark.plans.checkpoint import ManifestStore
    from commerce_logs_pipeline_spark.synth import generate_transcripts

    src = str(tmp_path / "src")
    base = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    full = generate_transcripts(spark, 3_000, partitions=4).cache()
    keys = {(r.conv_id, r.turn_idx) for r in
            full.select("conv_id", "turn_idx").collect()}

    def routed_keys():
        return {(r.conv_id, r.turn_idx) for r in
                read_routed(spark, base)
                .select("conv_id", "turn_idx").collect()}

    # wave 1: first half arrives as 8 files, which the stream drains as
    # two micro-batches (4 files per trigger), so the sealed partitions
    # hold two chunk runs for compaction to consolidate
    full.filter(F.col("turn_idx") % 2 == 0).repartition(8).write.mode(
        "overwrite").parquet(src)
    q = run_streaming_pipeline(spark, src, base, ckpt, available_now=True)
    q.awaitTermination(300)
    half = {k for k in keys if k[1] % 2 == 0}
    assert routed_keys() == half

    # maintenance between waves: seal the streamed (open chunk) days so
    # compaction can engage, then compact + vacuum
    sealed = ManifestStore(f"{base}/_manifest").seal_partitions(spark)
    assert sealed, "streamed chunk partitions should seal"
    rep1 = compact_routed(spark, base)
    assert rep1["partitions"] > 0, "sealed chunks must be compactable"
    vacuum_superseded(spark, base, rep1["run_id"])
    assert routed_keys() == half  # maintenance never changes the row set

    # wave 2: rest of the data arrives as NEW files, stream resumes
    full.filter(F.col("turn_idx") % 2 == 1).write.mode("append").parquet(src)
    q2 = run_streaming_pipeline(spark, src, base, ckpt, available_now=True)
    q2.awaitTermination(300)
    assert routed_keys() == keys  # compacted half + fresh chunks

    # final maintenance consolidates everything; row set still exact
    ManifestStore(f"{base}/_manifest").seal_partitions(spark)
    rep2 = compact_routed(spark, base)
    assert rep2["partitions"] > 0
    vacuum_superseded(spark, base, rep2["run_id"])
    assert routed_keys() == keys
    full.unpersist()
