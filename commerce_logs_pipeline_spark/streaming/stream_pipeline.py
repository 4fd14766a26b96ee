"""Structured Streaming face of the engine (SURVEY §2.8 T1-T6).

Reference parity (/root/reference):
- T2 polling/micro-batch: blob-monitor ticks every 300 s
  (blob-monitor/internal/service/service.go:278-299) -> file-source
  micro-batches with a processingTime/availableNow trigger.
- T1 inactivity close: a blob "closes" after 5 idle minutes
  (blob_closing_processor.go:68-92) -> ``session_window`` gap windows, and
  a custom stateful operator (conversation_close_stream) built on
  applyInPandasWithState with an event-time timeout.
- T3 late data: 60-min EOD overlap rescan (service.go:302-328) ->
  ``withWatermark`` bounded lateness.
- T4 resumable offsets + at-least-once + idempotent keys
  (worker.go:416-509) -> checkpointLocation + foreachBatch committing each
  micro-batch through the batch ``commit_run`` under the replay-stable run
  id ``batch-N`` (a replay overwrites its own snapshot dir; the manifest
  fold dedupes its events on run_id).
- T6 stateful fold (blob_state_processor.go:50-96) -> the same fold runs
  in foreachBatch via the batch ManifestStore, keeping one code path.

Scale notes: the streaming plan shares the batch parse/enrich functions
and commit path verbatim — foreachBatch hands each micro-batch to the
identical ``commit_run``, so throughput characteristics, sink layout and
the conservation check match the batch engine exactly.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.parse import parse_transcripts
from ..plans.enrich import enrich_with_default_dims
from ..plans.pipeline import commit_run
from ..schemas import TRANSCRIPT_SCHEMA


def stream_transcripts(
    spark: SparkSession, input_path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream over a transcript parquet directory — the
    blob-monitor discovery loop (S1/T2) as a Spark source."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )


def kafka_connector_available(spark: SparkSession | None = None) -> bool:
    """True if the spark-sql-kafka connector is loadable. With a live
    session, ask the DRIVER JVM's classloader — the only check that sees
    jars vendored via --packages/--jars (they live in the ivy cache /
    spark.jars classpath, never in pip-pyspark's bundled jars dir).
    Without a session, fall back to scanning the bundled jars dir."""
    if spark is not None:
        try:
            spark._jvm.java.lang.Class.forName(
                "org.apache.spark.sql.kafka010.KafkaSourceProvider"
            )
            return True
        except Exception:
            return False
    import os

    try:
        import pyspark

        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        return any("spark-sql-kafka" in j for j in os.listdir(jars))
    except OSError:
        return False


def encode_kafka_transcripts(transcripts: DataFrame) -> DataFrame:
    """Transcript frame -> Kafka wire columns (the producer half of the
    seam): key = conv_id bytes, so all turns of one conversation land in
    one Kafka partition (per-stream ordering, the reference's keyed
    Ingestion.Blobs production), value = one JSON turn per record. The
    exact inverse of ``decode_kafka_transcripts`` — round-trip pinned by
    test so the wire contract is verified logic, not just typed."""
    return transcripts.select(
        F.col("conv_id").cast("string").cast("binary").alias("key"),
        F.to_json(
            F.struct(*[f.name for f in TRANSCRIPT_SCHEMA.fields])
        ).cast("binary").alias("value"),
    )


def decode_kafka_transcripts(raw: DataFrame) -> DataFrame:
    """Kafka wire -> transcript frame: each record's value is one JSON
    transcript turn (the reference's ``Ingestion.Blobs`` message analog,
    events/blob.go:46-54), keyed by conv_id for partition ordering. Pure
    Column decode — unit-testable on a batch frame with the Kafka wire
    columns, no broker needed."""
    t = F.from_json(F.col("value").cast("string"), TRANSCRIPT_SCHEMA)
    return raw.select(t.alias("t")).select("t.*")


def write_stream_kafka(
    transcripts: DataFrame,
    kafka_bootstrap: str,
    topic: str,
    checkpoint_path: str,
):
    """Producer half of the Kafka seam: encode to wire columns
    (conv_id-keyed for per-conversation partition ordering — the
    reference's keyed topic production) and writeStream to the topic.
    Connector-gated exactly like the source; the encode itself is
    round-trip-verified broker-free (test_kafka_wire_round_trip)."""
    spark = transcripts.sparkSession
    if not kafka_connector_available(spark):
        raise ImportError(
            "Kafka sink needs the spark-sql-kafka connector jar on the "
            "classpath (vendor it via --packages "
            "org.apache.spark:spark-sql-kafka-0-10_2.13)"
        )
    return (
        encode_kafka_transcripts(transcripts)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", kafka_bootstrap)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_path)
        .start()
    )


def build_stream_source(
    spark: SparkSession,
    source: str = "files",
    input_path: str | None = None,
    kafka_bootstrap: str | None = None,
    topic: str | None = None,
    max_files_per_trigger: int = 4,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Config-switched S3 source seam. The reference consumes Kafka
    (configs/kafka_topics.yaml); this sandbox has no broker, so the
    default is the file source (identical downstream plan). source="kafka"
    builds ``readStream.format("kafka")`` + the wire decode — it requires
    the spark-sql-kafka connector jar (absent from pip pyspark; checked
    with a clear error so cluster deployments just work)."""
    if source == "files":
        if input_path is None:
            raise ValueError("input_path required for the file source")
        return stream_transcripts(spark, input_path, max_files_per_trigger)
    if source == "kafka":
        if not kafka_connector_available(spark):
            raise ImportError(
                "source='kafka' needs the spark-sql-kafka connector jar on "
                "the classpath (vendor it via --packages "
                "org.apache.spark:spark-sql-kafka-0-10_2.13)"
            )
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", kafka_bootstrap)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
        return decode_kafka_transcripts(raw)
    raise ValueError(f"unknown stream source: {source!r}")


def run_streaming_pipeline(
    spark: SparkSession,
    input_path: str,
    base_path: str,
    checkpoint_path: str,
    available_now: bool = True,
):
    """Streaming parse -> enrich -> ``commit_run`` per micro-batch: one
    snapshot write + one manifest append each, at-least-once delivery with
    idempotent replay (T4). Micro-batches write no ``agg/*``: each run's
    aggregates overwrite the previous ones, so they would cover only the
    latest batch.
    """
    stream = stream_transcripts(spark, input_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # batch_id is STABLE across foreachBatch replays, so a replayed
        # batch commits under the same run id — exactly-once effect from
        # at-least-once delivery (T4; trace-model.md:50-57 discipline)
        commit_run(
            enrich_with_default_dims(parse_transcripts(batch_df)),
            base_path, f"batch-{batch_id}", status="open",
            write_aggregates=False,
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="30 seconds")
    return writer.start()


def streaming_dedup_turns(
    stream: DataFrame,
    keys: list[str] | None = None,
    lateness: str = "1 hour",
) -> DataFrame:
    """At-least-once wire -> effectively-once rows: drop duplicate turns
    by idempotent key within the watermark horizon. The streaming half of
    the reference's at-least-once + idempotent-keys contract
    (docs/trace-model.md:50-57; worker.go:416-509 redelivery): redelivered
    records inside the lateness window dedup in state, and the watermark
    BOUNDS that state (keys older than the horizon are evicted — without
    it the dedup state grows with the whole stream's key cardinality,
    the classic unbounded-state failure at 100 TB/day)."""
    keys = keys or ["conv_id", "turn_idx"]
    return stream.withWatermark("ts", lateness).dropDuplicatesWithinWatermark(
        keys
    )


def streaming_hourly_counts(
    stream: DataFrame, lateness: str | None = "1 hour"
) -> DataFrame:
    """Watermarked tumbling-window counts (T3 late-data handling).
    ``lateness=None`` inherits an upstream watermark — required when
    composing after another stateful operator (e.g. streaming_dedup_
    turns): Spark disallows redefining the watermark mid-pipeline."""
    return (
        (stream if lateness is None else stream.withWatermark("ts", lateness))
        .groupBy(F.window("ts", "1 hour"), "role")
        .agg(F.count("*").alias("n"))
    )


def streaming_session_close(
    stream: DataFrame,
    gap: str = "5 minutes",
    lateness: str | None = "10 minutes",
) -> DataFrame:
    """T1 blob-close analog: a conversation session closes after ``gap``
    of inactivity; emits one row per closed session via session_window.
    ``lateness=None`` inherits an upstream watermark (see
    streaming_hourly_counts)."""
    return (
        (stream if lateness is None else stream.withWatermark("ts", lateness))
        .groupBy(F.session_window("ts", gap), "conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.max("turn_idx").alias("last_turn_idx"),
        )
        .select(
            "conv_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_turns",
            "last_turn_idx",
        )
    )


# --- custom stateful operator: conversation state machine (T6) -------------
CONV_STATE_OUTPUT = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("status", T.StringType(), False),  # open|closed
        T.StructField("total_turns", T.LongType(), False),
        T.StructField("max_turn_idx", T.IntegerType(), True),
    ]
)
CONV_STATE_SCHEMA = T.StructType(
    [
        T.StructField("total_turns", T.LongType(), False),
        T.StructField("max_turn_idx", T.IntegerType(), True),
    ]
)


def conversation_state_stream(stream: DataFrame, timeout_ms: int = 300_000):
    """Running per-conversation fold with inactivity timeout — the
    BlobState processor (blob_state_processor.go:50-96 + closing processor
    :68-92) as an applyInPandasWithState operator. Emits an updated 'open'
    row per batch a conversation appears in, and a terminal 'closed' row
    when the processing-time timeout fires.
    """

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        if state.hasTimedOut:
            total, mx = state.get
            state.remove()
            yield pd.DataFrame(
                [{"conv_id": conv_id, "status": "closed",
                  "total_turns": total, "max_turn_idx": mx}]
            )
            return
        total, mx = state.get if state.exists else (0, None)
        for pdf in pdfs:
            total += len(pdf)
            batch_max = int(pdf["turn_idx"].max()) if len(pdf) else None
            if batch_max is not None:
                mx = batch_max if mx is None else max(mx, batch_max)
        state.update((total, mx))
        state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            [{"conv_id": conv_id, "status": "open",
              "total_turns": total, "max_turn_idx": mx}]
        )

    return stream.groupBy("conv_id").applyInPandasWithState(
        fold,
        outputStructType=CONV_STATE_OUTPUT,
        stateStructType=CONV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
