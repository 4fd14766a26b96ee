"""Aggregation stage: per-conversation folds, per-tool rates, rollups,
windows, top-k — the Spark expression of the reference's aggregate surface
(SURVEY §2.5/§2.6; citations into /root/reference inline below).

Scale notes: every aggregate here is a hash aggregate with map-side partial
aggregation (Spark does partial/final automatically — the analog of the
reference's per-consumer fold). The aggregates cover the frame they are
given; nothing merges them across runs. Window functions
partition by conv_id, the same key the sinks are bucketed by, so AQE can
often reuse the exchange. Hot-key conv_ids are handled by the salted
two-phase variant in operators/skew.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def conv_turn_counts(parsed: DataFrame) -> DataFrame:
    """Per-conversation fold — A2/A3 analog.

    blob_state_processor.go:231-260: monotonic max offset -> max(turn_idx)
    watermark; totalLinesIngested sum -> counts; first/last observed ->
    min/max(ts).
    """
    return parsed.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.max("turn_idx").alias("max_turn_idx"),
        F.sum(F.when(F.col("category").isin("error", "parse_error"), 1).otherwise(0))
        .alias("n_errors"),
        F.sum(F.when(F.col("category") == "tool_call", 1).otherwise(0))
        .alias("n_tool_calls"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def per_tool_call_rates(parsed: DataFrame) -> DataFrame:
    """Per-tool call counts + error rate (A4/A6 analog: per-category
    processed/extracted/error counters, service.go:193-204)."""
    calls = parsed.filter(F.col("category") == "tool_call")
    return calls.groupBy("tool_name").agg(
        F.count("*").alias("calls"),
        F.round(
            F.sum(F.when(F.col("tool_status") >= 500, 1).otherwise(0))
            / F.count("*"),
            4,
        ).alias("error_rate"),
        F.round(F.avg("tool_latency_ms"), 2).alias("avg_latency_ms"),
        F.max("tool_latency_ms").alias("p100_latency_ms"),
    )


def hourly_error_rollup(parsed: DataFrame) -> DataFrame:
    """Error-rate rollup per hour — explore_raw_logs.py:480-520 analog with
    time bucketing; tumbling window via date_trunc (no state needed)."""
    return (
        parsed.withColumn("hour", F.date_trunc("hour", "ts"))
        .groupBy("hour")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(
                F.when(F.col("category").isin("error", "parse_error"), 1).otherwise(0)
            ).alias("n_errors"),
        )
        .withColumn(
            "error_rate", F.round(F.col("n_errors") / F.col("n_turns"), 4)
        )
    )


def status_class_rollup(parsed: DataFrame) -> DataFrame:
    """HTTP status-class counts per service-ish dimension (A6)."""
    return (
        parsed.filter(F.col("status_code").isNotNull())
        .withColumn(
            "status_class",
            F.concat((F.col("status_code") / 100).cast("int").cast("string"),
                     F.lit("xx")),
        )
        .groupBy("category", "status_class")
        .agg(
            F.count("*").alias("n"),
            F.sum("bytes_sent").alias("total_bytes"),
            F.round(F.avg("response_time_ms"), 2).alias("avg_response_ms"),
        )
    )


def windowed_tool_rates(parsed: DataFrame, lookback: int = 9) -> DataFrame:
    """W7: rolling per-conversation tool-call/error rates over turn windows
    (partitionBy(conv_id).orderBy(turn_idx) rowsBetween(-k, 0))."""
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-lookback, Window.currentRow)
    )
    return parsed.select(
        "conv_id",
        "turn_idx",
        F.sum(F.when(F.col("category") == "tool_call", 1).otherwise(0))
        .over(w)
        .alias("tool_calls_in_window"),
        F.round(
            F.avg(
                F.when(F.col("category").isin("error", "parse_error"), 1.0).otherwise(
                    0.0
                )
            ).over(w),
            4,
        ).alias("error_rate_in_window"),
    )


def latest_state_per_conv(parsed: DataFrame) -> DataFrame:
    """W2 compaction analog: latest row per key (last-write-wins replay of
    the compacted Ingestion.BlobState topic, blob_state_processor.go:289-375)."""
    w = Window.partitionBy("conv_id").orderBy(
        F.desc("turn_idx"), F.desc("ts")
    )
    return (
        parsed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def top_k_conversations(parsed: DataFrame, k: int = 10) -> DataFrame:
    """W4 top-10 counts analog (explore_raw_logs.py:548-555)."""
    return (
        parsed.groupBy("conv_id")
        .agg(F.count("*").alias("n_turns"))
        .orderBy(F.desc("n_turns"), "conv_id")
        .limit(k)
    )


def partition_stats(
    df: DataFrame,
    part_cols: tuple[str, ...] = ("day", "bucket"),
    payload_col: str = "text",
    ts_col: str = "ts",
    stream_col: str = "conv_id",
) -> DataFrame:
    """A8 per-partition listing stats (explore_raw_logs.py:210-260 analog:
    the reference's per-partition message/byte counts view): rows, distinct
    streams, payload bytes, first/last timestamps per partition key.

    One hash aggregate over the partition key — map-side partials make the
    shuffle carry only one row per (partition, task). payload bytes are
    logical (octet_length of the payload column), matching the reference's
    line-byte accounting; for PHYSICAL file-level stats of the routed
    layout see operators.router.partition_file_stats."""
    return df.groupBy(*[F.col(c) for c in part_cols]).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct(stream_col).alias("n_streams"),
        F.sum(F.octet_length(payload_col)).alias("payload_bytes"),
        F.min(ts_col).alias("first_ts"),
        F.max(ts_col).alias("last_ts"),
    )
