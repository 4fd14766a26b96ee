"""Span/trace assembly — the reference's DESIGNED correlation stage,
implemented for real (the reference never shipped it; docs only).

Reference parity (/root/reference):
- span/trace model: pipeline/traces/model.go:30-49 (trace_id, span_id,
  parent_span_id, kind, start/end ns, status, attributes, resource)
- deterministic UUIDv5-style ids so reprocessing is idempotent without
  exactly-once delivery: docs/trace-model.md:50-57
- J4 thread-based request<->app-log correlation within a conversation:
  docs/pipeline_design.md:60-64
- J5 app<->proxy correlation by (client_ip, method, path) within a time
  window: docs/pipeline_design.md:66-70
- J6 span-event assembly: group partial events by span_id, coalesce fields,
  dedup by (trace_id, span_id): docs/pipeline_design.md:103-115
- S8 sink: daily indices, doc id = trace_id + span_id -> here spans carry
  a ``day`` column and are deduped on (trace_id, span_id).

Spark shape: correlations are equi/range joins (operators/asof.py), span
assembly is a coalescing groupBy (first ignorenulls), ids are sha2 hashes
of stable keys — all deterministic, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.asof import range_correlate


def deterministic_id(*cols, bits: int = 32) -> F.Column:
    """UUIDv5 analog: stable hex id from namespace-like column content
    (trace-model.md:50-57 — never random, replay produces the same id)."""
    return F.substring(F.sha2(F.concat_ws("\x1f", *cols), 256), 1, bits)


def http_spans(parsed: DataFrame) -> DataFrame:
    """SERVER spans from http/proxy records: one span per request row."""
    req = parsed.filter(F.col("category").isin("http", "proxy"))
    trace_id = deterministic_id(
        F.col("conv_id"), F.col("turn_idx").cast("string")
    )
    span_id = deterministic_id(
        F.lit("req"), F.col("conv_id"), F.col("turn_idx").cast("string"),
        bits=16,
    )
    return req.select(
        trace_id.alias("trace_id"),
        span_id.alias("span_id"),
        F.lit(None).cast("string").alias("parent_span_id"),
        F.concat(F.col("method"), F.lit(" "), F.col("path")).alias("name"),
        F.lit("SERVER").alias("kind"),
        F.col("ts_ns").alias("start_time_unix_nano"),
        (F.col("ts_ns") + F.col("response_time_ms") * F.lit(1_000_000)).alias(
            "end_time_unix_nano"
        ),
        F.when(F.col("status_code") >= 500, F.lit("ERROR"))
        .otherwise(F.lit("OK"))
        .alias("status_code_otel"),
        F.create_map(
            F.lit("http.status_code"), F.col("status_code").cast("string"),
            F.lit("http.method"), F.col("method"),
            F.lit("http.target"), F.col("path"),
            F.lit("client.address"), F.col("client_ip"),
        ).alias("attributes"),
        F.col("pod_name"),
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("ts"),
        F.col("client_ip"),
        F.col("method"),
        F.col("path"),
        # log4j2 thread of the raw request line — the J4 correlation key
        # (null for proxy rows; fmt2 has no thread)
        F.col("thread"),
    )


def app_log_events(parsed: DataFrame) -> DataFrame:
    """Internal span events from app/error records (thread-correlated)."""
    return parsed.filter(F.col("category").isin("app", "error")).select(
        "conv_id", "turn_idx", "ts", "ts_ns", "level", "logger", "thread",
        "msg", "thrown",
    )


def correlate_app_to_spans(
    spans: DataFrame, app_events: DataFrame, tolerance_sec: int = 60
) -> DataFrame:
    """J4 thread-based request<->app-log correlation with a time-window
    fallback (pipeline_design.md:60-64): every app-log event attaches to
    exactly ONE request span in the same conversation — preferring a span
    whose log4j2 thread id matches the event's, then the nearest in time,
    then the earliest span (total, deterministic order). Events whose
    thread matches nothing fall back to pure time-window proximity."""
    ev = app_events.select(
        "conv_id",
        F.col("turn_idx").alias("ev_turn_idx"),
        F.col("ts").alias("ev_ts"),
        F.col("ts_ns").alias("ev_ts_ns"),
        "level", "logger",
        F.col("thread").alias("ev_thread"),
        "msg", "thrown",
    )
    pairs = range_correlate(
        spans.select("conv_id", "trace_id", "span_id", "ts",
                     F.col("thread").alias("sp_thread")),
        ev,
        on=["conv_id"],
        left_ts="ts",
        right_ts="ev_ts",
        tolerance_sec=tolerance_sec,
    )
    thread_match = (
        F.col("sp_thread").isNotNull()
        & (F.col("sp_thread") == F.col("ev_thread"))
    ).cast("int")
    gap = F.abs(
        F.unix_timestamp(F.col("ts")) - F.unix_timestamp(F.col("ev_ts"))
    )
    from ..operators.windows import latest_per_key

    # argmin per app event: (conv_id, ev_turn_idx) is the event's natural key
    joined = latest_per_key(
        pairs.withColumn("_tm", thread_match).withColumn("_gap", gap),
        ["conv_id", "ev_turn_idx"],
        [F.desc("_tm"), F.asc("_gap"), F.asc("ts")],
    ).drop("_tm", "_gap", "sp_thread", "ev_thread")
    child_span_id = deterministic_id(
        F.lit("app"), F.col("conv_id"), F.col("ev_turn_idx").cast("string"),
        bits=16,
    )
    return joined.select(
        F.col("trace_id"),
        child_span_id.alias("span_id"),
        F.col("span_id").alias("parent_span_id"),
        F.col("logger").alias("name"),
        F.lit("INTERNAL").alias("kind"),
        F.col("ev_ts_ns").alias("start_time_unix_nano"),
        F.col("ev_ts_ns").alias("end_time_unix_nano"),
        F.when(F.col("level").isin("ERROR", "FATAL"), F.lit("ERROR"))
        .otherwise(F.lit("OK"))
        .alias("status_code_otel"),
        F.create_map(
            F.lit("log.level"), F.col("level"),
            F.lit("log.message"), F.col("msg"),
            F.lit("exception"), F.coalesce(F.col("thrown"), F.lit("")),
        ).alias("attributes"),
        F.col("conv_id"),
        F.col("ev_ts").alias("ts"),
    )


def assemble_traces(parsed: DataFrame, tolerance_sec: int = 60) -> DataFrame:
    """Full trace table: SERVER spans + correlated INTERNAL child spans,
    coalesced per span_id and deduped on (trace_id, span_id) — J6 + the
    S8 sink's id discipline."""
    spans = http_spans(parsed)
    children = correlate_app_to_spans(spans, app_log_events(parsed),
                                      tolerance_sec)
    server = spans.select(
        "trace_id", "span_id", "parent_span_id", "name", "kind",
        "start_time_unix_nano", "end_time_unix_nano", "status_code_otel",
        "attributes", "conv_id", "ts",
    )
    all_spans = server.unionByName(children)
    # J6 coalescing merge: first non-null value per field per span_id
    merged = all_spans.groupBy("trace_id", "span_id").agg(
        *[
            F.first(c, ignorenulls=True).alias(c)
            for c in all_spans.columns
            if c not in ("trace_id", "span_id")
        ]
    )
    return merged.dropDuplicates(["trace_id", "span_id"]).withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )

