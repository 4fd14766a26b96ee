"""Vectorized parse/extract kernel — the engine's "grok stage".

Reference parity (citations into /root/reference):
- format sniff + union dispatch: extractor.go:42-66 (Format 1 vs Format 2)
- HTTP-vs-app classifier: extractor.go:103-146; proxy classifier :820-832
- request-line regex ``^([A-Z_]+)\\s+([^\\s]+)\\s+([A-Z]+)/[\\d.]+$``:
  extractor.go:29, applied :293-299/:378-384
- log-level regex with INFO default: extractor.go:32, :221-227
- service-from-pod regex: extractor.go:24, :173-185
- timestamp dialects (timeMillis*1e6 / epochSecond*1e9+nano / RFC3339Nano):
  extractor.go:250, :440-448, :200-218
- dynamic-type coercion with "-" -> 0: extractor.go:313-357, :398-421
- skip rules (silently dropped, counted as success): extractor.go:152-154,
  :287-311; service.go:232-235
- validation contract: extractor.go:503-561
- standard-method whitelist: extractor.go:230-243

Execution model: JSON structure lands via ``from_json`` (JVM, whole-stage
codegen — faster than any Python path); the line-oriented grok dialect
(TOOL_CALL) runs through an Arrow-batched pandas UDF using
``Series.str.extract`` — vectorized C regex, zero per-row Python. At 100 TB
the from_json/regexp work is embarrassingly parallel map work with no
shuffle; only the router/aggregate stages downstream shuffle.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..schemas import FMT1_SCHEMA, FMT2_SCHEMA

# extractor.go:29
REQUEST_LINE_RX = r"^([A-Z_]+)\s+([^\s]+)\s+([A-Z]+)/[\d.]+$"
# extractor.go:32
LEVEL_RX = r"(?i)\b(TRACE|DEBUG|INFO|WARN|WARNING|ERROR|FATAL)\b"
# extractor.go:24
SERVICE_FROM_POD_RX = r"^([a-z-]+?)(?:-[a-f0-9]+)?-[a-z0-9]+$"
# extractor.go:230-243
STANDARD_METHODS = [
    "GET", "HEAD", "POST", "PUT", "DELETE", "CONNECT", "OPTIONS", "TRACE", "PATCH",
]

# ---------------------------------------------------------------------------
# Generic grok: %{PATTERN:field:type} -> named-group regex -> pandas UDF
# ---------------------------------------------------------------------------
_GROK_BASE = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "IP": r"\d{1,3}(?:\.\d{1,3}){3}",
    "GREEDYDATA": r".*",
}
_GROK_TOKEN = re.compile(r"%\{(\w+):(\w+)(?::(\w+))?\}")


def grok_to_regex(pattern: str) -> tuple[str, list[tuple[str, str]]]:
    """Compile a grok-style pattern to (named-group regex, [(field, type)])."""
    fields: list[tuple[str, str]] = []

    def sub(m: re.Match) -> str:
        base, name, typ = m.group(1), m.group(2), m.group(3) or "string"
        fields.append((name, typ))
        return f"(?P<{name}>{_GROK_BASE[base]})"

    return _GROK_TOKEN.sub(sub, pattern), fields


_TYPE_MAP = {"string": T.StringType(), "int": T.IntegerType(), "long": T.LongType(),
             "double": T.DoubleType()}
_PD_CAST = {"int": "Int32", "long": "Int64", "double": "float64"}


def grok_udf(pattern: str):
    """Build an Arrow-batched pandas UDF extracting ``pattern`` into a struct.

    The regex runs via ``Series.str.extract`` (vectorized); types are cast
    column-wise. This is the engine's general grok surface (north rule:
    "vectorized grok/regex parse via pandas/Arrow UDFs").
    """
    rx, fields = grok_to_regex(pattern)
    schema = T.StructType([T.StructField(n, _TYPE_MAP[t], True) for n, t in fields])
    compiled = re.compile(rx)  # compiled once per executor (X14 idiom)

    # cheap vectorized prefilter: a literal prefix (before the first
    # meta-character) lets us regex only candidate rows instead of all
    prefix = re.match(r"^\^?([\w ]+)", pattern.replace("%", "\x00"))
    literal_prefix = prefix.group(1).split("\x00")[0].strip() if prefix else ""

    @pandas_udf(schema)
    def _extract(s: pd.Series) -> pd.DataFrame:
        if literal_prefix:
            mask = s.str.startswith(literal_prefix, na=False)
            out = pd.DataFrame(index=s.index,
                               columns=[n for n, _ in fields], dtype=object)
            if mask.any():
                out.loc[mask, :] = s[mask].str.extract(compiled).to_numpy()
        else:
            out = s.str.extract(compiled)
        for name, typ in fields:
            if typ in _PD_CAST:
                out[name] = pd.to_numeric(out[name], errors="coerce").astype(
                    _PD_CAST[typ]
                )
            else:
                out[name] = out[name].astype("object").where(out[name].notna(),
                                                             None)
        return out

    return _extract


# FIXTURES.md §2e — the transcript-native tool-invocation dialect.
TOOL_CALL_PATTERN = (
    r"^TOOL_CALL tool=%{WORD:tool_name} status=%{INT:tool_status:int} "
    r"latency_ms=%{INT:tool_latency_ms:long} args_bytes=%{INT:tool_args_bytes:long}$"
)


# ---------------------------------------------------------------------------
# Column-expression helpers (JVM-side, codegen'd)
# ---------------------------------------------------------------------------
def extract_level(msg: Column) -> Column:
    """First log-level token, uppercased, WARNING->WARN? No: reference keeps
    the matched token uppercased and defaults to INFO (extractor.go:221-227)."""
    m = F.regexp_extract(msg, LEVEL_RX, 1)
    return F.when(m == "", F.lit("INFO")).otherwise(F.upper(m))


def service_from_pod(pod: Column) -> Column:
    """extractor.go:173-185 — regex capture, fallback split-on-dash head."""
    m = F.regexp_extract(pod, SERVICE_FROM_POD_RX, 1)
    return F.coalesce(F.nullif(m, F.lit("")), F.split(pod, "-").getItem(0))


def _dash_to_zero(col: Column) -> Column:
    """extractor.go:406 — "-" means 0 in apache numeric strings; dynamic JSON
    types (int/float/string, extractor.go:313-357) arrive as token text, so
    coerce via try_cast(double) -> long (ANSI-safe: malformed -> null, the
    Go type-switch's silent-tolerance analog)."""
    return (
        F.when(col.isNull() | (col == "-"), F.lit(0))
        .otherwise(col.try_cast("double"))
        .cast("long")
    )


def fmt2_prefilter(txt: Column) -> Column:
    """fmt2 lines always carry one of these keys as a literal substring;
    this contains-prefilter skips the second JSON parse for fmt1 lines
    (~half the JSON rows). The CLOSING quote is part of each needle: a
    bare '"log' prefix also matches fmt1's "loggerName" (present in every
    app line) and sends ~20% of the corpus through the second from_json
    for nothing. False positives (key text inside a fmt1 value) only cost
    a parse that yields nulls — same semantics."""
    return (
        txt.contains('"@timestamp"')
        | txt.contains('"logs"')
        | txt.contains('"log"')
        | txt.contains('"time"')
        | txt.contains('"stream"')
    )


def parse_transcripts(df: DataFrame, use_pandas_grok: bool = True) -> DataFrame:
    """Parse + classify every turn into the superset PARSED_SCHEMA frame.

    Input: transcript frame (conv_id, turn_idx, role, text, tool, ts).
    Output: input columns + category + typed fields (schemas.PARSED_SCHEMA).
    Pure map-side: no shuffle introduced here.
    """
    txt = F.col("text")
    # strings.TrimSpace semantics (extractor.go:152-154): ALL whitespace,
    # not just ASCII space (F.trim only strips spaces).
    is_blank = txt.isNull() | txt.rlike(r"^\s*$")
    json_like = F.regexp_replace(txt, r"^\s+", "").startswith("{")

    # Two schema-on-read passes, one per wire format (extractor.go:42-66
    # try-fmt1-else-fmt2). Kept as SEPARATE from_json calls so "Logs" (fmt1)
    # and "logs" (apache) never share a struct — field access by name would
    # be AMBIGUOUS_REFERENCE_TO_FIELDS under default spark.sql.caseSensitive
    # =false. Both parses are gated on the json_like prefilter so non-JSON
    # turns (tool calls, conversational text) skip the JSON kernel entirely.
    # A narrower fmt1 gate (skip fmt2-needled rows without '"Logs"') was
    # tried and REVERTED: it measured zero parse-stage gain — from_json is
    # not the stage bottleneck — while its 6 extra references to the raw
    # text column made pushed-down predicates over non-file-backed inputs
    # (synth-expression frames) blow up combinatorially at alias
    # substitution, OOMing GeneratePredicate's source builder.
    fmt1 = F.when(
        json_like,
        F.from_json(
            txt, FMT1_SCHEMA, {"columnNameOfCorruptRecord": "_corrupt_record"}
        ),
    )
    fmt2_like = json_like & fmt2_prefilter(txt)
    fmt2 = F.when(
        fmt2_like,
        F.from_json(
            txt, FMT2_SCHEMA, {"columnNameOfCorruptRecord": "_corrupt_record"}
        ),
    )

    if use_pandas_grok:
        # the Arrow transfer to the Python grok worker is per-byte DRAM +
        # IPC cost: ship NULL (validity bit only) for rows that cannot
        # match the anchored TOOL_CALL pattern instead of their full text
        tool_struct = grok_udf(TOOL_CALL_PATTERN)(
            F.when(txt.startswith("TOOL_CALL "), txt)
        )
    else:  # pure-Column fallback engine, same semantics
        tool_struct = F.struct(
            F.nullif(F.regexp_extract(txt, r"^TOOL_CALL tool=(\w+)", 1), F.lit(""))
            .alias("tool_name"),
            F.nullif(F.regexp_extract(txt, r" status=(\d+)", 1), F.lit(""))
            .cast("int").alias("tool_status"),
            F.nullif(F.regexp_extract(txt, r" latency_ms=(\d+)", 1), F.lit(""))
            .cast("long").alias("tool_latency_ms"),
            F.nullif(F.regexp_extract(txt, r" args_bytes=(\d+)", 1), F.lit(""))
            .cast("long").alias("tool_args_bytes"),
        )

    df = (
        df.withColumn("_f1", fmt1)
        .withColumn("_f2", fmt2)
        .withColumn("_tool", tool_struct)
    )
    f1 = F.col("_f1")
    f2 = F.col("_f2")
    logs1 = f1["Logs"]
    ctx = logs1["contextMap"]
    apache = f2["logs"]

    # NOTE — the shared subtrees below (classifiers, request line, thrown,
    # ts_ns) are deliberately NOT materialized as intermediate columns: an
    # extra alias layer was tried (withColumns of every classifier) and
    # measured ZERO parse-stage gain (codegen subexpression elimination
    # already dedups the repeated subtrees within the single collapsed
    # project), while adding one more substitution level for predicate
    # pushdown: a downstream filter on e.g. ``category`` gets every alias
    # inlined TRANSITIVELY when pushed through the projections, and the
    # extra level made that composed predicate large enough to OOM
    # GeneratePredicate's source-string builder on non-file-backed inputs
    # (synth-expression frames in tests). Shared subtrees therefore stay
    # plain Python expression variables — one project level, the shape
    # that has shipped green since round 1.
    corrupt = (
        f1["_corrupt_record"].isNotNull() | f2["_corrupt_record"].isNotNull()
    )

    # --- classifiers ------------------------------------------------------
    is_tool = F.col("_tool")["tool_name"].isNotNull()
    # proxy classifier (extractor.go:820-832)
    is_proxy = ~corrupt & (
        apache["localServerName"].isNotNull() | apache["cache status"].isNotNull()
    )
    # HTTP-vs-app classifier (extractor.go:103-146). Key-presence checks
    # are struct-field isNotNull now that contextMap is schema-typed
    # (schemas.py rationale) — O(1) field refs instead of map scans.
    has_ctx_request = ctx.isNotNull() & ctx["requestLine"].isNotNull()
    http_ish = ctx.isNotNull() & (
        ctx["statusCode"].isNotNull()
        | ctx["bytesSent"].isNotNull()
        | ctx["processMillis"].isNotNull()
        | ctx["remoteHost"].isNotNull()
    )
    app_fields_in_ctx = ctx.isNotNull() & (
        ctx["sourceClassName"].isNotNull()
        | ctx["sourceMethodName"].isNotNull()
    )
    is_http = ~corrupt & (has_ctx_request | (http_ish & ~app_fields_in_ctx))
    is_app = ~corrupt & (
        logs1["instant"].isNotNull()
        | logs1["level"].isNotNull()
        | logs1["message"].isNotNull()
    )
    is_container = ~corrupt & f2["log"].isNotNull()

    # --- request-line fields (shared by http + proxy) ---------------------
    request_line = F.when(is_proxy, apache["requestFirstLine"]).otherwise(
        ctx["requestLine"]
    )

    # thrown is string-OR-object in the wire format (extractor.go:463-477
    # re-marshals the object form). The struct schema types it string, so
    # the object form parses to null there; fall back to the raw JSON text
    # via get_json_object (returns the serialized object — the re-marshal
    # analog). Evaluated lazily inside app/error CASE branches only.
    thrown = F.coalesce(
        logs1["thrown"], F.get_json_object(txt, "$.Logs.thrown")
    )

    # --- timestamps (ns canonical, extraction.go:68-69) -------------------
    ts_http_ns = logs1["timeMillis"] * F.lit(1_000_000)
    ts_app_ns = F.when(
        logs1["instant"].isNotNull() & (logs1["instant"]["epochSecond"] != 0),
        logs1["instant"]["epochSecond"] * F.lit(1_000_000_000)
        + logs1["instant"]["nanoOfSecond"],
    )
    root_ts = F.coalesce(f2["@timestamp"], f2["time"])
    ts_fmt2_ns = F.unix_micros(root_ts.try_cast("timestamp")) * F.lit(1000)

    ts_ns = (
        F.when(is_http, ts_http_ns)
        .when(is_app, ts_app_ns)
        .when(is_proxy | is_container, ts_fmt2_ns)
    )

    lvl_app = extract_level(logs1["level"])

    method = F.regexp_extract(request_line, REQUEST_LINE_RX, 1)
    path = F.regexp_extract(request_line, REQUEST_LINE_RX, 2)
    protocol = F.regexp_extract(request_line, REQUEST_LINE_RX, 3)

    # skip rules (extractor.go:152-154, :287-311) — silent drops
    bad_request_line = request_line.isNotNull() & (
        (request_line == "-")
        | (protocol != "HTTP")
        | ~method.isin(STANDARD_METHODS)
    )

    # missing-timestamp validation (extractor.go:440-448, :503-561)
    needs_ts = is_http | is_app | is_proxy | is_container
    missing_ts = needs_ts & ts_ns.isNull()

    # --- category decision, priority order --------------------------------
    category = (
        F.when(is_blank, F.lit("skipped"))
        .when(is_tool, F.lit("tool_call"))
        .when(json_like & corrupt, F.lit("parse_error"))
        .when((is_http | is_proxy) & bad_request_line, F.lit("skipped"))
        .when(missing_ts, F.lit("parse_error"))
        .when(
            is_app
            & (lvl_app == "ERROR")
            & thrown.isNotNull(),
            F.lit("error"),
        )
        .when(is_proxy, F.lit("proxy"))
        .when(is_http, F.lit("http"))
        .when(is_app, F.lit("app"))
        .when(is_container, F.lit("container"))
        .when(json_like, F.lit("parse_error"))
        .when(F.col("role") == "user", F.lit("user_turn"))
        .otherwise(F.lit("assistant_turn"))
    )

    error_type = (
        F.when(json_like & corrupt, F.lit("parse_error"))
        .when(missing_ts, F.lit("validation_error"))
        .when(json_like & ~(is_http | is_proxy | is_app | is_container),
              F.lit("unknown_format"))
    )
    parse_error_msg = (
        F.when(json_like & corrupt, F.lit("invalid JSON"))
        .when(missing_ts, F.lit("missing timestamp"))
        .when(error_type == "unknown_format", F.lit("unrecognized JSON layout"))
    )

    pod_name = F.coalesce(f1["kubernetes"]["pod_name"], f2["kubernetes"]["pod_name"])

    # --- numeric coercions (extractor.go:313-357, :398-421) ---------------
    status_code = (
        F.when(is_proxy, _dash_to_zero(apache["status"]))
        .when(is_http, _dash_to_zero(ctx["statusCode"]))
        .cast("int")
    )
    response_time_ms = F.when(is_proxy, _dash_to_zero(apache["responseTime"])).when(
        is_http, _dash_to_zero(ctx["processMillis"])
    )
    bytes_sent = F.when(is_proxy, _dash_to_zero(apache["bytes"])).when(
        is_http, _dash_to_zero(ctx["bytesSent"])
    )
    client_ip = F.when(is_proxy, apache["remoteHost"]).when(
        is_http, ctx["remoteHost"]
    )

    level = F.when(is_app, lvl_app).when(
        is_container, extract_level(f2["log"])
    )
    msg = F.when(is_app, logs1["message"]).when(is_container, f2["log"])
    logger_col = F.when(is_app, logs1["loggerName"]).when(
        is_container, service_from_pod(pod_name)
    )

    parsed = (
        df.withColumn("category", category)
        .withColumn("ts_ns", ts_ns.cast("long"))
        .withColumn("method", F.when(is_http | is_proxy, F.nullif(method, F.lit(""))))
        .withColumn("path", F.when(is_http | is_proxy, F.nullif(path, F.lit(""))))
        .withColumn(
            "protocol", F.when(is_http | is_proxy, F.nullif(protocol, F.lit("")))
        )
        .withColumn("status_code", status_code)
        .withColumn("response_time_ms", response_time_ms.cast("long"))
        .withColumn("bytes_sent", bytes_sent.cast("long"))
        .withColumn("client_ip", client_ip)
        .withColumn("pod_name", pod_name)
        .withColumn("level", level)
        .withColumn("logger", logger_col)
        # thread also carried for http rows: the raw fmt1 line is a log4j2
        # event whose top-level thread drives the designed request<->app-log
        # correlation (pipeline_design.md:60-64), even though the reference's
        # extracted HTTPRequestLog drops it (extraction.go:67-91).
        .withColumn("thread", F.when(is_app | is_http, logs1["thread"]))
        .withColumn("msg", msg)
        .withColumn("thrown", F.when(is_app, thrown))
        .withColumn("local_server_name", F.when(is_proxy, apache["localServerName"]))
        .withColumn("remote_user", F.when(is_proxy, apache["remoteUser"]))
        .withColumn("referer", F.when(is_proxy, apache["referer"]))
        .withColumn("user_agent", F.when(is_proxy, apache["userAgent"]))
        .withColumn("cache_status", F.when(is_proxy, apache["cache status"]))
        .withColumn("pod_ip", F.when(is_proxy, f2["kubernetes"]["pod_ip"]))
        .withColumn("tool_name", F.col("_tool")["tool_name"])
        .withColumn("tool_status", F.col("_tool")["tool_status"])
        .withColumn("tool_latency_ms", F.col("_tool")["tool_latency_ms"])
        .withColumn("tool_args_bytes", F.col("_tool")["tool_args_bytes"])
        .withColumn("parse_error", parse_error_msg)
        .withColumn("error_type", error_type)
        # Raw-line retention parity: extracted typed records do NOT carry
        # the raw line (events/extraction.go:67-118 have no raw field);
        # only the dead-letter record keeps it (ExtractionError.raw_line,
        # extraction.go:136-151) and conversational turns whose content IS
        # the text. Nulling the rest halves shuffle/sink bytes at scale.
        .withColumn(
            "text",
            F.when(
                F.col("category").isin(
                    "error", "parse_error", "skipped",
                    "user_turn", "assistant_turn",
                ),
                txt,
            ),
        )
        .drop("_f1", "_f2", "_tool")
    )
    return parsed
