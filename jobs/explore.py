"""Interactive exploration CLI over the routed table — the Spark face of
the reference's ``explore-raw-logs`` tool
(/root/reference/cli/scripts/explore_raw_logs.py:583-715): ad-hoc filter
expressions, key-prefix filters, top-N rollups, per-partition stats, and
the JSON field-frequency profiler, each over the manifest-committed
(authoritative) snapshot.

Usage (any subcommand; --base points at a pipeline output dir):

    spark-submit --py-files clp.zip jobs/explore.py --base /tmp/clp_out \
        [--cpus 8] [--limit 20] [--json] SUBCOMMAND [options]

    filter  --expr "category = 'http' AND status_code >= 500"
    keys    --env prod --prefix line-          # blob-event-key filters
    top     --by conv_id                       # top-N row counts per value
    stats                                      # per-(day,bucket) rows/files/bytes
    profile --sample 2000                      # JSON field frequencies
"""

from __future__ import annotations

import argparse
import json
import sys


def _emit(df, limit: int, as_json: bool) -> None:
    if as_json:
        for r in df.limit(limit).collect():
            print(json.dumps({k: str(v) for k, v in r.asDict().items()}))
    else:
        df.show(limit, truncate=80)


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="explore")
    ap.add_argument("--base", required=True, help="pipeline output base dir")
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--limit", type=int, default=20)
    ap.add_argument("--json", action="store_true", help="JSON lines output")
    ap.add_argument("--asof", default=None,
                    help="time-travel: ISO timestamp; read the snapshot "
                    "visible at that instant (Iceberg TIMESTAMP AS OF). "
                    "A trailing Z means UTC; a time with no offset is "
                    "read as UTC")
    sub = ap.add_subparsers(dest="cmd", required=True)

    f = sub.add_parser("filter", help="arbitrary SQL expression filter (F6/F8)")
    f.add_argument("--expr", required=True)
    f.add_argument("--columns", default=None,
                   help="comma-separated projection")

    k = sub.add_parser("keys", help="blob-event-key style filters (F7)")
    k.add_argument("--env", default=None)
    k.add_argument("--prefix", default=None,
                   help="event-type/category prefix, e.g. line-")

    t = sub.add_parser("top", help="top-N values by row count (W4)")
    t.add_argument("--by", required=True, help="column to rank")
    t.add_argument("-n", type=int, default=10)

    sub.add_parser("stats", help="per-partition row/file/byte counts (A8)")

    p = sub.add_parser("profile", help="JSON field-frequency profiler (P-M)")
    p.add_argument("--sample", type=int, default=1000)
    p.add_argument("--column", default="text")

    c = sub.add_parser(
        "conv", help="point-read one conversation (bucket-pruned, "
        "row-group-skipping layout fast path)"
    )
    c.add_argument("--id", required=True, help="conv_id to fetch")
    c.add_argument("--columns", default=None,
                   help="comma-separated projection")

    pi = sub.add_parser("pii", help="PII pattern scan / redaction preview")
    pi.add_argument("--column", default="text")
    pi.add_argument("--redact", action="store_true",
                    help="show redacted rows that matched, not the summary")
    return ap


def run(args, spark) -> int:
    from pyspark.sql import functions as F

    from commerce_logs_pipeline_spark.operators.router import (
        partition_file_stats,
        read_routed,
    )

    asof = None
    if getattr(args, "asof", None):
        from datetime import datetime, timezone

        # fromisoformat rejects a trailing Z before Python 3.11
        stamp = args.asof
        if stamp.endswith("Z"):
            stamp = stamp[:-1] + "+00:00"
        asof = datetime.fromisoformat(stamp)
        if asof.tzinfo is None:
            # manifest updated_at values are instants (current_timestamp);
            # a NAIVE literal would be read in the driver session zone,
            # time-traveling to a snapshot offset by the UTC delta
            asof = asof.replace(tzinfo=timezone.utc)
    df = read_routed(spark, args.base, asof=asof)
    if args.cmd == "filter":
        out = df.filter(F.expr(args.expr))
        if args.columns:
            out = out.select(*[c.strip() for c in args.columns.split(",")])
        _emit(out, args.limit, args.json)
    elif args.cmd == "keys":
        out = df
        if args.env is not None:
            # environment comes from the enrich dims; if this table was
            # routed without it, SAY so — silently filtering some other
            # column would return confidently-wrong (usually empty) rows
            if "environment" not in out.columns:
                raise SystemExit(
                    "keys --env: the routed table has no 'environment' "
                    "column (pipeline ran without environment enrichment); "
                    "available columns: " + ", ".join(sorted(out.columns))
                )
            out = out.filter(F.col("environment") == args.env)
        if args.prefix is not None:
            out = out.filter(F.col("category").startswith(args.prefix))
        _emit(out, args.limit, args.json)
    elif args.cmd == "top":
        out = (
            df.groupBy(args.by)
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), args.by)
            .limit(args.n)
        )
        _emit(out, args.n, args.json)
    elif args.cmd == "stats":
        out = partition_file_stats(spark, args.base).orderBy("day", "bucket")
        _emit(out, args.limit, args.json)
    elif args.cmd == "profile":
        from commerce_logs_pipeline_spark.functions.profile import (
            profile_json_fields,
        )

        out = profile_json_fields(
            df.select(F.col(args.column).alias("text")),
            sample_rows=args.sample,
        )
        _emit(out, args.limit, args.json)
    elif args.cmd == "conv":
        from commerce_logs_pipeline_spark.operators.router import (
            read_conversation,
        )

        out = read_conversation(spark, args.base, args.id)
        if args.columns:
            out = out.select(*[c.strip() for c in args.columns.split(",")])
        _emit(out, args.limit, args.json)
    elif args.cmd == "pii":
        from commerce_logs_pipeline_spark.functions.text import (
            pii_counts,
            redact_pii,
        )

        col = F.col(args.column)
        src = df.filter(col.isNotNull())
        p = pii_counts(col)
        total = (
            p["n_email"] + p["n_ip"] + p["n_phone"] + p["n_ssn"] + p["n_cc"]
        )
        if args.redact:
            out = src.filter(total > 0).select(
                "conv_id", "turn_idx", "category",
                redact_pii(col).alias("redacted"),
            )
        else:
            out = src.agg(
                F.count("*").alias("rows_scanned"),
                F.sum(p["n_email"]).alias("emails"),
                F.sum(p["n_ip"]).alias("ips"),
                F.sum(p["n_phone"]).alias("phones"),
                F.sum(p["n_ssn"]).alias("ssns"),
                F.sum(p["n_cc"]).alias("cards_luhn_valid"),
                F.sum((total > 0).cast("int")).alias("rows_with_pii"),
            )
        _emit(out, args.limit, args.json)
    return 0


def main(argv=None, spark=None) -> int:
    args = build_parser().parse_args(argv)
    own_session = spark is None
    if own_session:
        from commerce_logs_pipeline_spark.session import build_session

        master = f"local[{args.cpus}]" if args.cpus else None
        spark = build_session(app_name="clp-explore", master=master)
        spark.sparkContext.setLogLevel("ERROR")
    try:
        return run(args, spark)
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
