"""spark-submit maintenance entry point for the routed table — the
operational face of the snapshot-protocol upkeep (Iceberg
rewrite_data_files / remove_orphan_files / expire_snapshots analogs; the
reference runs comparable upkeep from its ops tooling,
/root/reference/tools/). All subcommands print one JSON line and work on
any Hadoop-FS URI scheme (file://, s3a://, hdfs://...).

    spark-submit --py-files clp.zip jobs/maintain.py --base /tmp/clp_out \
        compact                      # consolidate closed chunk partitions
    ... vacuum-superseded --run-id compactXYZ    # reclaim replaced dirs
    ... vacuum-orphans [--min-age-hours 1]       # expire uncommitted runs
    ... seal [--before-day 2024-01-02]           # close streamed chunk days
    ... stats                                    # per-partition file stats
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="maintain")
    ap.add_argument("--base", required=True, help="pipeline output base")
    ap.add_argument("--cpus", type=int, default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("compact", help="rewrite fragmented closed partitions")
    c.add_argument("--run-id", default=None,
                   help="optional reserved 'compact'-prefixed run id")

    vs = sub.add_parser("vacuum-superseded",
                        help="delete dirs a self-contained run replaced")
    vs.add_argument("--run-id", required=True,
                    help="the compact/full run whose partitions to clean")

    vo = sub.add_parser("vacuum-orphans",
                        help="delete never-committed run dirs")
    vo.add_argument("--min-age-hours", type=float, default=1.0,
                    help="protect younger dirs (in-flight writers)")

    se = sub.add_parser(
        "seal", help="close open (streamed-chunk) partitions so compact "
        "can consolidate them")
    se.add_argument("--before-day", default=None,
                    help="seal only days strictly before this (YYYY-MM-DD); "
                    "omit to seal every open partition")

    sub.add_parser("stats", help="per-(day,bucket) rows/files/bytes")
    return ap


def run(args, spark) -> int:
    from commerce_logs_pipeline_spark.operators.router import (
        compact_routed,
        partition_file_stats,
        vacuum_superseded,
        vacuum_uncommitted,
    )

    if args.cmd == "seal":
        from commerce_logs_pipeline_spark.plans.checkpoint import (
            ManifestStore,
        )

        sealed = ManifestStore(f"{args.base}/_manifest").seal_partitions(
            spark, before_day=args.before_day
        )
        out = {"sealed": len(sealed),
               "partitions": [f"{d}/{b}" for d, b in sealed]}
    elif args.cmd == "compact":
        out = compact_routed(spark, args.base, run_id=args.run_id)
    elif args.cmd == "vacuum-superseded":
        removed = vacuum_superseded(spark, args.base, args.run_id)
        out = {"removed": len(removed), "paths": removed}
    elif args.cmd == "vacuum-orphans":
        removed = vacuum_uncommitted(
            spark, args.base,
            min_age_seconds=int(args.min_age_hours * 3600),
        )
        out = {"removed": len(removed), "paths": removed}
    elif args.cmd == "stats":
        rows = (
            partition_file_stats(spark, args.base)
            .orderBy("day", "bucket")
            .collect()
        )
        out = {
            "partitions": len(rows),
            "total_rows": sum(r["n_rows"] for r in rows),
            "total_files": sum(r["n_files"] for r in rows),
            "total_bytes": sum(r["total_bytes"] for r in rows),
        }
    print(json.dumps(out))
    return 0


def main(argv=None, spark=None) -> int:
    args = build_parser().parse_args(argv)
    own_session = spark is None
    if own_session:
        from commerce_logs_pipeline_spark.session import build_session

        master = f"local[{args.cpus}]" if args.cpus else None
        spark = build_session(app_name="clp-maintain", master=master)
        spark.sparkContext.setLogLevel("ERROR")
    try:
        return run(args, spark)
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
