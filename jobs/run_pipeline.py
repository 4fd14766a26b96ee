"""spark-submit entry point for the transcript pipeline.

Usage (local sandbox stand-in for a multi-executor cluster):

    spark-submit --py-files clp.zip jobs/run_pipeline.py \
        --turns 200000 --cpus 8 --base /tmp/clp_out [--no-resume]

On a real cluster, drop --cpus and let spark-submit provide the master:

    spark-submit --master yarn --num-executors N --py-files clp.zip \
        jobs/run_pipeline.py --turns ... --base s3://...
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=100_000)
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[k] cores; omit when spark-submit sets master")
    ap.add_argument("--base", required=True, help="output base path")
    ap.add_argument("--shuffle-partitions", type=int, default=32)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args()

    from commerce_logs_pipeline_spark.session import build_session
    from commerce_logs_pipeline_spark.synth import generate_transcripts
    from commerce_logs_pipeline_spark.plans.pipeline import run_pipeline

    master = f"local[{args.cpus}]" if args.cpus else None
    spark = build_session(master=master, shuffle_partitions=args.shuffle_partitions)
    spark.sparkContext.setLogLevel("WARN")
    try:
        # One synthetic day per 200k turns (1..30 days): a fixed 30-day
        # span spreads a small input over thousands of tiny
        # (category, day, bucket) dirs, and the per-dir write cost then
        # dominates the run (20k turns: 2,578 dirs of ~8 rows each).
        n_days = min(30, max(1, args.turns // 200_000))
        transcripts = generate_transcripts(spark, args.turns, n_days=n_days)
        report = run_pipeline(
            spark,
            transcripts,
            args.base,
            run_id=args.run_id,
            resume=not args.no_resume,
        )
        print(json.dumps({
            "run_id": report.run_id,
            "rows_in": report.rows_in,
            "counts": report.counts,
            "elapsed_sec": round(report.elapsed_sec, 2),
            "turns_per_sec": round(report.turns_per_sec, 1),
            "resumed_noop": report.resumed_partitions_skipped,
            "sinks": report.sink_paths,
        }))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
