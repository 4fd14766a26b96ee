"""Build the routed table the conversation_lookup workload reads.

    python3 perfbench/lookup_table.py <directory> <n_turns>

The program commits the table itself: one batch run over the first 60% of
every conversation's turns (left open), then stream chunk runs over the
rest, staged as 12 time-ordered files (three micro-batches). The table is
the workload's dataset, not its input: the workload seed picks which
conversations are looked up, so the table is built once per source digest
(see ``run.source_digest``). It
is built in its own process so that every measuring process starts from
the same state: a fresh JVM that has run no pipeline.

Writes ``<directory>/out`` (pipeline base) and ``<directory>/sizes.json``
(turns per conversation, the lookups' expected answers), renaming a
temporary directory into place only when both are complete.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

from pyspark.sql import functions as F

from commerce_logs_pipeline_spark.plans.pipeline import run_pipeline
from commerce_logs_pipeline_spark.streaming.stream_pipeline import (
    run_streaming_pipeline,
)

import run
from workloads import Inputs, drain

TABLE_SEED = 0
HEAD_SHARE = 0.6
TAIL_FILES = 12


def build(target: str, n_turns: int) -> None:
    tmp = f"{target}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    spark = run.build_spark(len(os.sched_getaffinity(0)), ui=False)
    try:
        inputs = Inputs(os.path.dirname(target), TABLE_SEED)
        table = inputs.table(spark, n_turns)
        head, tail = inputs.split(spark, n_turns, HEAD_SHARE)
        run_pipeline(spark, spark.read.parquet(head), f"{tmp}/out",
                     resume=True, write_aggregates=False,
                     close_partitions=False)
        drain(run_streaming_pipeline(
            spark, inputs.files(spark, tail, TAIL_FILES), f"{tmp}/out",
            f"{tmp}/ckpt"))
        sizes = {
            r["conv_id"]: r["n"]
            for r in spark.read.parquet(table)
            .groupBy("conv_id").agg(F.count("*").alias("n")).collect()
        }
    finally:
        run.shutdown(spark)
    with open(f"{tmp}/sizes.json", "w") as f:
        json.dump(sizes, f)
    shutil.rmtree(f"{tmp}/ckpt")
    os.rename(tmp, target)


if __name__ == "__main__":
    build(sys.argv[1], int(sys.argv[2]))
