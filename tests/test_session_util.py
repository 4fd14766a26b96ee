"""Session-factory master detection, scan-sizing helper, fmt2 prefilter."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from commerce_logs_pipeline_spark.session import (
    _local_cpus,
    _local_driver_mem,
    _synthesized_master,
)
from commerce_logs_pipeline_spark.util import (
    ensure_min_partitions,
    estimated_scan_partitions,
    parse_bytes,
)
from commerce_logs_pipeline_spark.functions.parse import fmt2_prefilter


def test_synthesized_master_respects_spark_submit_gateway():
    """Under spark-submit the JVM gateway env is set and --master lives in
    JVM properties invisible to a fresh python SparkConf — we must NOT
    synthesize local[N] there (it would override a cluster master)."""
    assert _synthesized_master({"PYSPARK_GATEWAY_PORT": "5555"}) is None


def test_synthesized_master_standalone(spark):
    # plain-python driver (no gateway env): synthesize local[$CPUS].
    # NB: the test session already launched a JVM, so the SparkConf branch
    # is live too — it carries spark.master and also returns None...
    env = {"SPARK_GRAFT_CPUS": "7"}
    got = _synthesized_master(env)
    # with an attached JVM whose conf has a master, we must not override
    assert got is None or got == "local[7]"


def test_local_defaults_sized_from_machine(tmp_path):
    """Unset env -> local[every core] and half of MemTotal as driver heap,
    capped at 48g; the env vars always win."""
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       15728640 kB\nMemFree:  1024 kB\n")
    assert _local_driver_mem({}, str(meminfo)) == "7680m"
    assert _local_driver_mem({"SPARK_GRAFT_DRIVER_MEM": "6g"},
                             str(meminfo)) == "6g"
    meminfo.write_text("MemTotal:     1056964608 kB\n")
    assert _local_driver_mem({}, str(meminfo)) == "49152m"
    meminfo.write_text("MemTotal:         524288 kB\n")
    assert _local_driver_mem({}, str(meminfo)) == "1024m"
    assert _local_driver_mem({}, str(tmp_path / "absent")) == "49152m"
    assert _local_cpus({}) == str(os.cpu_count())
    assert _local_cpus({"SPARK_GRAFT_CPUS": "7"}) == "7"


def test_parse_bytes():
    assert parse_bytes("16m") == 16 << 20
    assert parse_bytes("1g") == 1 << 30
    assert parse_bytes("134217728") == 134217728
    assert parse_bytes("512k") == 512 << 10
    # two-letter suffixes (Spark's own default conf strings use these;
    # '128MB' previously fell into the broad-except file-count fallback)
    assert parse_bytes("128MB") == 128 << 20
    assert parse_bytes("1gb") == 1 << 30
    assert parse_bytes("2tb") == 2 << 40
    assert parse_bytes("128b") == 128
    assert parse_bytes(" 64K ") == 64 << 10


def test_ensure_min_partitions_file_backed(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.range(10_000).withColumn("x", F.rand(7)).repartition(8).write.parquet(p)
    df = spark.read.parquet(p)
    # 8 files >= 4 requested -> untouched plan (no Exchange inserted)
    out = ensure_min_partitions(df, 4)
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
    assert estimated_scan_partitions(df) >= 4
    # 64 requested > splits available -> repartition added
    out2 = ensure_min_partitions(df, 64)
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan2 or "AQEShuffleRead" in plan2


def test_ensure_min_partitions_local_relation(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "i int")
    # non-file-backed: unknown -> repartition unconditionally
    out = ensure_min_partitions(df, 4)
    assert out.count() == 10


def test_fmt2_prefilter_rejects_fmt1_app_lines(spark):
    rows = [
        # fmt1 app line: "loggerName"/"timeMillis" must NOT look fmt2-like
        ('{"Logs":{"instant":{"epochSecond":1,"nanoOfSecond":2},'
         '"level":"INFO","loggerName":"com.api.X","message":"m"},'
         '"kubernetes":{"pod_name":"api-1"}}', False),
        ('{"Logs":{"timeMillis":123,"contextMap":{"requestLine":"GET / HTTP/1.1",'
         '"statusCode":200}},"kubernetes":{"pod_name":"api-1"}}', False),
        # fmt2 dialects must match
        ('{"@timestamp":"2025-06-15T18:14:04.000Z","logs":{"status":"200"}}',
         True),
        ('{"@timestamp":"t","stream":"stdout","log":"x","time":"t"}', True),
        ('{"log":"line","kubernetes":{}}', True),
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], "text string")
    got = [r.m for r in df.select(fmt2_prefilter(F.col("text")).alias("m")).collect()]
    assert got == [want for _, want in rows]
