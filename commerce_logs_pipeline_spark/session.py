"""SparkSession factory for the engine.

Reference semantics: the reference sizes concurrency to its Kafka partition
count (12 workers / 12 partitions, extraction/configs/config.yaml:43-48) and
relies on co-partitioning for ordering (pipeline_design.md:40-52). Here the
equivalents are explicit AQE + shuffle-partition settings; ordering is
re-established per query with (conv_id, turn_idx) sorts.

Scale posture: these configs are the local[k] stand-ins for a 1000-executor
cluster — AQE coalesces/splits shuffle partitions at runtime, Arrow batches
keep pandas-UDF transfer vectorized, and the v2 committer makes partitioned
writes commit task-side. Idempotent re-writes come from per-run snapshot dirs
plus the lineage manifest (operators.router), not from session conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
MAX_DRIVER_MEM_MB = 48 << 10


def iceberg_jar_available() -> bool:
    """True if an iceberg-spark-runtime jar is on the classpath."""
    try:
        import pyspark

        jars_dir = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        return any("iceberg-spark-runtime" in j for j in os.listdir(jars_dir))
    except OSError:
        return False


def _synthesized_master(environ=os.environ) -> str | None:
    """``local[$SPARK_GRAFT_CPUS]`` when this process is genuinely
    standalone, else None (never stomp a cluster submit).

    spark-submit runs python apps as a child of an already-launched JVM
    gateway and exports PYSPARK_GATEWAY_PORT into the child env — the
    gateway's system properties carry --master. Critically, that cannot be
    detected with ``SparkConf(loadDefaults=True).contains("spark.master")``
    alone: before any SparkContext attaches, PySpark's SparkConf silently
    degrades to an empty python dict (pyspark 4.1: SparkContext._jvm is
    None => loadDefaults ignored), so the contains() check would ALWAYS
    say "no master" in a fresh spark-submit driver and override the
    cluster master with local[N]."""
    if "PYSPARK_GATEWAY_PORT" in environ:  # spark-submit / pyspark shell
        return None
    from pyspark import SparkConf, SparkContext

    if SparkContext._jvm is not None and SparkConf(loadDefaults=True).contains(
        "spark.master"
    ):  # a JVM this process already launched carries a master
        return None
    return f"local[{_local_cpus(environ)}]"


def _local_cpus(environ=os.environ) -> str:
    """``$SPARK_GRAFT_CPUS``, else every core of this machine."""
    return environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)


def _local_driver_mem(environ=os.environ, meminfo: str = "/proc/meminfo") -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else half of the machine's MemTotal
    (the other half is for Python workers, off-heap buffers and the OS),
    capped at 48g; 48g when MemTotal is unreadable."""
    if "SPARK_GRAFT_DRIVER_MEM" in environ:
        return environ["SPARK_GRAFT_DRIVER_MEM"]
    try:
        with open(meminfo) as f:
            kb = next(int(ln.split()[1]) for ln in f
                      if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{max(1024, min(MAX_DRIVER_MEM_MB, kb // 2048))}m"


def build_session(
    app_name: str = "commerce-logs-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    warehouse: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for the pipeline.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default: every
    core) so the same entry point serves tests, bench at N cores, and bench
    at 4N cores.
    On a real cluster, pass master=None: spark-submit's --master wins and we
    never override it (detected via the gateway env — see
    ``_synthesized_master`` for why SparkConf alone cannot detect it).
    """
    if master is None:
        master = _synthesized_master()
    b = SparkSession.builder.appName(app_name)
    if master is not None and master.startswith("local"):
        # In local mode the driver JVM hosts all executor threads; the 1g
        # default heap GC-thrashes under 32 cores. Size it like the worker
        # it stands in for. On a real cluster spark-submit sets this.
        b = b.config("spark.driver.memory", _local_driver_mem())
        # Shuffle/spill scratch: this sandbox's /tmp sits on a
        # burst-credit cloud disk with wildly variable throughput; tmpfs
        # is the stand-in for a cluster node's local NVMe.
        local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
        if local_dir is None and os.path.isdir("/dev/shm"):
            local_dir = "/dev/shm/spark-local"
        if local_dir:
            b = b.config("spark.local.dir", local_dir)
    b = (
        b
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing of small shuffle partitions + skew-join
        # splitting — the engine's replacement for the reference's static
        # FNV%12 co-partitioning (processor.go:29-33).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas UDFs (the vectorized grok kernel path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Timestamps in parquet as int64 micros (portable to DuckDB oracle).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # JSON/regex parse is CPU-heavy per byte (snappy text compresses
        # ~5x), so feed cores with smaller splits than the 128m default —
        # otherwise a 51 MB compressed input parses on ONE task.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # task-side commit (v2): each task moves its own files into place,
        # so a write into thousands of partition dirs doesn't end in a
        # serial rename of every file on the driver
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2"
        )
        # Straggler insurance — standard 1000-executor posture, and it
        # converts the (rare, observed) wedged pandas-UDF worker handshake
        # from an indefinite stage hang into one re-launched task.
        # Conservative thresholds: only clear outliers are duplicated.
        .config("spark.speculation", "true")
        .config("spark.speculation.quantile", "0.95")
        .config("spark.speculation.multiplier", "4")
    )
    if master is not None:
        b = b.master(master)
    if warehouse and iceberg_jar_available():
        b = (
            b.config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.local.type", "hadoop")
            .config("spark.sql.catalog.local.warehouse", warehouse)
        )
    # Experiment/deploy hook: SPARK_GRAFT_EXTRA_CONF is a JSON object of
    # spark confs applied LAST (wins over the defaults above and over
    # extra_conf) — lets bench harnesses A/B e.g. shuffle codecs without
    # code edits, and deployments pin site-specific conf.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    merged = dict(extra_conf or {})
    if env_conf:
        import json

        merged.update(json.loads(env_conf))
    for k, v in merged.items():
        b = b.config(k, v)
    return b.getOrCreate()
