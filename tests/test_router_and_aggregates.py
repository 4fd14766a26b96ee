"""Router conservation + aggregate correctness (SURVEY §5: routed-row
equality, per-sink aggregate counts, salted-agg equivalence)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from commerce_logs_pipeline_spark.operators.router import (
    DEFAULT_SINKS,
    check_conservation,
    read_sink,
    routed_counts,
    with_partition_cols,
    write_sinks_single_pass,
)
from commerce_logs_pipeline_spark.operators.skew import conv_turn_counts_salted
from commerce_logs_pipeline_spark.plans.aggregate import (
    conv_turn_counts,
    latest_state_per_conv,
    per_tool_call_rates,
    top_k_conversations,
    windowed_tool_rates,
)
from commerce_logs_pipeline_spark.plans.enrich import enrich_with_default_dims


def _by_cat(parsed):
    return {r["category"]: r["n"] for r in routed_counts(parsed).collect()}


def test_conservation(parsed_10k):
    counts = check_conservation(_by_cat(parsed_10k))
    assert counts["total"] == 10_000
    assert counts["sink:http_logs"] > 0
    assert counts["skipped"] > 0


def test_conservation_fires_on_unrouted_category(parsed_10k):
    """A category in no sink that is not 'skipped' breaks the invariant."""
    by_cat = _by_cat(parsed_10k)
    sinks = {n: c for n, c in DEFAULT_SINKS.items() if n != "http_logs"}
    with pytest.raises(AssertionError, match="conservation violated"):
        check_conservation(by_cat, sinks)
    with pytest.raises(AssertionError, match="conservation violated"):
        check_conservation({**by_cat, "unknown": 1})


@pytest.fixture(scope="module")
def sinks_10k(parsed_10k, tmp_path_factory):
    """parsed_10k routed by the production writer into a temp dir."""
    base = str(tmp_path_factory.mktemp("sinks10k"))
    paths = write_sinks_single_pass(parsed_10k, base, run_id="r10k")
    spark = parsed_10k.sparkSession
    return {name: read_sink(spark, p) for name, p in paths.items()}, (
        spark.read.parquet(f"{base}/routed/runid=r10k/category=skipped")
    )


def test_each_row_lands_in_exactly_one_sink(parsed_10k, sinks_10k):
    """Routed-row equality: union of sinks + skipped == input, no dupes."""
    sinks, skipped = sinks_10k
    key = ["conv_id", "turn_idx"]
    union = skipped.select(key)
    for f in sinks.values():
        union = union.unionByName(f.select(key))
    assert union.count() == 10_000
    assert union.distinct().count() == 10_000
    # and the union is exactly the input rows
    assert union.exceptAll(parsed_10k.select(key)).count() == 0


def test_routed_counts_match_category_sums(parsed_10k, sinks_10k):
    by_cat = _by_cat(parsed_10k)
    sinks, _ = sinks_10k
    for name, cats in DEFAULT_SINKS.items():
        assert sinks[name].count() == sum(
            by_cat.get(c, 0) for c in cats
        ), name


def test_conv_turn_counts_against_manual(parsed_10k):
    got = {r.conv_id: r for r in conv_turn_counts(parsed_10k).collect()}
    # independent computation through plain SQL on the same session
    parsed_10k.createOrReplaceTempView("p10k")
    exp = parsed_10k.sparkSession.sql(
        """SELECT conv_id, count(*) n, max(turn_idx) m,
                  sum(CASE WHEN category IN ('error','parse_error') THEN 1 ELSE 0 END) e
           FROM p10k GROUP BY conv_id"""
    ).collect()
    assert len(exp) == len(got)
    for r in exp:
        g = got[r.conv_id]
        assert (g.n_turns, g.max_turn_idx, g.n_errors) == (r.n, r.m, r.e)


def test_salted_agg_equals_unsalted(parsed_10k):
    plain = conv_turn_counts(parsed_10k)
    salted = conv_turn_counts_salted(parsed_10k, n_salts=7)
    cols = plain.columns
    assert salted.select(cols).exceptAll(plain.select(cols)).count() == 0
    assert plain.select(cols).exceptAll(salted.select(cols)).count() == 0


def test_turn_idx_dense_per_conversation(transcripts_10k):
    """Ordering invariant: turn_idx is 0..k-1 dense per conv (FIXTURES §1)."""
    bad = (
        transcripts_10k.groupBy("conv_id")
        .agg(F.count("*").alias("n"), F.max("turn_idx").alias("mx"),
             F.min("turn_idx").alias("mn"),
             F.countDistinct("turn_idx").alias("nd"))
        .filter("mn != 0 OR mx != n - 1 OR nd != n")
        .count()
    )
    assert bad == 0


def test_ts_monotonic_within_conversation(transcripts_10k):
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    bad = (
        transcripts_10k.withColumn("prev", F.lag("ts").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("ts") <= F.col("prev")))
        .count()
    )
    assert bad == 0


def test_latest_state_per_conv(parsed_10k):
    latest = latest_state_per_conv(parsed_10k)
    assert latest.count() == parsed_10k.select("conv_id").distinct().count()
    joined = latest.alias("l").join(
        parsed_10k.groupBy("conv_id").agg(F.max("turn_idx").alias("mx")).alias("m"),
        on="conv_id",
    )
    assert joined.filter(F.col("turn_idx") != F.col("mx")).count() == 0


def test_top_k(parsed_10k):
    rows = top_k_conversations(parsed_10k, 5).collect()
    assert len(rows) == 5
    ns = [r.n_turns for r in rows]
    assert ns == sorted(ns, reverse=True)


def test_windowed_rates_bounded(parsed_10k):
    w = windowed_tool_rates(parsed_10k, lookback=4)
    bad = w.filter(
        (F.col("tool_calls_in_window") < 0)
        | (F.col("tool_calls_in_window") > 5)
        | (F.col("error_rate_in_window") < 0)
        | (F.col("error_rate_in_window") > 1)
    ).count()
    assert bad == 0


def test_enrich_broadcast_join(parsed_10k):
    enriched = enrich_with_default_dims(parsed_10k)
    assert enriched.count() == 10_000  # left joins preserve cardinality
    tool_rows = enriched.filter(F.col("category") == "tool_call")
    assert tool_rows.filter(F.col("tool_category").isNull()).count() == 0
    assert enriched.filter(
        (F.col("role") == "user") & (F.col("role_class") != "human")
    ).count() == 0
    # plan check: both dim joins must be broadcast (north rule)
    plan = enriched._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2


def test_per_tool_rates(parsed_10k):
    rows = per_tool_call_rates(parsed_10k).collect()
    assert {r.tool_name for r in rows} <= {
        "search", "code_exec", "fetch", "db_query", "summarize", "translate"
    }
    total = sum(r.calls for r in rows)
    assert total == parsed_10k.filter("category='tool_call'").count()
    for r in rows:
        assert 0.0 <= r.error_rate <= 1.0


def test_partition_cols(transcripts_10k):
    df = with_partition_cols(transcripts_10k)
    assert df.filter((F.col("bucket") < 0) | (F.col("bucket") >= 16)).count() == 0
    assert df.filter(~F.col("day").rlike(r"^\d{4}-\d{2}-\d{2}$")).count() == 0


def test_partition_file_stats_physical(spark, tmp_path):
    """A8 physical variant: per-(day,bucket) row/file/byte counts from the
    parquet _metadata column must reconcile with logical group counts."""
    import glob

    from commerce_logs_pipeline_spark.operators.router import (
        partition_file_stats,
        read_routed,
    )
    from commerce_logs_pipeline_spark.plans.pipeline import run_pipeline
    from commerce_logs_pipeline_spark.synth import generate_transcripts

    base = str(tmp_path / "out")
    run_pipeline(spark, generate_transcripts(spark, 2_000, partitions=4), base)
    # the writer's (day, bucket) distribution puts each group in one
    # task: every (category, day, bucket) dir of the run holds one file
    dirs = glob.glob(
        f"{base}/sinks/routed/runid=*/category=*/day=*/bucket=*"
    )
    assert dirs
    for d in dirs:
        assert len(glob.glob(f"{d}/*.parquet")) == 1, d
    stats = partition_file_stats(spark, base)
    rows = stats.collect()
    assert sum(r.n_rows for r in rows) == 2_000
    assert all(r.n_files >= 1 and r.total_bytes > 0 for r in rows)
    logical = {
        (r.day, r.bucket): r.n
        for r in read_routed(spark, base)
        .groupBy("day", "bucket").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert {(r.day, r.bucket): r.n_rows for r in rows} == logical


def test_write_clusters_rows_for_rowgroup_skipping(parsed_10k, tmp_path):
    """File clustering by (conv_id, turn_idx) — the Iceberg
    write.sort-order analog that makes conv point/range reads skip row
    groups on tight parquet min/max stats. Ingest writes UNSORTED (the
    wider sort key measured ~10% on pass-1 wall time); compact_routed
    passes sort_cols=("conv_id", "turn_idx") to the same writer when it
    rewrites closed partitions. Pin: within every
    file written with sort_cols, conv_id is non-decreasing and turn_idx
    is non-decreasing within a conv (footer stats are tight iff the data
    is ordered)."""
    import glob

    import pyarrow.parquet as pq

    from commerce_logs_pipeline_spark.operators.router import (
        write_sinks_single_pass,
    )

    write_sinks_single_pass(
        parsed_10k, str(tmp_path), run_id="rsort",
        sort_cols=("conv_id", "turn_idx"),
    )
    files = glob.glob(
        f"{tmp_path}/routed/runid=rsort/category=http/**/*.parquet",
        recursive=True,
    )
    assert files
    for f in files:
        t = pq.read_table(f, columns=["conv_id", "turn_idx"])
        convs = t.column("conv_id").to_pylist()
        turns = t.column("turn_idx").to_pylist()
        assert convs == sorted(convs), f"conv_id unsorted in {f}"
        last = {}
        for c, ti in zip(convs, turns):
            assert last.get(c, -1) <= ti, f"turn_idx unsorted within {c}"
            last[c] = ti


def test_write_rejects_unknown_sort_cols(parsed_10k, tmp_path):
    """ADVICE r5: a typo in sort_cols must raise, not silently write
    UNCLUSTERED files (which would defeat the point-read layout the
    caller asked for with no signal)."""
    from commerce_logs_pipeline_spark.operators.router import (
        write_sinks_single_pass,
    )

    with pytest.raises(ValueError, match="sort_cols"):
        write_sinks_single_pass(
            parsed_10k, str(tmp_path), run_id="rbad",
            sort_cols=("conv_id", "turn_idxx"),
        )


def test_compaction_applies_cluster_sort(spark, tmp_path):
    """compact_routed rewrites closed partitions CLUSTERED by
    (conv_id, turn_idx) — maintenance is where the table sort order is
    applied (ingest stays unsorted/fast), so compacted files carry tight
    row-group stats for read_conversation."""
    import glob

    import pyarrow.parquet as pq

    from commerce_logs_pipeline_spark.operators.router import compact_routed
    from commerce_logs_pipeline_spark.plans.pipeline import run_pipeline
    from commerce_logs_pipeline_spark.synth import generate_transcripts

    base = str(tmp_path / "out")
    # two chunk commits over the same partitions -> compactable state
    full = generate_transcripts(spark, 2_000, partitions=4)
    run_pipeline(spark, full.filter(F.col("turn_idx") <= 1), base,
                 run_id="chunkA", close_partitions=False)
    run_pipeline(spark, full, base, run_id="chunkB")  # closes the latch
    rep = compact_routed(spark, base)
    assert rep["partitions"] > 0
    files = glob.glob(
        f"{base}/sinks/routed/runid={rep['run_id']}/**/*.parquet",
        recursive=True,
    )
    assert files
    for f in files:
        t = pq.read_table(f, columns=["conv_id", "turn_idx"])
        convs = t.column("conv_id").to_pylist()
        turns = t.column("turn_idx").to_pylist()
        assert convs == sorted(convs), f"conv_id unsorted in {f}"
        last = {}
        for c, ti in zip(convs, turns):
            assert last.get(c, -1) <= ti, f"turn_idx unsorted within {c}"
            last[c] = ti


def test_read_conversation_point_read(spark, tmp_path):
    """read_conversation returns exactly the conversation's rows in turn
    order, and its plan prunes on the bucket partition column AND pushes
    the conv_id equality to the parquet scan (row-group skipping over the
    clustered layout)."""
    from commerce_logs_pipeline_spark.operators.router import (
        read_conversation,
        read_routed,
    )
    from commerce_logs_pipeline_spark.plans.pipeline import run_pipeline
    from commerce_logs_pipeline_spark.synth import generate_transcripts

    base = str(tmp_path / "out")
    df = generate_transcripts(spark, 3_000, partitions=4)
    run_pipeline(spark, df, base, run_id="full_point")

    auth = read_routed(spark, base)
    target, expected = (
        auth.groupBy("conv_id").count().orderBy(F.desc("count")).first()
    )
    out = read_conversation(spark, base, target)
    rows = out.collect()
    assert len(rows) == expected > 0
    assert all(r.conv_id == target for r in rows)
    turns = [r.turn_idx for r in rows]
    assert turns == sorted(turns)

    plan = out._jdf.queryExecution().executedPlan().toString()
    # conv_id equality reached the parquet reader's pushed filters
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:400]
    assert "conv_id" in pushed
    # bucket resolves to a partition filter, not a post-scan filter
    assert "bucket" in plan.split("PartitionFilters")[1][:400]
