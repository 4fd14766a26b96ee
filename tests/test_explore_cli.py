"""Smoke test for the jobs/explore.py CLI face (explore-raw-logs analog)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))

import explore  # noqa: E402

from commerce_logs_pipeline_spark.plans.pipeline import run_pipeline
from commerce_logs_pipeline_spark.synth import generate_transcripts


def test_explore_subcommands(spark, tmp_path, capsys):
    base = str(tmp_path / "out")
    run_pipeline(spark, generate_transcripts(spark, 2_000, partitions=4), base)

    for argv in (
        ["--base", base, "--json", "filter", "--expr",
         "category = 'http' AND status_code >= 200", "--columns",
         "conv_id,turn_idx,status_code"],
        ["--base", base, "--json", "keys", "--prefix", "tool"],
        ["--base", base, "--json", "top", "--by", "category", "-n", "3"],
        ["--base", base, "--json", "stats"],
        # a Z-suffixed UTC instant parses on every supported Python
        ["--base", base, "--json", "--asof", "2999-01-01T00:00:00Z",
         "stats"],
        ["--base", base, "--json", "profile", "--sample", "200"],
        ["--base", base, "--json", "pii"],
        ["--base", base, "--json", "pii", "--redact"],
    ):
        assert explore.main(argv, spark=spark) == 0
        out = capsys.readouterr().out.strip().splitlines()
        assert out, argv
        import json

        json.loads(out[0])  # JSON-lines contract holds

    # conv point-read needs a real conv_id from the routed table
    from commerce_logs_pipeline_spark.operators.router import read_routed

    cid = read_routed(spark, base).select("conv_id").first()["conv_id"]
    assert explore.main(
        ["--base", base, "--json", "conv", "--id", cid,
         "--columns", "conv_id,turn_idx,category"],
        spark=spark,
    ) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out
    import json

    assert json.loads(out[0])["conv_id"] == cid


def test_maintain_cli_roundtrip(spark, tmp_path, capsys):
    """maintain.py drives compact -> stats -> vacuum-superseded ->
    vacuum-orphans end-to-end over a chunk-fragmented table."""
    import json as _json

    import maintain

    from pyspark.sql import functions as F

    base = str(tmp_path / "out")
    full = generate_transcripts(spark, 1_500, partitions=4)
    run_pipeline(spark, full.filter(F.col("turn_idx") <= 1), base,
                 run_id="chunk1", close_partitions=False)
    run_pipeline(spark, full, base, run_id="chunk2")

    assert maintain.main(["--base", base, "compact", "--run-id", "compactM"],
                         spark=spark) == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["run_id"] == "compactM" and rep["partitions"] > 0

    assert maintain.main(["--base", base, "stats"], spark=spark) == 0
    st = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["total_rows"] == 1_500

    assert maintain.main(
        ["--base", base, "vacuum-superseded", "--run-id", "compactM"],
        spark=spark) == 0
    vs = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert vs["removed"] > 0

    assert maintain.main(
        ["--base", base, "vacuum-orphans", "--min-age-hours", "0"],
        spark=spark) == 0
    vo = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert vo["removed"] == 0  # nothing orphaned

    from commerce_logs_pipeline_spark.operators.router import read_routed

    assert read_routed(spark, base).count() == 1_500


def test_explore_keys_env_errors_when_column_absent(spark, tmp_path, capsys):
    """keys --env must ERROR when the routed table carries no environment
    column — r3 silently filtered `category` instead, returning
    confidently-wrong empty results."""
    import pytest

    base = str(tmp_path / "out")
    run_pipeline(spark, generate_transcripts(spark, 500, partitions=2), base)
    with pytest.raises(SystemExit, match="no 'environment' column"):
        explore.main(["--base", base, "keys", "--env", "prod"], spark=spark)


def test_assemble_cli_end_to_end(spark, tmp_path, capsys):
    """jobs/assemble.py: curate -> dedup -> split -> pack -> encode over a
    documents parquet; conservation (every survivor in exactly one pack of
    its split) and output layout pinned."""
    import json

    import assemble

    src = str(tmp_path / "docs")
    spark.range(200).selectExpr(
        "id AS doc_id",
        "concat('the quick document number ', id, ' has a body with "
        "several plain words and item ', id % 17, ' appears here') AS text",
        "concat('src', id % 3) AS source",
    ).write.parquet(src)
    out = str(tmp_path / "asm")
    assert assemble.main_with_spark([
        "--input", src, "--out", out, "--capacity", "32",
        "--n-shards", "4", "--vocab-size", "50",
    ], spark) == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["input_docs"] == 200
    assert 0 < summary["survivor_docs"] <= summary["curated_docs"] <= 200
    assert summary["encoded_docs"] == summary["survivor_docs"]

    from pyspark.sql import functions as F

    asg = spark.read.parquet(f"{out}/assignments")
    assert asg.count() == summary["survivor_docs"]
    assert asg.select("doc_id").distinct().count() == asg.count()
    packs = spark.read.parquet(f"{out}/packed")
    assert packs.agg(F.sum("n_docs")).first()[0] == asg.count()

    # decontamination branch: docs sharing a 13-gram with the benchmark
    # never survive
    bench = str(tmp_path / "bench")
    spark.read.parquet(src).filter("doc_id % 50 = 0").select(
        "text"
    ).write.parquet(bench)
    out2 = str(tmp_path / "asm2")
    assert assemble.main_with_spark([
        "--input", src, "--out", out2, "--capacity", "32",
        "--n-shards", "4", "--benchmark", bench, "--no-encode",
    ], spark) == 0
    s2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert s2["curated_docs"] < summary["curated_docs"]  # contaminated gone
    assert s2["encoded_docs"] == 0  # --no-encode honored
