"""parquet_importer_spark.profile: the one reader of Spark's job and
stage state, and the two tools that consume it (dump_plans and the
scale ladder's rung metrics)."""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import time

import pytest
from pyspark.sql import functions as F

from parquet_importer_spark.profile import STAGE_SUMS, profile
from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tool(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _shuffled(spark):
    return (
        spark.range(20_000)
        .repartition(4)
        .groupBy((F.col("id") % 7).alias("k"))
        .count()
    )


def test_shuffle_query_reports_jobs_stages_and_stage_sums(spark):
    assert spark.sparkContext.uiWebUrl is None  # the store needs no UI
    p = profile(spark, lambda: _shuffled(spark))
    assert p["jobs"] >= 1
    assert p["stages"] >= 2
    assert p["shuffle_write_bytes"] > 0
    assert p["shuffle_read_bytes"] > 0
    assert p["spill_mem_bytes"] == 0
    assert p["spill_disk_bytes"] == 0
    assert p["max_tasks"] >= p["final_tasks"] >= 1
    assert set(STAGE_SUMS) <= set(p)


def test_jobs_run_while_building_count_toward_build(spark):
    """An iterative operator runs actions while it builds its result;
    those jobs belong to the profile and their time to ``build_s``."""
    pause = 1.0

    def build():
        spark.range(1000).count()
        time.sleep(pause)
        return spark.range(10)

    plain = profile(spark, lambda: spark.range(10))
    eager = profile(spark, build)
    assert eager["jobs"] > plain["jobs"]
    assert eager["build_s"] >= pause
    assert eager["exec_s"] < pause


def test_back_to_back_profiles_do_not_share_jobs(spark):
    first = profile(spark, lambda: _shuffled(spark))
    second = profile(spark, lambda: _shuffled(spark))
    assert second["jobs"] == first["jobs"]
    assert second["stages"] == first["stages"]


def test_error_propagates_and_clears_the_job_group(spark):
    sc = spark.sparkContext

    def broken():
        raise ValueError("broken build")

    with pytest.raises(ValueError, match="broken build"):
        profile(spark, broken)
    assert sc.getLocalProperty("spark.jobGroup.id") is None

    @F.udf("long")
    def boom(x):
        raise RuntimeError("boom in a task")

    with pytest.raises(Exception, match="boom in a task"):
        profile(spark, lambda: spark.range(3).select(boom("id")))
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert profile(spark, lambda: spark.range(10))["jobs"] >= 1


def test_dump_plans_json_line(spark, tmp_path, monkeypatch, capsys):
    dump_plans = _tool("dump_plans")
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_SMOKE)
    # the tool's get_spark() reuses this session and re-applies its SQL
    # confs: keep the suite's shuffle width for the tests that follow
    monkeypatch.setenv(
        "SPARK_GRAFT_SHUFFLE", spark.conf.get("spark.sql.shuffle.partitions")
    )
    monkeypatch.setattr(
        sys, "argv", ["dump_plans.py", str(tmp_path), "flagship_pricing_summary"]
    )
    dump_plans.main()
    line = capsys.readouterr().out.strip().splitlines()[-1]
    stats = json.loads(line)
    assert stats["query"] == "flagship_pricing_summary"
    for field in (
        "build_sec", "exec_sec", "jobs", "stages", "exchanges",
        "reused_exchanges", "smj", "bhj", "shj", "bnlj", "py_eval",
        "window", "sort",
    ):
        assert field in stats, field
    assert stats["jobs"] >= 1 and stats["stages"] >= 1
    plan = (tmp_path / "flagship_pricing_summary_before.txt").read_text()
    assert "Physical Plan" in plan


def test_scale_ladder_metrics_keep_the_stored_fields(spark):
    ladder = _tool("scale_ladder")
    with open(os.path.join(REPO, "SCALE_LADDER.json")) as fh:
        rows = json.load(fh)["results"]
    stored = {
        frozenset(r[f])
        for r in rows.values()
        for f in ("sf30_metrics", "sf100_metrics")
        if f in r
    }
    six = {
        "spill_mem_gb", "spill_disk_gb", "shuffle_write_gb",
        "shuffle_read_gb", "shuffle_write_time_s", "executor_run_time_s",
    }
    assert stored == {frozenset(six)}
    metrics = ladder._ladder_metrics(profile(spark, lambda: _shuffled(spark)))
    assert set(metrics) == six
    assert metrics["executor_run_time_s"] >= 0
