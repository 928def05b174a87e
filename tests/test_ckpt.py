"""The BCS_RELIABLE_CKPT switch (r16, VERDICT item 8): the engine's single
materialization point must run both storage contracts from the same code —
localCheckpoint locally (default), reliable DataFrame.checkpoint under the
env flag — with identical results either way."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from better_cdc_spark.session import ckpt


@pytest.fixture()
def clean_env(monkeypatch, tmp_path):
    monkeypatch.delenv("BCS_RELIABLE_CKPT", raising=False)
    monkeypatch.setenv("BCS_CKPT_DIR", str(tmp_path / "reliable"))
    return tmp_path


def test_default_branch_is_local_checkpoint(spark, clean_env):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = df.transform(ckpt)
    # localCheckpoint truncates lineage to an RDD scan and needs no
    # checkpoint dir; the reliable dir must NOT have been created
    assert out.count() == 100
    # the lineage is cut: the physical plan scans the checkpointed RDD
    # (the logical plan names it LogicalRDD), not the original Range
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan and "Range" not in plan
    assert not os.path.exists(str(clean_env / "reliable"))
    assert sorted(r["v"] for r in out.collect()) == sorted(
        r["v"] for r in df.collect()
    )


def test_reliable_branch_writes_checkpoint_files(spark, clean_env, monkeypatch):
    monkeypatch.setenv("BCS_RELIABLE_CKPT", "1")
    df = spark.range(100).withColumn("v", F.col("id") * 3)
    out = df.transform(ckpt)
    assert out.count() == 100
    ckpt_dir = str(clean_env / "reliable")
    # reliable checkpoint materialized under BCS_CKPT_DIR
    assert os.path.exists(ckpt_dir)
    found = [
        os.path.join(r, f)
        for r, _, fs in os.walk(ckpt_dir)
        for f in fs
    ]
    assert found, "no reliable checkpoint files written"
    assert sorted(r["v"] for r in out.collect()) == sorted(
        r["v"] for r in df.collect()
    )


def test_reliable_branch_rebinds_when_ckpt_dir_changes(
    spark, clean_env, monkeypatch
):
    """Each reliable ckpt call checkpoints under the BCS_CKPT_DIR current
    at that call, not under whichever dir the first call bound."""
    monkeypatch.setenv("BCS_RELIABLE_CKPT", "1")
    for sub in ("first", "second"):
        ckpt_dir = clean_env / sub
        monkeypatch.setenv("BCS_CKPT_DIR", str(ckpt_dir))
        out = spark.range(50).transform(ckpt)
        assert out.count() == 50
        assert [f for _, _, fs in os.walk(ckpt_dir) for f in fs], sub


def test_get_spark_cleans_reliable_checkpoints(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"


def test_both_branches_agree_through_a_query_shaped_pipeline(
    spark, clean_env, monkeypatch
):
    base = spark.range(500).withColumn("k", F.col("id") % 7)

    def pipeline():
        mat = base.groupBy("k").agg(F.sum("id").alias("s")).transform(ckpt)
        # consume the materialized frame twice, like the query call sites
        return mat.join(mat.select(F.col("k"), F.col("s").alias("s2")), "k")

    local = sorted(map(tuple, pipeline().collect()))
    monkeypatch.setenv("BCS_RELIABLE_CKPT", "1")
    reliable = sorted(map(tuple, pipeline().collect()))
    assert local == reliable


@pytest.mark.parametrize("reliable", ["0", "1"])
def test_observation_reports_through_ckpt_in_both_modes(
    spark, clean_env, monkeypatch, reliable
):
    """The CDC pipeline reads side aggregates (corrupt count, sink bucket
    span) from an Observation riding on its checkpoint job instead of a
    separate action; that needs the metrics under either storage mode."""
    monkeypatch.setenv("BCS_RELIABLE_CKPT", reliable)
    obs = Observation()
    df = spark.range(100).withColumn("k", F.col("id") % 4)
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.collect_set("k").alias("ks"),
        F.max("id").alias("hi"),
    ).transform(ckpt)
    got = obs.get
    assert got["n"] == 100
    assert sorted(got["ks"]) == [0, 1, 2, 3]
    assert got["hi"] == 99
    assert out.count() == 100
