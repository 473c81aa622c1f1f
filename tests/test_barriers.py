"""Barrier strategy selection (plans/barriers.py, VERDICT r3 #2).

One helper serves every intra-stage fan-out point; these tests pin the
strategy dispatch so the cluster profile ('reliable') cannot
silently fall back to the non-fault-tolerant localCheckpoint."""

from __future__ import annotations

import os
import tempfile

import pytest

from app_dupfind_spark.config import DedupConfig
from app_dupfind_spark.plans.barriers import (
    ensure_checkpoint_dir,
    materialize_barrier,
)


def _df(spark):
    return spark.range(100).withColumnRenamed("id", "x")


def test_local_default_truncates_lineage(spark):
    out = materialize_barrier(_df(spark))
    assert out.count() == 100
    # localCheckpoint replaces the plan with a scan of materialized
    # blocks — the original Range node is gone
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Range" not in plan


def test_reliable_requires_checkpoint_dir(spark):
    # only meaningful when no dir is set yet (test-order independent:
    # skip if an earlier test in this session already set one)
    if spark.sparkContext.getCheckpointDir():
        pytest.skip("checkpoint dir already set in this session")
    with pytest.raises(RuntimeError, match="checkpoint dir"):
        materialize_barrier(_df(spark), strategy="reliable")


def test_reliable_checkpoints_when_dir_set(spark):
    ensure_checkpoint_dir(spark, tempfile.mkdtemp(prefix="rdd_ckpt_"))
    out = materialize_barrier(_df(spark), strategy="reliable")
    assert out.count() == 100
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Range" not in plan


def test_cfg_threads_strategy(spark):
    # 'reliable' writes the RDD into the checkpoint dir; 'local' never
    # does, so a new rdd-* directory proves the config was honoured
    ensure_checkpoint_dir(spark, tempfile.mkdtemp(prefix="rdd_ckpt_"))
    ckpt = spark.sparkContext.getCheckpointDir().removeprefix("file:")
    before = set(os.listdir(ckpt))
    out = materialize_barrier(_df(spark), DedupConfig(barrier_strategy="reliable"))
    assert out.count() == 100
    assert any(d.startswith("rdd-") for d in set(os.listdir(ckpt)) - before)


def test_unknown_strategy_rejected(spark):
    with pytest.raises(ValueError, match="barrier strategy"):
        materialize_barrier(_df(spark), strategy="bogus")


@pytest.mark.parametrize("strategy", ["bogus", "persist"])
def test_config_validates_strategy(strategy):
    with pytest.raises(ValueError, match="barrier_strategy"):
        DedupConfig(barrier_strategy=strategy)


def test_connected_components_under_reliable_barriers(spark):
    # the iterative stage's per-round lineage cut honors the strategy:
    # under 'reliable' each round is durable (recovery replays at most
    # one round instead of rewinding the whole stage)
    from app_dupfind_spark.operators.components import connected_components

    ensure_checkpoint_dir(spark, tempfile.mkdtemp(prefix="rdd_ckpt_"))
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 5)], "a long, b long"
    )
    out = {
        (r["node"], r["component"])
        for r in connected_components(
            pairs, barrier_strategy="reliable"
        ).collect()
    }
    assert out == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_cascade_end_to_end_under_reliable_barriers(spark, pages):
    # the exact cascade's skinny-projection barrier is the hottest
    # site; the full operator must produce identical dup membership
    # under the cluster-profile strategy
    from app_dupfind_spark.operators.exact import exact_dup_cascade

    ensure_checkpoint_dir(spark, tempfile.mkdtemp(prefix="rdd_ckpt_"))
    base = exact_dup_cascade(pages, DedupConfig(), "url", "text")
    rel = exact_dup_cascade(
        pages, DedupConfig(barrier_strategy="reliable"), "url", "text"
    )
    assert sorted(r["url"] for r in base.collect()) == sorted(
        r["url"] for r in rel.collect()
    )
