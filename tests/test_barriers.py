"""Barrier selection by master (plans/barriers.py, VERDICT r3 #2).

One helper serves every intra-stage fan-out point; these tests pin the
dispatch so a non-local master cannot silently fall back to the
non-fault-tolerant localCheckpoint.  The test session runs on a local
master, so the non-local cases patch `barriers.is_local_master`."""

from __future__ import annotations

import os

import pytest

from app_dupfind_spark.config import DedupConfig
from app_dupfind_spark.plans import barriers
from app_dupfind_spark.plans.barriers import (
    ensure_checkpoint_dir,
    materialize_barrier,
)


def _df(spark):
    return spark.range(100).withColumnRenamed("id", "x")


@pytest.fixture
def non_local(monkeypatch):
    monkeypatch.setattr(barriers, "is_local_master", lambda spark: False)


def test_local_default_truncates_lineage(spark):
    out = materialize_barrier(_df(spark))
    assert out.count() == 100
    # localCheckpoint replaces the plan with a scan of materialized
    # blocks — the original Range node is gone
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Range" not in plan


def test_reliable_requires_checkpoint_dir(spark, non_local):
    # only meaningful when no dir is set yet (test-order independent:
    # skip if an earlier test in this session already set one)
    if spark.sparkContext.getCheckpointDir():
        pytest.skip("checkpoint dir already set in this session")
    with pytest.raises(RuntimeError, match="checkpoint dir"):
        materialize_barrier(_df(spark))


def test_reliable_checkpoints_when_dir_set(spark, tmp_path, non_local):
    ensure_checkpoint_dir(spark, str(tmp_path))
    out = materialize_barrier(_df(spark))
    assert out.count() == 100
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Range" not in plan


def _new_rdd_dirs(spark, tmp_path, fn) -> set[str]:
    ensure_checkpoint_dir(spark, str(tmp_path))
    ckpt = spark.sparkContext.getCheckpointDir().removeprefix("file:")
    before = set(os.listdir(ckpt))
    assert fn().count() == 100
    return {d for d in set(os.listdir(ckpt)) - before if d.startswith("rdd-")}


def test_cfg_threads_strategy(spark, tmp_path, non_local):
    # a reliable barrier writes the RDD into the checkpoint dir; a
    # local one never does, so a new rdd-* directory proves the
    # non-local master was honoured
    assert _new_rdd_dirs(spark, tmp_path, lambda: materialize_barrier(_df(spark)))


def test_barrier_follows_the_master(spark, tmp_path, monkeypatch):
    # local master: a localCheckpoint, nothing in the checkpoint dir
    assert barriers.is_local_master(spark)

    def barrier():
        return materialize_barrier(_df(spark))

    assert not _new_rdd_dirs(spark, tmp_path, barrier)
    # any other master: exactly one reliable checkpoint
    monkeypatch.setattr(barriers, "is_local_master", lambda spark: False)
    assert len(_new_rdd_dirs(spark, tmp_path, barrier)) == 1


def test_connected_components_under_reliable_barriers(
    spark, tmp_path, non_local, monkeypatch
):
    # the iterative stage's per-round lineage cut follows the master:
    # off a local master each round is durable (recovery replays at
    # most one round instead of rewinding the whole stage).  Bound 0
    # forces star rounds on a graph this small.
    from app_dupfind_spark.operators import components

    monkeypatch.setattr(components, "DRIVER_FINISH_MAX_EDGES", 0)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 5)], "a long, b long"
    )
    ensure_checkpoint_dir(spark, str(tmp_path))
    ckpt = spark.sparkContext.getCheckpointDir().removeprefix("file:")
    before = set(os.listdir(ckpt))
    stats: dict = {}
    out = {
        (r["node"], r["component"])
        for r in components.connected_components(pairs, counters=stats).collect()
    }
    assert out == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    # one reliable checkpoint for the input and one per round
    new_dirs = {d for d in set(os.listdir(ckpt)) - before if d.startswith("rdd-")}
    assert stats["rounds"] >= 1
    assert len(new_dirs) == stats["rounds"] + 1


def test_cascade_end_to_end_under_reliable_barriers(
    spark, pages, tmp_path, monkeypatch
):
    # the exact cascade's skinny-projection barrier is the hottest
    # site; the full operator must produce identical dup membership
    # under reliable barriers
    from app_dupfind_spark.operators.exact import exact_dup_cascade

    ensure_checkpoint_dir(spark, str(tmp_path))
    base = exact_dup_cascade(pages, DedupConfig(), "url", "text")
    monkeypatch.setattr(barriers, "is_local_master", lambda spark: False)
    rel = exact_dup_cascade(pages, DedupConfig(), "url", "text")
    assert sorted(r["url"] for r in base.collect()) == sorted(
        r["url"] for r in rel.collect()
    )
