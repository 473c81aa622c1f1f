"""Python stages fan out to the cores (plans.partitioning).

Partition counts are read from the physical plan with AQE off, so no
job runs: the guards use explicit-count repartitions, which AQE never
coalesces, so the static count is the runtime count."""

from __future__ import annotations

import sys
from contextlib import contextmanager

import pytest
from pyspark import SparkContext
from pyspark.sql import DataFrame

from app_dupfind_spark.config import DedupConfig
from app_dupfind_spark.operators.minhash_lsh import signatures
from app_dupfind_spark.operators.spans import shared_span_pairs
from app_dupfind_spark.plans.partitioning import num_partitions


@contextmanager
def _static_plan(spark):
    """Plan-only partition counts: AQE and broadcast joins (whose
    preparation runs jobs) off; asserts no job ran meanwhile."""
    keys = ("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k) for k in keys}
    sc = spark.sparkContext
    tracker, group = sc.statusTracker(), sc.getLocalProperty("spark.jobGroup.id")
    jobs = len(tracker.getJobIdsForGroup(group))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert len(tracker.getJobIdsForGroup(group)) == jobs


def _docs(spark, n: int = 40) -> DataFrame:
    return spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(i, i + 30))) for i in range(n)],
        "doc_id long, text string",
    )


def test_signatures_fan_out_to_default_parallelism(spark):
    cfg = DedupConfig()
    cores = spark.sparkContext.defaultParallelism
    narrow = _docs(spark).coalesce(1)
    wide = _docs(spark).repartition(cores * 2)
    with _static_plan(spark):
        assert num_partitions(narrow) == 1
        got = num_partitions(signatures(narrow, cfg, "doc_id", "text"))
        # one Python task per core, not a fixed partition count
        assert got == cores
        # an input already past the guard passes through untouched
        assert num_partitions(signatures(wide, cfg, "doc_id", "text")) == cores * 2


def test_span_lcs_kernel_fans_out_to_default_parallelism(spark, monkeypatch):
    docs = _docs(spark).selectExpr("cast(doc_id as string) as id", "text")
    pairs = spark.createDataFrame([("0", "1"), ("2", "3")], "a string, b string")
    fed = []
    original = type(pairs).mapInPandas

    def spy(self, *args, **kwargs):
        fed.append(self)
        return original(self, *args, **kwargs)

    monkeypatch.setattr(type(pairs), "mapInPandas", spy)
    # a 4-core pool: below the old max(cores, 8) floor
    monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda _: 4))
    shared_span_pairs(pairs, docs, 100, "id", "text")
    assert len(fed) == 1
    with _static_plan(spark):
        assert num_partitions(fed[0]) == 4


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13's invalidate_caches only drops the cache"
)
def test_tasks_keep_spark_zip_directories(spark, tmp_path):
    """Each task of a reused worker calls importlib.invalidate_caches()
    (pyspark.worker_util.setup_spark_files): once the package is
    imported, Spark's own archives keep their zip directory, and any
    other zip on sys.path is still re-read.  It runs more tasks than
    cores and checks inside every task, whichever worker runs it."""
    root = str(tmp_path)

    def task(batches):
        import importlib
        import os
        import sys
        import zipfile
        import zipimport

        import pandas as pd

        import app_dupfind_spark  # noqa: F401  what unpickling a package UDF does

        def spark_zip(path):
            name = os.path.basename(path)
            return name == "pyspark.zip" or name.startswith(("py4j-", "spark-core_"))

        for pdf in batches:
            part = int(pdf["id"].iloc[0])
            mod = f"own_zip_mod_{part}"
            own = os.path.join(root, f"{mod}.zip")
            with zipfile.ZipFile(own, "w") as z:
                z.writestr(f"{mod}.py", "X = 1\n")
            sys.path.insert(0, own)
            try:
                importlib.import_module(mod)
                cache = zipimport._zip_directory_cache
                before = dict(cache)
                importlib.invalidate_caches()
                spark_zips = [k for k in before if spark_zip(k)]
                kept = all(cache[k] is before[k] for k in spark_zips)
                own_reread = cache[own] is not before[own]
            finally:
                sys.path.remove(own)
                sys.path_importer_cache.pop(own, None)
                sys.modules.pop(mod, None)
            yield pd.DataFrame({
                "spark_zips": [len(spark_zips)],
                "kept": [kept],
                "own_reread": [own_reread],
            })

    tasks = 2 * spark.sparkContext.defaultParallelism
    rows = (
        spark.range(tasks, numPartitions=tasks)
        .mapInPandas(task, "spark_zips long, kept boolean, own_reread boolean")
        .collect()
    )
    assert len(rows) == tasks
    assert all(r.spark_zips >= 1 for r in rows)
    assert all(r.kept for r in rows)
    assert all(r.own_reread for r in rows)
