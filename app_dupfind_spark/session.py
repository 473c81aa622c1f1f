"""SparkSession factory with the engine's pinned runtime configuration.

Scale posture: AQE on (runtime re-plan + skew-join splitting), Arrow on
(every pandas UDF crosses the JVM/Python boundary in columnar batches),
shuffle partitions set by `get_spark(shuffle_partitions=)` or
``SPARK_GRAFT_SHUFFLE_PARTITIONS``.  On a real cluster these same confs
ship via spark-submit; locally we pin them here so tests and bench runs
are reproducible.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "app-dupfind-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime shuffle-partition coalescing + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow batches for pandas UDFs; bounded batch size keeps the
        # Python workers' memory flat regardless of partition size.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # modest batches bound each python worker's per-batch Arrow
        # buffers and the MinHash kernel's flat hash array (its work
        # matrix is bounded by shingle blocks, functions.hashing):
        # large batches across many workers per node cause
        # simultaneous first-touch arena growth (tens of seconds of
        # page faults on the first full-size UDF pass)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # Constraint propagation OFF.  Catalyst's
        # UnionBase.rewriteConstraints throws
        # NoSuchElementException("key not found: u#NNN") when a
        # constraint references an attribute that plan deduplication
        # re-aliased — triggered (input-size/AQE-dependently) by the
        # CC stage's self-unions over checkpointed plans; reproduced
        # by an end-to-end pipeline test once the LSH 'arrays' strategy
        # shifted upstream stats.  The
        # engine's plans declare their filters and non-null guards
        # explicitly (constraint INFERENCE adds nothing here), and
        # inference is also a known compile-time quadratic hazard on
        # wide iterative plans, so off is the right default at scale,
        # not just a workaround.
        .config("spark.sql.constraintPropagation.enabled", "false")
        # deterministic session timezone for timestamp columns
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def ensure_session_hygiene(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs the engine's plans REQUIRE to a
    session the engine did not create (the correctness driver and any
    embedding application hand us theirs).  Today that is exactly one
    conf: constraint propagation off (see get_spark — the Catalyst
    rewriteConstraints NoSuchElementException on self-unions over
    checkpointed plans).  Builder-only confs (AQE, Arrow) stay the
    host's choice: they change speed, not validity.

    SESSION-WIDE SIDE EFFECT (ADVICE r5): the conf flip persists on
    the host's session after this call — the host's unrelated queries
    in the same session also lose constraint inference (a plan-quality
    property, never a correctness one).  Hosts that want inference
    back must restore the conf themselves after the engine call."""
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    return spark
