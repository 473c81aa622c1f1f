"""Intra-stage materialization barriers, chosen by the platform.

Operators bind fan-out points — a UDF-produced or aggregate table that
several plan branches re-reference — behind a barrier so the expensive
lineage evaluates once (see the call sites' PERF notes; the measured
penalty without one is up to 30x on the LSH signature table).

Which barrier is a property of the master, not of the run, so it is
not part of `DedupConfig` (a run's identity: switching barriers changes
no output row and must not invalidate a finished stage):

- local master (`local`, `local[N]`): ``df.localCheckpoint()``.  The
  blocks live in the one JVM's block manager; no executor can be lost
  without losing the driver too, so nothing more durable is needed.
  BASELINE.md measured it ~equal to parquet at low parallelism and
  SLOWER at high (heap pressure).
- any other master: ``df.checkpoint()`` — blocks written to the
  SparkContext checkpoint directory (HDFS / object store on a real
  cluster), so an executor lost mid-stage costs a re-read, not the job
  (a localCheckpoint's blocks die with their executor, lineage
  truncated).  Requires ``sc.setCheckpointDir``: the pipeline runner
  sets it under its checkpoint root (``ensure_checkpoint_dir``);
  standalone operator calls must do the same or get a clear error
  here, at plan time.

`is_local_master` is the one place the choice is made.

`bind_columns` is the other kind of barrier: it writes nothing and only
stops the optimizer from copying an expensive expression into the
filters above it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def is_local_master(spark: SparkSession) -> bool:
    """True when driver and executors share one JVM (a `local` or
    `local[N]` master)."""
    return spark.sparkContext._jsc.isLocal()


def ensure_checkpoint_dir(spark: SparkSession, path: str) -> None:
    """Set the reliable-checkpoint directory iff none is set yet, so
    every runner in a session may call it."""
    sc = spark.sparkContext
    if not sc.getCheckpointDir():
        sc.setCheckpointDir(str(path))


def materialize_barrier(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Materialize `df` once so downstream fan-out replays rows instead
    of recomputing lineage: a localCheckpoint on a local master, a
    reliable checkpoint on any other."""
    spark = df.sparkSession
    if is_local_master(spark):
        return df.localCheckpoint(eager=eager)
    if not spark.sparkContext.getCheckpointDir():
        raise RuntimeError(
            "a barrier on a non-local master needs a checkpoint dir: call "
            "spark.sparkContext.setCheckpointDir(...) (the pipeline "
            "runner does this automatically)"
        )
    return df.checkpoint(eager=eager)


def bind_columns(df: DataFrame, keep: list[str], **exprs: Column) -> DataFrame:
    """`keep` plus each of `exprs` as a column, evaluated ONCE per row.

    A select alias does not bind: Spark substitutes the alias into any
    Filter above it, and pushes a filter over a join's output into the
    join condition.  Neither a Filter nor a BroadcastHashJoin condition
    shares common subexpressions, so an expression that a gate and the
    output both reference runs once per reference (array_intersect 4x
    per pair in the exact verify gate).  A generator's output is opaque
    to that substitution: `inline` of a one-struct array emits the
    struct's fields as columns, and filters on them stay above the
    Generate node, which evaluates each expression once."""
    row = F.struct(*[e.alias(n) for n, e in exprs.items()])
    return df.select(*keep, F.inline(F.array(row)))
