"""Partitioning probes and guards.

Small local inputs (checkpoint read-backs, tiny parquet) arrive as 1-2
partitions because files pack below `spark.sql.files.maxPartitionBytes`;
an Arrow/pandas or interpreted-HOF stage fed that layout runs on one
core.  The guard repartitions ONLY when under-partitioned — at real
scale inputs always arrive wide and the extra shuffle of wide rows
would be pure waste.

Python stages fan out to the cores (`defaultParallelism`), never to
`spark.sql.shuffle.partitions`.  Every Python task pays a fixed cost
that does not scale with its rows.  Most of it was the reused worker's
per-task `setup_spark_files`, which calls `importlib.invalidate_caches()`;
under Python 3.11 that re-reads the zip directory behind every zip
importer cached for sys.path, and the worker's path holds the Spark
core jar, pyspark.zip and the py4j zip (16 zip importers; one call took
114-305 ms inside a worker with 4 tasks running).  Importing the
package keeps those three archives' directories
(`app_dupfind_spark._keep_spark_zip_directories`), so only the first
task of each worker, which runs the setup before it unpickles a package
UDF, still pays it.  Measured at local[4] on 4 vCPUs (PySpark 4.1.2,
Python 3.11), a warm identity mapInPandas over 4,000 rows takes
0.34-0.37 s of wall at 4 partitions, 2.2-2.3 s at 32 and 3.9-4.8 s at
64 with the stock refresh (~0.25 s of task time per extra task); with
the package imported in the task it takes 0.19-0.22 s, 0.64-0.91 s and
1.1-1.6 s (~0.06-0.09 s per extra task).  More tasks than cores buys
no parallelism and pays that cost per task, so the batch pipeline's
Arrow/pandas stages (MinHash signatures, the span LCS kernel) guard or
repartition to `defaultParallelism`, as do its interpreted-HOF index
builders (span and Jaccard shingle windows).  The larger per-task batches this gives
are safe for memory because the MinHash kernel's working set is bounded
by shingle blocks, not rows (functions.hashing.minhash_batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def num_partitions(df: DataFrame) -> int:
    """Physical partition count of a DataFrame WITHOUT building the
    Python-side RDD wrapper (serializer pipeline, javaToPython bridge):
    ask the JVM Dataset's RDD directly.  Triggers physical planning
    (unavoidable — partitioning is a physical property) but no job."""
    try:
        return df._jdf.rdd().getNumPartitions()
    except Exception:  # pragma: no cover - Connect or API drift
        return df.rdd.getNumPartitions()


def ensure_min_partitions(df: DataFrame, target: int, *cols: str) -> DataFrame:
    """Repartition to `target` (hashed on `cols`) iff the current layout
    is below half the target; otherwise pass through untouched."""
    if num_partitions(df) < max(2, target // 2):
        return df.repartition(target, *cols)
    return df
