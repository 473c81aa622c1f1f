"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    -> flagship near-dup clustering on sf0.001 documents.
queries()       -> every implemented operator (SURVEY.md §2 + graft
                   training-data ops) as (spark, sf_dir) -> DataFrame.
oracle_sql()    -> DuckDB-equivalent ANSI SQL for each SQL-expressible
                   query (hash-native ops are rows-only by design).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from app_dupfind_spark.queries import ORACLES, QUERIES, q_near_dup_clusters


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full exact+near dedup pipeline (xxhash64 cascade,
    MinHash/LSH, exact-Jaccard verify, connected components) over
    the sf0.001 documents table."""
    return q_near_dup_clusters(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
