"""Exact n-gram Jaccard similarity over distinct shingle-hash sets.

This is the *exact* verifier of the near-dup family (MinHash/LSH is its
approximate accelerator).  Two plans share one per-doc input, the
barriered array of each doc's distinct shingle hashes
(`doc_shingle_arrays`):

- `exact_jaccard_for_pairs` scores a GIVEN pair list: it joins each
  pair to both docs' arrays and intersects them, one row per pair.
- `jaccard_pairs` finds ALL pairs above a threshold.  Rather than
  all-pairs, it builds the inverted index (shingle -> docs) and counts
  co-occurrences — the classic "similarity join by token" plan, with
  the shingle as the key of the shared key-pair kernel:

      docs -> explode(distinct shingles)
           -> operators.cobucket.key_pairs    (a, b, n_common)
           -> join n_a, n_b                   -> Jaccard from
                                                 inclusion-exclusion

Scale notes for the inverted index (`jaccard_pairs`):
- Shingles occurring in only one doc generate no pairs; the kernel's
  size join drops them BEFORE any member array is collected (the
  reference's singleton-elimination P2 applied to the token universe).
- Ubiquitous shingles (web boilerplate) are the skew hazard: a shingle
  in m docs yields m(m-1)/2 pairs.  `max_shingle_df` caps document
  frequency — standard positional-filter practice; with
  `capped_count_col` the number of capped shingles rides every result
  row, never silent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from app_dupfind_spark.functions.text import token_hashes, window_hashes
from app_dupfind_spark.operators.cobucket import key_pairs, key_sizes
from app_dupfind_spark.plans.barriers import bind_columns, materialize_barrier
from app_dupfind_spark.plans.partitioning import ensure_min_partitions


def doc_shingle_arrays(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, shingles): each doc's DISTINCT word k-shingles as one array
    of 64-bit xxhash64 keys (empty below k tokens), bound behind a
    barrier.

    Shingles are hashes, not strings: every join and shuffle moves
    8-byte longs instead of ~30-byte UTF-8 — at web scale the shingle
    column dominates shuffle volume, and hash-join on longs is markedly
    faster (collisions at 2^64 are immaterial next to the MinHash
    approximation downstream).

    The barrier holds one row per DOC, and every consumer (both join
    roles of the pair verifier; the document-frequency aggregate and
    both join roles of the inverted index) replays stored arrays.  It
    is REQUIRED, not only a fan-out saving: unbarriered,
    InferFiltersFromGenerate infers `size(window_hashes(..)) > 0` from
    a downstream explode and filter pushdown re-inlines the whole
    interpreted HOF below the parallelism-guard repartition, evaluating
    it serially on the narrow scan layout (measured 487 s vs 0.8 s —
    the q_minhash_signatures hazard)."""
    # parallelism guard: a small parquet input arrives as one partition
    # and the interpreted window-hash work would run on one core
    df = ensure_min_partitions(
        df, df.sparkSession.sparkContext.defaultParallelism, id_col
    )
    return materialize_barrier(
        df.select(
            F.col(id_col), token_hashes(F.col(text_col)).alias("__th")
        ).select(
            F.col(id_col), window_hashes(F.col("__th"), k).alias("shingles")
        )
    )


def _jaccard(pairs: DataFrame) -> DataFrame:
    """Append jaccard = n_common / (n_a + n_b - n_common), 6 places."""
    return pairs.withColumn(
        "jaccard",
        F.round(
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
            6,
        ),
    ).select("a", "b", "n_common", "n_a", "n_b", "jaccard")


def exact_jaccard_for_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact shingle-Jaccard for a GIVEN list of DISTINCT pairs (a, b) —
    the pair-targeted verifier behind the pipeline's verify stage.

    Array shape: shingle arrays are computed only for docs appearing in
    some pair (semi-join prune) and bound once (`doc_shingle_arrays`);
    each pair joins its two docs' arrays on `a` and on `b`, and
    n_common = size(array_intersect(sa, sb)) — one row per pair, no
    shingle explode and no aggregate.  Shuffle volume is the sum over
    pairs of |shingles(a)| + |shingles(b)| as packed long arrays,
    LINEAR in candidate pairs.  The naive alternative (jaccard_pairs
    over the candidate-doc subset) enumerates every shingle-sharing
    pair in the subset — a quadratic blow-up the LSH prefilter exists
    to avoid.

    Each input row yields at most one output row, so a duplicated input
    pair is scored twice: callers pass distinct pairs (the `(a, b)`
    aggregate of `cobucket.key_pairs` guarantees it).  Pairs with zero common shingles
    (or an unshingleable side) drop out — callers gate on
    jaccard >= tau > 0, so absence == rejection.
    Returns (a, b, n_common, n_a, n_b, jaccard).
    """
    ids = (
        pairs.select(F.col("a").alias(id_col))
        .unionByName(pairs.select(F.col("b").alias(id_col)))
        .distinct()
    )
    sub = docs.join(ids, id_col, "left_semi")
    arr = doc_shingle_arrays(sub, k, id_col, text_col)
    sa = arr.select(F.col(id_col).alias("a"), F.col("shingles").alias("sa"))
    sb = arr.select(F.col(id_col).alias("b"), F.col("shingles").alias("sb"))
    # bound, not aliased: callers gate on jaccard, and a gate over an
    # alias would be pushed into the join condition, intersecting the
    # arrays once per reference (plans/barriers.py: bind_columns)
    counted = bind_columns(
        pairs.select("a", "b").join(sa, "a").join(sb, "b"),
        ["a", "b"],
        n_common=F.size(F.array_intersect("sa", "sb")).cast("long"),
        n_a=F.size("sa"),
        n_b=F.size("sb"),
    )
    return _jaccard(counted.where(F.col("n_common") > 0))


def jaccard_pairs(
    df: DataFrame,
    k: int,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = None,
    capped_count_col: str | None = None,
) -> DataFrame:
    """All unordered pairs (a < b) with exact shingle-Jaccard >= threshold.

    Returns (a, b, n_common, n_a, n_b, jaccard).  With
    `capped_count_col` set, every row additionally carries the number
    of distinct shingles dropped by the `max_shingle_df` cap as a
    constant column — the "never silent" truncation audit, riding the
    result instead of a side channel (a literal 0 when no cap is set).
    """
    # the index fans out twice (the document-frequency aggregate + the
    # member probe of the shared key-pair kernel), each branch replaying
    # a cheap explode of the barriered per-doc arrays; n_a/n_b (the
    # Jaccard denominators) are read off the arrays, one row per doc
    arr = doc_shingle_arrays(df, k, id_col, text_col)
    member = arr.select(F.col(id_col), F.explode("shingles").alias("shingle"))
    sizes = key_sizes(member, ["shingle"])
    if capped_count_col is not None and max_shingle_df is not None:
        # two consumers (the pairing filter + the truncation counter):
        # bind the aggregate once instead of re-running the full
        # explode+groupBy per branch; unbarriered, the aggregate would
        # roughly DOUBLE the most expensive stage (ADVICE r3).
        sizes = materialize_barrier(sizes)
    shared, _ = key_pairs(
        member, ["shingle"], id_col, max_size=max_shingle_df,
        n_col="n_common", sizes=sizes,
    )
    n_shingles = arr.select(F.col(id_col), F.size("shingles").alias("n"))
    pairs = _jaccard(
        shared.join(n_shingles.toDF("a", "n_a"), "a")
        .join(n_shingles.toDF("b", "n_b"), "b")
    ).where(F.col("jaccard") >= threshold)
    if capped_count_col is not None:
        if max_shingle_df is None:
            n_capped = df.sparkSession.range(1).select(
                F.lit(0).cast("long").alias(capped_count_col)
            )
        else:
            # one scalar over the (already materialized) shingle sizes;
            # broadcast onto every pair row — a 1-row cross join
            n_capped = sizes.where(F.col("size") > max_shingle_df).agg(
                F.count(F.lit(1)).cast("long").alias(capped_count_col)
            )
        pairs = pairs.crossJoin(F.broadcast(n_capped))
    return pairs
