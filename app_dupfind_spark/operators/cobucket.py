"""Key-sharing pairs: group by a key, drop groups with one member, pair
what is left — the one move every near-dup stage makes (the
reference's Common.pm:38-68 grouping and Guts.pm:100-164 cascade).

`key_pairs` is the single copy behind four sites:
- the MinHash LSH bucket pairs (`minhash_lsh.bucket_pairs`, key
  (band, band_hash));
- the span candidate index (`spans.span_candidates`, key sh);
- the exact-Jaccard inverted index (`jaccard.jaccard_pairs`, key
  shingle);
- the embedding hyperplane-LSH buckets (`ann.banded_lsh_neighbors`,
  key (band, probe, code)).

Plan shape (3 exchanges end to end):
  member -> count per key (map-side combined)      = sizes
         -> join keys with 2 <= size <= max_size   (shuffles on the key)
         -> sort_array(collect_list(id)) per key   (on the join's
                                                   partitioning, no exchange)
         -> posexplode x explode(slice)            (i < j, one nested
                                                   JVM Generate)
         -> a != b guard -> groupBy(a, b) count    = pairs (a, b, n)

Skew: sizes come from a partial-aggregated groupBy-count, never a count
window — a 10^8-member boilerplate key would otherwise route through
one window partition just to learn the size that disqualifies it.  The
size join drops keys above `max_size` BEFORE any array is collected, so
one key emits at most max_size(max_size-1)/2 rows and buffers at most
max_size ids; a shuffle partition that hashes several near-cap keys
together multiplies that bound in one task (the explode is not a join,
so AQE cannot split it).  The emission count is exact from `sizes`
alone: each key is one self-join with size(size-1)/2 output rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def key_sizes(member: DataFrame, keys: Sequence[str]) -> DataFrame:
    """(keys..., size): members per key, map-side combined."""
    return member.groupBy(*keys).agg(F.count(F.lit(1)).alias("size"))


def key_pairs(
    member: DataFrame,
    keys: Sequence[str],
    id_col: str,
    max_size: int | None = None,
    n_col: str = "n",
    sizes: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Pairs of ids sharing a key, and the size of every key.

    `member` holds one row per (key, id) membership.  Returns
    `(pairs, sizes)`: pairs is (a, b, n_col) with a < b, where n_col
    counts the kept keys a and b share; sizes is (keys..., size) over
    ALL keys, including those of size 1 and those above `max_size`
    (None = no upper bound), so a caller reads its truncation report
    off it.  Pass `sizes` to reuse a `key_sizes(member, keys)` the
    caller has already bound (e.g. behind a barrier for a second
    consumer) instead of aggregating again.
    """
    keys = list(keys)
    if sizes is None:
        sizes = key_sizes(member, keys)
    kept = sizes.where(F.col("size") >= 2)
    if max_size is not None:
        kept = kept.where(F.col("size") <= max_size)
    arrays = (
        member.join(kept.select(*keys), keys)
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("__ms"))
    )
    pairs = (
        arrays.select("__ms", F.posexplode("__ms").alias("__i", "a"))
        .select(
            "a",
            # slice is 1-based: elements strictly after 0-based index i
            # start at position i+2; over-long length clamps to the end
            F.explode(
                F.slice("__ms", F.col("__i") + F.lit(2), F.size("__ms"))
            ).alias("b"),
        )
        # a duplicated (key, id) row would sort next to itself and pair
        # with itself — a codegen predicate, no extra exchange
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias(n_col))
    )
    return pairs, sizes
