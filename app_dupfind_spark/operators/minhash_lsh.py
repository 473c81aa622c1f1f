"""MinHash signatures + LSH banding -> candidate pairs.

The web-scale generalization of the reference's weed stage: a cheap,
recall-preserving prefilter that shrinks the candidate space before the
expensive verifier — same "cheap filters first, drop non-candidates
early" shape as /root/reference/lib/App/dupfind/Guts.pm:100-164, at
10^12-doc scale.

Plan shape:
  pages -> [JVM] normalize/shingle/xxhash64       (one codegen pass)
        -> [Arrow] minhash pandas UDF             (numpy batch math)
        -> [JVM] band hashes (xxhash64 on slices) (one codegen pass)
        -> posexplode -> (band, band_hash) buckets
        -> bucket sizing (groupBy count + join back, cap filter)
        -> per-bucket sorted member arrays -> nested explode (i < j)
        -> groupBy (a, b) -> (a, b, n_bands) candidate pairs

Skew handling:
- Bucket sizes are measured first (one cheap aggregation).  Buckets
  larger than cfg.lsh_bucket_cap are dropped from pair generation and
  returned as the skew report (the pipeline drops it: ROADMAP
  direction 2) — at web scale a mega-bucket is boilerplate/stop-shingle
  mass, and m^2 pair explosion from one key is precisely the straggler
  the reference's one-group-per-work-item queue suffered from
  (MapReduce.pm:122-125).
- Under the cap, per-bucket pair emission is bounded by cap(cap-1)/2 —
  the cap IS the skew bound.
- The sizing join shuffles on (band, band_hash); AQE skew-join
  splitting handles residual imbalance.  The pipeline's signature
  checkpoint is hash-partitioned on the doc key, not range-partitioned
  on the band key: a range exchange samples its child, which re-ran the
  MinHash UDF (operators.dedup_pipeline, the sigs stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from app_dupfind_spark.config import DedupConfig
from app_dupfind_spark.functions.hashing import (
    band_hashes,
    make_minhash_udf,
    make_simhash_udf,
)
from app_dupfind_spark.functions.text import token_hashes, window_hashes
from app_dupfind_spark.plans.barriers import materialize_barrier
from app_dupfind_spark.plans.partitioning import ensure_min_partitions


def signatures(
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_simhash: bool = True,
) -> DataFrame:
    """(id, n_shingles, minhash:array<long>, simhash:long).

    Docs with < k tokens get NULL signatures — they cannot be shingled
    and ride the exact-only path (the reference's zero-size bypass
    precedent, Common.pm:100,107).
    """
    # Parallelism guard: the Arrow/pandas stage must not run on one
    # core when a checkpoint read-back arrives narrow, and fans out to
    # the cores, not to shuffle_partitions (see plans.partitioning).
    df = ensure_min_partitions(
        df, df.sparkSession.sparkContext.defaultParallelism, id_col
    )
    minhash_udf = make_minhash_udf(cfg)
    # two-step projection: token hashes bound as a real column FIRST,
    # windows second (see window_hashes PERF CONTRACT)
    hashed = df.select(
        F.col(id_col), token_hashes(F.col(text_col)).alias("__th")
    ).select(
        id_col,
        window_hashes(F.col("__th"), cfg.shingle_k).alias("sh_hashes"),
    )
    out = hashed.select(
        id_col,
        F.size("sh_hashes").alias("n_shingles"),
        minhash_udf("sh_hashes").alias("minhash"),
        *( [make_simhash_udf(cfg)("sh_hashes").alias("simhash")] if with_simhash else [] ),
    )
    return out


def band_buckets(sigs: DataFrame, cfg: DedupConfig, id_col: str = "doc_id") -> DataFrame:
    """Explode signatures into (id, band, band_hash) bucket membership."""
    banded = sigs.where(F.col("minhash").isNotNull()).select(
        id_col,
        F.posexplode(band_hashes(F.col("minhash"), cfg.lsh_bands, cfg.lsh_rows)).alias(
            "band", "band_hash"
        ),
    )
    return banded


def candidate_pairs(
    sigs: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    materialize: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """LSH candidate pairs (a, b, n_bands) with a < b, plus the skew
    report (band, band_hash, bucket_size) of truncated buckets.

    The materialized path builds its own band-hash-array barrier (which
    reads `sigs` exactly once); materialize=False skips barriers
    entirely.

    J1 in SURVEY §2.5: same-key self-pairing, the grouping-as-join
    pattern the reference uses everywhere (A1–A3).

    Plan shape: bucket sizes come from a partial-aggregated
    groupBy-count + join back on (band, band_hash), never a count
    WINDOW (r5, closing the last mega-group-keyed window on a default
    path): a boilerplate mega-bucket — 10^8 docs sharing every band
    hash at web scale — would route through ONE window partition of
    one task just to learn the size that disqualifies it, while the
    aggregate gets map-side combine and the equi-join is
    AQE-skew-splittable.  Both the aggregate and the probe side read
    the (materialized) signature table, so the Arrow/pandas UDF still
    evaluates once.

    Pair generation: the bucket membership (n_docs*bands rows, the
    pipeline's bulkiest intermediate) stops moving after the sizing
    join.  Each surviving bucket's sorted member array is collected on
    the join's (band, band_hash) partitioning (no exchange), i<j pairs
    stream out of one nested JVM explode, and n_bands is one groupBy
    count, since (a, b) is unique per band.  3 exchanges end-to-end.
    The semi-join drops above-cap buckets BEFORE any array aggregates,
    so per-bucket work is bounded by cap(cap-1)/2 emissions (~2M rows
    at the default cap); a shuffle partition that hashes several
    near-cap buckets together multiplies that bound in one task (the
    explode is not a join, so AQE cannot split it).
    """
    if materialize:
        # bind the band-hash pass behind a barrier: the bucket
        # pipeline reads its input twice (sizing aggregate + member
        # probe) and measured a 30x re-evaluation penalty when fed the
        # raw UDF plan.  The barrier stores the BAND-HASH ARRAYS, not
        # the raw MinHash (r6): band_hashes computes ONCE before the
        # barrier instead of once per read side, and the stored row is
        # 32 longs instead of 128 (a localCheckpoint materializes
        # every input column — column pruning does not reach through
        # it — guide §4.1: keep only what the consumer needs).
        # Measured 2.7-3.2 s -> 2.3 s for the standalone pair query at
        # 50k; with sigs already checkpointed (the pipeline's cands
        # stage) the extra barrier job still nets ~10% because sigs is
        # then read once, not twice.
        # NULL-signature rows keep a NULL band array through the
        # barrier; the isNotNull filter runs AFTER it — a filter on
        # the raw plan would be pushed below ensure_min_partitions'
        # repartition with the UDF inlined and evaluate the whole
        # Arrow stage serially on the narrow scan layout (the
        # q_minhash_signatures pushdown hazard).  The when() is needed:
        # band_hashes(NULL) is a non-NULL array that would bucket every
        # shingle-less doc together in all bands.
        banded_arr = materialize_barrier(
            sigs.select(
                id_col,
                F.when(
                    F.col("minhash").isNotNull(),
                    band_hashes(F.col("minhash"), cfg.lsh_bands, cfg.lsh_rows),
                ).alias("__bands"),
            ),
            cfg,
        )
        buckets = banded_arr.where(F.col("__bands").isNotNull()).select(
            id_col, F.posexplode("__bands").alias("band", "band_hash")
        )
    else:
        buckets = band_buckets(sigs, cfg, id_col)

    sizes = buckets.groupBy("band", "band_hash").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    member = buckets.join(
        sizes.where(
            (F.col("bucket_size") >= 2)
            & (F.col("bucket_size") <= cfg.lsh_bucket_cap)
        ),
        ["band", "band_hash"],
    ).select("band", "band_hash", id_col)
    skew_report = sizes.where(F.col("bucket_size") > cfg.lsh_bucket_cap)
    return _pairs_from_bucket_arrays(member, id_col), skew_report


def _pairs_from_bucket_arrays(member: DataFrame, id_col: str) -> DataFrame:
    """Emit i<j pairs from each capped bucket's sorted member array.

    groupBy(band, band_hash) runs on the sizing join's output
    partitioning — no exchange — and sort_array makes a < b free (the
    inner explode slices strictly after the outer element).  The
    nested Generate streams: no m^2 pair array is ever materialized
    per row, only the m-element member array (<= cap * 8 bytes).
    """
    arrays = member.groupBy("band", "band_hash").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("members")
    )
    return (
        arrays.select(
            "band",
            F.col("members"),
            F.posexplode("members").alias("i", "a"),
        )
        .select(
            "a",
            # slice is 1-based: elements strictly after 0-based index i
            # start at position i+2; over-long length clamps to the end
            F.explode(
                F.slice("members", F.col("i") + F.lit(2), F.size("members"))
            ).alias("b"),
        )
        # guard against duplicate ids in one bucket (ADVICE r5): if the
        # input ever carried two rows with the same id, sort_array +
        # slice would emit (x, x) self-pairs — a codegen predicate, no
        # extra exchange
        .where(F.col("a") != F.col("b"))
        # one bucket per doc per band -> (a, b) unique per band -> the
        # per-pair row count IS the co-bucketed band count
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )

