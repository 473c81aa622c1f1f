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
        -> barrier: (id, bands), 32 longs per doc (lsh_bands; the
           pipeline's sigs stage checkpoint)
        -> posexplode -> (band, band_hash) buckets
        -> operators.cobucket.key_pairs           (bucket sizes, cap,
                                                   sorted member arrays,
                                                   nested i<j explode)
        -> (a, b, n_bands) candidate pairs

Skew handling:
- Bucket sizes are measured first (one cheap aggregation).  Buckets
  larger than cfg.lsh_bucket_cap are dropped from pair generation,
  returned as the skew report and counted (`counters=`: the pipeline's
  cands stage reports them as lsh_truncated_buckets/_members) — at web
  scale a mega-bucket is boilerplate/stop-shingle mass, and m^2 pair
  explosion from one key is precisely the straggler the reference's
  one-group-per-work-item queue suffered from (MapReduce.pm:122-125).
- Under the cap, per-bucket pair emission is bounded by cap(cap-1)/2 —
  the cap IS the skew bound.
- The sizing join shuffles on (band, band_hash); AQE skew-join
  splitting handles residual imbalance.  The pipeline checkpoints the
  band arrays themselves (`lsh_bands`, the sigs stage) and pairs them
  straight off that read-back (`bucket_pairs`): the checkpoint is the
  one barrier between the MinHash UDF and the bucket pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from app_dupfind_spark.config import DedupConfig
from app_dupfind_spark.functions.hashing import (
    band_hashes,
    make_minhash_udf,
    make_simhash_udf,
)
from app_dupfind_spark.functions.text import token_hashes, window_hashes
from app_dupfind_spark.operators.cobucket import key_pairs
from app_dupfind_spark.plans.barriers import materialize_barrier
from app_dupfind_spark.plans.partitioning import ensure_min_partitions


def signatures(
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_shingles, minhash:array<long>, simhash:long).

    Docs with < k tokens get NULL signatures — they cannot be shingled
    and ride the exact-only path (the reference's zero-size bypass
    precedent, Common.pm:100,107).
    """
    # Parallelism guard: the Arrow/pandas stage must not run on one
    # core when a checkpoint read-back arrives narrow, and fans out to
    # the cores (see plans.partitioning).
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
        make_simhash_udf(cfg)("sh_hashes").alias("simhash"),
    )
    return out


def lsh_bands(
    sigs: DataFrame, cfg: DedupConfig, id_col: str = "doc_id"
) -> DataFrame:
    """(id, bands): the cfg.lsh_bands band hashes of each MinHash
    signature, NULL for a doc without one.

    The when() is needed: band_hashes(NULL) is a non-NULL array that
    would bucket every shingle-less doc together in all bands.  32
    longs per doc instead of the 128-long signature: this is all the
    bucket pipeline reads, so it is what a barrier or checkpoint should
    store (a localCheckpoint materializes every input column — column
    pruning does not reach through it)."""
    return sigs.select(
        id_col,
        F.when(
            F.col("minhash").isNotNull(),
            band_hashes(F.col("minhash"), cfg.lsh_bands, cfg.lsh_rows),
        ).alias("bands"),
    )


def bucket_pairs(
    bands: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    counters: Observation | None = None,
) -> tuple[DataFrame, DataFrame]:
    """LSH candidate pairs (a, b, n_bands) with a < b, plus the skew
    report (band, band_hash, bucket_size) of truncated buckets, from
    `lsh_bands` output.

    `counters`, when given, is an Observation that receives
    `lsh_truncated_buckets` (buckets above cfg.lsh_bucket_cap) and
    `lsh_truncated_members` (their summed sizes), observed on the
    bucket sizes the pair pipeline computes anyway: the pairs' own
    action fills it, with no extra job.

    `bands` must already be bound (a barrier or a stage checkpoint
    read-back): the bucket pipeline reads it twice (sizing aggregate +
    member probe), and fed the raw MinHash UDF plan it re-evaluated the
    UDF per read (measured 30x).  No barrier is taken here.

    J1 in SURVEY §2.5: same-key self-pairing, the grouping-as-join
    pattern the reference uses everywhere (A1–A3).  Buckets are the
    keys of `operators.cobucket.key_pairs` (sizes by map-side-combined
    count, capped sorted member arrays, nested i<j explode); the skew
    report is its `sizes` frame above the cap.
    """
    # NULL-signature rows keep a NULL band array through the barrier;
    # the isNotNull filter runs AFTER it — a filter on the raw plan
    # would be pushed below ensure_min_partitions' repartition with the
    # UDF inlined and evaluate the whole Arrow stage serially on the
    # narrow scan layout (the q_minhash_signatures pushdown hazard).
    buckets = bands.where(F.col("bands").isNotNull()).select(
        id_col, F.posexplode("bands").alias("band", "band_hash")
    )
    # one bucket per doc per band -> (a, b) unique per band -> the
    # per-pair count IS the co-bucketed band count
    pairs, sizes = key_pairs(
        buckets, ["band", "band_hash"], id_col,
        max_size=cfg.lsh_bucket_cap, n_col="n_bands",
    )
    if counters is not None:
        over = F.col("size") > cfg.lsh_bucket_cap
        observed = sizes.observe(
            counters,
            F.count_if(over).alias("lsh_truncated_buckets"),
            F.coalesce(F.sum(F.when(over, F.col("size"))), F.lit(0)).alias(
                "lsh_truncated_members"
            ),
        )
        # The counters ride the pairs' own action on a branch that is
        # empty but not provably so (the sizes shuffle is reused).
        # Observed below the pair aggregate they would be lost exactly
        # when every bucket is truncated: AQE replaces a subtree whose
        # shuffle stage came out empty, observations included.
        pairs = pairs.unionByName(
            observed.where(F.col("size") < 0).select(
                *[F.lit(None).cast(f.dataType).alias(f.name) for f in pairs.schema]
            )
        )
    skew_report = sizes.where(
        F.col("size") > cfg.lsh_bucket_cap
    ).withColumnRenamed("size", "bucket_size")
    return pairs, skew_report


def candidate_pairs(
    sigs: DataFrame, cfg: DedupConfig, id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """`bucket_pairs` over raw signatures: the band-hash arrays are
    bound behind one barrier (which reads `sigs` exactly once), so
    band_hashes and the MinHash UDF evaluate once for both reads of
    the bucket pipeline."""
    return bucket_pairs(
        materialize_barrier(lsh_bands(sigs, cfg, id_col)), cfg, id_col
    )
