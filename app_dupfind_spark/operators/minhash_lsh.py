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

Skew handling (north_rule: "salts skewed LSH buckets"):
- Bucket sizes are measured first (one cheap aggregation).  Buckets
  larger than cfg.lsh_bucket_cap are dropped from pair generation and
  REPORTED (returned as a DataFrame + counted) — at web scale a
  mega-bucket is boilerplate/stop-shingle mass, and m^2 pair explosion
  from one key is precisely the straggler the reference's
  one-group-per-work-item queue suffered from (MapReduce.pm:122-125).
- Under the cap, per-task pair emission is bounded by cap(cap-1)/2 —
  the cap IS the skew bound on the default 'arrays' strategy.  The
  adaptive triangle-block SALTED self-join remains selectable
  (cfg.lsh_pair_strategy='salted_join') for deployments that raise the
  cap to where one bucket's quadratic emission would straggle; it
  spreads a bucket over G(G+1)/2 tasks at the price of 3 extra
  exchanges of the full membership.
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

    Pair generation then follows cfg.lsh_pair_strategy:

    - 'arrays' (default): the n_docs*bands bucket membership — the
      pipeline's bulkiest intermediate — stops moving after the sizing
      join.  Each surviving bucket's sorted member array is collected
      ON THE JOIN'S (band, band_hash) PARTITIONING (no exchange) and
      i<j pairs stream out of one nested JVM explode; (a, b) is unique
      per band by construction (one bucket per doc per band), so
      n_bands is a single groupBy count.  3 exchanges end-to-end, no
      mid-stage barrier.  Safe against mega-buckets: the semi-join
      drops above-cap buckets BEFORE any array aggregates, so no
      unbounded collect_list buffer can build, and PER-BUCKET quadratic
      work is bounded by cap(cap-1)/2 emissions (~2M rows at the
      default cap).  A shuffle partition that hashes several near-cap
      buckets together multiplies that bound in one task (the explode
      stage is not a join, so AQE cannot split it); the salted_join
      escape hatch covers that pathological regime (ADVICE r5).
    - 'salted_join': the adaptive triangle-block salted self-join
      (below), which spreads even one bucket's pair enumeration over
      G(G+1)/2 tasks — the shape to pick if the cap is raised to where
      cap^2/2 emissions in one task would straggle.  Costs 3 more
      exchanges of the full membership plus a fan-out barrier.

    Both strategies emit identical (a, b, n_bands) rows
    (tests/test_minhash_lsh.py parity test); the default won every
    drift-paired round at the 756k-page point (median per-round ratio
    0.70, PAIRED_lsh_strategy.json) on top of the plan-shape argument.
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
        # q_minhash_signatures pushdown hazard).
        banded_arr = materialize_barrier(
            sigs.select(
                id_col,
                band_hashes(
                    F.col("minhash"), cfg.lsh_bands, cfg.lsh_rows
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
    ).select("band", "band_hash", id_col, "bucket_size")
    skew_report = sizes.where(F.col("bucket_size") > cfg.lsh_bucket_cap)

    if cfg.lsh_pair_strategy == "arrays":
        pairs = _pairs_from_bucket_arrays(member, id_col)
        return pairs, skew_report

    if materialize:
        # the self-join fans the DAG out again; bind the sized
        # membership behind a barrier (the pipeline runner's parquet
        # checkpoints play this role across stages; this covers
        # standalone use)
        member = materialize_barrier(member, cfg)
    pairs = _pairs_from_salted_join(member, cfg, id_col)
    return pairs, skew_report


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
        # slice would emit (x, x) self-pairs that 'salted_join' filters
        # — a codegen predicate, no extra exchange, parity preserved
        .where(F.col("a") != F.col("b"))
        # one bucket per doc per band -> (a, b) unique per band -> the
        # per-pair row count IS the co-bucketed band count
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def _pairs_from_salted_join(
    member: DataFrame, cfg: DedupConfig, id_col: str
) -> DataFrame:
    """SALTED bucket self-join (north_rule), ADAPTIVE: each member gets
    a salt g = xxhash64(id) mod G_b where G_b grows with ITS bucket's
    size (1 for ordinary buckets — zero replication overhead — up to
    cfg.salt_buckets for buckets near the cap).  The left side is
    replicated to every block g' >= g and the join key includes the
    block, so one big bucket's quadratic pair enumeration spreads
    over G_b(G_b+1)/2 independent tasks instead of one straggler
    (the reference's one-group-per-work-item pitfall,
    MapReduce.pm:122-125).  Typical dup buckets (2-5 docs) pay
    nothing; only genuinely hot buckets fan out.
    """
    Gmax = max(1, cfg.salt_buckets)
    g_b = F.least(
        F.greatest((F.col("bucket_size") / 256).cast("int"), F.lit(1)),
        F.lit(Gmax),
    )
    salted = member.withColumn("G", g_b).withColumn(
        "g", F.pmod(F.xxhash64(F.col(id_col)), F.col("G")).cast("int")
    )
    a = salted.select(
        "band",
        "band_hash",
        F.col(id_col).alias("a"),
        F.explode(F.sequence(F.col("g"), F.col("G") - 1)).alias("blk"),
    )
    b = salted.select(
        "band", "band_hash", F.col(id_col).alias("b"), F.col("g").alias("blk")
    )
    # normalize to unordered (least, greatest) — the pair surfaces from
    # whichever side's salt is smaller, in either id order — and dedup
    # per band (same-salt pairs appear twice per band)
    pairs = (
        a.join(b, ["band", "band_hash", "blk"])
        .where(F.col("a") != F.col("b"))
        .select(
            "band",
            F.least("a", "b").alias("a"),
            F.greatest("a", "b").alias("b"),
        )
        .dropDuplicates(["a", "b", "band"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )
    return pairs
