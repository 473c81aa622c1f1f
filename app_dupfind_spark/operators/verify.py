"""Candidate-pair verification — the graft's analog of the reference's
"verify by full digest" final stage
(/root/reference/lib/App/dupfind/Common.pm:154-187): the expensive
check runs last, on the fewest rows.

Verifiers, cheapest-first (the cascade discipline again):

1. `minhash_estimate` — estimated Jaccard = matching fraction of the
   two MinHash signatures.  Pure JVM (zip_with + filter + size) on
   columns already in hand; unbiased estimator with σ ≈ 0.044 at
   num_perm=128 (Broder's operating point).
2. `simhash` — bit_count(xor) Hamming gate, for the near-identical
   regime (hamming <= 3 of 64 ≈ cosine > 0.995).  Catches template
   pages whose shingle sets differ more than their weighted bits.
3. exact Jaccard (operators.jaccard) — gold verifier and the
   pipeline's only gate: it replaces 1 and 2 for EVERY candidate pair,
   re-touching text once per candidate doc (one row per pair over the
   docs' shingle arrays).  1 and 2 (`verify_pairs`) stay as the batch
   truth the streaming matcher mirrors (scripts/stream_replay_check.py).

J2 in SURVEY §2.5: two hash joins attach each side's signature to the
pair, then the verdict is pure JVM column math — no Python, no text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from app_dupfind_spark.config import DedupConfig
from app_dupfind_spark.functions.hashing import hamming64
from app_dupfind_spark.plans.barriers import bind_columns


def attach_signatures(
    pairs: DataFrame, sigs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Join minhash+simhash of both members onto each candidate pair."""
    sa = sigs.select(
        F.col(id_col).alias("a"),
        F.col("minhash").alias("minhash_a"),
        F.col("simhash").alias("simhash_a"),
    )
    sb = sigs.select(
        F.col(id_col).alias("b"),
        F.col("minhash").alias("minhash_b"),
        F.col("simhash").alias("simhash_b"),
    )
    return pairs.join(sa, "a").join(sb, "b")


def minhash_est_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """Fraction of agreeing MinHash components — unbiased Jaccard
    estimate, computed JVM-side over the signature arrays."""
    matches = F.size(
        F.filter(
            F.zip_with(sig_a, sig_b, lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    return F.round(matches / F.size(sig_a).cast("double"), 6)


def verify_pairs(pairs_with_sigs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(a, b, est_jaccard, hamming, method) for pairs passing either
    gate.  method = 'minhash' | 'simhash' (minhash wins when both).

    Null-safe (P4 posture): rows lacking a signature cannot be verified
    here and are dropped — such docs are exact-path-only by
    construction (they had no shingles to bucket on).
    """
    # bound, not aliased: the method gate references est_jaccard, and
    # a gate over an alias would evaluate the 128-wide estimate again
    # in the Filter (plans/barriers.py: bind_columns)
    scored = bind_columns(
        pairs_with_sigs.where(
            F.col("minhash_a").isNotNull() & F.col("minhash_b").isNotNull()
        ),
        ["a", "b"],
        est_jaccard=minhash_est_jaccard(F.col("minhash_a"), F.col("minhash_b")),
        hamming=hamming64(F.col("simhash_a"), F.col("simhash_b")),
    )
    out = (
        scored.withColumn(
            "method",
            F.when(F.col("est_jaccard") >= cfg.jaccard_threshold, F.lit("minhash"))
            .when(F.col("hamming") <= cfg.simhash_max_hamming, F.lit("simhash")),
        )
        .where(F.col("method").isNotNull())
    )
    return out.select("a", "b", "est_jaccard", "hamming", "method")
