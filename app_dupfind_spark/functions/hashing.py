"""Signature math: MinHash + SimHash (vectorized pandas/Arrow UDFs) and
LSH band hashing (pure JVM expressions).

The JVM side produces the 64-bit shingle-hash universe once
(functions.text.window_hashes — built-in xxhash64 inside transform());
the Python side is numpy-only integer math over those arrays, crossing
the boundary in Arrow batches.  No strings ever cross into Python and
nothing is per-row Python.

Determinism: permutations are derived from a seeded numpy Generator at
UDF-definition time (config.seed), independent of partitioning, task
retries, and row order — a hard requirement for resumable checkpoints
and the recall-vs-oracle metric.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from app_dupfind_spark.config import MINHASH_PRIME, DedupConfig


def _minhash_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(a, b) permutation parameters: h_i(x) = (a_i * x + b_i) mod p,
    a in [1, p), b in [0, p).  int64 throughout: a,x < 2^31 => a*x < 2^62."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MINHASH_PRIME, size=num_perm, dtype=np.int64)
    b = rng.integers(0, MINHASH_PRIME, size=num_perm, dtype=np.int64)
    return a, b


# MinHash kernel working set: the flat shingle axis is walked in blocks
# of _SHINGLE_BLOCK, permutations in chunks of _PERM_CHUNK, through ONE
# reused (_PERM_CHUNK, _SHINGLE_BLOCK) int64 buffer (1 MB, L2-sized).
# Peak memory is the batch's flat hashes plus that buffer plus the
# signature rows — linear in the batch's shingle count with no num_perm
# factor, so it stays flat however many rows a task carries (5.3 MB for
# a 1024 x 400-shingle batch; the unblocked (16, total_shingles) kernel
# peaked at 157 MB).  Measured on 4 vCPUs: 2^13 is the fastest block of
# 2^11..2^15, and a 2^15 block (4 MB buffer) raised the pipeline's
# Python-worker PSS by ~24 MB at local[4].
_SHINGLE_BLOCK = 1 << 13
_PERM_CHUNK = 16


def minhash_batch(hashes: pd.Series, a: np.ndarray, b: np.ndarray) -> pd.Series:
    """MinHash signatures of one batch: row i -> array of
    min_x((a_j * x + b_j) mod p) over its shingle hashes x (taken mod p),
    or None for a NULL/empty row.

    All shingle hashes of the batch are flattened onto one axis (no
    per-row Python loop in the math).  Each block of that axis yields
    per-row partial minima via minimum.reduceat at the row starts that
    fall inside it (plus the block start, for a row continuing from the
    previous block); the partials are folded into the signature rows,
    so a row spanning blocks gets the same minimum as an unblocked
    pass — signatures are bit-identical to the direct formula."""
    n = len(hashes)
    lengths = np.fromiter(
        (0 if h is None else len(h) for h in hashes), dtype=np.int64, count=n
    )
    valid = lengths > 0
    if not valid.any():
        return pd.Series([None] * n)
    num_perm = a.size
    # fresh array from concatenate: reduce mod p in place (x in [0, p))
    x = np.concatenate(
        [np.asarray(h, dtype=np.int64) for h in hashes if h is not None and len(h)]
    )
    np.remainder(x, MINHASH_PRIME, out=x)
    starts = np.zeros(int(valid.sum()), dtype=np.int64)
    np.cumsum(lengths[valid][:-1], out=starts[1:])
    sig_valid = np.full((starts.size, num_perm), MINHASH_PRIME, dtype=np.int64)
    buf = np.empty((min(_PERM_CHUNK, num_perm), min(_SHINGLE_BLOCK, x.size)), np.int64)
    for s0 in range(0, x.size, _SHINGLE_BLOCK):
        xb = x[s0 : s0 + _SHINGLE_BLOCK]
        # rows r0..r1-1 overlap this block; r0 may have started earlier
        r0 = int(np.searchsorted(starts, s0, side="right")) - 1
        r1 = int(np.searchsorted(starts, s0 + xb.size, side="left"))
        seg = starts[r0:r1] - s0
        seg[0] = 0
        for c0 in range(0, num_perm, _PERM_CHUNK):
            c1 = min(c0 + _PERM_CHUNK, num_perm)
            hm = buf[: c1 - c0, : xb.size]
            # a*x + b < 2^62 + 2^31: safe in int64
            np.multiply(a[c0:c1, None], xb[None, :], out=hm)
            np.add(hm, b[c0:c1, None], out=hm)
            np.remainder(hm, MINHASH_PRIME, out=hm)
            part = sig_valid[r0:r1, c0:c1]
            np.minimum(part, np.minimum.reduceat(hm, seg, axis=1).T, out=part)
    out = np.empty(n, dtype=object)
    for j, i in enumerate(np.nonzero(valid)[0]):
        out[i] = sig_valid[j]
    return pd.Series(out)


def make_minhash_udf(cfg: DedupConfig):
    """pandas UDF: array<long> shingle hashes -> array<long> MinHash
    signature of length cfg.num_perm; NULL for rows with no shingles
    (short docs ride the exact-only path).  The math is minhash_batch."""
    a, b = _minhash_params(cfg.num_perm, cfg.seed)

    @F.pandas_udf(ArrayType(LongType()))
    def minhash_sig(hashes: pd.Series) -> pd.Series:
        return minhash_batch(hashes, a, b)

    return minhash_sig


def make_simhash_udf(cfg: DedupConfig):
    """pandas UDF: array<long> shingle hashes -> 64-bit SimHash.

    Classic Charikar sign-sum: bit j of the result is 1 iff the sum over
    features of (bit j present ? +1 : -1) is positive.  Vectorized as a
    (n_features, 64) bit matrix per row.
    """

    @F.pandas_udf(LongType())
    def simhash(hashes: pd.Series) -> pd.Series:
        n = len(hashes)
        lengths = np.fromiter(
            (0 if h is None else len(h) for h in hashes), dtype=np.int64, count=n
        )
        valid = lengths > 0
        if not valid.any():
            return pd.Series([None] * n, dtype="Int64")
        shifts = np.arange(64, dtype=np.uint64)
        flat = np.concatenate(
            [np.asarray(h, dtype=np.int64) for h in hashes if h is not None and len(h)]
        ).astype(np.uint64)
        # (total_shingles, 64) sign matrix, summed per row via reduceat
        bits = ((flat[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
        signs = 2 * bits - 1
        starts = np.zeros(int(valid.sum()), dtype=np.int64)
        np.cumsum(lengths[valid][:-1], out=starts[1:])
        counts = np.add.reduceat(signs, starts, axis=0)  # (n_valid, 64)
        # pack: set bits are disjoint powers of two — exact uint64 sum
        powers = (np.uint64(1) << shifts)
        words = ((counts > 0).astype(np.uint64) * powers[None, :]).sum(
            axis=1, dtype=np.uint64
        )
        out = np.empty(n, dtype=object)
        out[valid] = list(words.astype(np.int64))
        out[~valid] = None
        return pd.Series(out, dtype="Int64")

    return simhash


def band_hashes(sig: Column, bands: int, rows: int) -> Column:
    """LSH band hashes, pure JVM: hash each r-slice of the signature
    together with its band index (so identical slices in different bands
    never collide).  xxhash64 accepts array columns natively."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda i: F.xxhash64(F.slice(sig, i * rows + 1, rows), i),
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures: bit_count(a^b),
    JVM built-in (Spark 3.5+)."""
    return F.bit_count(a.bitwiseXOR(b))
