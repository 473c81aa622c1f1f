"""MinHash kernel: parity with the direct formula and a bounded working
set.  Pure numpy — no Spark session."""

from __future__ import annotations

import tracemalloc

import numpy as np
import pandas as pd

from app_dupfind_spark.config import MINHASH_PRIME, DedupConfig
from app_dupfind_spark.functions.hashing import (
    _SHINGLE_BLOCK,
    _minhash_params,
    minhash_batch,
)

CFG = DedupConfig()


def _random_hashes(rng, n: int) -> np.ndarray:
    # the full signed 64-bit range xxhash64 produces
    return rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)


def _reference(h, a, b):
    """min((a*x + b) % p) per permutation, one row at a time."""
    if h is None or len(h) == 0:
        return None
    x = np.asarray(h, dtype=np.int64) % MINHASH_PRIME
    return ((a[:, None] * x[None, :] + b[:, None]) % MINHASH_PRIME).min(axis=1)


def _batches():
    for seed in (1, 2, 3):
        rng = np.random.default_rng(seed)
        rows = [_random_hashes(rng, int(k)) for k in rng.integers(1, 400, size=60)]
        rows[3] = None
        rows[7] = np.array([], dtype=np.int64)
        # rows longer than a block, and rows straddling block boundaries
        rows[10] = _random_hashes(rng, 2 * _SHINGLE_BLOCK + 17)
        rows[11] = _random_hashes(rng, _SHINGLE_BLOCK - 5)
        rows[-1] = None
        yield rows
    yield [None, np.array([], dtype=np.int64)]  # no valid row at all


def test_minhash_batch_matches_reference_bit_for_bit():
    a, b = _minhash_params(CFG.num_perm, CFG.seed)
    for rows in _batches():
        got = minhash_batch(pd.Series(rows, dtype=object), a, b)
        assert len(got) == len(rows)
        for h, sig in zip(rows, got):
            want = _reference(h, a, b)
            if want is None:
                assert sig is None
            else:
                assert sig.dtype == np.int64
                assert np.array_equal(sig, want)


def test_minhash_batch_memory_bounded_by_shingle_blocks():
    """One Arrow batch of 1024 rows x 400 shingles: the working set is
    the flat hashes plus one block buffer, not (perms, shingles)
    matrices (the unblocked kernel peaked at ~157 MB here)."""
    a, b = _minhash_params(CFG.num_perm, CFG.seed)
    rng = np.random.default_rng(7)
    batch = pd.Series([_random_hashes(rng, 400) for _ in range(1024)], dtype=object)
    tracemalloc.start()
    try:
        minhash_batch(batch, a, b)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 16 * 2**20, f"peak {peak / 2**20:.1f} MB"
