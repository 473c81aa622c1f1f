"""Long-shared-span detection (suffix-array substring stage, M5).

For candidate pairs that failed whole-doc similarity but may share a
long verbatim span (quotes, syndicated passages), compute the longest
common substring and keep pairs with LCS >= min_span_chars.

Execution shape: the pair list (small — post-LSH survivors only) joins
each side's text, then a `mapInPandas` computes LCS per Arrow batch.
The per-pair check is inherently algorithmic (not expressible as a
column expression); the kernel is numpy over double rolling hashes.
The gate hashes both sides' min_span_chars windows; the longest run of
consecutive windows matched on each side bounds the LCS, the bound is
probed first, and only if it fails is the length binary-searched below
it.  A pair sharing one span costs the gate plus one substring search,
O(n log n) for the sort inside the gate; the worst case adds a log n
factor of hash probes — ~100x faster than a quadratic DP and exact up
to ~2^-60 hash-collision odds.

Scale: this stage NEVER sees the corpus — only verified-candidate
pairs, the reference's "expensive verify last, on the fewest rows"
posture (Common.pm:112-204).  Texts are capped at `max_chars` before
the LCS kernel.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StructField,
    StructType,
)

from app_dupfind_spark.config import DedupConfig
from app_dupfind_spark.functions.text import token_hashes, window_hashes
from app_dupfind_spark.operators.cobucket import key_pairs
from app_dupfind_spark.plans.barriers import materialize_barrier
from app_dupfind_spark.plans.partitioning import ensure_min_partitions


def span_candidates(
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int = 100,
) -> DataFrame:
    """Candidate pairs for the span stage: docs sharing at least one
    LONG word shingle (span_shingle_words-gram).

    Recall contract (calibrated, not absolute): a shared verbatim span
    of >= min_span_chars contains a full window of span_shingle_words
    words PROVIDED the span covers that many whole words — i.e.
    min_span_chars >= span_shingle_words * (max_word_len + 1).  For web
    text (mean word ~5-6 chars) the default (200 chars / 20 words)
    holds for words up to 9 chars; spans made of longer words, or spans
    beyond cfg.span_max_chars (both sides index and LCS over the SAME
    truncated prefix), can be missed.  With span_sample_mod = s > 1
    only shingles with xxhash64 % s == 0 enter the index —
    winnowing-style thinning whose miss probability decays
    geometrically in span length (scale path; every config is pinned).

    Boilerplate guard: shingles present in > max_shingle_df docs are
    dropped (a 20-word run shared by hundreds of docs is template text).
    """
    # windows hashed over the token-hash array via scalar element_at
    # reads (see functions.text.window_hashes PERF CONTRACT) — never
    # materializing window strings or per-window arrays
    w = cfg.span_shingle_words
    # parallelism guard (small inputs arrive single-partition and the
    # interpreted window work would serialize)
    df = ensure_min_partitions(
        df, df.sparkSession.sparkContext.defaultParallelism, id_col
    )
    # index over the SAME truncated prefix the LCS kernel sees
    capped = F.substring(F.col(text_col), 1, cfg.span_max_chars)
    wh = window_hashes(F.col("__th"), w)
    if cfg.span_sample_mod > 1:
        # winnowing sample INSIDE the array (one JVM filter over the
        # bound hashes) so the barrier below stores only kept windows
        wh = F.filter(
            wh, lambda h: F.pmod(h, F.lit(cfg.span_sample_mod)) == 0
        )
    # (window_hashes is array_distinct per doc — hashes arrive unique,
    # no extra distinct shuffle needed.)  The index fans out twice
    # (dfreq + the member probe): bind the PER-DOC ARRAYS behind the
    # barrier (r6, same shape as doc_shingle_arrays/minhash_lsh) — one row
    # per doc instead of one per window, the interpreted window pass
    # runs once, and consumers replay a cheap explode.  The explode
    # must sit AFTER the barrier: unbarriered, the inferred
    # size(..)>0 filter would push the HOF below the repartition and
    # serialize it (the q_minhash_signatures hazard).
    arr = materialize_barrier(
        df.select(
            F.col(id_col).alias("id"), token_hashes(capped).alias("__th")
        ).select("id", wh.alias("__wh"))
    )
    sh = arr.select("id", F.explode("__wh").alias("sh"))
    # the shared key-pair kernel (operators.cobucket): the collect_list
    # buffer is bounded by max_shingle_df (the size join runs BEFORE
    # any array aggregates), the same skew contract as the LSH buckets
    pairs, _ = key_pairs(sh, ["sh"], "id", max_size=max_shingle_df)
    return pairs.select("a", "b")


# double polynomial rolling hash: collisions ~2^-60 per comparison, so
# the reported length equals the true LCS length for all practical
# purposes (and is never under-reported below min_len)
_P1, _B1 = (1 << 31) - 1, 131
_P2, _B2 = 1073741789, 137

# power / inverse-power tables per (B, P), grown on demand and cached
# per python worker — makes every window-hash evaluation a pure O(n)
# numpy expression with no python-level loop
_TABLES: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}


def _tables(B: int, P: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    pw, inv = _TABLES.get((B, P), (None, None))
    if pw is None or pw.size < n:
        size = max(n, 1 << 12)
        pw = np.empty(size, dtype=np.int64)
        iv = np.empty(size, dtype=np.int64)
        binv = pow(B, P - 2, P)
        v = w = 1
        for i in range(size):
            pw[i], iv[i] = v, w
            v = (v * B) % P
            w = (w * binv) % P
        _TABLES[(B, P)] = (pw, iv)
        return pw, iv
    return pw, inv


def _codes(s: str) -> np.ndarray:
    return np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)


def _prefix(c: np.ndarray, B: int, P: int) -> np.ndarray:
    """S[i] = sum_{j<i} c[j]*B^j — EXACT int64 (terms < 2^31, so up to
    ~2^31 chars stay within int64); window hash derives from S by
    subtraction + one modular multiply."""
    pw, _ = _tables(B, P, c.size + 1)
    a = (pw[: c.size] * (c % P)) % P
    s = np.empty(c.size + 1, dtype=np.int64)
    s[0] = 0
    np.cumsum(a, out=s[1:])
    return s


def _window_keys_from_prefix(
    s1: np.ndarray, s2: np.ndarray, L: int
) -> np.ndarray:
    _, iv1 = _tables(_B1, _P1, s1.size)
    _, iv2 = _tables(_B2, _P2, s2.size)
    n_win = s1.size - L
    d1 = (s1[L:] - s1[:-L]) % _P1
    d2 = (s2[L:] - s2[:-L]) % _P2
    h1 = (d1 * iv1[:n_win]) % _P1
    h2 = (d2 * iv2[:n_win]) % _P2
    return (h1 << np.int64(31)) | h2


def _has_common(px, py, L: int) -> bool:
    if L <= 0 or L >= px[0].size or L >= py[0].size:
        return False
    kx = _window_keys_from_prefix(px[0], px[1], L)
    ky = _window_keys_from_prefix(py[0], py[1], L)
    return np.intersect1d(kx, ky).size > 0


def _matched(s: np.ndarray, order: np.ndarray, other: np.ndarray) -> np.ndarray:
    """Whether each window's key is among `other` (sorted keys), in
    window order; `s` is the windows' keys sorted by `order`, since
    searchsorted is several times faster with sorted queries."""
    idx = np.searchsorted(other, s)
    idx[idx == other.size] = 0
    hit = np.empty(s.size, dtype=bool)
    hit[order] = other[idx] == s
    return hit


def _longest_run(hit: np.ndarray) -> tuple[int, int]:
    """(start, length) of the first longest run of True in `hit`."""
    edges = np.flatnonzero(np.diff(hit, prepend=False, append=False))
    starts, lengths = edges[::2], edges[1::2] - edges[::2]
    k = int(lengths.argmax())
    return int(starts[k]), int(lengths[k])


def _lcs_len(x: str, y: str, min_len: int = 1) -> int:
    """Longest common substring length, certified by double rolling
    hash; returns 0 early when no common substring reaches min_len
    (the gate).

    The gate's min_len window keys also bound the answer: a common
    substring of length L covers L - min_len + 1 consecutive windows on
    each side, every one of them matched by a window of the other side,
    so L <= min_len - 1 + (the shorter of the two sides' longest
    matched runs).  That bound is probed first, by a plain substring
    search for the text under the shorter run (exact, and all a pair
    sharing one span needs), then by the hash probe; only if both fail
    is the exact maximum binary-searched below it (common-substring
    existence is monotone in L)."""
    cx, cy = _codes(x), _codes(y)
    hi_cap = min(cx.size, cy.size)
    if min_len > hi_cap or min_len < 1:
        return 0
    px = (_prefix(cx, _B1, _P1), _prefix(cx, _B2, _P2))
    py = (_prefix(cy, _B1, _P1), _prefix(cy, _B2, _P2))
    kx = _window_keys_from_prefix(px[0], px[1], min_len)
    ky = _window_keys_from_prefix(py[0], py[1], min_len)
    ox, oy = np.argsort(kx), np.argsort(ky)
    sx, sy = kx[ox], ky[oy]
    hx = _matched(sx, ox, sy)
    if not hx.any():
        return 0
    (ix, rx), (iy, ry) = _longest_run(hx), _longest_run(_matched(sy, oy, sx))
    hi = min_len - 1 + min(rx, ry)
    span, other = (x[ix : ix + hi], y) if rx <= ry else (y[iy : iy + hi], x)
    if span in other or _has_common(px, py, hi):
        return hi
    lo, hi = min_len, hi - 1  # invariant: common substring of len lo exists
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if _has_common(px, py, mid):
            lo = mid
        else:
            hi = mid - 1
    return lo


def shared_span_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    min_span_chars: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_chars: int = 20_000,
) -> DataFrame:
    """(a, b, lcs_len) for pairs whose longest common substring is at
    least min_span_chars."""
    ta = docs.select(
        F.col(id_col).alias("a"),
        F.substring(F.col(text_col), 1, max_chars).alias("text_a"),
    )
    tb = docs.select(
        F.col(id_col).alias("b"),
        F.substring(F.col(text_col), 1, max_chars).alias("text_b"),
    )
    joined = pairs.select("a", "b").join(ta, "a").join(tb, "b")
    # spread the Python LCS kernel across the cores — the pair table is
    # small enough that AQE would otherwise coalesce it onto one core —
    # and no further: a Python task still has a fixed cost
    # (plans.partitioning)
    joined = joined.repartition(
        joined.sparkSession.sparkContext.defaultParallelism, "a", "b"
    )

    out_schema = StructType(
        [f for f in joined.schema.fields if f.name in ("a", "b")]
        + [StructField("lcs_len", IntegerType())]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lens = [
                _lcs_len(x or "", y or "", min_span_chars)
                for x, y in zip(pdf["text_a"], pdf["text_b"])
            ]
            yield pd.DataFrame(
                {"a": pdf["a"], "b": pdf["b"], "lcs_len": pd.array(lens, dtype="int32")}
            )

    return (
        joined.mapInPandas(compute, out_schema)
        .where(F.col("lcs_len") >= min_span_chars)
    )
