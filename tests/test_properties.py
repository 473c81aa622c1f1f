"""Hypothesis property tests for the pure kernels (no Spark session —
these run in milliseconds and attack the algorithmic core directly).

Oracles: quadratic DP for LCS; python set algebra for shingles and
block coverage.  Spark-side equivalents are covered by the suite's
engine tests; these pin the kernels' math under adversarial inputs.
"""

from __future__ import annotations

import random
from unittest import mock

from hypothesis import assume, given, settings
from hypothesis import strategies as st

from app_dupfind_spark.operators import spans
from app_dupfind_spark.operators.spans import _lcs_len

ALPHA = "ab "  # tiny alphabet => dense repeats => hard LCS cases


def _lcs_dp(x: str, y: str) -> int:
    """O(n*m) dynamic-programming longest-common-substring oracle."""
    best = 0
    prev = [0] * (len(y) + 1)
    for i in range(1, len(x) + 1):
        cur = [0] * (len(y) + 1)
        for j in range(1, len(y) + 1):
            if x[i - 1] == y[j - 1]:
                cur[j] = prev[j - 1] + 1
                best = max(best, cur[j])
        prev = cur
    return best


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet=ALPHA, min_size=0, max_size=60),
    st.text(alphabet=ALPHA, min_size=0, max_size=60),
    st.integers(min_value=1, max_value=8),
)
def test_lcs_rolling_hash_matches_dp(x, y, min_len):
    true = _lcs_dp(x, y)
    got = _lcs_len(x, y, min_len)
    if true >= min_len:
        assert got == true
    else:
        assert got == 0  # below the gate -> reported as no span


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="abcdef ", min_size=0, max_size=200))
def test_lcs_self_is_length(x):
    assert _lcs_len(x, x, 1) == len(x)


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet=ALPHA, min_size=3, max_size=16),
    st.integers(min_value=0, max_value=100),
    st.integers(min_value=1, max_value=6),
)
def test_lcs_search_below_the_run_bound_matches_dp(w, shift, min_len):
    """x and y are the same segment w repeated, read from two different
    phases, each as long as its len(w) cyclic min_len windows span.
    Every window of one side is a window of the other, so each side's
    longest matched run is all of it and the run bound is the full
    length, which only equal texts share: both bound probes fail and
    the search runs below the bound."""
    n = len(w) + min_len - 1
    r = 1 + shift % (len(w) - 1)
    periodic = w * (2 + n // len(w))
    x, y = periodic[:n], periodic[r : r + n]
    assume(x != y)  # w periodic with a period dividing r
    with mock.patch.object(spans, "_has_common", wraps=spans._has_common) as probe:
        got = _lcs_len(x, y, min_len)
    true = _lcs_dp(x, y)
    assert got == (true if true >= min_len else 0)
    assert probe.call_count > 1


def test_one_planted_span_needs_no_hash_probe():
    """A pair sharing one span: its matched windows form one run per
    side, the run bound is the LCS, and the substring search under the
    run confirms it without a hash probe."""
    rng = random.Random(7)

    def noise(n):
        return "".join(rng.choice("abcdefghijklmnopqrstuvw ") for _ in range(n))

    for n_span in (20, 21, 137, 600):
        span = noise(n_span)
        # distinct letters around the span keep it from extending
        x = noise(900) + "x" + span + "y" + noise(400)
        y = noise(300) + "z" + span + "x" + noise(1200)
        with mock.patch.object(spans, "_has_common", wraps=spans._has_common) as probe:
            assert _lcs_len(x, y, 20) == n_span
        assert probe.call_count == 0


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10_000), min_size=0, max_size=50, unique=True),
    st.integers(min_value=1, max_value=9),
)
def test_block_pair_layout_covers_every_pair_once(ids, B):
    """The blocked all-pairs layout rule (ann.blocked_gemm_pairs): left
    side explodes to blocks [blk, B), right side keys its own block,
    same-block ties break by id — prove every unordered pair is
    generated exactly once for ANY deterministic block assignment (the
    implementation uses pmod(xxhash64(id), B))."""

    def blk(i):
        return i % B  # any deterministic assignment has the property

    seen = {}
    for x in ids:
        for j in range(blk(x), B):          # x as left
            for y in ids:
                if blk(y) != j or x == y:
                    continue
                if blk(x) < blk(y) or (blk(x) == blk(y) and x < y):
                    p = (min(x, y), max(x, y))
                    seen[p] = seen.get(p, 0) + 1
    want = {(min(a, b), max(a, b)) for a in ids for b in ids if a < b}
    assert set(seen) == want
    assert all(v == 1 for v in seen.values())
