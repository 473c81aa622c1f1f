"""Pinned pipeline configuration.

The reference drives its cascade from a flat ``opts`` hashref with
defaults + CLI overlay (/root/reference/lib/App/dupfind/App.pm:106-155);
unknown weed-pass names die at plan time
(/root/reference/lib/App/dupfind/Guts.pm:62-63).  The graft's analog is
a frozen dataclass validated eagerly: the MinHash/LSH/SimHash parameters
are part of the *identity* of a run (the recall metric is only defined
"at the same shingle/signature config"), so they are hashable and are
embedded in every checkpoint manifest.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass

# Mersenne prime 2^31-1: MinHash permutation modulus.  Chosen so that
# a*h+b stays < 2^62 in int64 (no 128-bit math needed in numpy).
MINHASH_PRIME = (1 << 31) - 1

# Weed-pass names mirror the reference's wpass plugin map
# (/root/reference/lib/App/dupfind/Guts.pm:43-53).
WEED_PASS_NAMES = (
    "first",
    "last",
    "middle",
    "middle_last",
    "first_middle_last",
    "almost_middle",
)


@dataclass(frozen=True)
class DedupConfig:
    """All knobs for the dedup cascade, pinned and hashable."""

    # --- exact cascade (reference parity) ---
    # probe width in chars; reference --wpsize default 32
    # (/root/reference/lib/App/dupfind/App.pm:128)
    probe_width: int = 32
    # ordered weed passes; reference default [first_middle_last]
    # (App.pm:94-95); () skips weeding entirely (reference --weedout
    # no, App.pm:233)
    weed_passes: tuple[str, ...] = ("first_middle_last",)
    # max text length considered (reference read_limit 1 GiB, Guts.pm:36)
    max_chars: int = 1 << 30

    # --- shingling / MinHash ---
    shingle_k: int = 5          # word k-grams
    seed: int = 42

    # --- LSH banding: num_perm = bands * rows_per_band ---
    lsh_bands: int = 32
    lsh_rows: int = 4
    # buckets larger than this are truncated (boilerplate guard; at web
    # scale a mega-bucket is a stop-shingle artifact, not a dup cluster).
    # bucket_pairs returns them as a skew report, and the pipeline's
    # cands stage counts them (lsh_truncated_buckets and
    # lsh_truncated_members in counters_df).
    lsh_bucket_cap: int = 2000

    # --- verification ---
    # Hamming gate on the 64-bit SimHash (hashing.py)
    simhash_max_hamming: int = 3
    # near-dup gate on EXACT shingle-Jaccard, checked for every LSH
    # candidate (Broder-style web dedup operating point; the 32x4
    # banding surfaces a pair at J=0.7 with probability > 0.999)
    jaccard_threshold: float = 0.7

    # --- connected components ---
    cc_max_iterations: int = 50

    # --- suffix/long-span stage ---
    min_span_chars: int = 200
    # long-shingle candidate generation for the span stage: a shared
    # min_span_chars span guarantees shared span_shingle_words-grams
    span_shingle_words: int = 20
    # mod-sampling of span shingle hashes (1 = keep all; s>1 keeps
    # hash%s==0 — winnowing-style thinning).  Default 2: a
    # min_span_chars span covers >=21 windows, so the miss probability
    # is 2^-21 (~5e-7) while the span index — the pipeline's largest
    # shuffle — halves.
    span_sample_mod: int = 2
    span_enabled: bool = True
    # single text cap shared by the span index AND the LCS kernel —
    # both sides see the same prefix, so the stage is self-consistent
    # (spans past the cap are out of contract, documented in spans.py)
    span_max_chars: int = 20_000

    @property
    def num_perm(self) -> int:
        """MinHash permutations: one per row of every LSH band."""
        return self.lsh_bands * self.lsh_rows

    def __post_init__(self) -> None:
        unknown = [p for p in self.weed_passes if p not in WEED_PASS_NAMES]
        if unknown:
            # plan-time validation, like the reference's death on unknown
            # pass names (Guts.pm:62-63)
            raise ValueError(
                f"unknown weed pass(es) {unknown}; valid: {WEED_PASS_NAMES}"
            )
        if self.shingle_k < 1 or self.probe_width < 1:
            raise ValueError("shingle_k and probe_width must be >= 1")

    def config_hash(self) -> str:
        """Stable hash of the config — stamped into checkpoint manifests
        so a resume never silently mixes configs."""
        blob = json.dumps(asdict(self), sort_keys=True, default=str).encode()
        return hashlib.sha256(blob).hexdigest()[:16]


DEFAULT_CONFIG = DedupConfig()
