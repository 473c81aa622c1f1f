"""Independent native oracle for the 4 hash-native driver queries
(VERDICT r4 #6): recompute minhash_signatures, simhash_values,
lsh_candidate_pairs and shared_span_pairs with a pure numpy/python
implementation — NO Spark on the oracle side (pyarrow reads the
parquet) — and assert value equality against the Spark queries.

DuckDB cannot mirror these surfaces because their values are defined
by Spark's xxhash64; this module therefore reimplements the public
XXH64 algorithm (Collet's spec; Spark's XxHash64 expression chains it
per input with the running hash as seed) from the spec, plus the
repo's pinned signature math (same DedupConfig pins — the config IS
part of a run's identity, config.py), and an INDEPENDENT longest-
common-substring via suffix automaton (the Spark kernel uses rolling
hashes: a matched-window run bound, probed first, then a binary search
below it — a genuinely different algorithm, so agreement is evidence,
mirroring the reference's golden-structure tests,
/root/reference/t/007_digest.t).

Run:  python scripts/native_oracle.py [sf_dir] [out_json]
sf_dir defaults to the sf0.01 test data; the JSON report is written
only when out_json is given.  Exits 1 if any query mismatches.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# ---------------------------------------------------------------- XXH64
# Public constants from the xxHash spec (Yann Collet, BSD).
_MASK = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h


def xxh64_bytes(data: bytes, seed: int) -> int:
    """Canonical XXH64 over a byte string (Spark's hashUnsafeBytes for
    StringType inputs: UTF-8 bytes, little-endian word reads)."""
    seed &= _MASK
    n, off = len(data), 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed
        v4 = (seed - _P1) & _MASK
        while off + 32 <= n:
            for i, v in enumerate((v1, v2, v3, v4)):
                w = int.from_bytes(data[off + 8 * i:off + 8 * i + 8], "little")
                v = (_rotl((v + w * _P2) & _MASK, 31) * _P1) & _MASK
                if i == 0:
                    v1 = v
                elif i == 1:
                    v2 = v
                elif i == 2:
                    v3 = v
                else:
                    v4 = v
            off += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _MASK, 31) * _P1) & _MASK
            h = (h * _P1 + _P4) & _MASK
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while off + 8 <= n:
        k1 = int.from_bytes(data[off:off + 8], "little")
        h ^= (_rotl((k1 * _P2) & _MASK, 31) * _P1) & _MASK
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK
        off += 8
    if off + 4 <= n:
        h ^= (int.from_bytes(data[off:off + 4], "little") * _P1) & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        off += 4
    while off < n:
        h ^= (data[off] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        off += 1
    return _fmix(h)


def xxh64_long(v: int, seed: int) -> int:
    """Spark XXH64.hashLong: the 8-byte fixed-width specialization."""
    v &= _MASK
    h = ((seed & _MASK) + _P5 + 8) & _MASK
    h ^= (_rotl((v * _P2) & _MASK, 31) * _P1) & _MASK
    h = (_rotl(h, 27) * _P1 + _P4) & _MASK
    return _fmix(h)


def xxh64_int(v: int, seed: int) -> int:
    """Spark XXH64.hashInt: the 4-byte specialization (IntegerType
    literals like the band index)."""
    h = ((seed & _MASK) + _P5 + 4) & _MASK
    h ^= ((v & 0xFFFFFFFF) * _P1) & _MASK
    h = (_rotl(h, 23) * _P2 + _P3) & _MASK
    return _fmix(h)


def to_signed(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


# -------------------------------------------- vectorized hashLong fold
_U1, _U2, _U4, _U5 = (np.uint64(p) for p in (_P1, _P2, _P4, _P5))


def _v_rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _v_fmix(h: np.ndarray) -> np.ndarray:
    h = (h ^ (h >> np.uint64(33))) * _U2
    h = (h ^ (h >> np.uint64(29))) * np.uint64(_P3)
    return h ^ (h >> np.uint64(32))


def v_hash_long(x: np.ndarray, seed) -> np.ndarray:
    """hashLong over a uint64 array with per-element (or scalar) seed —
    uint64 arithmetic wraps mod 2^64, exactly the JVM's."""
    h = np.asarray(seed, dtype=np.uint64) + _U5 + np.uint64(8)
    h = h ^ (_v_rotl(x * _U2, 31) * _U1)
    h = _v_rotl(h, 27) * _U1 + _U4
    return _v_fmix(h)


# ------------------------------------------------- pinned text pipeline
def tokens_of(text: str) -> list[str]:
    """The pinned tokenizer (functions/text.py): lower, collapse
    whitespace, trim, split, drop empties."""
    return [t for t in re.sub(r"\s+", " ", text.lower()).strip().split(" ") if t]


def token_hash_array(toks: list[str]) -> np.ndarray:
    return np.array(
        [xxh64_bytes(t.encode(), 42) for t in toks], dtype=np.uint64
    )


def window_hash_array(th: np.ndarray, k: int) -> np.ndarray:
    """Chained hashLong over each k-window of token hashes (the
    window_hashes expression: xxhash64(e1..ek) folds elements with the
    running hash as seed, initial seed 42), distinct."""
    n = th.size
    if n < k:
        return np.empty(0, dtype=np.uint64)
    n_win = n - k + 1
    h = np.full(n_win, 42, dtype=np.uint64)
    for j in range(k):
        h = v_hash_long(th[j:j + n_win], h)
    return np.unique(h)


# ---------------------------------------------------- signature math
def minhash_params(num_perm: int, seed: int, prime: int):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, prime, size=num_perm, dtype=np.int64)
    b = rng.integers(0, prime, size=num_perm, dtype=np.int64)
    return a, b


def native_signatures(doc_ids, texts, cfg):
    """{doc_id: (n_shingles, minhash int64[num_perm] | None,
    simhash int | None)} under the pinned config."""
    from app_dupfind_spark.config import MINHASH_PRIME

    a, b = minhash_params(cfg.num_perm, cfg.seed, MINHASH_PRIME)
    out = {}
    shifts = np.arange(64, dtype=np.uint64)
    for did, text in zip(doc_ids, texts):
        sh = window_hash_array(
            token_hash_array(tokens_of(text or "")), cfg.shingle_k
        )
        if sh.size == 0:
            out[int(did)] = (0, None, None)
            continue
        x = sh.view(np.int64) % MINHASH_PRIME      # nonneg: divisor > 0
        sig = np.min((a[:, None] * x[None, :] + b[:, None]) % MINHASH_PRIME, axis=1)
        bits = ((sh[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
        counts = (2 * bits - 1).sum(axis=0)
        word = ((counts > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
        out[int(did)] = (int(sh.size), sig, to_signed(int(word)))
    return out


def native_lsh_pairs(sigs, cfg):
    """{(a, b): n_bands} — band hashes via hashLong folds + hashInt of
    the band index, bucket sizes capped to [2, lsh_bucket_cap]."""
    from collections import defaultdict

    buckets = defaultdict(list)
    for did, (_, sig, _) in sigs.items():
        if sig is None:
            continue
        u = sig.astype(np.uint64)
        for band in range(cfg.lsh_bands):
            h = 42
            for r in range(cfg.lsh_rows):
                h = xxh64_long(int(u[band * cfg.lsh_rows + r]), h)
            h = xxh64_int(band, h)
            buckets[(band, to_signed(h))].append(did)
    n_bands = defaultdict(int)
    for (_band, _bh), members in buckets.items():
        if not (2 <= len(members) <= cfg.lsh_bucket_cap):
            continue
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                n_bands[(ms[i], ms[j])] += 1
    return dict(n_bands)


# --------------------------------------------------- span stage oracle
def lcs_suffix_automaton(x: str, y: str) -> int:
    """Longest common substring via suffix automaton over x — an
    independent algorithm from the Spark kernel's rolling-hash run
    bound and search (agreement is evidence, not self-comparison)."""
    # build SAM of x
    maxlen = [0, 0]
    link = [-1, -1]
    trans: list[dict[str, int]] = [{}, {}]
    last, size = 1, 2

    def add(c: str) -> None:
        nonlocal last, size
        cur = size
        maxlen.append(maxlen[last] + 1)
        link.append(-1)
        trans.append({})
        size += 1
        p = last
        while p != -1 and c not in trans[p]:
            trans[p][c] = cur
            p = link[p]
        if p == -1:
            link[cur] = 1
        else:
            q = trans[p][c]
            if maxlen[p] + 1 == maxlen[q]:
                link[cur] = q
            else:
                clone = size
                maxlen.append(maxlen[p] + 1)
                link.append(link[q])
                trans.append(dict(trans[q]))
                size += 1
                while p != -1 and trans[p].get(c) == q:
                    trans[p][c] = clone
                    p = link[p]
                link[q] = clone
                link[cur] = clone
        last = cur

    for ch in x:
        add(ch)
    v, length, best = 1, 0, 0
    for ch in y:
        while v != 1 and ch not in trans[v]:
            v = link[v]
            length = maxlen[v]
        if ch in trans[v]:
            v = trans[v][ch]
            length += 1
        best = max(best, length)
    return best


def native_shared_span_pairs(doc_ids, texts, cfg, max_shingle_df: int):
    """{(a, b): lcs_len} mirroring span_candidates (long-shingle index
    over the capped prefix, mod-sampled, df-capped) + the LCS gate."""
    from collections import defaultdict

    capped = {
        int(d): (t or "")[:cfg.span_max_chars] for d, t in zip(doc_ids, texts)
    }
    sh_docs = defaultdict(set)
    for did, text in capped.items():
        sh = window_hash_array(
            token_hash_array(tokens_of(text)), cfg.span_shingle_words
        )
        for h in sh.view(np.int64):
            h = int(h)
            if cfg.span_sample_mod > 1 and h % cfg.span_sample_mod != 0:
                continue
            sh_docs[h].add(did)
    cand = set()
    for _h, docs in sh_docs.items():
        if not (2 <= len(docs) <= max_shingle_df):
            continue
        ds = sorted(docs)
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                cand.add((ds[i], ds[j]))
    out = {}
    for a, b in sorted(cand):
        ln = lcs_suffix_automaton(capped[a], capped[b])
        if ln >= cfg.min_span_chars:
            out[(a, b)] = ln
    return out


# ------------------------------------------------------------- runner
def run_native(sf_dir: str):
    """Native-side results for the 4 queries as canonical row sets."""
    import pyarrow.parquet as pq

    from app_dupfind_spark.config import DedupConfig
    from app_dupfind_spark.queries import SPAN_CHECK_MIN, SPAN_MAX_DF, SPAN_WORDS

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    doc_ids = tbl.column("doc_id").to_pylist()
    texts = tbl.column("text").to_pylist()

    cfg = DedupConfig()
    sigs = native_signatures(doc_ids, texts, cfg)
    minhash_rows = sorted(
        (did, p, int(sig[p]))
        for did, (_, sig, _) in sigs.items() if sig is not None
        for p in range(cfg.num_perm)
    )
    simhash_rows = sorted((did, sh) for did, (_, _, sh) in sigs.items())
    lsh_rows = sorted(
        (a, b, n) for (a, b), n in native_lsh_pairs(sigs, cfg).items()
    )
    span_cfg = DedupConfig(
        span_shingle_words=SPAN_WORDS, min_span_chars=SPAN_CHECK_MIN
    )
    span_rows = sorted(
        (a, b, ln)
        for (a, b), ln in native_shared_span_pairs(
            doc_ids, texts, span_cfg, SPAN_MAX_DF
        ).items()
    )
    return {
        "minhash_signatures": minhash_rows,
        "simhash_values": simhash_rows,
        "lsh_candidate_pairs": lsh_rows,
        "shared_span_pairs": span_rows,
    }


def run_spark(sf_dir: str):
    """Spark-side results for the same 4 queries, canonicalized."""
    from app_dupfind_spark.queries import QUERIES
    from app_dupfind_spark.session import get_spark

    spark = get_spark(app_name="native-oracle", master="local[8]",
                      shuffle_partitions=8)
    out = {}
    for name in ("minhash_signatures", "simhash_values",
                 "lsh_candidate_pairs", "shared_span_pairs"):
        rows = QUERIES[name](spark, sf_dir).collect()
        out[name] = sorted(tuple(r) for r in rows)
    spark.stop()
    return out


def main() -> int:
    import hashlib

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    native = run_native(sf_dir)
    spark = run_spark(sf_dir)
    report = {"sf_dir": sf_dir, "queries": {}}
    ok_all = True
    for name in native:
        eq = native[name] == spark[name]
        ok_all &= eq
        blob = json.dumps(native[name]).encode()
        report["queries"][name] = {
            "native_rows": len(native[name]),
            "spark_rows": len(spark[name]),
            "values_equal": eq,
            "canonical_sha256": hashlib.sha256(blob).hexdigest()[:16],
        }
        if not eq:
            a, b = set(map(tuple, native[name])), set(map(tuple, spark[name]))
            report["queries"][name]["example_native_only"] = [
                list(x) for x in sorted(a - b)[:3]
            ]
            report["queries"][name]["example_spark_only"] = [
                list(x) for x in sorted(b - a)[:3]
            ]
        print(("OK    " if eq else "MISMATCH ") + name,
              len(native[name]), "rows")
    report["all_equal"] = ok_all
    if out_path is not None:
        Path(out_path).write_text(json.dumps(report, indent=1))
        print(f"wrote {out_path}")
    print(f"all_equal={ok_all}")
    return 0 if ok_all else 1


if __name__ == "__main__":
    raise SystemExit(main())
