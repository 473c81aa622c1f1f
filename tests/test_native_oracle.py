"""The independent native oracle (scripts/native_oracle.py, VERDICT r4
#6): from-spec XXH64 must match Spark's xxhash64 in every chaining form
the signatures use, and the native signature/LCS math must match the
Spark operators on a small corpus."""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from native_oracle import (  # noqa: E402
    lcs_suffix_automaton,
    native_lsh_pairs,
    native_signatures,
    to_signed,
    xxh64_bytes,
    xxh64_int,
    xxh64_long,
)


def test_xxh64_primitives_match_spark(spark):
    strings = ["", "a", "hello world", "naïve café", "😀emoji",
               "x" * 31, "y" * 32, "z" * 100]
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = {r["s"]: r["h"] for r in
           df.select("s", F.xxhash64("s").alias("h")).collect()}
    for s in strings:
        assert to_signed(xxh64_bytes(s.encode(), 42)) == got[s], repr(s)
    # chained longs (the window_hashes fold) and array+int (band_hashes)
    tup = (5, -6, 2**62, 8, -1)
    h_spark = spark.range(1).select(
        F.xxhash64(*[F.lit(v).cast("long") for v in tup]).alias("h")
    ).collect()[0]["h"]
    h = 42
    for v in tup:
        h = xxh64_long(v, h)
    assert to_signed(h) == h_spark
    arr = [11, 22, 33, 44]
    h_spark = spark.range(1).select(
        F.xxhash64(
            F.array(*[F.lit(v).cast("long") for v in arr]), F.lit(3)
        ).alias("h")
    ).collect()[0]["h"]
    h = 42
    for v in arr:
        h = xxh64_long(v, h)
    assert to_signed(xxh64_int(3, h)) == h_spark


def test_native_signatures_and_lsh_match_spark(spark):
    from app_dupfind_spark.config import DedupConfig
    from app_dupfind_spark.operators.minhash_lsh import candidate_pairs, signatures

    texts = [
        " ".join(f"word{i}" for i in range(60)),
        " ".join(f"word{i}" for i in range(60)),          # exact dup
        " ".join(f"word{i+2}" for i in range(60)),        # shifted overlap
        "short text only",                                # < k tokens
        " ".join(f"other{i}" for i in range(40)),
    ]
    cfg = DedupConfig()
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sp = {r["doc_id"]: r for r in signatures(df, cfg, "doc_id", "text").collect()}
    nat = native_signatures(range(len(texts)), texts, cfg)
    for did, (n_sh, sig, sim) in nat.items():
        assert sp[did]["n_shingles"] == n_sh, did
        if sig is None:
            assert sp[did]["minhash"] is None and sp[did]["simhash"] is None
        else:
            assert list(sp[did]["minhash"]) == [int(v) for v in sig], did
            assert sp[did]["simhash"] == sim, did
    pairs, _ = candidate_pairs(signatures(df, cfg, "doc_id", "text"), cfg, "doc_id")
    sp_pairs = {(r["a"], r["b"]): r["n_bands"] for r in pairs.collect()}
    assert native_lsh_pairs(nat, cfg) == sp_pairs


def test_lcs_suffix_automaton_vs_dp():
    rng = np.random.default_rng(3)
    for _ in range(40):
        x = "".join(rng.choice(list("abc"), size=rng.integers(0, 30)))
        y = "".join(rng.choice(list("abc"), size=rng.integers(0, 30)))
        n, m = len(x), len(y)
        best = 0
        dp = [[0] * (m + 1) for _ in range(n + 1)]
        for i in range(1, n + 1):
            for j in range(1, m + 1):
                if x[i - 1] == y[j - 1]:
                    dp[i][j] = dp[i - 1][j - 1] + 1
                    best = max(best, dp[i][j])
        assert lcs_suffix_automaton(x, y) == best, (x, y)


def test_main_fails_on_mismatch_and_writes_only_on_request(
    monkeypatch, tmp_path
):
    """The check exits 1 on any mismatching query, and writes its JSON
    report only to an explicitly passed path (never a default file in
    the working directory)."""
    import native_oracle

    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(native_oracle, "run_native", lambda sf: {"q": [(1, 2)]})
    monkeypatch.setattr(native_oracle, "run_spark", lambda sf: {"q": [(1, 3)]})
    monkeypatch.setattr(sys, "argv", ["native_oracle.py", "sf"])
    assert native_oracle.main() == 1
    assert list(tmp_path.iterdir()) == []

    monkeypatch.setattr(native_oracle, "run_spark", lambda sf: {"q": [(1, 2)]})
    monkeypatch.setattr(sys, "argv", ["native_oracle.py", "sf", "out.json"])
    assert native_oracle.main() == 0
    assert [p.name for p in tmp_path.iterdir()] == ["out.json"]
