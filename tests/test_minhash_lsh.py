"""MinHash/LSH correctness: the permutation math vs a numpy oracle,
signature determinism across partitionings, estimator accuracy, and
candidate recall over the fixture near-dup clusters."""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

from app_dupfind_spark.config import MINHASH_PRIME, DedupConfig
from app_dupfind_spark.functions.hashing import _minhash_params
from app_dupfind_spark.functions.text import token_hashes, tokens, window_hashes, word_shingles
from app_dupfind_spark.operators.minhash_lsh import candidate_pairs, signatures
from app_dupfind_spark.operators.verify import attach_signatures, verify_pairs

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from native_oracle import native_lsh_pairs, native_signatures  # noqa: E402


def _numpy_minhash(hashes: list[int], a: np.ndarray, b: np.ndarray) -> np.ndarray:
    x = np.asarray(hashes, dtype=np.int64) % MINHASH_PRIME
    x = np.where(x < 0, x + MINHASH_PRIME, x)
    return ((a[:, None] * x[None, :] + b[:, None]) % MINHASH_PRIME).min(axis=1)


def test_minhash_udf_matches_numpy_oracle(spark, pages, cfg):
    """The UDF's signature must equal an independent numpy computation
    over the same JVM-produced shingle hashes."""
    hashed = pages.limit(20).select(
        "url", token_hashes(F.col("text")).alias("__th")
    ).select(
        "url",
        window_hashes(F.col("__th"), cfg.shingle_k).alias("h"),
    )
    sigs = signatures(pages.limit(20), cfg, "url", "text")
    h_map = {r["url"]: r["h"] for r in hashed.collect()}
    a, b = _minhash_params(cfg.num_perm, cfg.seed)
    for r in sigs.collect():
        h = h_map[r["url"]]
        if not h:
            assert r["minhash"] is None
            continue
        expected = _numpy_minhash(h, a, b)
        assert list(r["minhash"]) == list(expected), r["url"]


def test_signatures_partitioning_invariant(spark, pages, cfg):
    s1 = signatures(pages.repartition(1), cfg, "url", "text")
    s8 = signatures(pages.repartition(8), cfg, "url", "text")
    m1 = {r["url"]: (r["minhash"], r["simhash"]) for r in s1.collect()}
    m8 = {r["url"]: (r["minhash"], r["simhash"]) for r in s8.collect()}
    assert m1 == m8


def test_short_docs_get_null_signature(spark, cfg):
    df = spark.createDataFrame(
        [("u1", "one two three"), ("u2", "")], "url string, text string"
    )
    rows = {r["url"]: r for r in signatures(df, cfg, "url", "text").collect()}
    assert rows["u1"]["minhash"] is None  # 3 tokens < k=5
    assert rows["u2"]["minhash"] is None
    assert rows["u1"]["n_shingles"] == 0


def test_estimated_jaccard_tracks_true_jaccard(spark, cfg):
    """σ of the estimator at num_perm=128 is ~0.044; check |est-true|
    within 4σ on controlled-overlap docs."""
    base = [f"w{i}" for i in range(200)]
    variants = []
    rng = np.random.default_rng(7)
    for frac in (0.0, 0.05, 0.2):
        w = list(base)
        n_sub = int(len(w) * frac)
        for p in rng.choice(len(w), size=n_sub, replace=False):
            w[p] = f"sub{p}"
        variants.append(" ".join(w))
    df = spark.createDataFrame(
        [(f"u{i}", t) for i, t in enumerate(variants)], "url string, text string"
    )
    sigs = {r["url"]: np.array(r["minhash"]) for r in
            signatures(df, cfg, "url", "text").collect()}
    sh = {r["url"]: set(r["s"]) for r in df.select(
        "url", word_shingles(tokens(F.col("text")), cfg.shingle_k).alias("s")
    ).collect()}
    for u in ("u1", "u2"):
        true_j = len(sh["u0"] & sh[u]) / len(sh["u0"] | sh[u])
        est = float((sigs["u0"] == sigs[u]).mean())
        assert abs(est - true_j) < 0.18, (u, true_j, est)


def test_lsh_candidates_cover_all_near_pairs(spark, pages, corpus, cfg):
    sigs = signatures(pages, cfg, "url", "text")
    cands, skew = candidate_pairs(sigs, cfg, "url")
    got = {(r["a"], r["b"]) for r in cands.collect()}
    want = corpus.pair_set({"near"})
    missed = want - got
    assert not missed, f"LSH missed {len(missed)} near pairs"
    assert skew.count() == 0  # no mega-buckets in the fixture


def test_verify_gate_precision_on_borderline(spark, pages, corpus, cfg):
    """Borderline (~0.5 Jaccard interleaved) pairs must not pass the
    estimated-Jaccard gate at 0.7."""
    sigs = signatures(pages, cfg, "url", "text")
    cands, _ = candidate_pairs(sigs, cfg, "url")
    verified = verify_pairs(attach_signatures(cands, sigs, "url"), cfg)
    border = {u for u, k in corpus.kinds.items() if k == "border"}
    bad = [
        r for r in verified.collect()
        if r["a"] in border and r["b"] in border
    ]
    assert not bad


def test_bucket_cap_truncates_and_reports(spark, cfg):
    """Mega-bucket guard: identical docs exceeding the cap produce a
    skew report and no quadratic pair blowup."""
    small_cap = DedupConfig(lsh_bucket_cap=5)
    text = " ".join(f"w{i}" for i in range(50))
    df = spark.createDataFrame(
        [(f"u{i:03d}", text) for i in range(20)], "url string, text string"
    )
    sigs = signatures(df, small_cap, "url", "text")
    cands, skew = candidate_pairs(sigs, small_cap, "url")
    assert cands.count() == 0          # every bucket over cap
    assert skew.count() == small_cap.lsh_bands  # all 32 bands skewed


def test_candidate_pairs_match_native_oracle(spark, pages, cfg):
    """candidate_pairs' (a, b, n_bands) rows on the fixture corpus equal
    the independent numpy oracle (scripts/native_oracle.py: from-spec
    XXH64 band hashes, Python bucket enumeration)."""
    rows = sorted((r["url"], r["text"]) for r in pages.collect())
    urls = [u for u, _ in rows]
    nat = native_signatures(range(len(rows)), [t for _, t in rows], cfg)
    # oracle ids are ranks in url order, so its a < b is Spark's a < b
    want = {
        (urls[a], urls[b], n)
        for (a, b), n in native_lsh_pairs(nat, cfg).items()
    }
    pairs, _ = candidate_pairs(signatures(pages, cfg, "url", "text"), cfg, "url")
    got = {(r["a"], r["b"], r["n_bands"]) for r in pairs.collect()}
    assert got == want
    assert got, "fixture corpus must produce candidate pairs"


def test_candidate_plan_has_no_bucket_window(spark):
    """r5: bucket sizing must be groupBy-count + join, never a count
    window over (band, band_hash) — a boilerplate mega-bucket would
    funnel through one window partition just to learn the size that
    disqualifies it.  bucket_pairs binds nothing, so the pre-barrier
    plan is visible."""
    from app_dupfind_spark.config import DedupConfig
    from app_dupfind_spark.operators.minhash_lsh import (
        bucket_pairs,
        lsh_bands,
        signatures,
    )

    cfg = DedupConfig()
    df = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(30))) for i in range(4)],
        "doc_id long, text string",
    )
    pairs, skew = bucket_pairs(
        lsh_bands(signatures(df, cfg, "doc_id", "text"), cfg, "doc_id"),
        cfg, "doc_id",
    )
    for df_ in (pairs, skew):
        plan = df_._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if "Window [" in line:
                assert "band_hash" not in line, line


def test_arrays_pair_plan_shape(spark):
    """The default 'arrays' strategy must keep its 3-exchange contract
    (PLANS.md): one shuffle for bucket sizing, one for the sizing join
    probe side, one for the final (a, b) aggregation — the per-bucket
    collect_list and the nested pair Generates ride the join's
    (band, band_hash) partitioning with no extra exchange, and no
    Window node appears anywhere."""
    from app_dupfind_spark.config import DedupConfig
    from app_dupfind_spark.operators.minhash_lsh import (
        candidate_pairs,
        signatures,
    )

    cfg = DedupConfig()
    df = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(30))) for i in range(4)],
        "doc_id long, text string",
    )
    sigs = signatures(df, cfg, "doc_id", "text").localCheckpoint()
    pairs, _ = candidate_pairs(sigs, cfg, "doc_id")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 3, plan
    assert "Window" not in plan, plan
    # the bulk membership must aggregate into arrays WITHOUT a shuffle
    # between the sizing join and the collect_list.  Structural walk
    # (ADVICE r5), not string offsets: find the collect_list aggregate,
    # then assert no ShuffleExchange sits between it and the first Join
    # below it (a BroadcastExchange on the join's build side is fine —
    # it is below the Join, not on the path).
    root = pairs._jdf.queryExecution().executedPlan()
    if "AdaptiveSparkPlan" in root.nodeName():
        # AdaptiveSparkPlanExec exposes its tree via initialPlan, not
        # children()
        root = root.initialPlan()

    def _children(node):
        cs = node.children()
        return [cs.apply(i) for i in range(cs.size())]

    def _find(node, pred):
        if pred(node):
            return node
        for c in _children(node):
            got = _find(c, pred)
            if got is not None:
                return got
        return None

    agg = _find(
        root,
        # simpleString prints this node only (toString prints the whole
        # subtree and would match every ancestor)
        lambda n: "Aggregate" in n.nodeName()
        and "collect_list" in n.simpleString(100),
    )
    assert agg is not None, plan

    def _path_to_join(node):
        """Node names on the path from `node` (exclusive) down to the
        first Join (exclusive); None if no Join below."""
        for c in _children(node):
            if "Join" in c.nodeName():
                return []
            sub = _path_to_join(c)
            if sub is not None:
                return [c.nodeName()] + sub
        return None

    path = _path_to_join(agg)
    assert path is not None, plan
    assert not any("Shuffle" in n or "Exchange" in n for n in path), path
