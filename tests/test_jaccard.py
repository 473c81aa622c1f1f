"""Exact n-gram Jaccard join vs a python set oracle."""

from __future__ import annotations

import re

from app_dupfind_spark.operators.jaccard import jaccard_pairs


def _shingles(s: str, k: int) -> set[str]:
    toks = [t for t in re.sub(r"\s+", " ", s.lower()).strip().split(" ") if t]
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def test_jaccard_pairs_match_python_oracle(spark, pages, corpus):
    k, tau = 5, 0.5
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in jaccard_pairs(pages, k, tau, "url", "text").collect()
    }
    texts = {r["url"]: r["text"] for r in corpus.rows}
    urls = sorted(texts)
    want = {}
    sh = {u: _shingles(texts[u], k) for u in urls}
    for i, a in enumerate(urls):
        for b in urls[i + 1 :]:
            if not sh[a] or not sh[b]:
                continue
            inter = len(sh[a] & sh[b])
            if inter == 0:
                continue
            j = inter / (len(sh[a]) + len(sh[b]) - inter)
            if round(j, 6) >= tau:
                want[(a, b)] = round(j, 6)
    assert got == want


def test_df_cap_drops_boilerplate_pairs(spark):
    run = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(f"u{i:02d}", run) for i in range(30)], "id string, text string"
    )
    capped = jaccard_pairs(docs, 5, 0.5, "id", "text", max_shingle_df=5)
    assert capped.count() == 0


def test_exact_jaccard_for_pairs_matches_full_join(spark, pages):
    """The pair-targeted verifier must agree exactly with the full
    inverted-index join on every pair it is asked about."""
    from pyspark.sql import functions as F

    from app_dupfind_spark.operators.jaccard import exact_jaccard_for_pairs

    k = 5
    full = {
        (r["a"], r["b"]): (r["n_common"], r["n_a"], r["n_b"], r["jaccard"])
        for r in jaccard_pairs(pages, k, 0.2, "url", "text").collect()
    }
    assert full  # non-vacuous
    pair_df = spark.createDataFrame(
        [(a, b) for a, b in full], "a string, b string"
    )
    targeted = {
        (r["a"], r["b"]): (r["n_common"], r["n_a"], r["n_b"], r["jaccard"])
        for r in exact_jaccard_for_pairs(pair_df, pages, k, "url", "text").collect()
    }
    assert targeted == full


def test_exact_jaccard_for_pairs_drops_zero_overlap(spark):
    docs = spark.createDataFrame(
        [("a", "one two three four five six"),
         ("b", "seven eight nine ten eleven twelve"),
         ("c", "one two three four five six extra")],
        "id string, text string",
    )
    from app_dupfind_spark.operators.jaccard import exact_jaccard_for_pairs

    pairs = spark.createDataFrame([("a", "b"), ("a", "c")], "a string, b string")
    got = {(r["a"], r["b"]) for r in exact_jaccard_for_pairs(pairs, docs, 5, "id", "text").collect()}
    assert got == {("a", "c")}  # (a,b) share nothing -> absent == rejected


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _fixture_candidates(pages, cfg):
    from app_dupfind_spark.operators.minhash_lsh import candidate_pairs, signatures

    sigs = signatures(pages, cfg, "url", "text").localCheckpoint()
    return sigs, candidate_pairs(sigs, cfg, "url")[0].localCheckpoint()


def test_exact_verify_matches_set_oracle(spark, pages, corpus, cfg):
    """The verify stage gates EVERY LSH candidate on exact Jaccard:
    its (a, b) -> jaccard equals the candidates with oracle J >= tau,
    including pairs whose MinHash estimate lies far above tau (once
    accepted on the estimate alone)."""
    from pyspark.sql import functions as F

    from app_dupfind_spark.operators.dedup_pipeline import _exact_verify
    from app_dupfind_spark.operators.verify import (
        attach_signatures,
        minhash_est_jaccard,
    )

    sigs, cands = _fixture_candidates(pages, cfg)
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in _exact_verify(cands, pages, cfg, "url", "text").collect()
    }
    texts = {r["url"]: r["text"] for r in corpus.rows}
    sh = {u: _shingles(t, cfg.shingle_k) for u, t in texts.items()}
    tau = cfg.jaccard_threshold
    want = {}
    for r in cands.collect():
        sa, sb = sh[r["a"]], sh[r["b"]]
        inter = len(sa & sb)
        j = round(inter / (len(sa) + len(sb) - inter), 6) if inter else 0.0
        if j >= tau:
            want[(r["a"], r["b"])] = j
    assert got == want

    est = {
        (r["a"], r["b"]): r["est"]
        for r in attach_signatures(cands, sigs, "url").select(
            "a", "b", minhash_est_jaccard(F.col("minhash_a"), F.col("minhash_b")).alias("est")
        ).collect()
    }
    # non-vacuous: accepted pairs whose estimate clears tau by a wide
    # margin (the old estimate-decided band, tau + 0.2)
    assert any(est[p] >= tau + 0.2 for p in want)


def test_exact_gate_intersects_once_per_pair(spark, pages, cfg):
    """The jaccard >= tau gate must not be pushed into a join condition
    (BroadcastHashJoin conditions and Filters share no subexpressions,
    so every reference would re-run array_intersect)."""
    from app_dupfind_spark.operators.dedup_pipeline import _exact_verify

    _, cands = _fixture_candidates(pages, cfg)
    plan = _formatted_plan(_exact_verify(cands, pages, cfg, "url", "text"))
    assert plan.count("array_intersect(") == 1, plan
    conds = [l for l in plan.splitlines() if l.startswith("Join condition")]
    assert conds and all(l == "Join condition: None" for l in conds), plan


def test_estimate_gate_scores_once_per_pair(spark, pages, cfg):
    """verify_pairs (the estimate gate the streaming matcher mirrors):
    the 128-wide MinHash estimate is evaluated once per pair, not again
    in the method gate."""
    from app_dupfind_spark.operators.verify import attach_signatures, verify_pairs

    sigs, cands = _fixture_candidates(pages, cfg)
    plan = _formatted_plan(verify_pairs(attach_signatures(cands, sigs, "url"), cfg))
    assert plan.count("zip_with(") == 1, plan
