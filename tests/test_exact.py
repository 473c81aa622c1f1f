"""Exact cascade stage goldens — mirrors the reference's staged tests
(t/004_scanfs.t, t/006_weed.t, t/007_digest.t): run each stage and
check the surviving group structure against ground truth."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import Observation
from pyspark.sql import functions as F

from app_dupfind_spark.config import DedupConfig
from app_dupfind_spark.operators import exact as exact_mod
from app_dupfind_spark.operators.exact import (
    clusters_from_digests,
    exact_dup_cascade,
    exact_dup_clusters,
    having_at_least,
    keep_first,
    with_size,
)
from app_dupfind_spark.plans.barriers import materialize_barrier


def _expected_exact_clusters(corpus):
    by_text = defaultdict(list)
    for r in corpus.rows:
        by_text[r["text"]].append(r["url"])
    return {
        min(urls): sorted(urls) for urls in by_text.values() if len(urls) > 1
    }


def test_cascade_finds_exactly_the_true_exact_clusters(spark, pages, corpus, cfg):
    clusters = exact_dup_clusters(pages, cfg).collect()
    got = defaultdict(list)
    for r in clusters:
        got[r["cluster_id"]].append(r["url"])
    got = {k: sorted(v) for k, v in got.items()}
    assert got == _expected_exact_clusters(corpus)


def test_canonical_is_lex_first_member(spark, pages, corpus, cfg):
    # ref Common.pm:206-219/273: sorted group, first member = original
    clusters = exact_dup_clusters(pages, cfg)
    canon = clusters.where("is_canonical").select("url", "cluster_id").collect()
    for r in canon:
        assert r["url"] == r["cluster_id"]


def test_zero_size_docs_cluster_via_bypass(spark, pages, corpus, cfg):
    # the 3 empty docs must form one cluster (ref zero-size path,
    # Common.pm:127-128): equal empty text => one (size, probe, digest)
    clusters = exact_dup_clusters(pages, cfg)
    empties = [u for u, k in corpus.kinds.items() if k == "empty"]
    got = clusters.where(F.col("url").isin(empties)).collect()
    assert len(got) == 3
    assert len({r["cluster_id"] for r in got}) == 1


def test_weed_stage_never_splits_true_duplicates(spark, pages, corpus):
    """Recall preservation: enabling weeding must not change the final
    clusters (the reference's weed passes are pure optimizations)."""
    with_weed = exact_dup_clusters(pages, DedupConfig())
    without = exact_dup_clusters(pages, DedupConfig(weed_passes=()))
    a = sorted(map(tuple, with_weed.select("url", "cluster_id").collect()))
    b = sorted(map(tuple, without.select("url", "cluster_id").collect()))
    assert a == b


def _cascade_counters(df, cfg):
    obs = Observation()
    rows = exact_dup_cascade(df, cfg, counters=obs).collect()
    return rows, obs.get


def test_weed_level_splits_decoys(spark, pages, corpus, cfg):
    """Decoys share size+first/last-32 with their base but differ in the
    middle; the fused probe (incl. middle char) splits them into more,
    smaller weed groups than the size level has — and the cascade
    output contains none of them."""
    rows, c = _cascade_counters(pages, cfg)
    decoys = {u for u, k in corpus.kinds.items() if k in ("decoy", "decoy_base")}
    assert not decoys & {r["url"] for r in rows}
    assert c["weed_groups"] < c["size_groups"]


def test_counters_survive_an_empty_result(spark, cfg):
    """A same-size pair whose probes differ leaves no exact group: all
    seven A6 counters must still be reported (an observation under a
    subtree that AQE prunes as empty is never populated)."""
    df = spark.createDataFrame(
        [("u1", "aaaa bbbb"), ("u2", "aaaa cccc"), ("u3", "zz")],
        "url string, text string",
    )
    rows, c = _cascade_counters(df, cfg)
    assert rows == []
    assert c == {
        "scan_members": 3,
        "size_members": 2, "size_groups": 1,
        "weed_members": 0, "weed_groups": 0,
        "digest_members": 0, "digest_groups": 0,
    }


def test_weed_counters_include_empty_docs(spark, cfg):
    """Size-0 docs are counted in every level: the weed level can never
    report fewer members than the digest level below it."""
    base = "".join(chr(ord("a") + i % 26) for i in range(100))
    # same length, first/middle/last probe chars equal, differs at 40
    twin = base[:40] + "#" + base[41:]
    df = spark.createDataFrame(
        [("e1", ""), ("e2", ""), ("e3", ""), ("p1", base), ("p2", twin)],
        "url string, text string",
    )
    rows, c = _cascade_counters(df, cfg)
    assert sorted(r["url"] for r in rows) == ["e1", "e2", "e3"]
    assert (c["weed_members"], c["weed_groups"]) == (5, 2)
    assert (c["digest_members"], c["digest_groups"]) == (3, 1)
    assert c["weed_members"] >= c["digest_members"]


def test_cascade_is_one_grouping_sets_aggregate(spark, pages, cfg, monkeypatch):
    """The size, weed and digest levels are one Expand feeding one
    count aggregate keyed by the grouping id — no separate size-keyed
    or (size, probe)-keyed aggregate + semi-join per level.  Every
    frame the cascade binds behind a barrier is checked, plus its
    output."""
    def plan(df):  # the physical plan as planned, before it runs
        return df._jdf.queryExecution().executedPlan().toString()

    plans = []

    def spy(df, **kw):
        plans.append(plan(df))
        return materialize_barrier(df, **kw)

    monkeypatch.setattr(exact_mod, "materialize_barrier", spy)
    plans.append(plan(exact_dup_cascade(pages, cfg)))
    text = "\n".join(plans)
    assert text.count("Expand [") == 1, text
    aggs = [ln for ln in text.splitlines() if "HashAggregate(" in ln]
    # one partial (map-side) + one final aggregate, both per grouping set
    assert len(aggs) == 2, aggs
    for ln in aggs:
        assert "spark_grouping_id" in ln and "count(1)" in ln, ln


def test_having_at_least_null_safe(spark):
    # P4: null keys group together and survive (recall-preserving)
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "x")], "id int, k string"
    )
    out = having_at_least(df, ["k"]).collect()
    assert sorted(r["id"] for r in out) == [1, 2]


def test_keep_first_semantics(spark):
    # A5 hardlink-prune analog: earliest order wins, id tiebreak
    df = spark.createDataFrame(
        [("u1", 2, "a"), ("u1", 1, "b"), ("u2", 1, "c"), ("u2", 1, "d")],
        "key string, ts int, id string",
    )
    out = keep_first(df, ["key"], "ts", "id").collect()
    got = {r["key"]: (r["ts"], r["id"]) for r in out}
    assert got == {"u1": (1, "b"), "u2": (1, "c")}


def test_size_projection_counts_chars(spark):
    df = with_size(spark.createDataFrame([("héllo",), ("",)], "text string"))
    rows = {r["text"]: r["size"] for r in df.collect()}
    assert rows == {"héllo": 5, "": 0}


def test_keep_first_plan_has_no_window(spark):
    """keep_first is keyed by the dedup key — a url re-crawled 10^6
    times is a real group at web scale.  The plan must be a pure
    min_by aggregate with a map-side partial (one winner per key per
    map task crosses the shuffle), not a rank window sorting the whole
    group in one task."""
    from app_dupfind_spark.operators.exact import keep_first

    df = spark.createDataFrame(
        [("u1", 1, "x"), ("u1", 2, "y"), ("u2", 1, "z")],
        "url string, ts long, text string",
    )
    kf = keep_first(df, ["url"], "ts", "url")
    plan = kf._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "min_by" in plan
    # partial (map-side) aggregation before the exchange
    assert "partial_min_by" in plan


def test_keep_first_null_order_values(spark):
    # null order_col sorts FIRST (asc nulls-first), matching the rank
    # window shape this replaced; id breaks the tie deterministically
    df = spark.createDataFrame(
        [("u1", None, "b"), ("u1", 1, "a"), ("u2", 2, "c")],
        "key string, ts int, id string",
    )
    out = keep_first(df, ["key"], "ts", "id").collect()
    got = {r["key"]: (r["ts"], r["id"]) for r in out}
    assert got == {"u1": (None, "b"), "u2": (2, "c")}
