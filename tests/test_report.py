"""Output sinks: robot/human report formats + keep-canonical policy
(mirrors t/008_output_robot.t / t/009_output_human.t goldens)."""

from __future__ import annotations

from pyspark.sql import functions as F

from app_dupfind_spark.operators.exact import (
    exact_dup_cascade,
    clusters_from_digests,
    exact_dup_clusters,
)
from app_dupfind_spark.operators.report import (
    dup_summary,
    human_report_lines,
    keep_canonical,
    robot_report,
)


def _clusters(spark, pages, cfg):
    return clusters_from_digests(exact_dup_cascade(pages, cfg), "url")


def test_robot_format_tab_joined_sorted(spark, pages, corpus, cfg):
    rep = robot_report(_clusters(spark, pages, cfg), "url").collect()
    assert rep  # 6 exact clusters incl. the empty-doc cluster
    for r in rep:
        members = r["members"].split("\t")
        assert members == sorted(members)
        assert members[0] == r["cluster_id"]
        assert r["n_members"] == len(members) >= 2


def test_human_format_header_and_indent(spark, pages, cfg):
    lines = human_report_lines(_clusters(spark, pages, cfg), "url")
    assert lines[0].startswith("DUPLICATES (digest: ")
    assert "| size: " in lines[0]
    assert lines[1].startswith("   ") and not lines[1].startswith("    ")
    # clusters emitted in min-member order (ref Common.pm:248-251)
    headers = [i for i, l in enumerate(lines) if l.startswith("DUPLICATES")]
    firsts = [lines[i + 1].strip() for i in headers]
    assert firsts == sorted(firsts)


def test_keep_canonical_drops_exactly_the_losers(spark, pages, corpus, cfg):
    clusters = exact_dup_clusters(pages, cfg)
    kept = keep_canonical(pages, clusters, "url")
    n_losers = clusters.where(~F.col("is_canonical")).count()
    assert kept.count() == len(corpus.rows) - n_losers
    # every cluster still has exactly its canonical member present
    canon = {r["url"] for r in clusters.where("is_canonical").collect()}
    kept_urls = {r["url"] for r in kept.select("url").collect()}
    assert canon <= kept_urls


def test_dup_summary_counters(spark, pages, corpus, cfg):
    clusters = exact_dup_clusters(pages, cfg)
    row = dup_summary(clusters).collect()[0]
    # fixture ground truth: clusters [3,5,4,4,2] + empty-doc cluster of 3
    assert row["n_docs"] == 3 + 5 + 4 + 4 + 2 + 3
    assert row["n_clusters"] == 6
    assert row["n_removable"] == row["n_docs"] - row["n_clusters"]


def test_human_report_df_matches_golden_format(spark):
    """S6 as a DataFrame: header line + indented members per cluster,
    line_no ordering renders the reference's t/009 golden shape."""
    import hashlib

    from app_dupfind_spark.operators.report import human_report_df

    docs = spark.createDataFrame(
        [("u1", "same text here"), ("u3", "same text here"),
         ("u2", "same text here"), ("u9", "loner text")],
        "url string, text string",
    )
    rows = sorted(
        ((r["cluster_id"], r["line_no"], r["line"])
         for r in human_report_df(docs, "url", "text").collect()),
    )
    digest = hashlib.md5(b"same text here").hexdigest()
    assert rows == [
        ("u1", 0, f"DUPLICATES (digest: {digest} | size: 14b)"),
        ("u1", 1, "   u1"),
        ("u1", 2, "   u2"),
        ("u1", 3, "   u3"),
    ]


def test_robot_report_member_cap_truncates_loudly(spark):
    """A >max_members cluster lists only the first N sorted members but
    keeps the full count and raises the truncated flag (never silent)."""
    clusters = spark.createDataFrame(
        [(i, 1) for i in range(1, 6)] + [(10, 10), (11, 10)],
        "doc_id long, cluster_id long",
    )
    rows = {
        r["cluster_id"]: r
        for r in robot_report(clusters, "doc_id", max_members=3).collect()
    }
    big = rows[1]
    assert big["n_members"] == 5
    assert big["members"] == "1\t2\t3"
    assert big["truncated"] is True
    small = rows[10]
    assert small["n_members"] == 2
    assert small["members"] == "10\t11"
    assert small["truncated"] is False


def _plan_exchanges(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [l for l in plan.splitlines() if "hashpartitioning" in l]


def test_report_surface_never_shuffles_text(spark):
    """Scale-shape assertion (VERDICT r2 #1): no exchange on the
    exact-cluster/report surface is keyed by the raw text column — all
    grouping shuffles ride xxhash64 digests / skinny columns."""
    from app_dupfind_spark.operators.report import human_report_df

    docs = spark.createDataFrame(
        [("u1", "alpha beta"), ("u2", "alpha beta"), ("u3", "gamma")],
        "url string, text string",
    )
    for df in (human_report_df(docs, "url", "text"),):
        for line in _plan_exchanges(df):
            assert "text#" not in line, line


def test_exact_query_surface_never_shuffles_text(spark):
    """Same assertion over the driver query surface built on
    q_exact_dup_clusters (robot/keep-canonical/summary/human)."""
    from app_dupfind_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    for q in (
        Q.q_exact_dup_clusters,
        Q.q_robot_report,
        Q.q_dedup_keep_canonical,
        Q.q_dup_summary_stats,
        Q.q_human_report,
    ):
        for line in _plan_exchanges(q(spark, sf)):
            assert "text#" not in line, (q.__name__, line)


def _plan_window_nodes(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [l for l in plan.splitlines() if "Window [" in l]


def test_exact_surface_has_no_digest_keyed_window(spark):
    """Plan-shape assertion (VERDICT r3 #7): the exact-cluster/report
    surface's min/count-per-digest runs as a join-based HAVING, never a
    Window partitioned by the digest — a degenerate mega-cluster (e.g.
    identical boilerplate pages) would funnel a digest window through
    one partition of one task, while groupBy+join gets map-side combine
    and AQE skew splitting.  Per-CLUSTER ordering windows (bounded by
    the robot member cap / report line numbering) remain legitimate."""
    from app_dupfind_spark import queries as Q
    from app_dupfind_spark.operators.report import human_report_df

    sf = "/root/testdata/sf0.001"
    docs = spark.createDataFrame(
        [("u1", "alpha beta"), ("u2", "alpha beta"), ("u3", "gamma")],
        "url string, text string",
    )
    surfaces = [
        ("q_exact_dup_clusters", Q.q_exact_dup_clusters(spark, sf)),
        ("q_robot_report", Q.q_robot_report(spark, sf)),
        ("q_human_report", Q.q_human_report(spark, sf)),
        ("human_report_df", human_report_df(docs, "url", "text")),
    ]
    for name, df in surfaces:
        for line in _plan_window_nodes(df):
            assert "digest#" not in line, (name, line)


def test_pipeline_path_has_no_digest_keyed_window(spark):
    """Pipeline-path analog of the surface assertion (VERDICT r4 #1):
    the PRODUCTION cluster assembly (clusters_from_digests over the
    cascade) and the exact star edges feeding CC run their min-per-
    digest as groupBy+join, never a Window partitioned by the digest —
    a degenerate exact mega-cluster (boilerplate/empty pages, 10^8
    identical docs at web scale) must not funnel through one task."""
    from app_dupfind_spark.config import DedupConfig
    from app_dupfind_spark.operators.dedup_pipeline import exact_star_edges
    from app_dupfind_spark.operators.exact import (
        clusters_from_digests,
        exact_dup_cascade,
    )

    docs = spark.createDataFrame(
        [("u1", "alpha beta"), ("u2", "alpha beta"), ("u3", "gamma")],
        "url string, text string",
    )
    dm = exact_dup_cascade(docs, DedupConfig(), "url", "text")
    for name, df in (
        ("clusters_from_digests", clusters_from_digests(dm, "url")),
        ("exact_star_edges", exact_star_edges(dm, "url")),
    ):
        for line in _plan_window_nodes(df):
            assert "digest#" not in line, (name, line)


def test_robot_report_count_not_windowed(spark):
    """VERDICT r4 #5: robot_report's n_members must come from a
    groupBy-count join, not count().over(cluster_id) — the count window
    routes a whole mega-cluster through one partition.  The remaining
    rank window is fine ONLY because its `__rn <= max_members` filter
    gets WindowGroupLimit pushdown (map-side per-group cap before the
    shuffle) — assert that pushdown actually fired."""
    from app_dupfind_spark.operators.report import robot_report

    clusters = spark.createDataFrame(
        [("c1", "u1"), ("c1", "u2"), ("c2", "u3")],
        "cluster_id string, url string",
    )
    df = robot_report(clusters, "url", max_members=2)
    for line in _plan_window_nodes(df):
        assert "count(" not in line, line
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, "rank-cap pushdown did not fire"
