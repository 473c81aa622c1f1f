"""Output sinks — the reference's show/delete surface, relational.

S6 human sink: per-cluster header `DUPLICATES (digest: %s | size: %db)`
+ indented members (/root/reference/lib/App/dupfind/Common.pm:228-237).
S7 robot sink: one cluster per line, members tab-joined
(Common.pm:239-244), clusters ordered by their first (min) member
(Common.pm:248-251) with members sorted within (Common.pm:206-219).
S8 delete sink: unlink all but the first member of each sorted cluster
(Common.pm:263-300) — materialized here as the keep-canonical policy
(never row-at-a-time deletion; on Iceberg this is a MERGE/DELETE).

The report tables are tiny (clusters only), so collect-side rendering
of the human format is legitimate; the robot format stays a DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def robot_report(
    clusters: DataFrame, id_col: str = "url", max_members: int = 100
) -> DataFrame:
    """One row per multi-member cluster: (cluster_id, n_members,
    members) with members tab-joined in sorted order — the robot output
    contract (Common.pm:239-244).

    `members` lists at most `max_members` ids (the FIRST N in sorted
    order); `n_members` always counts the whole cluster and `truncated`
    flags capped rows — never silent.  Unbounded collect_list is the
    alternative: at web scale one degenerate mega-cluster (empty docs,
    boilerplate) would put the entire cluster in one row of one task.

    n_members comes from a groupBy-count join, NOT a count-over window
    (VERDICT r4 #5): a count window routes every row of a mega-cluster
    through one partition with no pushdown help, while the aggregate
    gets map-side combine.  The rank window stays — its `__rn <=
    max_members` filter is WindowGroupLimit-eligible (Spark 3.5+), so
    each map partition keeps only max_members rows per cluster BEFORE
    the window shuffle, bounding the funnel the count window couldn't.
    Members sort in the id's NATIVE order (numeric ids must not sort
    lexically)."""
    members = clusters.select("cluster_id", F.col(id_col).alias("__m"))
    counts = (
        members.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .where(F.col("n_members") >= 2)
    )
    wr = Window.partitionBy("cluster_id").orderBy(F.col("__m").asc())
    ranked = (
        members.withColumn("__rn", F.row_number().over(wr))
        .where(F.col("__rn") <= max_members)
        .join(counts, "cluster_id")
    )
    return ranked.groupBy("cluster_id").agg(
        F.first("n_members").alias("n_members"),
        F.concat_ws(
            "\t",
            F.transform(
                # collect_list order is nondeterministic post-shuffle;
                # sorting (rn, member) structs restores rank order
                F.sort_array(F.collect_list(F.struct("__rn", "__m"))),
                lambda s: s["__m"].cast("string"),
            ),
        ).alias("members"),
        (F.first("n_members") > F.lit(max_members)).alias("truncated"),
    )


def human_report_df(
    docs: DataFrame, id_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """S6 human sink as a DataFrame (driver-checkable, distributed):
    one row per report line, keyed (cluster_id, line_no) — line_no 0 is
    the cluster header `DUPLICATES (digest: %s | size: %db)`
    (Common.pm:228-237), lines 1..n are the indented members in sorted
    order (Common.pm:206-219).  Clusters order by cluster_id = min
    member (Common.pm:248-251); the (cluster_id, line_no) key IS that
    ordering, so the rendered report is just an ORDER BY.

    digest here is md5 hex (cross-engine-reproducible display digest;
    the pipeline's grouping digest stays xxhash64 — SURVEY §2.8 F1
    documents the signed-hex deviation).  Member lines use the
    reference's three-space indent (`say "   $_"`, Common.pm:234); the
    one remaining format deviation is the omitted trailing blank line
    per group (a row-oriented sink has no inter-group separator row).

    Scale shape: the only text-derived values the report needs — md5
    and length — are computed per-row in the scan projection, so the
    grouping shuffle moves skinny (member, digest, md5, size) rows
    keyed by xxhash64(text), never the corpus keyed by full text
    (the exact.py skinny-row discipline applied to the report path)."""
    skinny = docs.select(
        F.col(id_col).alias("member"),
        F.xxhash64(F.col(text_col)).alias("__digest"),
        F.md5(F.col(text_col)).alias("__md5"),
        F.length(text_col).cast("long").alias("__size"),
    )
    # join-based HAVING, not a digest count window (VERDICT r3 #7): a
    # mega-cluster would funnel one window partition through one task;
    # the aggregate gets map-side combine and the join is AQE-splittable
    agg = (
        skinny.groupBy("__digest")
        .agg(
            F.min("member").alias("cluster_id"),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("n") >= 2)
    )
    c = skinny.join(agg, "__digest").select(
        "member", "__md5", "__size", "cluster_id"
    )
    headers = c.where(F.col("member") == F.col("cluster_id")).select(
        "cluster_id",
        F.lit(0).cast("long").alias("line_no"),
        F.concat(
            F.lit("DUPLICATES (digest: "),
            F.col("__md5"),
            F.lit(" | size: "),
            F.col("__size").cast("string"),
            F.lit("b)"),
        ).alias("line"),
    )
    # the per-cluster rank window is the one deliberate window on this
    # path: line_no is the sink's OUTPUT (sequential member numbering
    # within a rendered group), so per-cluster ordering is the
    # semantics, not an implementation choice — any sink writing a
    # group's lines in order serializes that group.  The robot sink is
    # the scale-safe alternative (rank capped at max_members, count
    # folded in from an aggregate); the human format exists for
    # human-sized cluster counts (reference prints every member,
    # Common.pm:234 — same sequential group write).
    wm = Window.partitionBy("cluster_id").orderBy("member")
    members = c.select(
        "cluster_id",
        F.row_number().over(wm).cast("long").alias("line_no"),
        F.concat(F.lit("   "), F.col("member").cast("string")).alias("line"),
    )
    return headers.unionByName(members)


def human_report_lines(
    clusters_with_digest: DataFrame, id_col: str = "url"
) -> list[str]:
    """Driver-side human format (the report is inherently small):
    header per cluster + indented members, clusters in min-member
    order.  Digest rendered in hex like the reference's display (we do
    NOT round-trip through Perl's signed-hex — SURVEY §2.8 F1)."""
    rows = (
        clusters_with_digest.groupBy("cluster_id")
        .agg(
            F.first("digest").alias("digest"),
            F.first("size").alias("size"),
            F.sort_array(F.collect_list(id_col)).alias("members"),
        )
        .where(F.size("members") >= 2)
        .orderBy("cluster_id")
        .collect()
    )
    if not rows:
        # reference parity: App.pm prints this and exits early whenever
        # a stage empties the candidate set (Q1, App.pm:268-319)
        return ["NO DUPLICATES FOUND"]
    out = []
    for r in rows:
        out.append(f"DUPLICATES (digest: {r['digest']:x} | size: {r['size']}b)")
        # three-space member indent per the reference (Common.pm:234)
        out.extend(f"   {m}" for m in r["members"])
    return out


def keep_canonical(
    pages: DataFrame, clusters: DataFrame, id_col: str = "url"
) -> DataFrame:
    """S8 as a policy: the deduplicated corpus — one surviving row per
    cluster (the lex-first member), all non-cluster rows untouched.
    On Iceberg the same policy is an in-place MERGE DELETE — see
    `keep_canonical_merge` below; this DataFrame is that post-state."""
    losers = clusters.where(~F.col("is_canonical")).select(id_col)
    return pages.join(losers, id_col, "left_anti")


def keep_canonical_merge_sql(
    table: str, clusters_view: str, id_col: str = "url"
) -> str:
    """The S8 delete sink against an Iceberg table: one MERGE statement
    deleting every non-canonical cluster member in place (atomic
    snapshot commit; row-at-a-time unlink — Common.pm:263-300 — has no
    distributed analog and the reference's interactive prompt is
    deliberately unmapped, VERDICT r2)."""
    return (
        f"MERGE INTO {table} t USING {clusters_view} c "
        f"ON t.{id_col} = c.{id_col} "
        "WHEN MATCHED AND NOT c.is_canonical THEN DELETE"
    )


def keep_canonical_merge(
    spark, table: str, clusters: DataFrame, id_col: str = "url"
) -> None:
    """Execute the S8 MERGE DELETE against an Iceberg (or any
    MERGE-capable catalog) table.  Requires the runtime jar + catalog
    conf; the seam-selection test exercises the statement construction,
    the sandbox has no Iceberg runtime to run it (SURVEY §7)."""
    view = "__dupfind_keep_canonical_clusters"
    clusters.select(id_col, "is_canonical").createOrReplaceTempView(view)
    spark.sql(keep_canonical_merge_sql(table, view, id_col))


def dup_summary(clusters: DataFrame, n_scanned: int | None = None) -> DataFrame:
    """A4 rollup — the reference's run-summary counters (App.pm:424-429:
    files scanned / size dups / actual dupes): docs in multi-member
    clusters, clusters, and removable rows (count - one kept per
    cluster, Common.pm:257)."""
    return clusters.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col(  # docs sharing a cluster with someone else
            "cluster_id").isNotNull() & ~F.col("is_canonical")).cast("long")
        ).alias("n_removable"),
        F.countDistinct("cluster_id").alias("n_clusters"),
    )
