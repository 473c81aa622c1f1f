"""Exact-duplicate cascade — the reference's core pipeline, relational.

Reference shape (/root/reference/lib/App/dupfind/Common.pm:38-204):
group by size -> drop singleton groups -> re-group by byte samples
("weed" passes) -> drop singletons -> group by full xxHash64 digest ->
drop singletons -> sorted clusters.  The reference orders the keys
cheap-to-expensive so it never READS a file the cheap keys pruned
(Guts.pm:218-222).

Spark realization: every key (size, fused weed probe, xxhash64 digest)
is projected in ONE pass over the text, before any shuffle, so the
staged pruning buys nothing — equal text => equal size and probe, and
the digest groups are the same whether or not the cheaper HAVINGs ran
first.  The cascade is therefore ONE count aggregate over grouping sets
(), (size), (size, probe) and (digest): the digest level decides the
output, the other levels are the reference's run-summary counters
(App.pm:424-429) for free.  The "master dupes hash" {key => [members]}
(Common.pm:337-367) stays in its exploded relational form
(key, member); no driver-side state, no collect.

Scale notes (100 TB):
- One Expand + one hash aggregate with map-side partial aggregation per
  grouping set: each map task forwards one row per key per level, so a
  10^8-row size-0 or boilerplate group stays skew-safe.  Probe keys for
  all configured weed passes are fused into one composite key, so the
  weed level is one grouping set however many passes are configured
  (the reference pays a full re-group per pass, Guts.pm:71-98).
- The digest level is global (crosses size groups), exactly like the
  reference's rekeying (Common.pm:187).
- Never carries `html:binary` or the full text through a shuffle;
  callers should select the minimal columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from app_dupfind_spark.config import DedupConfig
from app_dupfind_spark.functions.probes import WEED_PASS_REGISTRY
from app_dupfind_spark.plans.barriers import materialize_barrier


def with_size(df: DataFrame, text_col: str = "text") -> DataFrame:
    """P1: size-key projection (ref Common.pm:57, `-s $_`)."""
    return df.withColumn("size", F.length(F.col(text_col)).cast("long"))


def having_at_least(
    df: DataFrame, keys: list[str | Column], n: int = 2
) -> DataFrame:
    """P2: singleton-group elimination — THE load-bearing reduction,
    applied after every stage (ref Common.pm:63-65, 196-198;
    Guts.pm:145-147; MapReduce.pm:70-73).

    Implementation: groupBy-count (map-side partial aggregation makes
    the count itself skew-immune — each input partition contributes at
    most one row per key) + left-semi join back.  A count WINDOW would
    be one shuffle cheaper but funnels every row of a hot key through
    one partition with no mitigation; the shuffled semi-join is
    AQE-skew-splittable, which is what survives a 10^12-row size group.
    Null-safe: NULL probe keys group together and survive (the
    reference retains probe-failed files as potential dups,
    Guts.pm:137,158 — recall-preserving failure mode).
    """
    key_cols = [F.col(k) if isinstance(k, str) else k for k in keys]
    names = [f"__k{i}" for i in range(len(key_cols))]
    keyed = df.withColumns(dict(zip(names, key_cols)))
    survivors = (
        keyed.groupBy(*names)
        .agg(F.count(F.lit(1)).alias("__grp_n"))
        .where(F.col("__grp_n") >= n)
        .select(*[F.col(m).alias(f"{m}_s") for m in names])
    )
    # eqNullSafe: NULL keys are a real group (P4) and must survive the
    # join back — plain equi-join semantics would silently drop them
    cond = None
    for m in names:
        c = keyed[m].eqNullSafe(survivors[f"{m}_s"])
        cond = c if cond is None else (cond & c)
    out = keyed.join(survivors, on=cond, how="left_semi")
    return out.drop(*names)


def weed_key(cfg: DedupConfig, text_col: str = "text") -> Column:
    """A2: composite probe key for all configured weed passes, fused.

    The reference runs passes sequentially, re-grouping after each
    (Guts.pm:100-164); grouping by the concatenation of all pass probes
    is a strictly finer partition computed in one pass — same final
    survivor set for the cascade (equal text => equal probes), one
    shuffle total.  NULL probes (almost_middle on short text) map to a
    sentinel so probe-failed rows keep flowing (P4).
    """
    parts = []
    for name in cfg.weed_passes:
        probe = WEED_PASS_REGISTRY[name](F.col(text_col), cfg.probe_width)
        parts.append(F.coalesce(probe, F.lit("\x00__probe_null__")))
    return F.concat_ws("\x01", *parts)


def text_digest(text_col: str = "text") -> Column:
    """F1: full-content digest.  Spark's built-in xxhash64 (LongType,
    seed 42) — same algorithm family as the reference's Digest::xxHash
    (Common.pm:11); we keep it numeric rather than reproducing Perl's
    signed-hex rendering (t/solutions/007_digest.pl:6).
    Zero-length texts get the constant empty-digest without branching
    cost (ref Common.pm:127-128)."""
    return F.xxhash64(F.col(text_col))


def exact_dup_cascade(
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "url",
    text_col: str = "text",
    counters: Observation | None = None,
) -> DataFrame:
    """Exact dups as one grouping-sets count over the skinny keys.

    Returns (id_col, size, digest) for every member of a multi-member
    digest group — the relational "master dupes hash" after the digest
    stage (Common.pm:187-198).

    The skinny projection (id, size, probe, digest) sits behind a
    barrier: it is read by the aggregate and by the semi-join back, and
    without the barrier each reference would re-scan and re-hash the
    text.  The aggregate's n >= 2 groups sit behind a second barrier,
    whose eager action runs the aggregate exactly once, even when AQE
    later prunes the semi-join that reads them as empty.

    `counters` (A6): an optional Observation that receives the
    reference's run-summary counters (App.pm:424-429) from the
    unfiltered aggregate: `scan_members`, and for each level `size`,
    `weed` (only with `cfg.weed_passes`) and `digest`,
    `<level>_members` (rows in groups of n >= 2) and `<level>_groups`.
    Size-0 docs count in every level: they share one (size, probe).
    """
    base = df.select(id_col, text_col).where(F.col(text_col).isNotNull())
    base = with_size(base, text_col).where(F.col("size") <= cfg.max_chars)
    keys = ["size", "__probe", "digest"] if cfg.weed_passes else ["size", "digest"]
    skinny = materialize_barrier(
        base.select(
            F.col(id_col),
            F.col("size"),
            *([weed_key(cfg, text_col).alias("__probe")] if cfg.weed_passes else []),
            text_digest(text_col).alias("digest"),
        )
    )

    # grouping_id() sets bit (len(keys)-1-i) when keys[i] is NOT grouped
    levels = {"size": ["size"], "digest": ["digest"]}
    if cfg.weed_passes:
        levels["weed"] = ["size", "__probe"]

    def gid(grouped: list[str]) -> int:
        return sum(
            1 << (len(keys) - 1 - i) for i, k in enumerate(keys) if k not in grouped
        )

    groups = skinny.groupingSets([[], *levels.values()], *keys).agg(
        F.grouping_id().alias("__gid"), F.count(F.lit(1)).alias("__n")
    )
    if counters is not None:
        gid_col, n = F.col("__gid"), F.col("__n")
        exprs = [
            F.coalesce(F.sum(F.when(gid_col == gid([]), n)), F.lit(0))
            .alias("scan_members")
        ]
        for name, grouped in levels.items():
            hit = (gid_col == gid(grouped)) & (n >= 2)
            exprs += [
                F.coalesce(F.sum(F.when(hit, n)), F.lit(0)).alias(f"{name}_members"),
                F.count(F.when(hit, F.lit(1))).alias(f"{name}_groups"),
            ]
        groups = groups.observe(counters, *exprs)
    dup_groups = materialize_barrier(groups.where(F.col("__n") >= 2))
    dup_digests = dup_groups.where(F.col("__gid") == gid(["digest"])).select("digest")
    return skinny.join(dup_digests, "digest", "left_semi").select(
        id_col, "size", "digest"
    )


def clusters_from_digests(
    dup_members: DataFrame, id_col: str = "url"
) -> DataFrame:
    """O1/O2/O3: cluster assembly.  cluster_id = min(id) within digest
    group (lex-first member is the 'original', ref Common.pm:206-219,
    273); is_canonical marks the cluster minimum (keep-first semantics
    of the delete stage, Common.pm:263-300 — materialized as a column,
    the deletion itself is a MERGE/DELETE against the table, never
    row-at-a-time).

    Join-based, never a digest window (VERDICT r4 #1): a min/rank
    WINDOW partitioned by the digest funnels a degenerate exact
    mega-cluster (10^8 identical boilerplate/empty pages at web scale)
    through ONE task for the sort; groupBy-min gets map-side partial
    aggregation and the join back is AQE-skew-splittable — the same
    shape already proven on the query surface (queries.py
    q_exact_dup_clusters).  `is_canonical = (id == cluster_id)` is
    exactly rank-1 of the old (digest, id-asc) window because
    cluster_id IS the group minimum.  Enforced by the pipeline
    plan-shape test (tests/test_report.py)."""
    mins = dup_members.groupBy("digest").agg(F.min(id_col).alias("cluster_id"))
    cols = dup_members.columns
    return (
        dup_members.join(mins, "digest")
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
        .select(*cols, "cluster_id", "is_canonical")
    )


def exact_dup_clusters(
    df: DataFrame, cfg: DedupConfig, id_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """End-to-end exact pipeline: cascade + cluster assembly."""
    return clusters_from_digests(exact_dup_cascade(df, cfg, id_col, text_col), id_col)


def keep_first(
    df: DataFrame, key_cols: list[str], order_col: str, id_col: str = "url"
) -> DataFrame:
    """A5: dedup-by-composite-key, keep-first — the hardlink-prune
    analog (ref toss_out_hardlinks, Common.pm:70-94: keeps the
    asciibetically-first path per (dev,inode)).  Graft form: one row per
    key, earliest order_col wins, id_col as deterministic tiebreak.

    Plan shape: a pure min_by aggregate, NOT a row_number window — the
    aggregate gets map-side partial combine (each map task forwards one
    winner per key), so a degenerate mega-key shuffles one row per map
    partition instead of sorting its whole group in one task (the same
    de-windowing rule as clusters_from_digests above; a rank window
    would be WindowGroupLimit-eligible, but the aggregate needs no sort
    at all).  The (order_col, id_col) ordering struct is unique per row
    whenever id_col is, so the winner is deterministic."""
    return (
        df.groupBy(*key_cols)
        .agg(
            F.min_by(
                F.struct(*[F.col(c) for c in df.columns]),
                F.struct(F.col(order_col), F.col(id_col)),
            ).alias("__w")
        )
        .select("__w.*")
    )
