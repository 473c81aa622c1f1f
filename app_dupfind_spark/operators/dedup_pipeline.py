"""The flagship end-to-end pipeline: exact + near dedup over a `pages`
table -> cluster assignments.

Stage graph (SURVEY §3.4), each stage checkpointable via PipelineRunner:

  pages (url, warc_ts, html, text, lang)
    -> canon    A5 keep-first per url (earliest warc_ts)
    -> exact    one (size | size,probe | xxhash64) count -> exact dup members
    -> sigs     shingle -> MinHash -> LSH band hashes (id, bands)
    -> cands    band buckets -> candidate pairs (skew-capped), paired
                straight off the sigs checkpoint
    -> span_cand (optional) long-shingle candidate index
    (exact, sigs->cands and span_cand depend only on canon and run
    CONCURRENTLY from a driver thread pool — guide §2.6 back-fill)
    -> verify   exact shingle-Jaccard gate on every candidate, one row
                per pair over the candidate docs' shingle arrays
                (deterministic truth, no estimator noise at the
                threshold boundary)
    -> spans    (optional) long-shared-span pairs the whole-doc LSH
                cannot see
    -> cc       large-star/small-star components over exact ∪ near edges
    -> clusters (url, cluster_id, is_canonical)

Exact dup groups enter CC as star edges (member -> digest-group min), so
exact and near evidence merge into one equivalence relation — the
reference's single final clustering (Common.pm:187) generalized.

Q1 early-exit (App.pm:268,285,302,319: `say '** NO DUPLICATES FOUND'
and exit`): a stage that empties its candidate set short-circuits its
downstream — empty candidates skip verification, and an empty edge set
skips connected components entirely (clusters degrade to all-singleton
without scheduling CC jobs).  Unlike the exact-only reference, an empty
EXACT dup set must NOT exit: the near-dup branch is independent.

A6 run counters (App.pm:424-429 scan/size-dup/real-dup triplet): ride
the stages' own actions via df.observe() — see runner.counters /
counters_df(); no second pass over any stage input.  The cands stage
adds `lsh_truncated_buckets` and `lsh_truncated_members` (LSH buckets
above lsh_bucket_cap, dropped from pairing) from bucket_pairs; the cc
stage adds `rounds` (star rounds run) and `driver_edges` (edges
finished on the driver) from connected_components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from app_dupfind_spark.config import DedupConfig
from app_dupfind_spark.operators.components import connected_components
from app_dupfind_spark.operators.exact import (
    clusters_from_digests,
    exact_dup_cascade,
    keep_first,
)
from app_dupfind_spark.operators.jaccard import exact_jaccard_for_pairs
from app_dupfind_spark.operators.minhash_lsh import (
    bucket_pairs,
    lsh_bands,
    signatures,
)
from app_dupfind_spark.operators.spans import span_candidates, shared_span_pairs
from app_dupfind_spark.plans.pipeline import PipelineRunner, input_fingerprint


def exact_star_edges(dup_members: DataFrame, id_col: str = "url") -> DataFrame:
    """Exact digest groups as (member, group_min) star edges for CC:
    the non-canonical rows of `clusters_from_digests` (groupBy-min +
    join back, never a digest-partitioned window)."""
    return (
        clusters_from_digests(dup_members, id_col)
        .where(~F.col("is_canonical"))
        .select(F.col(id_col).alias("a"), F.col("cluster_id").alias("b"))
    )


def assemble_clusters(
    docs: DataFrame, components: DataFrame, id_col: str = "url"
) -> DataFrame:
    """Attach component labels to all docs; unlabeled docs are singleton
    clusters of themselves.  cluster_id = component min (the
    reference's min-member cluster identity, Common.pm:248-251)."""
    labeled = docs.select(id_col).join(
        components.withColumnRenamed("node", id_col), id_col, "left"
    )
    return labeled.select(
        id_col,
        F.coalesce("component", F.col(id_col)).alias("cluster_id"),
    ).withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))


def _exact_verify(
    cands: DataFrame,
    docs: DataFrame,
    cfg: DedupConfig,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(a, b, jaccard): every candidate pair passes the exact
    shingle-Jaccard gate jaccard >= tau (operators/jaccard.py, one row
    per pair over the candidate docs' shingle arrays), so the verdict
    has no estimator noise at the threshold."""
    return (
        exact_jaccard_for_pairs(
            cands, docs, cfg.shingle_k, id_col, text_col
        )
        .where(F.col("jaccard") >= cfg.jaccard_threshold)
        .select("a", "b", "jaccard")
    )


def near_dup_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: DedupConfig,
    checkpoint_dir: str | None,
    id_col: str = "url",
    text_col: str = "text",
    order_col: str = "warc_ts",
    persist_mode: str = "parquet",
    source_fingerprint: str | None = None,
    iceberg_catalog: str | None = None,
    iceberg_namespace: str = "dupfind",
) -> tuple[DataFrame, PipelineRunner]:
    """Run (or resume) the full pipeline; returns (clusters, runner).

    Column pruning is explicit and early: html:binary never leaves the
    canon stage; only (id, text) reach the cascade, only (id, hashes)
    cross into Python.

    `source_fingerprint` pins the INPUT identity into the resume chain
    (pass an Iceberg snapshot id on a real cluster).  When omitted and
    the store resumes, a content fingerprint (count + id-hash sum) is
    computed in one column-pruned pass — re-pointing the same
    checkpoint dir at a different input can never silently resume the
    old corpus (the staleness hazard of count-only fingerprints).
    `persist_mode='memory'` takes `checkpoint_dir=None`.
    """
    from app_dupfind_spark.session import ensure_session_hygiene

    ensure_session_hygiene(spark)
    runner = PipelineRunner(
        spark, cfg, checkpoint_dir, persist_mode=persist_mode,
        iceberg_catalog=iceberg_catalog, iceberg_namespace=iceberg_namespace,
    )

    if source_fingerprint is None and runner.io.resumes:
        source_fingerprint = input_fingerprint(pages, id_col)
    runner.add_source("pages", source_fingerprint or "")

    def _canon() -> DataFrame:
        src = runner.observed(
            pages.select(id_col, order_col, text_col), "canon", "rows_in"
        )
        return keep_first(src, [id_col], order_col, id_col).select(id_col, text_col)

    canon = runner.run_stage("canon", _canon, inputs=("pages",))

    def _exact() -> DataFrame:
        obs = Observation()
        runner.track("exact", "cascade", obs)
        return exact_dup_cascade(canon.df, cfg, id_col, text_col, counters=obs)

    # --- concurrent independent stages (guide §2.6) -----------------
    # exact, the LSH chain (sigs -> cands) and the span candidate index
    # all depend ONLY on canon.  Driver code calling actions
    # sequentially was the only thing serializing them; submitting the
    # three chains from a small thread pool lets each job's tasks
    # back-fill executors freed by another job's stragglers (FIFO
    # scheduling does exactly this).  Stage outputs, fingerprints and
    # checkpoint dirs are per-stage, so the resume contract is
    # unchanged; metrics are re-sorted to the canonical stage order
    # below (the run summary stays deterministic).

    def _sigs_fn() -> DataFrame:
        # the checkpoint stores only what cands reads: 32 band hashes
        # per doc, not the 128-long signature.  No SimHash: lsh_bands
        # never reads it, so the optimizer prunes its UDF (verify gates
        # on exact Jaccard alone).
        return lsh_bands(signatures(canon.df, cfg, id_col, text_col), cfg, id_col)

    def _lsh_chain():
        s = runner.run_stage("sigs", _sigs_fn, inputs=("canon",))

        def _cands() -> DataFrame:
            obs = Observation()
            runner.track("cands", "lsh_truncation", obs)
            # s.df reads from the stage checkpoint — already a barrier
            return bucket_pairs(s.df, cfg, id_col, counters=obs)[0]

        return runner.run_stage("cands", _cands, inputs=("sigs",))

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_lsh = pool.submit(_lsh_chain)
        f_exact = pool.submit(
            runner.run_stage, "exact", _exact, inputs=("canon",)
        )
        f_span_cand = None
        if cfg.span_enabled:
            # the span candidate index (the stage's expensive half)
            # needs only canon; the verified-pair anti-join + LCS stay
            # downstream of verify in the 'spans' stage
            f_span_cand = pool.submit(
                runner.run_stage,
                "span_cand",
                lambda: span_candidates(canon.df, cfg, id_col, text_col),
                inputs=("canon",),
            )
        exact = f_exact.result()
        cands = f_lsh.result()
        span_cand = f_span_cand.result() if f_span_cand is not None else None

    _order = {
        s: i
        for i, s in enumerate(
            ["canon", "exact", "sigs", "cands", "span_cand", "verify",
             "spans", "cc", "clusters"]
        )
    }
    runner.metrics.sort(key=lambda m: _order.get(m["stage"], 99))

    # Q1: no candidates -> skip verification outright
    if cands.rows == 0:
        empty_verified = cands.df.select(
            "a", "b", F.lit(None).cast("double").alias("jaccard")
        ).limit(0)
        verified = runner.skip_stage(
            "verify", empty_verified, "no candidate pairs", inputs=("cands",)
        )
    else:
        verified = runner.run_stage(
            "verify",
            lambda: _exact_verify(cands.df, canon.df, cfg, id_col, text_col),
            inputs=("cands",),
        )

    # Span stage (M5): long-shared-span pairs the whole-doc LSH cannot
    # see (Jaccard far below threshold but a >=min_span_chars verbatim
    # run).  Candidates from the long-shingle index minus pairs already
    # verified; LCS gate in Arrow batches.  Independent of the LSH
    # branch, so an empty candidate set above does NOT skip it.
    if cfg.span_enabled:
        def _spans() -> DataFrame:
            fresh = span_cand.df.join(
                verified.df.select("a", "b"), ["a", "b"], "left_anti"
            )
            return shared_span_pairs(
                fresh, canon.df, cfg.min_span_chars, id_col, text_col,
                max_chars=cfg.span_max_chars,
            )

        spans = runner.run_stage("spans", _spans, inputs=("span_cand", "verify"))
        span_edges = spans.df.select("a", "b")
        n_span_edges = spans.rows
    else:
        span_edges = None
        n_span_edges = 0

    cc_inputs = ("verify", "exact") + (("spans",) if cfg.span_enabled else ())
    # Q1: no edges at all -> skip CC, clusters are all singletons
    if exact.rows == 0 and verified.rows == 0 and n_span_edges == 0:
        empty_cc = canon.df.select(
            F.col(id_col).alias("node"), F.col(id_col).alias("component")
        ).limit(0)
        cc = runner.skip_stage(
            "cc", empty_cc, "no dup evidence (NO DUPLICATES FOUND)",
            inputs=cc_inputs,
        )
    else:
        def _cc() -> DataFrame:
            near_edges = verified.df.select("a", "b")
            ex_edges = exact_star_edges(exact.df, id_col)
            edges = near_edges.unionByName(ex_edges)
            if span_edges is not None:
                edges = edges.unionByName(span_edges)
            return connected_components(
                edges, cfg.cc_max_iterations,
                counters=runner.counters.setdefault("cc", {}),
            )

        cc = runner.run_stage("cc", _cc, inputs=cc_inputs)

    clusters = runner.run_stage(
        "clusters",
        lambda: assemble_clusters(canon.df, cc.df, id_col),
        inputs=("cc",),
    )
    return clusters.df, runner
