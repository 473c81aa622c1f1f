"""Driver-facing query surface: every implemented operator as a
(spark, sf_dir) -> DataFrame callable, with a DuckDB-equivalent ANSI
SQL oracle where the semantics are SQL-expressible.

Parity rules (the driver hash-compares values after sorting columns by
name):
- every computed column is aliased identically on both sides;
- integer results are BIGINT on both sides (Spark int -> cast long);
- doubles are rounded to 6dp on both sides;
- tokenization is pinned: lower -> regexp_replace('\\s+', ' ') -> trim
  -> split(' ') -> drop empty strings (DuckDB regexp_replace needs the
  'g' flag to match Spark's global replace).

Hash-dependent VALUE surfaces (raw MinHash rows, LSH candidate pairs,
SimHash words, LCS lengths) have no SQL value oracle — xxhash64 has no
DuckDB analog — so the driver records a rows-only check for them.
Their CORRECTNESS is driver-checked anyway through property queries
with real SQL oracles: lsh_recall_check (every exact-Jaccard pair >=
tau surfaces as an LSH candidate), simhash_exact_parity (byte-identical
texts produce identical signatures), span_check (candidate-index
equality + LCS exactness on byte-identical pairs), minhash_stats
(shingle counts + signature widths), embedding_ann_recall (planted
scale-duplicates are never missed by the banded LSH).  Multimodal
features use an integer-valued decoder and are fully value-checked.
Where the small fixtures lack the structure a property needs (no
byte-identical texts at sf<=0.01), the query plants deterministic
duplicates and the oracle replicates the planting literally.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from app_dupfind_spark.config import DedupConfig
from app_dupfind_spark.functions import probes, text as T
from app_dupfind_spark.functions.vectors import as_double_array
from app_dupfind_spark.operators import ann
from app_dupfind_spark.operators.components import connected_components
from app_dupfind_spark.operators.dedup_pipeline import near_dup_pipeline
from app_dupfind_spark.operators.exact import (
    clusters_from_digests,
    having_at_least,
    keep_first,
)
from app_dupfind_spark.operators.jaccard import jaccard_pairs
from app_dupfind_spark.operators.minhash_lsh import candidate_pairs, signatures
from app_dupfind_spark.session import ensure_session_hygiene
from app_dupfind_spark.operators.multimodal import extract_features
from app_dupfind_spark.operators.report import (
    dup_summary,
    human_report_df,
    keep_canonical,
    robot_report,
)
from app_dupfind_spark.operators.spans import span_candidates, shared_span_pairs

# ---- pinned query-level parameters (mirrored literally in the SQL) ----
JACCARD_K = 5
JACCARD_TAU = 0.5
NEAR_CLUSTER_TAU = 0.7
SPAN_WORDS = 20
SPAN_MAX_DF = 100
SPAN_CHECK_MIN = 100       # min_span_chars for the span property check
TOPK_K = 5
TOPK_QUERIES = 20          # vec_id < 20 are the query set
COSINE_TAU = 0.4
# embedding tables: dim pinned by TESTDATA.md (array schemas carry no
# length; probing a row for it would be a driver action in plan-build)
EMB_DIM = 64
EXACT_BLOCKS = 16          # blocked exact all-pairs layout
ANN_TAU = 0.99             # scale-dup threshold for the LSH recall check
# calibrated to the ANN_TAU=0.99 operating point: rows_per_band is the
# false-candidate throttle (P[share a band] = p(c)^rows per band,
# p(c) = 1 - arccos(c)/pi).  rows=8 measured 8.07M bucket pairs on the
# correlated 20k-vector bench corpus (ambient cos ~0.15 -> p^8 ~ 8e-3
# per band) and the re-rank dominated the suite; rows=16 cuts that to
# p^16 ~ 7e-5 while the planted-pair recall guarantee stays
# DETERMINISTIC (identical directions share every band's code for any
# bands x rows).
ANN_BANDS = 4
ANN_ROWS = 16
IVF_CELLS = 16             # coarse-quantizer cells for the IVF path
IVF_NPROBE = 2
PLANT_N = 50               # planted scale-duplicates for the recall check
PLANT_OFFSET = 1_000_000
# planted byte-identical copies for the exact-dup property checks: the
# sf<=0.01 fixtures contain NO byte-identical texts, which would leave
# those checks vacuously green.  Planting is deterministic and mirrored
# literally in the SQL oracles.
PLANT_DOC_N = 25
ROBOT_MAX_MEMBERS = 100    # robot-report member-list cap (never silent)
NGRAM_MAX_DF = 100         # shingle document-frequency cap (skew guard)

CFG = DedupConfig()
NEAR_CFG = DedupConfig(jaccard_threshold=NEAR_CLUSTER_TAU, span_enabled=False)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_session_hygiene(spark)
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ byte-identical copies of the first PLANT_DOC_N docs
    (doc_id shifted by PLANT_OFFSET) — deterministic exact-dup pairs
    for property checks on corpora that have none naturally."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    copies = d.where(F.col("doc_id") < PLANT_DOC_N).withColumn(
        "doc_id", F.col("doc_id") + F.lit(PLANT_OFFSET)
    )
    return d.unionByName(copies)


# the SQL mirror of _docs_planted
_PLANTED_CTE = f"""
planted AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {PLANT_OFFSET}, text FROM documents WHERE doc_id < {PLANT_DOC_N}
)"""


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_session_hygiene(spark)
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --------------------------------------------------------------------
# Reference-cascade operators (SURVEY §2.1-2.4) over `documents`
# --------------------------------------------------------------------

def q_same_size_candidates(spark, sf_dir):
    """A1+P1+P2: docs whose text length collides with another doc's —
    the reference's scanfs stage output (size -> members, singleton
    groups dropped)."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.length("text").cast("long").alias("size")
    )
    return having_at_least(d, ["size"]).select("doc_id", "size")


def q_weed_survivors(spark, sf_dir):
    """A2+P2: docs surviving the (size, first_middle_last-probe) group
    HAVING — the reference's weed stage at --wpsize 32."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.length("text").cast("long").alias("size"),
        probes.first_middle_last_chars(F.col("text"), CFG.probe_width).alias("__p"),
    )
    sized = having_at_least(d, ["size"])
    return having_at_least(sized, ["size", "__p"]).select("doc_id", "size")


def q_exact_dup_clusters(spark, sf_dir):
    """A3+O1/O3: every doc labeled with its exact-duplicate cluster
    (cluster_id = min doc_id over byte-identical text).

    Grouping key is xxhash64(text), NOT the text itself: the shuffle
    moves 16-byte (doc_id, digest) rows instead of the whole corpus
    keyed by full document text — the same skinny-row discipline as the
    pipeline cascade (operators/exact.py).  The reference groups by
    digest too (Common.pm:187); collision odds at 2^-64 are the
    documented trade the pipeline already accepts (exact.py F1).

    Runs the pipeline's own `clusters_from_digests`, which is
    join-based, not a digest window (VERDICT r3 #7): a count/min WINDOW
    funnels a degenerate mega-cluster (identical boilerplate pages)
    through one partition of one task; groupBy gets map-side partial
    aggregation and AQE skew handling, and the join back is
    AQE-splittable.  Enforced by a plan-shape test (no Window node
    partitioned by the digest on this surface)."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.xxhash64("text").alias("digest")
    )
    return clusters_from_digests(d, "doc_id").select(
        "doc_id", "cluster_id", "is_canonical"
    )


def q_keep_first_per_key(spark, sf_dir):
    """A5: dedup-by-composite-key keep-first (hardlink-prune analog):
    one row per (lang, source), smallest doc_id wins."""
    d = _docs(spark, sf_dir).select("lang", "source", "doc_id")
    return keep_first(d, ["lang", "source"], "doc_id", "doc_id").select(
        "lang", "source", "doc_id"
    )


def q_robot_report(spark, sf_dir):
    """S7 robot sink: tab-joined sorted members per multi-member exact
    cluster, one line per cluster (Common.pm:239-244), member list
    capped at ROBOT_MAX_MEMBERS (full count + truncated flag kept).
    Planted dups so the format/cap path is value-exercised, not an
    empty frame (fixtures have no natural byte-identical texts)."""
    d = _docs_planted(spark, sf_dir).select(
        "doc_id", F.xxhash64("text").alias("digest")
    )
    clusters = clusters_from_digests(d, "doc_id").select("doc_id", "cluster_id")
    return robot_report(clusters, "doc_id", max_members=ROBOT_MAX_MEMBERS).select(
        "cluster_id",
        F.col("n_members").cast("long").alias("n_members"),
        "members",
        "truncated",
    )


def q_dedup_keep_canonical(spark, sf_dir):
    """S8 keep-first policy: the deduplicated corpus (one row per exact
    cluster, lex-first doc wins; non-dups untouched)."""
    d = _docs(spark, sf_dir)
    kept = keep_canonical(d, q_exact_dup_clusters(spark, sf_dir), "doc_id")
    return kept.select("doc_id", "lang", "source")


def q_dup_summary_stats(spark, sf_dir):
    """A4 rollup: the reference's run-summary counters as a table."""
    return dup_summary(q_exact_dup_clusters(spark, sf_dir))


# --------------------------------------------------------------------
# Near-dup operators (graft additions)
# --------------------------------------------------------------------

def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact shingle-Jaccard similarity join (inverted index plan) with
    the NGRAM_MAX_DF document-frequency cap active — the scale-safe
    plan (boilerplate shingles in m docs make m² pairs) is the checked
    artifact, and the number of capped shingles rides every row
    (never-silent truncation, mirrored in the oracle CTE)."""
    p = jaccard_pairs(
        _docs(spark, sf_dir), JACCARD_K, JACCARD_TAU, "doc_id", "text",
        max_shingle_df=NGRAM_MAX_DF, capped_count_col="n_capped_shingles",
    )
    return p.select(
        "a",
        "b",
        F.col("n_common").cast("long").alias("n_common"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        "jaccard",
        "n_capped_shingles",
    )


def q_jaccard_components(spark, sf_dir):
    """J3: connected components (large-star/small-star) over the exact
    Jaccard pair graph; every doc labeled, singletons label themselves."""
    d = _docs(spark, sf_dir)
    pairs = jaccard_pairs(d, JACCARD_K, JACCARD_TAU, "doc_id", "text")
    comp = connected_components(pairs.select("a", "b"), CFG.cc_max_iterations)
    return (
        d.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce("component", F.col("doc_id")).alias("cluster_id")
        )
    )


def q_near_dup_clusters(spark, sf_dir):
    """Flagship: full exact+near pipeline over documents (LSH candidates,
    exact-Jaccard gate at 0.7, exact-dup union, CC)."""
    d = _docs(spark, sf_dir).withColumn("__ord", F.col("doc_id"))
    # the memory store: a query never resumes, so durable parquet
    # round-trips, a checkpoint dir and the input-content scan buy
    # nothing here (resume + staleness are exercised by the job
    # entrypoint and the pipeline tests); the stage graph and barriers
    # are identical
    clusters, _ = near_dup_pipeline(
        spark,
        d,
        NEAR_CFG,
        None,
        id_col="doc_id",
        text_col="text",
        order_col="__ord",
        persist_mode="memory",
    )
    return clusters.select("doc_id", "cluster_id", "is_canonical")


def q_span_candidate_pairs(spark, sf_dir):
    """Span-stage candidate generation: pairs sharing >= 1 distinct
    20-word shingle (document frequency in [2, 100]).  Sampling off so
    the oracle semantics are exact, not probabilistic."""
    return span_candidates(
        _docs(spark, sf_dir),
        DedupConfig(span_shingle_words=SPAN_WORDS, span_sample_mod=1),
        "doc_id",
        "text",
        max_shingle_df=SPAN_MAX_DF,
    )


# --------------------------------------------------------------------
# Text-analysis operators
# --------------------------------------------------------------------

def q_lang_id(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", T.lang_id(F.col("text")).alias("lang_pred")
    )


def q_quality_scores(spark, sf_dir):
    # bind-then-arithmetic discipline: a projection containing an
    # interpreted HOF falls out of codegen WHOLE, losing common-
    # subexpression elimination for everything in it — so stage 1 binds
    # every text/token-derived scalar exactly once (token stats fused
    # into ONE fold via token_stats), and stage 2 is pure bound-column
    # arithmetic reproducing quality_features/quality_score bit-for-bit
    bound = _docs(spark, sf_dir).select(
        "doc_id", "text", T.tokens(F.col("text")).alias("__tok")
    ).select(
        "doc_id",
        F.length("text").alias("__nc"),
        F.size("__tok").alias("__nt"),
        T.token_stats(F.col("__tok")).alias("__ts"),
        F.regexp_count("text", F.lit(r"[^\w\s]")).alias("__np"),
        F.regexp_count("text", F.lit(r"[0-9]")).alias("__nd"),
    )
    nt = F.col("__nt")
    safe_tok = F.greatest(nt, F.lit(1))
    safe_chars = F.greatest(F.col("__nc"), F.lit(1))
    punct = F.round(F.col("__np") / safe_chars.cast("double"), 6)
    digit = F.round(F.col("__nd") / safe_chars.cast("double"), 6)
    quality = F.round(
        F.lit(0.4) * F.least(nt / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - F.least(punct * 5, F.lit(1.0)))
        + F.lit(0.3) * (F.lit(1.0) - F.least(digit * 5, F.lit(1.0))),
        6,
    )
    return bound.select(
        "doc_id",
        F.col("__nc").cast("long").alias("n_chars"),
        nt.cast("long").alias("n_tokens"),
        F.round(
            F.element_at("__ts", 1) / safe_tok.cast("double"), 6
        ).alias("mean_token_len"),
        punct.alias("punct_ratio"),
        digit.alias("digit_ratio"),
        F.round(
            F.element_at("__ts", 2) / safe_tok.cast("double"), 6
        ).alias("stopword_ratio"),
        quality.alias("quality"),
    )


def q_token_counts(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id",
        T.token_count_ws(F.col("text")).cast("long").alias("n_ws_tokens"),
        T.token_count_subword(F.col("text")).cast("long").alias("n_subword_tokens"),
    )


def q_doc_fingerprints(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", T.make_fingerprint_udf()(F.col("text")).alias("fingerprint")
    )


def q_binary_meta(spark, sf_dir):
    """Binary-column plumbing: utf-8 byte length + hex magic prefix of
    the text treated as an opaque blob."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.hex(F.substring("text", 1, 4)).alias("magic_hex"),
    )


# --------------------------------------------------------------------
# Embedding similarity operators
# --------------------------------------------------------------------

def q_embedding_topk(spark, sf_dir):
    e = _embs(spark, sf_dir)
    out = ann.cosine_topk(
        e, e.where(F.col("vec_id") < TOPK_QUERIES), TOPK_K, "vec_id", "embedding"
    )
    return out.select(
        "query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id", "cos_sim"
    )


def q_embedding_near_dup(spark, sf_dir):
    """Exact all-pairs cosine join in the BLOCKED-GEMM layout (ann.py):
    equal (n/B)^2 tasks, each one numpy matrix multiply — no broadcast
    cartesian, no straggler, no interpreted per-pair math.  The
    sublinear production path is the banded LSH (embedding_ann_recall
    checks its recall property against this exact truth)."""
    return ann.blocked_gemm_pairs(
        _embs(spark, sf_dir), COSINE_TAU, EXACT_BLOCKS, "vec_id", "embedding"
    )


def q_embedding_ann_recall(spark, sf_dir):
    """Recall-property oracle for the banded hyperplane-LSH path: plant
    PLANT_N deterministic scale-duplicates (1.5x copies — identical
    direction, cosine 1, hence the same sign code in EVERY band), then
    assert the bucketed path misses none of the exact >=ANN_TAU truth.
    Identical directions share every band bucket deterministically, so
    n_missed = 0 is a certainty, not a probabilistic expectation.

    The truth side is BOUNDED (VERDICT r3 #5): every planted pair has
    a planted endpoint, so truth = exact cosine pairs INCIDENT to the
    planted id set (sources < PLANT_N, copies >= PLANT_OFFSET) via the
    broadcast query-side operator — O(n x 2*PLANT_N), sub-quadratic,
    instead of the all-pairs GEMM that went quadratic at the bench's
    next scale point.  The oracle applies the same endpoint
    restriction; the n_missed = 0 guarantee is unchanged."""
    e = _embs(spark, sf_dir)
    base = e.select("vec_id", as_double_array(F.col("embedding")).alias("embedding"))
    planted = e.where(F.col("vec_id") < PLANT_N).select(
        (F.col("vec_id") + PLANT_OFFSET).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 1.5).alias("embedding"),
    )
    allv = base.unionByName(planted)
    pside = allv.where(
        (F.col("vec_id") < PLANT_N) | (F.col("vec_id") >= PLANT_OFFSET)
    )
    truth = ann.cosine_pairs_vs_queries(
        allv, pside, ANN_TAU, "vec_id", "embedding"
    ).select("a", "b")
    found, _skew = ann.banded_lsh_neighbors(
        allv, ANN_TAU, dim=EMB_DIM, bands=ANN_BANDS, rows_per_band=ANN_ROWS,
        seed=CFG.seed, id_col="vec_id", vec_col="embedding",
    )
    missed = truth.join(found.select("a", "b"), ["a", "b"], "left_anti")
    return truth.agg(
        F.count(F.lit(1)).cast("long").alias("n_true_pairs")
    ).crossJoin(missed.agg(F.count(F.lit(1)).cast("long").alias("n_missed")))


MULTIPROBE_N = 12          # engineered pairs for the multi-probe check
MULTIPROBE_SEED = 777      # construction seed (NOT the plane seed)
MULTIPROBE_A_BASE = 3_000_000
MULTIPROBE_B_BASE = 4_000_000


def _multiprobe_plants() -> list[tuple[list[float], list[float]]]:
    """MULTIPROBE_N (v, c) vector pairs engineered against the ACTUAL
    seeded hyperplanes (ann.lsh_planes — the same matrix the executor
    UDF uses) such that, deterministically:
      - every band's sign code differs between v and c  -> probe_bits=0
        can never bucket them together (n_missed_probe0 == N);
      - at least one band differs in EXACTLY one sign bit -> probe_bits=1
        (single-bit-flip probing) always buckets them;
      - cos(v, c) >= ANN_TAU + margin                    -> the exact
        re-rank keeps the pair.
    Construction: reflect v across the min-|projection| plane of each
    band in turn, then verify all three properties numerically and
    reject failures (cross-talk between reflections).  Projection
    magnitudes are also required > 1e-6 so executor-side GEMM rounding
    can never flip a sign vs this driver-side matvec.  Pure numpy on
    the driver, no Spark action, fully deterministic."""
    import numpy as np

    planes = ann.lsh_planes(EMB_DIM, ANN_BANDS, ANN_ROWS, CFG.seed)
    rng = np.random.default_rng(MULTIPROBE_SEED)
    out: list[tuple[list[float], list[float]]] = []
    while len(out) < MULTIPROBE_N:
        v = rng.standard_normal(EMB_DIM)
        v /= np.linalg.norm(v)
        c = v.copy()
        for b in range(ANN_BANDS):
            block = planes[:, b * ANN_ROWS:(b + 1) * ANN_ROWS]
            j = int(np.argmin(np.abs(c @ block)))
            n = block[:, j] / np.linalg.norm(block[:, j])
            c = c - 2.0 * float(c @ n) * n
        bits_v = (v @ planes) > 0
        bits_c = (c @ planes) > 0
        ham = (
            bits_v.reshape(ANN_BANDS, ANN_ROWS)
            != bits_c.reshape(ANN_BANDS, ANN_ROWS)
        ).sum(axis=1)
        cos = float(v @ c) / float(np.linalg.norm(v) * np.linalg.norm(c))
        margin = min(np.abs(v @ planes).min(), np.abs(c @ planes).min())
        if (
            (ham >= 1).all()
            and (ham == 1).any()
            and cos >= ANN_TAU + 1e-4
            and margin > 1e-6
        ):
            out.append(([float(x) for x in v], [float(x) for x in c]))
    return out


def q_ann_multiprobe_recall_check(spark, sf_dir):
    """Recall-property oracle for the multi-probe branch of the banded
    hyperplane LSH (ann.py probe_bits>=1): plant engineered
    near-identical pairs (see _multiprobe_plants) into the embeddings
    corpus; probe_bits=0 must miss ALL of them (control column — the
    planting provably defeats plain bucketing) and probe_bits=1 must
    miss NONE (single-bit flips close the recall).  Both counts are
    certainties by construction, so the oracle is constant."""
    plants = _multiprobe_plants()
    rows = [
        (MULTIPROBE_A_BASE + i, v) for i, (v, _) in enumerate(plants)
    ] + [
        (MULTIPROBE_B_BASE + i, c) for i, (_, c) in enumerate(plants)
    ]
    planted = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    base = _embs(spark, sf_dir).select(
        "vec_id", as_double_array(F.col("embedding")).alias("embedding")
    )
    allv = base.unionByName(planted)
    truth = spark.createDataFrame(
        [(MULTIPROBE_A_BASE + i, MULTIPROBE_B_BASE + i)
         for i in range(len(plants))],
        "a long, b long",
    )
    found0, _ = ann.banded_lsh_neighbors(
        allv, ANN_TAU, dim=EMB_DIM, bands=ANN_BANDS, rows_per_band=ANN_ROWS,
        seed=CFG.seed, id_col="vec_id", vec_col="embedding", probe_bits=0,
    )
    found1, _ = ann.banded_lsh_neighbors(
        allv, ANN_TAU, dim=EMB_DIM, bands=ANN_BANDS, rows_per_band=ANN_ROWS,
        seed=CFG.seed, id_col="vec_id", vec_col="embedding", probe_bits=1,
    )
    m0 = truth.join(found0.select("a", "b"), ["a", "b"], "left_anti").agg(
        F.count(F.lit(1)).cast("long").alias("n_missed_probe0")
    )
    m1 = truth.join(found1.select("a", "b"), ["a", "b"], "left_anti").agg(
        F.count(F.lit(1)).cast("long").alias("n_missed_probe1")
    )
    return (
        truth.agg(F.count(F.lit(1)).cast("long").alias("n_planted"))
        .crossJoin(m0)
        .crossJoin(m1)
    )


def q_ivf_recall_check(spark, sf_dir):
    """Recall-property oracle for the IVF (coarse-quantized) ANN path:
    plant PLANT_N byte-identical vector copies; each copy's IVF top-1
    neighbor must be its source at cosine 1.0 — identical vectors are
    assigned the same cell deterministically, so cell probing can never
    separate them.  n_missed = 0 is a certainty, not an expectation."""
    e = _embs(spark, sf_dir)
    base = e.select(
        "vec_id", as_double_array(F.col("embedding")).alias("embedding")
    )
    planted = base.where(F.col("vec_id") < PLANT_N).select(
        (F.col("vec_id") + PLANT_OFFSET).alias("vec_id"), "embedding"
    )
    allv = base.unionByName(planted)
    cents = ann.train_ivf_centroids(
        allv, IVF_CELLS, seed=CFG.seed, id_col="vec_id", vec_col="embedding"
    )
    top1 = ann.ivf_topk(
        allv, planted, cents, k=1, nprobe=IVF_NPROBE,
        id_col="vec_id", vec_col="embedding",
    ).where(F.col("rank") == 1)
    # the invariant is "a cosine-1 neighbor is found" — NOT "the source
    # id wins the tie": if the fixture ever holds another vector at
    # cosine ~1 with a smaller id, rank-1 legitimately goes to it
    ok = top1.where(F.col("cos_sim") >= 0.999999)
    n_q = planted.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    n_ok = ok.agg(F.count(F.lit(1)).alias("__ok"))
    return n_q.crossJoin(n_ok).select(
        "n_queries",
        (F.col("n_queries") - F.col("__ok")).cast("long").alias("n_missed"),
    )


# --------------------------------------------------------------------
# Hash-native operators (rows-only check: no SQL oracle can reproduce
# xxhash64/MinHash; verified against the python oracle in tests/)
# --------------------------------------------------------------------

def q_minhash_signatures(spark, sf_dir):
    """One row per (doc, permutation) — scalar-sortable for the driver
    canonicalizer (array columns crash pandas lexsort); row count =
    n_shingled_docs * num_perm is itself a checkable invariant."""
    sigs = signatures(_docs(spark, sf_dir), CFG, "doc_id", "text")
    # posexplode_OUTER + explicit null filter: plain posexplode makes
    # Catalyst infer `size(minhash) > 0` and push it BELOW the
    # repartition with the UDF inlined — re-running MinHash serially on
    # the pre-shuffle layout (measured 17x).  Outer generate infers no
    # filter; the null rows are dropped after.
    return (
        sigs.select(
            "doc_id",
            F.posexplode_outer("minhash").alias("perm_idx", "minhash_val"),
        )
        .where(F.col("perm_idx").isNotNull())
        .select(
            "doc_id",
            F.col("perm_idx").cast("long").alias("perm_idx"),
            "minhash_val",
        )
    )


def q_minhash_stats(spark, sf_dir):
    """SQL-checkable surface of the signature stage: the distinct
    shingle count per doc and the signature width (num_perm for
    shingled docs, 0 for short docs on the exact-only bypass)."""
    sigs = signatures(_docs(spark, sf_dir), CFG, "doc_id", "text")
    return sigs.select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.when(F.col("minhash").isNull(), F.lit(0))
        .otherwise(F.size("minhash"))
        .cast("long")
        .alias("n_perm"),
    )


def q_lsh_candidate_pairs(spark, sf_dir):
    sigs = signatures(_docs(spark, sf_dir), CFG, "doc_id", "text")
    pairs, _ = candidate_pairs(sigs, CFG, "doc_id")
    return pairs.select("a", "b", F.col("n_bands").cast("long").alias("n_bands"))


def q_lsh_recall_check(spark, sf_dir):
    """Property oracle for the LSH candidate stage: every exact-Jaccard
    pair >= NEAR_CLUSTER_TAU (SQL-computable truth) must surface as an
    LSH candidate.  n_missed = 0 converts 'trust the pytest oracle'
    into a green driver row; n_true_pairs anchors non-vacuity."""
    d = _docs(spark, sf_dir)
    truth = jaccard_pairs(
        d, CFG.shingle_k, NEAR_CLUSTER_TAU, "doc_id", "text"
    ).select("a", "b")
    sigs = signatures(d, CFG, "doc_id", "text")
    cand, _skew = candidate_pairs(sigs, CFG, "doc_id")
    missed = truth.join(cand.select("a", "b"), ["a", "b"], "left_anti")
    return truth.agg(
        F.count(F.lit(1)).cast("long").alias("n_true_pairs")
    ).crossJoin(missed.agg(F.count(F.lit(1)).cast("long").alias("n_missed")))


def q_simhash_values(spark, sf_dir):
    return signatures(_docs(spark, sf_dir), CFG, "doc_id", "text").select(
        "doc_id", "simhash"
    )


def q_simhash_exact_parity(spark, sf_dir):
    """Property oracle for the hash-native signatures: byte-identical
    texts MUST produce identical MinHash arrays and SimHash words
    (determinism across partitions/rows is the resumability contract).
    Runs over the planted-dup corpus: the small fixtures contain no
    natural byte-identical pairs, so the check would be vacuous."""
    d = _docs_planted(spark, sf_dir)
    sigs = signatures(d, CFG, "doc_id", "text")
    # byte-identical pairs found via xxhash64 equality (skinny 8-byte
    # join key, not the full text — same discipline as exact.py)
    t = d.select("doc_id", F.xxhash64("text").alias("__h"))
    pairs = (
        t.alias("x")
        .join(t.alias("y"), F.col("x.__h") == F.col("y.__h"))
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
    )
    sa = sigs.select(
        F.col("doc_id").alias("a"),
        F.col("minhash").alias("mh_a"),
        F.col("simhash").alias("sh_a"),
    )
    sb = sigs.select(
        F.col("doc_id").alias("b"),
        F.col("minhash").alias("mh_b"),
        F.col("simhash").alias("sh_b"),
    )
    j = (
        pairs.join(sa, "a")
        .join(sb, "b")
        .where(F.col("mh_a").isNotNull() & F.col("mh_b").isNotNull())
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact_pairs"),
        F.coalesce(
            F.sum((F.col("sh_a") != F.col("sh_b")).cast("long")), F.lit(0)
        ).alias("n_simhash_mismatch"),
        F.coalesce(
            F.sum((F.col("mh_a") != F.col("mh_b")).cast("long")), F.lit(0)
        ).alias("n_minhash_mismatch"),
    )


def q_shared_span_pairs(spark, sf_dir):
    d = _docs(spark, sf_dir)
    cfg = DedupConfig(span_shingle_words=SPAN_WORDS, min_span_chars=SPAN_CHECK_MIN)
    cand = span_candidates(d, cfg, "doc_id", "text", max_shingle_df=SPAN_MAX_DF)
    return shared_span_pairs(
        cand, d, cfg.min_span_chars, "doc_id", "text",
        max_chars=cfg.span_max_chars,
    ).select("a", "b", F.col("lcs_len").cast("long").alias("lcs_len"))


def q_span_check(spark, sf_dir):
    """Property oracle for the span stage: (1) the candidate index is
    exactly the SQL-predictable shared-shingle pair set (sampling off),
    (2) span pairs are a subset of candidates with lcs_len >= min,
    (3) byte-identical docs long enough to carry a full shingle window
    appear with lcs_len == length(text) — the LCS kernel's exactness on
    a SQL-derivable subset (planted dups: fixtures have none
    naturally)."""
    d = _docs_planted(spark, sf_dir)
    cfg = DedupConfig(
        span_shingle_words=SPAN_WORDS, min_span_chars=SPAN_CHECK_MIN,
        span_sample_mod=1,
    )
    cand = span_candidates(
        d, cfg, "doc_id", "text", max_shingle_df=SPAN_MAX_DF
    ).localCheckpoint(eager=True)
    spans = shared_span_pairs(
        cand, d, cfg.min_span_chars, "doc_id", "text",
        max_chars=cfg.span_max_chars,
    ).localCheckpoint(eager=True)
    # per-row derived columns in the scan projection; the dup join
    # rides the 8-byte digest, never the full text
    t = d.select(
        "doc_id",
        F.xxhash64("text").alias("__h"),
        F.length("text").cast("long").alias("__len"),
        F.size(T.tokens(F.col("text"))).alias("__nt"),
    )
    ex = (
        t.alias("x")
        .join(t.alias("y"), F.col("x.__h") == F.col("y.__h"))
        .where(
            (F.col("x.doc_id") < F.col("y.doc_id"))
            & (F.col("x.__len") >= SPAN_CHECK_MIN)
            & (F.col("x.__nt") >= SPAN_WORDS)
        )
        .select(
            F.col("x.doc_id").alias("a"),
            F.col("y.doc_id").alias("b"),
            F.col("x.__len").alias("len"),
        )
    )
    bad_exact = ex.join(spans, ["a", "b"], "left").where(
        F.col("lcs_len").isNull() | (F.col("lcs_len") != F.col("len"))
    )
    outside = spans.join(cand, ["a", "b"], "left_anti")
    below = spans.where(F.col("lcs_len") < SPAN_CHECK_MIN)
    return (
        cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidate_pairs"))
        .crossJoin(ex.agg(F.count(F.lit(1)).cast("long").alias("n_exact_pairs")))
        .crossJoin(
            outside.agg(F.count(F.lit(1)).cast("long").alias("n_outside_candidates"))
        )
        .crossJoin(below.agg(F.count(F.lit(1)).cast("long").alias("n_below_min")))
        .crossJoin(
            bad_exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact_violations"))
        )
    )


def q_multimodal_features(spark, sf_dir):
    """Binary->feature plumbing over mapInPandas, exploded to one row
    per (asset, dim) — scalar-sortable AND value-checkable: the fake
    decoder's byte-sum features are integer-valued, so the DuckDB
    oracle reproduces them exactly from the (all-ASCII) text bytes."""
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("asset_id"),
        F.encode("text", "utf-8").alias("asset"),
        F.lit("text/plain").alias("media_type"),
    )
    feats = extract_features(d, "asset_id", "asset", "media_type", use_fake_decoder=True)
    return feats.select(
        "asset_id",
        "media_type",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.posexplode("features").alias("dim_idx", "feature_val"),
    ).select(
        "asset_id",
        "media_type",
        "n_bytes",
        F.col("dim_idx").cast("long").alias("dim_idx"),
        F.col("feature_val").cast("double").alias("feature_val"),
    )


def q_human_report(spark, sf_dir):
    """S6 human sink (Common.pm:228-237 header + indented members,
    t/009 golden) as (cluster_id, line_no, line) rows — ORDER BY
    (cluster_id, line_no) renders the reference report.  Planted dups
    so the golden format is actually exercised (value-checked headers
    with real md5 digests), not an empty frame."""
    return human_report_df(_docs_planted(spark, sf_dir), "doc_id", "text")


# --------------------------------------------------------------------
# SQL oracles
# --------------------------------------------------------------------

# shared fragments (DuckDB dialect, matching the Spark expressions)
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"list_filter(string_split({_NORM}, ' '), x -> x <> '')"


def _shingle_cte(k: int, table: str = "documents") -> str:
    """Distinct word-k-shingles per doc: toks/idx/sh/nsh CTE chain."""
    return f"""
toks AS (
  SELECT doc_id, {_TOKS} AS t FROM {table}
),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - {k - 1})) AS i
  FROM toks WHERE len(t) >= {k}
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+{k - 1}], ' ') AS shingle FROM idx
),
nsh AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
)"""


def _jaccard_pairs_cte(max_df: int | None = None) -> str:
    cap = f" AND count(*) <= {max_df}" if max_df is not None else ""
    return f"""
WITH {_shingle_cte(JACCARD_K)},
dfq AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) >= 2{cap}
),
co AS (
  SELECT s1.doc_id AS a, s2.doc_id AS b, CAST(count(*) AS BIGINT) AS n_common
  FROM sh s1 JOIN dfq USING (shingle) JOIN sh s2 USING (shingle)
  WHERE s1.doc_id < s2.doc_id
  GROUP BY 1, 2
),
jp AS (
  SELECT co.a, co.b, co.n_common, na.n AS n_a, nb.n AS n_b,
         round(co.n_common / CAST(na.n + nb.n - co.n_common AS DOUBLE), 6) AS jaccard
  FROM co JOIN nsh na ON na.doc_id = co.a JOIN nsh nb ON nb.doc_id = co.b
)"""


_JACCARD_PAIRS_CTE = _jaccard_pairs_cte()

_FML_PROBE = (
    "CASE WHEN length(text) <= 32 THEN substr(text, 1, 32) "
    "ELSE substr(text, 1, 32) "
    "  || substr(text, CAST(floor(length(text)/2) AS INT) + 1, 1) "
    "  || substr(text, greatest(length(text) - 31, 1), 32) END"
)

_LANG_CASES = []
for _lang, _markers in sorted(T.LANG_MARKERS.items()):
    _in = ", ".join(f"'{m}'" for m in _markers)
    _LANG_CASES.append(
        f"len(list_filter({_TOKS}, x -> x IN ({_in}))) AS s_{_lang}"
    )
_LANG_SCORE_COLS = ",\n  ".join(_LANG_CASES)
_LANG_BEST = "greatest(s_de, s_en, s_es, s_fr)"
_STOP_IN = ", ".join(f"'{m}'" for m in T.QUALITY_STOPWORDS)

ORACLES: dict[str, str] = {
    "same_size_candidates": """
SELECT doc_id, CAST(length(text) AS BIGINT) AS size
FROM documents
QUALIFY count(*) OVER (PARTITION BY length(text)) >= 2
""",
    "weed_survivors": f"""
WITH sized AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS size, {_FML_PROBE} AS p
  FROM documents
  QUALIFY count(*) OVER (PARTITION BY length(text)) >= 2
)
SELECT doc_id, size FROM sized
QUALIFY count(*) OVER (PARTITION BY size, p) >= 2
""",
    "exact_dup_clusters": """
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY text) AS cluster_id,
       doc_id = min(doc_id) OVER (PARTITION BY text) AS is_canonical
FROM documents
""",
    "keep_first_per_key": """
SELECT lang, source, doc_id FROM documents
QUALIFY row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) = 1
""",
    "robot_report": f"""
WITH {_PLANTED_CTE},
c AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY text) AS cluster_id,
         count(*) OVER (PARTITION BY text) AS n
  FROM planted
),
m AS (
  SELECT cluster_id, doc_id, n,
         row_number() OVER (PARTITION BY cluster_id ORDER BY doc_id) AS rn
  FROM c WHERE n >= 2
)
SELECT cluster_id, CAST(max(n) AS BIGINT) AS n_members,
       string_agg(CASE WHEN rn <= {ROBOT_MAX_MEMBERS} THEN CAST(doc_id AS VARCHAR) END,
                  chr(9) ORDER BY doc_id) AS members,
       max(n) > {ROBOT_MAX_MEMBERS} AS truncated
FROM m GROUP BY cluster_id
""",
    "dedup_keep_canonical": """
SELECT doc_id, lang, source FROM documents
QUALIFY doc_id = min(doc_id) OVER (PARTITION BY text)
""",
    "dup_summary_stats": """
WITH c AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS cluster_id
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN doc_id <> cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_removable,
       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters
FROM c
""",
    "ngram_jaccard_pairs": f"""
{_jaccard_pairs_cte(NGRAM_MAX_DF)},
capped AS (
  SELECT CAST(count(*) AS BIGINT) AS n_capped_shingles
  FROM (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > {NGRAM_MAX_DF})
)
SELECT a, b, n_common, n_a, n_b, jaccard, n_capped_shingles
FROM jp, capped WHERE jaccard >= {JACCARD_TAU}
""",
    "jaccard_components": f"""
{_JACCARD_PAIRS_CTE.replace("WITH ", "WITH RECURSIVE ", 1)},
pairs AS (SELECT a, b FROM jp WHERE jaccard >= {JACCARD_TAU}),
edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
labels AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
)
SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN labels l USING (doc_id)
""",
    "near_dup_clusters": f"""
{_JACCARD_PAIRS_CTE.replace("WITH ", "WITH RECURSIVE ", 1)},
near_pairs AS (SELECT a, b FROM jp WHERE jaccard >= {NEAR_CLUSTER_TAU}),
exact_pairs AS (
  SELECT d1.doc_id AS a, d2.doc_id AS b
  FROM documents d1 JOIN documents d2 ON d1.text = d2.text
  WHERE d1.doc_id < d2.doc_id
),
all_pairs AS (SELECT a, b FROM near_pairs UNION SELECT a, b FROM exact_pairs),
edges AS (SELECT a AS u, b AS v FROM all_pairs UNION SELECT b, a FROM all_pairs),
reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
labels AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
)
SELECT d.doc_id,
       coalesce(l.cluster_id, d.doc_id) AS cluster_id,
       d.doc_id = coalesce(l.cluster_id, d.doc_id) AS is_canonical
FROM documents d LEFT JOIN labels l USING (doc_id)
""",
    "span_candidate_pairs": f"""
WITH {_shingle_cte(SPAN_WORDS)},
dfq AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(*) >= 2 AND count(*) <= {SPAN_MAX_DF}
)
SELECT DISTINCT s1.doc_id AS a, s2.doc_id AS b
FROM sh s1 JOIN dfq USING (shingle) JOIN sh s2 USING (shingle)
WHERE s1.doc_id < s2.doc_id
""",
    "lang_id": f"""
WITH scores AS (
  SELECT doc_id,
  {_LANG_SCORE_COLS}
  FROM documents
)
SELECT doc_id,
  CASE WHEN {_LANG_BEST} = 0 THEN 'und'
       WHEN s_de = {_LANG_BEST} THEN 'de'
       WHEN s_en = {_LANG_BEST} THEN 'en'
       WHEN s_es = {_LANG_BEST} THEN 'es'
       WHEN s_fr = {_LANG_BEST} THEN 'fr'
  END AS lang_pred
FROM scores
""",
    "quality_scores": f"""
WITH base AS (
  SELECT doc_id, text, {_TOKS} AS t,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
),
feats AS (
  SELECT doc_id, n_chars,
    CAST(len(t) AS BIGINT) AS n_tokens,
    round(list_sum(list_prepend(CAST(0 AS BIGINT), list_transform(t, x -> CAST(length(x) AS BIGINT))))
          / CAST(greatest(len(t), 1) AS DOUBLE), 6) AS mean_token_len,
    round(len(regexp_extract_all(text, '[^\\w\\s]')) / CAST(greatest(n_chars, 1) AS DOUBLE), 6) AS punct_ratio,
    round(len(regexp_extract_all(text, '[0-9]')) / CAST(greatest(n_chars, 1) AS DOUBLE), 6) AS digit_ratio,
    round(len(list_filter(t, x -> x IN ({_STOP_IN}))) / CAST(greatest(len(t), 1) AS DOUBLE), 6) AS stopword_ratio
  FROM base
)
SELECT doc_id, n_chars, n_tokens, mean_token_len, punct_ratio, digit_ratio,
       stopword_ratio,
       round(0.4 * least(n_tokens / 100.0, 1.0)
           + 0.3 * (1.0 - least(punct_ratio * 5, 1.0))
           + 0.3 * (1.0 - least(digit_ratio * 5, 1.0)), 6) AS quality
FROM feats
""",
    "token_counts": f"""
SELECT doc_id,
  CAST(len({_TOKS}) AS BIGINT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_subword_tokens
FROM documents
""",
    "doc_fingerprints": """
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
    (a, b) -> (a * 31 + b) % 1000000007
  ) AS fingerprint
FROM documents
""",
    "binary_meta": """
SELECT doc_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  hex(encode(substr(text, 1, 4))) AS magic_hex
FROM documents
""",
    "embedding_topk": f"""
WITH q AS (
  SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id < {TOPK_QUERIES}
),
c AS (
  SELECT vec_id AS neighbor_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings
),
scored AS (
  SELECT query_id, neighbor_id,
    round(list_dot_product(qv, cv) /
          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cos_sim
  FROM c, q WHERE neighbor_id <> query_id
)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rank,
       neighbor_id, cos_sim
FROM scored
QUALIFY rank <= {TOPK_K}
""",
    "embedding_near_dup": f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv FROM embeddings
)
SELECT * FROM (
  SELECT a.vec_id AS a, b.vec_id AS b,
    round(list_dot_product(a.dv, b.dv) /
          (sqrt(list_dot_product(a.dv, a.dv)) * sqrt(list_dot_product(b.dv, b.dv))), 6) AS cos_sim
  FROM v a, v b
  WHERE a.vec_id < b.vec_id
) WHERE cos_sim >= {COSINE_TAU}
""",
    "embedding_ann_recall": f"""
WITH u AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings
  UNION ALL
  SELECT vec_id + {PLANT_OFFSET},
         list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.5)
  FROM embeddings WHERE vec_id < {PLANT_N}
),
p AS (
  SELECT a.vec_id AS ai, b.vec_id AS bi,
         round(list_dot_product(a.dv, b.dv) /
           (sqrt(list_dot_product(a.dv, a.dv)) * sqrt(list_dot_product(b.dv, b.dv))), 6) AS cos
  FROM u a, u b WHERE a.vec_id < b.vec_id
)
SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
       CAST(0 AS BIGINT) AS n_missed
FROM p WHERE cos >= {ANN_TAU}
  AND (ai < {PLANT_N} OR ai >= {PLANT_OFFSET}
       OR bi < {PLANT_N} OR bi >= {PLANT_OFFSET})
""",
    "ivf_recall_check": f"""
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(0 AS BIGINT) AS n_missed
FROM embeddings WHERE vec_id < {PLANT_N}
""",
    "ann_multiprobe_recall_check": f"""
SELECT CAST({MULTIPROBE_N} AS BIGINT) AS n_planted,
       CAST({MULTIPROBE_N} AS BIGINT) AS n_missed_probe0,
       CAST(0 AS BIGINT) AS n_missed_probe1
""",
    "minhash_stats": f"""
WITH {_shingle_cte(JACCARD_K)}
SELECT d.doc_id,
       CAST(coalesce(n.n, 0) AS BIGINT) AS n_shingles,
       CAST(CASE WHEN coalesce(n.n, 0) > 0 THEN 128 ELSE 0 END AS BIGINT) AS n_perm
FROM documents d LEFT JOIN nsh n USING (doc_id)
""",
    "lsh_recall_check": f"""
{_JACCARD_PAIRS_CTE}
SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
       CAST(0 AS BIGINT) AS n_missed
FROM jp WHERE jaccard >= {NEAR_CLUSTER_TAU}
""",
    "simhash_exact_parity": f"""
WITH {_PLANTED_CTE},
tk AS (
  SELECT doc_id, {_TOKS} AS t FROM planted
),
eligible AS (SELECT doc_id FROM tk WHERE len(t) >= {JACCARD_K}),
p AS (
  SELECT d1.doc_id AS a, d2.doc_id AS b
  FROM planted d1 JOIN planted d2 ON d1.text = d2.text
  WHERE d1.doc_id < d2.doc_id
)
SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
       CAST(0 AS BIGINT) AS n_simhash_mismatch,
       CAST(0 AS BIGINT) AS n_minhash_mismatch
FROM p JOIN eligible e1 ON e1.doc_id = p.a JOIN eligible e2 ON e2.doc_id = p.b
""",
    "span_check": f"""
WITH {_PLANTED_CTE},
{_shingle_cte(SPAN_WORDS, "planted")},
dfq AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(*) >= 2 AND count(*) <= {SPAN_MAX_DF}
),
cand AS (
  SELECT DISTINCT s1.doc_id AS a, s2.doc_id AS b
  FROM sh s1 JOIN dfq USING (shingle) JOIN sh s2 USING (shingle)
  WHERE s1.doc_id < s2.doc_id
),
ex AS (
  SELECT d1.doc_id AS a, d2.doc_id AS b
  FROM planted d1
  JOIN planted d2 ON d1.text = d2.text
  JOIN toks t1 ON t1.doc_id = d1.doc_id
  WHERE d1.doc_id < d2.doc_id
    AND length(d1.text) >= {SPAN_CHECK_MIN}
    AND len(t1.t) >= {SPAN_WORDS}
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidate_pairs,
       (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_exact_pairs,
       CAST(0 AS BIGINT) AS n_outside_candidates,
       CAST(0 AS BIGINT) AS n_below_min,
       CAST(0 AS BIGINT) AS n_exact_violations
""",
    "multimodal_features": """
WITH b AS (
  SELECT doc_id AS asset_id, text, length(text) AS n FROM documents
),
pos AS (
  SELECT asset_id, text, n, unnest(generate_series(1, n)) AS p
  FROM b WHERE n > 0
),
by_dim AS (
  SELECT asset_id, CAST((p - 1) % 8 AS BIGINT) AS dim_idx,
         CAST(sum(ascii(substring(text, p, 1))) % 997 AS DOUBLE) AS fv
  FROM pos GROUP BY 1, 2
),
dims AS (SELECT unnest(generate_series(0, 7)) AS dim_idx),
grid AS (SELECT b.asset_id, b.n, d.dim_idx FROM b, dims d)
SELECT g.asset_id,
       'text/plain' AS media_type,
       CAST(g.n AS BIGINT) AS n_bytes,
       CAST(g.dim_idx AS BIGINT) AS dim_idx,
       CASE WHEN g.dim_idx = 0 THEN CAST(g.n % 100000 AS DOUBLE)
            ELSE coalesce(f.fv, 0.0) END AS feature_val
FROM grid g
LEFT JOIN by_dim f ON f.asset_id = g.asset_id AND f.dim_idx = g.dim_idx
""",
    "human_report": f"""
WITH {_PLANTED_CTE},
c AS (
  SELECT doc_id, text,
         min(doc_id) OVER (PARTITION BY text) AS cluster_id,
         count(*) OVER (PARTITION BY text) AS n
  FROM planted
),
m AS (SELECT * FROM c WHERE n >= 2)
SELECT cluster_id, CAST(0 AS BIGINT) AS line_no,
       'DUPLICATES (digest: ' || md5(text) || ' | size: '
         || CAST(length(text) AS VARCHAR) || 'b)' AS line
FROM m WHERE doc_id = cluster_id
UNION ALL
SELECT cluster_id,
       CAST(row_number() OVER (PARTITION BY cluster_id ORDER BY doc_id) AS BIGINT),
       '   ' || CAST(doc_id AS VARCHAR)
FROM m
""",
}


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "same_size_candidates": q_same_size_candidates,
    "weed_survivors": q_weed_survivors,
    "exact_dup_clusters": q_exact_dup_clusters,
    "keep_first_per_key": q_keep_first_per_key,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "jaccard_components": q_jaccard_components,
    "robot_report": q_robot_report,
    "dedup_keep_canonical": q_dedup_keep_canonical,
    "dup_summary_stats": q_dup_summary_stats,
    "near_dup_clusters": q_near_dup_clusters,
    "span_candidate_pairs": q_span_candidate_pairs,
    "lang_id": q_lang_id,
    "quality_scores": q_quality_scores,
    "token_counts": q_token_counts,
    "doc_fingerprints": q_doc_fingerprints,
    "binary_meta": q_binary_meta,
    "embedding_topk": q_embedding_topk,
    "embedding_near_dup": q_embedding_near_dup,
    "embedding_ann_recall": q_embedding_ann_recall,
    "ann_multiprobe_recall_check": q_ann_multiprobe_recall_check,
    "ivf_recall_check": q_ivf_recall_check,
    "minhash_stats": q_minhash_stats,
    "lsh_recall_check": q_lsh_recall_check,
    "simhash_exact_parity": q_simhash_exact_parity,
    "span_check": q_span_check,
    "multimodal_features": q_multimodal_features,
    "human_report": q_human_report,
    # hash-native value surfaces: rows-only checks by design (xxhash64
    # has no DuckDB analog); their PROPERTIES are oracle-checked by
    # lsh_recall_check / simhash_exact_parity / span_check above
    "minhash_signatures": q_minhash_signatures,
    "lsh_candidate_pairs": q_lsh_candidate_pairs,
    "simhash_values": q_simhash_values,
    "shared_span_pairs": q_shared_span_pairs,
}
