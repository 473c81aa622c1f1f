"""Similarity search over embedding columns.

Four paths over two shared kernels — `cobucket.key_pairs` for the LSH
buckets and `_fold_cos` for every exact cosine:

1. `cosine_topk` / `cosine_pairs_vs_queries` — exact search against a
   small query set: the query matrix (`_query_matrix`, capped at
   `max_queries`) rides to every task and the corpus streams through
   one mapInPandas GEMM pass.
2. `embedding_near_dup_pairs` — exact all-pairs cosine as a plain
   crossJoin with the JVM fold; only for oracle-sized inputs, it is the
   truth the other paths are tested against.  `blocked_gemm_pairs` is
   the same pair set laid out as B(B+1)/2 block-pair GEMM tasks.
3. `banded_lsh_neighbors` — the scale path: banded random-hyperplane
   (sign) LSH.  Each vector gets `bands` codes of `rows_per_band` sign
   bits, and the candidates are `cobucket.key_pairs` over one
   membership frame keyed (band, probe, code) — the same group/drop
   singletons/pair move as the MinHash text path.  Plain banding keys
   the full code (probe = -1); multi-probe keys every code with one bit
   cleared (probe = i, code & ~(1 << i)), so two codes share a key
   exactly when their Hamming distance is <= 1.  Keys above
   `bucket_cap` (per masked key under multi-probe) are dropped from
   pair generation and REPORTED: a mega-bucket is a degenerate
   direction (zero vectors, boilerplate embeddings) and m² pairs from
   one key is the classic straggler.
4. `ivf_topk` — coarse-quantizer top-k: each query re-ranks only the
   members of its `nprobe` nearest cells.

`_fold_cos` sums in the JVM fold's order, so every emitted cos_sim is
the SQL expression's value and precision is exact; only recall is
approximate on the LSH and IVF paths.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from app_dupfind_spark.functions.vectors import as_double_array, dot, l2_norm
from app_dupfind_spark.operators.cobucket import key_pairs
from app_dupfind_spark.plans.barriers import materialize_barrier


def _fold_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise dot products accumulated strictly left to right
    (np.cumsum) — the operation order of the JVM `aggregate` fold
    (functions/vectors.dot) and DuckDB's list_dot_product, so the sums
    are bit-identical to both."""
    return np.cumsum(A * B, axis=1)[:, -1]


def _fold_cos(A, B, na, nb) -> np.ndarray:
    """Exact cosine in fold order, rounded to 6dp: `na`/`nb` are the
    fold-order norms (np.sqrt(_fold_dot(V, V)) or the JVM `l2_norm`)."""
    return np.round(_fold_dot(A, B) / (na * nb), 6)


def _gemm_norms(V: np.ndarray) -> np.ndarray:
    return np.sqrt(np.einsum("ij,ij->i", V, V))


def _cos_schema(df: DataFrame, id_col: str, left: str, right: str) -> StructType:
    """(left, right, cos_sim) with both ids typed like `df.id_col`."""
    id_type = df.select(F.col(id_col)).schema.fields[0].dataType
    return StructType(
        [
            StructField(left, id_type),
            StructField(right, id_type),
            StructField("cos_sim", DoubleType()),
        ]
    )


def _query_matrix(queries: DataFrame, id_col: str, vec_col: str, max_queries: int):
    """(qids, Q, GEMM norms, fold norms) of the query side, collected to
    the driver — broadcasting it is the whole plan, so more than
    `max_queries` rows is an error, never a silent truncation."""
    rows = (
        queries.select(
            F.col(id_col).alias("qid"),
            as_double_array(F.col(vec_col)).alias("qv"),
        )
        .limit(max_queries + 1)
        .collect()
    )
    if len(rows) > max_queries:
        raise ValueError(
            f"queries side exceeds max_queries={max_queries}; the query "
            "matrix is broadcast — split the query set or use "
            "blocked_gemm_pairs, banded_lsh_neighbors or ivf_topk"
        )
    qids = np.array([r["qid"] for r in rows])
    Q = np.stack([np.asarray(r["qv"], dtype=np.float64) for r in rows])
    return qids, Q, _gemm_norms(Q), np.sqrt(_fold_dot(Q, Q))


def _corpus(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("cid"), as_double_array(F.col(vec_col)).alias("cv")
    )


def _batch(pdf: pd.DataFrame):
    V = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
    return pdf["cid"].to_numpy(), V, _gemm_norms(V)


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of (query_id, neighbor_id, cos_sim): rounded sim
    desc, neighbor_id asc (deterministic ties)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def _rerank_pairs(
    joined: DataFrame, schema: StructType, threshold: float | None = None
) -> DataFrame:
    """Exact-cosine re-rank of candidate pairs, vectorized: `joined`
    holds the two id columns named in `schema` plus (va, na, vb, nb),
    the norms bound per row before the pair join.  An interpreted
    per-pair `dot` was the dominant cost at 20k vectors (~17 s -> ~2 s).
    Pairs below `threshold` (None = keep all) are dropped."""
    left, right = schema.names[:2]

    def rerank(it):
        for pdf in it:
            if pdf.empty:
                continue
            cos = _fold_cos(
                np.stack(pdf["va"].to_numpy()).astype(np.float64),
                np.stack(pdf["vb"].to_numpy()).astype(np.float64),
                pdf["na"].to_numpy(),
                pdf["nb"].to_numpy(),
            )
            keep = np.full(len(cos), True) if threshold is None else cos >= threshold
            if not keep.any():
                continue
            yield pd.DataFrame(
                {
                    left: pdf[left].to_numpy()[keep],
                    right: pdf[right].to_numpy()[keep],
                    "cos_sim": cos[keep],
                }
            )

    return joined.select(left, right, "va", "na", "vb", "nb").mapInPandas(
        rerank, schema
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-match excluded).

    Returns (query_id, rank, neighbor_id, cos_sim) with cos_sim rounded
    to 6dp; ties broken by neighbor_id (deterministic).

    Plan: the (small, capped) query matrix rides to every task and the
    corpus streams through ONE mapInPandas GEMM pass that emits only
    each batch's top-k per query under the EXACT final metric; a tiny
    global window then merges batch winners into the true top-k.  An
    interpreted per-pair `dot` join measured 8x slower at 20k corpus
    vectors.  Parity (ADVICE r4): GEMM pre-selects a candidate BAND —
    every row whose 6dp-rounded GEMM sim is within one rounding
    quantum of the k-th best (|round6(gemm) - round6(seq-fold)| <=
    1e-6, so nothing outside the band can reach the final top-k; a
    fixed +8 margin could drop quantum-tied low ids when many
    near-identical vectors crowd the boundary — the normal dedup-corpus
    case).  Band survivors are re-scored by `_fold_cos` and the batch
    applies the final (rounded sim desc, id asc) order itself, so
    batch-local top-k IS globally sufficient."""
    qids, Q, nq_gemm, nq_seq = _query_matrix(queries, id_col, vec_col, max_queries)

    def score(it):
        for pdf in it:
            if pdf.empty:
                continue
            ids, V, nv = _batch(pdf)
            sims = (V @ Q.T) / np.outer(nv, nq_gemm)
            sims[ids[:, None] == qids[None, :]] = -np.inf   # self-match
            nv_seq = np.sqrt(_fold_dot(V, V))
            out_q, out_n, out_c = [], [], []
            for j in range(len(qids)):
                # candidate BAND under 6dp-rounded GEMM sims: everything
                # within one rounding quantum of the k-th best (2.5e-6
                # = 1 quantum GEMM-vs-fold slack + float-compare fuzz)
                r = np.round(sims[:, j], 6)
                order0 = np.lexsort((ids, -r))
                order0 = order0[np.isfinite(sims[order0, j])]
                if len(order0) == 0:
                    continue
                if len(order0) > k:
                    band = order0[r[order0] >= r[order0[k - 1]] - 2.5e-6]
                else:
                    band = order0
                cos = _fold_cos(V[band], Q[j], nv_seq[band], nq_seq[j])
                # final order applied IN the batch: the selection metric
                # now EQUALS the global window's, so batch top-k suffices
                sel = np.lexsort((ids[band], -cos))[:k]
                out_q.extend([qids[j]] * len(sel))
                out_n.extend(ids[band][sel])
                out_c.extend(cos[sel])
            if out_q:
                yield pd.DataFrame(
                    {"query_id": out_q, "neighbor_id": out_n,
                     "cos_sim": out_c}
                )

    schema = _cos_schema(corpus, id_col, "query_id", "neighbor_id")
    return _top_k(_corpus(corpus, id_col, vec_col).mapInPandas(score, schema), k)


def cosine_pairs_vs_queries(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 100_000,
) -> DataFrame:
    """All unordered pairs (a < b, cos_sim >= threshold) with at least
    one endpoint in `queries` — EXACT, but bounded: the query matrix
    rides to every task (driver-materialized, capped at `max_queries`
    rows — the IVF centroid-sketch precedent) and the corpus streams
    through ONE mapInPandas GEMM pass: O(|corpus| x |queries|) BLAS
    instead of the all-pairs O(|corpus|^2) cogroup.

    This is the truth-side operator for recall properties over PLANTED
    pairs (every planted pair has a planted endpoint, so restricting
    truth to query-incident pairs loses nothing) — VERDICT r3 #5: the
    unbounded GEMM truth was quadratic and would dominate the bench at
    the next scale point.

    Parity contract (same as blocked_gemm_pairs): the GEMM is a
    prefilter with one rounding quantum of slack; survivors are
    re-scored by `_fold_cos`, so emitted cos_sim values and threshold
    decisions are bit-identical to the JVM `aggregate` fold and
    DuckDB's list_dot_product.
    """
    qids, Q, nq_gemm, nq_seq = _query_matrix(queries, id_col, vec_col, max_queries)

    def score(it):
        for pdf in it:
            if pdf.empty:
                continue
            ids, V, nv = _batch(pdf)
            sims = (V @ Q.T) / np.outer(nv, nq_gemm)
            mask = (sims >= threshold - 1e-6) & (
                ids[:, None] != qids[None, :]
            )
            ci, qi = np.nonzero(mask)
            if len(ci) == 0:
                continue
            nv_seq = np.sqrt(_fold_dot(V, V))
            cos = _fold_cos(V[ci], Q[qi], nv_seq[ci], nq_seq[qi])
            keep = cos >= threshold
            ci, qi, cos = ci[keep], qi[keep], cos[keep]
            if len(ci) == 0:
                continue
            yield pd.DataFrame(
                {
                    "a": np.minimum(ids[ci], qids[qi]),
                    "b": np.maximum(ids[ci], qids[qi]),
                    "cos_sim": cos,
                }
            )

    cand = _corpus(corpus, id_col, vec_col).mapInPandas(
        score, _cos_schema(corpus, id_col, "a", "b")
    )
    # a pair with BOTH endpoints in the query set meets twice (each
    # side once in the query role) — dedupe; cos_sim identical both
    # times (same sequential recompute), max is a deterministic pick
    return cand.groupBy("a", "b").agg(F.max("cos_sim").alias("cos_sim"))


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All unordered pairs (a < b) with cosine >= threshold — EXACT, as
    a plain crossJoin scored by the JVM fold (functions/vectors.dot).
    ONLY for oracle-sized inputs: it is the SQL-expression truth the
    GEMM and LSH paths are tested against."""
    base = df.select(
        F.col(id_col).alias("id"),
        as_double_array(F.col(vec_col)).alias("v"),
    ).withColumn("n", l2_norm(F.col("v")))  # norm once per row, pre-join
    a = base.select(
        F.col("id").alias("a"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    b = base.select(
        F.col("id").alias("b"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    return (
        a.crossJoin(b)
        .where(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def blocked_gemm_pairs(
    df: DataFrame,
    threshold: float,
    n_blocks: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via blocked GEMM: rows hash
    into B blocks; each of the B(B+1)/2 unordered block pairs becomes
    one cogroup whose kernel is a single numpy matrix multiply
    ((n/B) x dim) @ (dim x (n/B)) — BLAS throughput instead of
    interpreted per-pair expression evaluation (measured ~10x on the
    same layout).  Only thresholded pairs leave Python; the dense sim
    matrix never crosses Arrow.

    Layout: the left side explodes to every target block j >= its own
    block, the right side keys on its own block, and same-block pairs
    keep only a < b, so each unordered pair meets exactly once.
    Memory contract: one block (n/B rows x dim doubles) must fit a
    task — pick B accordingly; replication factor is ~B/2 per side.

    Parity: the GEMM is a PREFILTER (threshold minus one rounding
    quantum of slack); surviving pairs are re-scored by `_fold_cos`, so
    the emitted cos_sim and the threshold decision are bit-identical to
    the SQL-expression baseline (`embedding_near_dup_pairs`) while the
    O(n²) bulk stays BLAS."""
    B = int(n_blocks)
    base = df.select(
        F.col(id_col).alias("id"),
        as_double_array(F.col(vec_col)).alias("v"),
    ).withColumn("blk", F.pmod(F.xxhash64(F.col("id")), F.lit(B)).cast("int"))
    left = base.select(
        "id", "v", F.col("blk").alias("i"),
        F.explode(F.sequence(F.col("blk"), F.lit(B - 1))).alias("j"),
    )
    # distinct right-side names: cogrouping two frames with identical
    # column names AND shared lineage makes the attribute dedup prune
    # the right side's data columns out of the Arrow payload
    right = base.select(
        F.col("id").alias("id_r"), F.col("v").alias("v_r"),
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("i"),
        F.col("blk").alias("j"),
    )

    def score(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"a": [], "b": [], "cos_sim": []})
        i, j = key
        A = np.stack(lpdf["v"].to_numpy())
        Bm = np.stack(rpdf["v_r"].to_numpy())
        sims = (A @ Bm.T) / np.outer(_gemm_norms(A), _gemm_norms(Bm))
        ids_a = lpdf["id"].to_numpy()
        ids_b = rpdf["id_r"].to_numpy()
        # GEMM as prefilter only: one rounding quantum of slack covers
        # any last-bit divergence between blocked and sequential sums
        mask = sims >= threshold - 1e-6
        if i == j:  # same block: strict upper triangle by id
            mask &= ids_a[:, None] < ids_b[None, :]
        ai, bi = np.nonzero(mask)
        if len(ai) == 0:
            return pd.DataFrame({"a": [], "b": [], "cos_sim": []})
        na_seq = np.sqrt(_fold_dot(A, A))
        nb_seq = np.sqrt(_fold_dot(Bm, Bm))
        cos = _fold_cos(A[ai], Bm[bi], na_seq[ai], nb_seq[bi])
        keep = cos >= threshold
        ai, bi, cos = ai[keep], bi[keep], cos[keep]
        lo = np.minimum(ids_a[ai], ids_b[bi])
        hi = np.maximum(ids_a[ai], ids_b[bi])
        return pd.DataFrame({"a": lo, "b": hi, "cos_sim": cos})

    return (
        left.groupBy("i", "j")
        .cogroup(right.groupBy("i", "j"))
        .applyInPandas(score, _cos_schema(base, "id", "a", "b"))
    )


def train_ivf_centroids(
    df: DataFrame,
    n_cells: int,
    seed: int = 42,
    sample_n: int = 20_000,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Seeded spherical k-means on a deterministic sample — the IVF
    coarse quantizer.  The sample (<= sample_n rows, chosen by the
    smallest xxhash64(id) — stable under partitioning/order) is the ONE
    deliberate driver-side collect here: centroid training is model
    fitting on a bounded sketch, the standard IVF construction; the
    resulting (n_cells x dim) matrix is a tiny model shipped to
    executors inside the assignment UDF closure."""
    sample = (
        df.select(F.col(id_col).alias("id"), as_double_array(F.col(vec_col)).alias("v"))
        .orderBy(F.xxhash64(F.col("id")))
        .limit(sample_n)
        .collect()
    )
    X = np.stack([r["v"] for r in sample])
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(n_cells, len(X)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(C.shape[0]):
            members = X[assign == c]
            if len(members):
                m = members.sum(axis=0)
                C[c] = m / max(np.linalg.norm(m), 1e-12)
    return C


def make_ivf_cells_udf(centroids: np.ndarray, nprobe: int = 1):
    """pandas UDF: embedding -> the nprobe nearest centroid ids (by
    cosine; centroids are unit-norm so argmax dot suffices)."""
    C = centroids

    @F.pandas_udf(ArrayType(LongType()))
    def cells(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ C.T
        top = np.argsort(-sims, axis=1)[:, :nprobe].astype(np.int64)
        return pd.Series(list(top))

    return cells


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: corpus rows live in their single nearest
    cell; each query probes its `nprobe` nearest cells and exact-cosine
    re-ranks only those cells' members.  Cost per query ~ nprobe *
    (n / n_cells) instead of n; recall is governed by nprobe (identical
    vectors always share cell 1 — the planted-dup recall invariant the
    driver query checks).  Equi-join on cell => hash-partitioned, no
    broadcast of the corpus, AQE-splittable on hot cells."""
    cell1 = make_ivf_cells_udf(centroids, 1)
    celln = make_ivf_cells_udf(centroids, nprobe)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double_array(F.col(vec_col)).alias("vb"),
    ).withColumn("nb", l2_norm(F.col("vb"))).withColumn(
        "cell", F.element_at(cell1(F.col("vb")), 1)
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(F.col(vec_col)).alias("va"),
    ).withColumn("na", l2_norm(F.col("va"))).withColumn(
        "cell", F.explode(celln(F.col("va")))
    )
    # a query probing several cells never sees a neighbor twice
    # (corpus rows live in exactly one cell) — no dedup needed
    joined = q.join(c, "cell").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    schema = _cos_schema(corpus, id_col, "query_id", "neighbor_id")
    return _top_k(_rerank_pairs(joined, schema), k)


def lsh_planes(
    dim: int, bands: int, rows_per_band: int, seed: int
) -> np.ndarray:
    """The (dim, bands*rows_per_band) hyperplane matrix — the single
    source of truth shared by the executor UDF and any driver-side
    construction that must agree with it bit-for-bit (e.g. the
    multi-probe recall-property query plants pairs engineered against
    these exact planes)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, bands * rows_per_band))


def make_band_codes_udf(dim: int, bands: int, rows_per_band: int, seed: int):
    """pandas UDF: embedding -> array of `bands` LSH band codes, each
    packing `rows_per_band` hyperplane sign bits.  Hyperplanes drawn
    once from a seeded Generator at definition time — deterministic
    across partitions, task retries, and row order."""
    planes = lsh_planes(dim, bands, rows_per_band, seed)
    r = rows_per_band
    weights = 1 << np.arange(r, dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def band_codes(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)  # (batch, dim)
        bits = (mat @ planes) > 0  # (batch, bands*r)
        bb = bits.reshape(mat.shape[0], bands, r).astype(np.int64)
        codes = (bb * weights[None, None, :]).sum(axis=2)  # (batch, bands)
        return pd.Series(list(codes))

    return band_codes


def banded_lsh_neighbors(
    df: DataFrame,
    threshold: float,
    dim: int,
    bands: int = 16,
    rows_per_band: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int = 2000,
    probe_bits: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Scale path: (near-dup pairs, skew report).

    Pairs sharing any band bucket (with `probe_bits=1`, any band code
    within one bit-flip) are exact-cosine re-ranked; output is
    (a, b, cos_sim) with cos_sim >= threshold, a < b.  The skew report
    is (band, probe, code, bucket_size) for every key above
    `bucket_cap`.  `dim` is a required parameter (array columns carry
    no length in the schema, and probing a row for it would put a
    driver action inside operator construction).

    Recall calibration: a pair at cosine c shares a band with
    probability p(c)^rows_per_band per band, p(c) = 1 - arccos(c)/pi;
    identical directions (exact/scale duplicates) share every band
    deterministically.  Pick bands/rows for the target recall at your
    operating threshold; this is the documented approximation of the
    production path (the exact verifier stays available above).
    """
    if dim is None or dim <= 0:
        raise ValueError("dim must be provided (array schemas carry no length)")
    if probe_bits not in (0, 1):
        raise ValueError(
            f"probe_bits={probe_bits}: only 0 (plain banding) and 1 "
            "(single-bit multi-probe) are supported"
        )
    codes = make_band_codes_udf(dim, bands, rows_per_band, seed)
    # the UDF lineage fans out three ways (the bucket members + both
    # re-rank vector lookups) — bind it once
    base = materialize_barrier(
        df.select(
            F.col(id_col).alias("id"),
            as_double_array(F.col(vec_col)).alias("v"),
        )
        .withColumn("n", l2_norm(F.col("v")))
        .withColumn("codes", codes(F.col("v")))
    )

    memb = base.select("id", F.posexplode("codes").alias("band", "code"))
    if probe_bits:
        # key i clears bit i: codes within Hamming distance 1 share it
        masked = F.array(
            *[F.col("code").bitwiseAND(F.lit(~(1 << i))) for i in range(rows_per_band)]
        )
        member = memb.select("id", "band", F.posexplode(masked).alias("probe", "code"))
    else:
        member = memb.select("id", "band", F.lit(-1).alias("probe"), "code")
    cand, sizes = key_pairs(
        member, ["band", "probe", "code"], "id", max_size=bucket_cap
    )
    skew_report = sizes.where(F.col("size") > bucket_cap).withColumnRenamed(
        "size", "bucket_size"
    )

    va = base.select(F.col("id").alias("a"), F.col("v").alias("va"), F.col("n").alias("na"))
    vb = base.select(F.col("id").alias("b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    joined = cand.select("a", "b").join(va, "a").join(vb, "b")
    pairs = _rerank_pairs(joined, _cos_schema(base, "id", "a", "b"), threshold)
    return pairs, skew_report
