"""Embedding similarity: brute-force top-k vs numpy oracle, blocked-GEMM
all-pairs parity, banded-LSH recall/precision, multi-probe, bucket cap
+ skew report, code determinism."""

from __future__ import annotations

import numpy as np
import pytest

from app_dupfind_spark.operators import ann


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(11)
    # three tight clusters + noise: near-dup structure is controlled
    centers = rng.standard_normal((3, 16))
    rows = []
    vid = 0
    for ci in range(3):
        for _ in range(5):
            v = centers[ci] + 0.05 * rng.standard_normal(16)
            rows.append((vid, [float(x) for x in v], ci))
            vid += 1
    for _ in range(15):
        rows.append((vid, [float(x) for x in rng.standard_normal(16)], -1))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    return df, rows


def _np_cosine(a, b):
    a, b = np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_topk_matches_numpy(spark, vecs):
    df, rows = vecs
    k = 4
    out = ann.cosine_topk(df, df.where("vec_id < 5"), k)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    # float32->float64 casting on the Spark side mirrors numpy here
    emb = {vid: np.asarray(v, dtype=np.float32).astype(np.float64) for vid, v, _ in rows}
    for q in range(5):
        scored = sorted(
            (
                (-round(_np_cosine(emb[q], emb[n]), 6), n)
                for n in emb
                if n != q
            ),
        )[:k]
        want = [(i + 1, n) for i, (_, n) in enumerate(scored)]
        assert sorted(got[q]) == want, q


def test_near_dup_pairs_find_cluster_members(spark, vecs):
    df, rows = vecs
    pairs = ann.embedding_near_dup_pairs(df, 0.9).collect()
    got = {(r["a"], r["b"]) for r in pairs}
    # all intra-cluster pairs (cosine ~0.99) must be found
    want = {
        (a, b)
        for a in range(15)
        for b in range(15)
        if a < b and a // 5 == b // 5
    }
    assert want <= got
    # noise vectors shouldn't pair with anything at 0.9
    noise = {vid for vid, _, lbl in rows if lbl == -1}
    assert not [p for p in got if p[0] in noise or p[1] in noise]


def test_banded_lsh_recall_and_precision(spark, vecs):
    df, _ = vecs
    exact = {(r["a"], r["b"]) for r in ann.embedding_near_dup_pairs(df, 0.9).collect()}
    approx_df, skew = ann.banded_lsh_neighbors(
        df, 0.9, dim=16, bands=8, rows_per_band=4, seed=42
    )
    approx = {(r["a"], r["b"]) for r in approx_df.collect()}
    assert approx <= exact  # exact re-rank => no false positives
    recall = len(approx & exact) / len(exact)
    # tight clusters (cos ~0.99 => p ~0.97/bit): 8 bands of 4 bits
    assert recall >= 0.9, recall
    assert skew.count() == 0  # no bucket exceeds the default cap here


def test_banded_lsh_multiprobe_improves_recall(spark, vecs):
    df, _ = vecs
    exact = {(r["a"], r["b"]) for r in ann.embedding_near_dup_pairs(df, 0.9).collect()}
    base_df, _ = ann.banded_lsh_neighbors(
        df, 0.9, dim=16, bands=2, rows_per_band=8, seed=7
    )
    probe_df, _ = ann.banded_lsh_neighbors(
        df, 0.9, dim=16, bands=2, rows_per_band=8, seed=7, probe_bits=1
    )
    base = {(r["a"], r["b"]) for r in base_df.collect()}
    probed = {(r["a"], r["b"]) for r in probe_df.collect()}
    assert base <= probed  # multi-probe only ADDS candidate buckets
    assert probed <= exact


def test_banded_lsh_bucket_cap_reports_skew(spark):
    # 40 identical-direction vectors land in ONE bucket per band; with
    # bucket_cap below 40 every band bucket trips the cap and the pair
    # list is empty — truncation is reported, never silent
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs, skew = ann.banded_lsh_neighbors(
        df, 0.5, dim=4, bands=4, rows_per_band=4, bucket_cap=10
    )
    assert pairs.count() == 0
    report = skew.collect()
    assert len(report) == 4  # one over-cap bucket per band
    assert all(r["bucket_size"] == 40 for r in report)


def test_banded_lsh_multiprobe_cap_is_per_masked_key(spark):
    """Multi-probe keys every band code once per bit with that bit
    cleared; 40 identical vectors fill each of the bands x rows_per_band
    masked keys, every one trips the cap and is reported."""
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs, skew = ann.banded_lsh_neighbors(
        df, 0.5, dim=4, bands=4, rows_per_band=4, bucket_cap=10,
        probe_bits=1,
    )
    assert pairs.count() == 0
    report = skew.collect()
    assert len(report) == 4 * 4
    assert {(r["band"], r["probe"]) for r in report} == {
        (b, i) for b in range(4) for i in range(4)
    }
    assert all(r["bucket_size"] == 40 for r in report)


@pytest.mark.parametrize("probe_bits", [-1, 2])
def test_banded_lsh_rejects_unsupported_probe_bits(spark, vecs, probe_bits):
    df, _ = vecs
    with pytest.raises(ValueError, match="probe_bits"):
        ann.banded_lsh_neighbors(df, 0.9, dim=16, probe_bits=probe_bits)


def test_band_codes_deterministic_across_partitionings(spark, vecs):
    df, _ = vecs
    from pyspark.sql import functions as F

    udf = ann.make_band_codes_udf(16, 4, 8, 42)
    a = {r["vec_id"]: tuple(r["c"]) for r in df.repartition(1).select("vec_id", udf(F.col("embedding")).alias("c")).collect()}
    b = {r["vec_id"]: tuple(r["c"]) for r in df.repartition(7).select("vec_id", udf(F.col("embedding")).alias("c")).collect()}
    assert a == b


def test_scaled_copy_shares_every_band_bucket(spark):
    """cos(v, 1.5v) = 1 and sign projections are scale-invariant — the
    planted-duplicate recall property the driver query relies on."""
    rng = np.random.default_rng(3)
    base = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(20)]
    planted = [(i + 1000, [1.5 * x for x in v]) for i, v in base]
    df = spark.createDataFrame(
        base + planted, "vec_id long, embedding array<double>"
    )
    pairs, _ = ann.banded_lsh_neighbors(
        df, 0.99, dim=16, bands=4, rows_per_band=8, seed=42
    )
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert {(i, i + 1000) for i in range(20)} <= got


def test_blocked_gemm_equals_crossjoin(spark, vecs):
    """The GEMM kernel must return the same pair set and (6dp-rounded)
    values as the SQL-expression cross join."""
    df, _ = vecs
    naive = {
        (r["a"], r["b"], r["cos_sim"])
        for r in ann.embedding_near_dup_pairs(df, 0.5).collect()
    }
    for B in (2, 5):
        gemm = {
            (r["a"], r["b"], r["cos_sim"])
            for r in ann.blocked_gemm_pairs(df, 0.5, B).collect()
        }
        assert gemm == naive, B


def test_ivf_topk_recall_on_clusters(spark, vecs):
    """IVF with enough probes recovers the exact top-1 for clustered
    queries; identical vectors always share a cell (the driver query's
    planted-dup invariant)."""
    df, _ = vecs
    cents = ann.train_ivf_centroids(df, n_cells=4, seed=42)
    assert cents.shape == (4, 16)
    exact1 = {
        (r["query_id"], r["neighbor_id"])
        for r in ann.cosine_topk(df, df.where("vec_id < 15"), 1).collect()
    }
    ivf_all = {
        (r["query_id"], r["neighbor_id"])
        for r in ann.ivf_topk(df, df.where("vec_id < 15"), cents, 1, nprobe=4).collect()
    }
    # probing every cell == exhaustive search => identical top-1
    assert ivf_all == exact1
    ivf1 = {
        (r["query_id"], r["neighbor_id"])
        for r in ann.ivf_topk(df, df.where("vec_id < 15"), cents, 1, nprobe=1).collect()
    }
    # clustered queries' true neighbors live in the query's own cell
    recall = len(ivf1 & exact1) / len(exact1)
    assert recall >= 0.8, recall


def test_ivf_centroids_deterministic(spark, vecs):
    df, _ = vecs
    a = ann.train_ivf_centroids(df.repartition(1), n_cells=4, seed=42)
    b = ann.train_ivf_centroids(df.repartition(7), n_cells=4, seed=42)
    import numpy as np
    assert np.allclose(a, b)


def test_topk_quantum_crowded_boundary(spark):
    """ADVICE r4: >k+8 candidates whose raw sims differ within ~1e-9
    but round EQUAL at 6dp — the final (rounded sim desc, id asc) rule
    must prefer the LOWEST ids, which the old fixed +8 raw-sim margin
    dropped from batch selection (their raw sims are the smallest of
    the crowd by construction)."""
    import math

    crowd = 20
    rows = []
    for i in range(crowd):
        c = 0.5000003 + i * 1e-9      # ascending raw sim with id
        s = math.sqrt(1.0 - c * c)
        rows.append((i, [c, s, 0.0, 0.0]))
    rows.append((500, [-1.0, 0.0, 0.0, 0.0]))   # far filler
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(1000, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = ann.cosine_topk(corpus, queries, 4).collect()
    got = [(r["rank"], r["neighbor_id"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert got == [(1, 0), (2, 1), (3, 2), (4, 3)], got
    assert all(r["cos_sim"] == 0.5 for r in out)


def test_banded_plan_has_no_bucket_window(spark):
    """r5: ANN bucket sizing must be groupBy-count + join, never a
    count window over (band, code) — a dense mass of near-identical
    embeddings sharing a band code would funnel through one window
    partition.  Checked on the default (barriered) path: the bucket
    sizing sits above the code barrier."""
    vecs = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5, 0.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    pairs, skew = ann.banded_lsh_neighbors(
        vecs, threshold=0.5, dim=4, bands=2, rows_per_band=4,
    )
    for d in (pairs, skew):
        plan = d._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if "Window [" in line:
                assert "code" not in line, line
