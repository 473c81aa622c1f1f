"""End-to-end pipeline: recall/precision vs ground truth, permutation
and partitioning invariance, resumability — the BASELINE.json gate
(dup-pair recall >= 0.99) asserted at recall == 1.0 on the fixtures."""

from __future__ import annotations

from collections import defaultdict

import pytest

from app_dupfind_spark.config import DedupConfig
from app_dupfind_spark.fixtures import BASE_TS, build_corpus, pages_df
from app_dupfind_spark.operators.dedup_pipeline import near_dup_pipeline


def _pairs_from_clusters(rows) -> set[tuple[str, str]]:
    groups = defaultdict(list)
    for url, cid in rows:
        groups[cid].append(url)
    out = set()
    for members in groups.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                out.add((ms[i], ms[j]))
    return out


@pytest.fixture(scope="module")
def result(spark, pages, corpus, tmp_path_factory):
    ckpt = tmp_path_factory.mktemp("ckpt")
    clusters, runner = near_dup_pipeline(spark, pages, DedupConfig(), str(ckpt))
    rows = [(r["url"], r["cluster_id"]) for r in clusters.collect()]
    return rows, runner, ckpt


def test_recall_is_one_and_precision_is_one(result, corpus):
    rows, _, _ = result
    found = _pairs_from_clusters(rows)
    truth = corpus.pair_set(None)
    recall = len(found & truth) / len(truth)
    assert recall == 1.0, f"recall {recall}: missed {truth - found}"
    assert not (found - truth), f"false pairs: {found - truth}"


def test_every_doc_labeled_exactly_once(result, corpus):
    rows, _, _ = result
    assert len(rows) == len(corpus.rows)
    assert len({u for u, _ in rows}) == len(corpus.rows)


def test_cluster_id_is_min_member(result):
    rows, _, _ = result
    groups = defaultdict(list)
    for url, cid in rows:
        groups[cid].append(url)
    for cid, members in groups.items():
        assert cid == min(members + [cid])


def test_resume_reuses_all_checkpoints(spark, pages, result):
    rows1, _, ckpt = result
    clusters2, runner2 = near_dup_pipeline(spark, pages, DedupConfig(), str(ckpt))
    assert all(m["resumed"] for m in runner2.metrics)
    rows2 = [(r["url"], r["cluster_id"]) for r in clusters2.collect()]
    assert sorted(rows1) == sorted(rows2)


def test_config_change_invalidates_checkpoints(spark, pages, result):
    _, _, ckpt = result
    cfg2 = DedupConfig(jaccard_threshold=0.95)
    _, runner = near_dup_pipeline(spark, pages, cfg2, str(ckpt))
    assert not any(m["resumed"] for m in runner.metrics)


def test_row_order_permutation_invariance(spark, corpus, result, tmp_path):
    rows1, _, _ = result
    # reversed row order, different partitioning => identical clusters
    rev = build_corpus(seed=42, scale=1)
    rev.rows = list(reversed(rev.rows))
    pages_rev = pages_df(spark, rev).repartition(3)
    clusters, _ = near_dup_pipeline(
        spark, pages_rev, DedupConfig(), str(tmp_path / "ck")
    )
    rows2 = [(r["url"], r["cluster_id"]) for r in clusters.collect()]
    assert sorted(rows1) == sorted(rows2)


def test_metrics_recorded_per_stage(result):
    _, runner, _ = result
    stages = [m["stage"] for m in runner.metrics]
    assert stages == [
        "canon", "exact", "sigs", "cands", "span_cand", "verify", "spans",
        "cc", "clusters"
    ]
    assert all(m["rows_out"] >= 0 for m in runner.metrics)


def test_manifest_has_partition_lineage(result):
    _, runner, _ = result
    m = runner.io.manifest("sigs")
    # NB: a later test may rewrite this dir with another config; assert
    # the structural contract, not a specific hash
    assert m and m["config_hash"] and m["upstream"]
    assert m["partitions"] and all(
        "partition_id" in p and "rows" in p for p in m["partitions"]
    )
    assert sum(p["rows"] for p in m["partitions"]) == m["rows"]


def test_manifest_upstreams_follow_the_stage_graph(spark, pages, result):
    """Every manifest's upstream is the '|'-join of its inputs'
    fingerprints, `<stage>:<config_hash>:<rows>:<written_at>` of the
    manifests on disk, in the order checkpoint dirs have always been
    written with (so they keep resuming); the root's is the input's
    content fingerprint."""
    import json

    from app_dupfind_spark.plans.pipeline import input_fingerprint

    _, _, ckpt = result
    m = {
        s: json.loads((ckpt / s / "_manifest.json").read_text())
        for s in ["canon", "exact", "sigs", "cands", "span_cand", "verify",
                  "spans", "cc", "clusters"]
    }

    def fp(s):
        return f"{s}:{m[s]['config_hash']}:{m[s]['rows']}:{m[s]['written_at']}"

    expected = {
        "canon": input_fingerprint(pages, "url"),
        "exact": fp("canon"),
        "sigs": fp("canon"),
        "cands": fp("sigs"),
        "span_cand": fp("canon"),
        "verify": fp("cands"),
        "spans": fp("span_cand") + "|" + fp("verify"),
        "cc": fp("verify") + "|" + fp("exact") + "|" + fp("spans"),
        "clusters": fp("cc"),
    }
    assert {s: m[s]["upstream"] for s in m} == expected


def test_failed_stage_leaves_no_manifest_and_resumes_upstream(
    spark, pages, result, tmp_path, monkeypatch
):
    """A stage that raises inside the concurrent pool fails the run and
    writes no manifest; a re-run on the same dir resumes the stages
    that finished (canon, exact, sigs -> cands) and runs the failed
    stage and everything below it, to the same clusters."""
    from app_dupfind_spark.operators import dedup_pipeline

    def lost(*args, **kwargs):
        raise RuntimeError("span index lost")

    ckpt = tmp_path / "ck_fault"
    with monkeypatch.context() as m:
        m.setattr(dedup_pipeline, "span_candidates", lost)
        with pytest.raises(RuntimeError, match="span index lost"):
            near_dup_pipeline(spark, pages, DedupConfig(), str(ckpt))
    assert not (ckpt / "span_cand" / "_manifest.json").exists()

    clusters, runner = near_dup_pipeline(spark, pages, DedupConfig(), str(ckpt))
    assert {m["stage"]: m["resumed"] for m in runner.metrics} == {
        "canon": True, "exact": True, "sigs": True, "cands": True,
        "span_cand": False, "verify": False, "spans": False, "cc": False,
        "clusters": False,
    }
    rows1, _, _ = result
    rows2 = [(r["url"], r["cluster_id"]) for r in clusters.collect()]
    assert sorted(rows1) == sorted(rows2)


def test_memory_pipeline_takes_no_checkpoint_dir(spark, pages, result, monkeypatch):
    """persist_mode='memory' runs with checkpoint_dir=None: it creates
    no directory, skips the input-content scan (nothing can resume),
    and a second runner resumes nothing."""
    import os

    from app_dupfind_spark.operators import dedup_pipeline

    made = []
    real_mkdir = os.mkdir

    def spy_mkdir(path, *args, **kwargs):
        made.append(path)
        return real_mkdir(path, *args, **kwargs)

    def no_scan(*args, **kwargs):
        raise AssertionError("input_fingerprint called")

    monkeypatch.setattr(os, "mkdir", spy_mkdir)
    monkeypatch.setattr(dedup_pipeline, "input_fingerprint", no_scan)
    rows1, _, _ = result
    for _ in range(2):
        clusters, runner = near_dup_pipeline(
            spark, pages, DedupConfig(), None, persist_mode="memory"
        )
        assert not any(m["resumed"] for m in runner.metrics)
        rows = [(r["url"], r["cluster_id"]) for r in clusters.collect()]
        assert sorted(rows) == sorted(rows1)
    assert made == []


def test_unknown_stage_input_raises(spark):
    """A stage may only name inputs this runner ran, resumed, skipped
    or was given as a source; anything else is a KeyError, never a
    silently empty fingerprint."""
    from app_dupfind_spark.plans.pipeline import PipelineRunner

    runner = PipelineRunner(spark, DedupConfig(), None, persist_mode="memory")
    runner.add_source("pages", "input:1:0")
    runner.run_stage("a", lambda: spark.range(1), inputs=("pages",))
    with pytest.raises(KeyError, match="never_ran"):
        runner.run_stage("b", lambda: spark.range(1), inputs=("a", "never_ran"))
    with pytest.raises(KeyError, match="never_ran"):
        runner.skip_stage("c", spark.range(0), "empty", inputs=("never_ran",))
    assert [m["stage"] for m in runner.metrics] == ["a"]


def test_partial_resume_recomputes_only_downstream(spark, pages, tmp_path):
    """Kill-and-resume at a stage boundary (SURVEY §5 item 5): wiping
    one mid-pipeline checkpoint replays that stage and everything
    downstream of it, resumes everything upstream, and yields identical
    clusters."""
    import shutil

    ckpt = tmp_path / "ck_partial"
    clusters1, _ = near_dup_pipeline(spark, pages, DedupConfig(), str(ckpt))
    rows1 = sorted((r["url"], r["cluster_id"]) for r in clusters1.collect())

    shutil.rmtree(ckpt / "cands")  # simulate a crash that lost a stage
    clusters2, runner2 = near_dup_pipeline(spark, pages, DedupConfig(), str(ckpt))
    status = {m["stage"]: m["resumed"] for m in runner2.metrics}
    assert status["canon"] and status["exact"] and status["sigs"]
    assert not status["cands"]
    # downstream stages see an unchanged upstream fingerprint (the
    # recomputed stage is deterministic: same config, same upstream,
    # same row count) and may legitimately resume
    rows2 = sorted((r["url"], r["cluster_id"]) for r in clusters2.collect())
    assert rows1 == rows2


def test_duplicate_url_canonicalization(spark, tmp_path):
    """A5: re-crawled urls collapse to the earliest warc_ts row before
    dedup proper (the 'already-deduplicated storage' semantics)."""
    from datetime import datetime, timezone

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    t1 = datetime(2024, 6, 1, tzinfo=timezone.utc)
    rows = [
        ("u1", t1, b"", "text version two " * 20, "en"),
        ("u1", t0, b"", "text version one " * 20, "en"),
        ("u2", t0, b"", "unrelated content here " * 20, "en"),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    clusters, runner = near_dup_pipeline(
        spark, df, DedupConfig(), str(tmp_path / "ck2")
    )
    assert clusters.count() == 2  # one row per url after canon
    canon = runner.io.read("canon")
    texts = {r["url"]: r["text"] for r in canon.collect()}
    assert texts["u1"].startswith("text version one")


def test_q1_early_exit_on_all_unique_corpus(spark, tmp_path):
    """Q1 (App.pm:268-319): a corpus with no dup evidence short-circuits
    — verify is skipped when LSH yields no candidates, CC is skipped
    when there are no edges, and every doc is its own singleton
    cluster.  No empty jobs are scheduled for the skipped stages."""
    rows = [
        (f"u{i}", BASE_TS, b"", f"completely unique document number {i} " +
         " ".join(f"w{i}x{j}" for j in range(30)), "en")
        for i in range(12)
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    cfg = DedupConfig(span_enabled=False)
    clusters, runner = near_dup_pipeline(spark, df, cfg, str(tmp_path / "ckq1"))
    status = {m["stage"]: m for m in runner.metrics}
    assert status["verify"]["skipped"] is True
    assert status["cc"]["skipped"] is True
    assert runner.counters["cands"]["lsh_truncated_buckets"] == 0
    got = [(r["url"], r["cluster_id"], r["is_canonical"]) for r in clusters.collect()]
    assert len(got) == 12
    assert all(u == cid and canon for u, cid, canon in got)


def test_planted_mega_bucket_is_counted(spark):
    """A truncated LSH bucket is never silent: 30 identical docs over
    lsh_bucket_cap=10 fill one bucket per band, and the cands stage
    counts all 32 buckets and their 30 x 32 members."""
    text = " ".join(f"mega{j}" for j in range(40))
    rows = [(f"u{i:02d}", BASE_TS, b"", text, "en") for i in range(30)]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    cfg = DedupConfig(lsh_bucket_cap=10, span_enabled=False)
    clusters, runner = near_dup_pipeline(spark, df, cfg, None, persist_mode="memory")
    cands = runner.counters["cands"]
    assert cands["lsh_truncated_buckets"] == cfg.lsh_bands == 32
    assert cands["lsh_truncated_members"] == 30 * 32
    # the exact stage still clusters them
    assert clusters.select("cluster_id").distinct().count() == 1


def test_q1_skip_does_not_poison_resume(spark, pages, tmp_path):
    """A skipped stage must not let downstream stages resume against a
    stale manifest: run an empty corpus (cc skipped), then a real one
    in the SAME checkpoint dir — clusters must rebuild, not resume."""
    rows = [
        (f"u{i}", BASE_TS, b"", f"unique doc {i} " +
         " ".join(f"t{i}y{j}" for j in range(30)), "en")
        for i in range(8)
    ]
    empty_corpus = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    ckpt = str(tmp_path / "ckq1b")
    cfg = DedupConfig(span_enabled=False)
    near_dup_pipeline(spark, empty_corpus, cfg, ckpt)
    clusters, runner = near_dup_pipeline(spark, pages, cfg, ckpt)
    status = {m["stage"]: m for m in runner.metrics}
    # new input -> content fingerprint differs -> full rebuild
    assert not status["canon"]["resumed"]
    assert not status["clusters"]["resumed"]
    assert clusters.count() == pages.count()


def test_a6_counters_reference_triplet(result, corpus):
    """A6 (App.pm:424-429): the scan/size-dup/real-dup counter triplet
    collected in-flight via df.observe() — no second pass."""
    _, runner, _ = result
    c = runner.counters
    assert c["canon"]["rows_in"] == len(corpus.rows)
    ex = c["exact"]
    assert ex["scan_members"] == len(corpus.rows)
    # cascade only ever shrinks (the reference's monotone cascade)
    assert ex["scan_members"] >= ex["size_members"] >= ex["weed_members"] >= ex["digest_members"]
    # size-dup counters: members/count of multi-member length groups
    by_size = defaultdict(int)
    for r in corpus.rows:
        by_size[len(r["text"])] += 1
    assert ex["size_members"] == sum(n for n in by_size.values() if n >= 2)
    assert ex["size_groups"] == sum(1 for n in by_size.values() if n >= 2)
    # real dups: members of multi-member digest groups == exact stage rows_out
    exact_rows = next(m for m in runner.metrics if m["stage"] == "exact")["rows_out"]
    assert ex["digest_members"] == exact_rows
    # ground truth: members of multi-member byte-identical text groups
    # (exact clusters + the empty-doc group) survive the whole cascade
    by_text = defaultdict(int)
    for r in corpus.rows:
        by_text[r["text"]] += 1
    n_exact_members = sum(n for n in by_text.values() if n >= 2)
    assert ex["digest_members"] == n_exact_members


def test_cc_counters_explain_the_finish(result):
    """The cc stage reports its star rounds and the edges it finished
    on the driver; the fixture's dup graph is far below the bound, so
    it takes no round, and a spanning forest of its clusters bounds
    the edge count from below."""
    rows, runner, _ = result
    cc = {
        r["counter"]: r["value"]
        for r in runner.counters_df().where("stage = 'cc'").collect()
    }
    assert cc["rounds"] == 0
    sizes = defaultdict(int)
    for _, cid in rows:
        sizes[cid] += 1
    multi = [n for n in sizes.values() if n >= 2]
    assert cc["driver_edges"] >= sum(multi) - len(multi) > 0


def test_input_change_invalidates_same_checkpoint_dir(spark, pages, tmp_path):
    """Resume staleness (ADVICE): same checkpoint dir, different input
    -> the content fingerprint forces a rebuild instead of silently
    returning the old corpus' clusters."""
    ckpt = str(tmp_path / "ckstale")
    cfg = DedupConfig()
    near_dup_pipeline(spark, pages, cfg, ckpt)
    drop_url = pages.select("url").first()["url"]
    smaller = pages.where(pages["url"] != drop_url)
    clusters2, runner2 = near_dup_pipeline(spark, smaller, cfg, ckpt)
    assert not any(m["resumed"] for m in runner2.metrics if m["stage"] == "canon")
    assert clusters2.count() == smaller.count()


@pytest.mark.parametrize("persist_mode", ["memory", "parquet"])
def test_unpopulated_observation_leaves_a_counter(spark, tmp_path, persist_mode):
    """An Observation the stage's action never populated (e.g. under a
    subtree AQE pruned as empty) is recorded as `unobserved_<name>`
    instead of vanishing — a lost counter never reads as 'no rows'."""
    from pyspark.sql import Observation

    from app_dupfind_spark.plans.pipeline import PipelineRunner

    runner = PipelineRunner(
        spark, DedupConfig(), str(tmp_path / "ck"), persist_mode=persist_mode
    )
    runner.track("stage", "lost", Observation())
    runner.run_stage("stage", lambda: spark.range(3))
    assert runner.counters["stage"] == {"unobserved_lost": 1}


def test_cands_pairs_the_sigs_checkpoint_without_a_barrier(
    spark, pages, tmp_path, monkeypatch
):
    """The sigs checkpoint holds only what cands reads, (url, bands),
    and cands pairs that read-back directly: the checkpoint is already
    a barrier, so the stage binds nothing again."""
    from app_dupfind_spark.operators import minhash_lsh

    calls = []
    original = minhash_lsh.materialize_barrier

    def spy(*args, **kwargs):
        calls.append(args)
        return original(*args, **kwargs)

    monkeypatch.setattr(minhash_lsh, "materialize_barrier", spy)
    _, runner = near_dup_pipeline(
        spark, pages, DedupConfig(), str(tmp_path / "ck")
    )
    assert runner.io.read("sigs").columns == ["url", "bands"]
    assert {m["stage"]: m["resumed"] for m in runner.metrics}["cands"] is False
    assert calls == []


def test_barrier_switch_resumes_every_stage(spark, pages, tmp_path, monkeypatch):
    """The barrier follows the master and is no part of the run's
    identity: a run re-started on a non-local master (reliable
    barriers, checkpoint dir set by the runner) resumes every stage a
    local run finished."""
    from app_dupfind_spark.plans import barriers

    ckpt = str(tmp_path / "ck")
    clusters1, _ = near_dup_pipeline(spark, pages, DedupConfig(), ckpt)
    rows1 = sorted((r["url"], r["cluster_id"]) for r in clusters1.collect())

    monkeypatch.setattr(barriers, "is_local_master", lambda spark: False)
    clusters2, runner2 = near_dup_pipeline(spark, pages, DedupConfig(), ckpt)
    assert spark.sparkContext.getCheckpointDir()
    assert [m["stage"] for m in runner2.metrics if not m["resumed"]] == []
    rows2 = sorted((r["url"], r["cluster_id"]) for r in clusters2.collect())
    assert rows1 == rows2


def test_sigs_stage_evaluates_no_simhash(spark, pages, tmp_path, monkeypatch):
    """The sigs stage stores band hashes only: its plan runs the
    MinHash UDF and the optimizer prunes the unread SimHash UDF."""
    from app_dupfind_spark.operators import dedup_pipeline

    plans = []
    original = dedup_pipeline.lsh_bands

    def spy(*args, **kwargs):
        out = original(*args, **kwargs)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(dedup_pipeline, "lsh_bands", spy)
    near_dup_pipeline(
        spark, pages, DedupConfig(), str(tmp_path / "ck"), persist_mode="memory"
    )
    assert len(plans) == 1
    assert "minhash_sig" in plans[0] and "simhash" not in plans[0], plans[0]
