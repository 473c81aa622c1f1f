"""Metric math on tiny inputs: pair quality, digest, interval arithmetic
behind nojob_s, the per-layer table and its schema against
BENCHMARK.json, and the exit without the program."""

from __future__ import annotations

import itertools
import json
import subprocess
import sys
from pathlib import Path

import pytest

from pipebench import metrics as M

BENCH_DIR = Path(__file__).resolve().parent.parent
ROOT = BENCH_DIR.parent


def brute_pairs(assign):
    return {
        (a, b) for a, b in itertools.combinations(sorted(assign), 2)
        if assign[a] == assign[b]
    }


def test_pair_quality_matches_enumeration():
    truth = {"a": 0, "b": 0, "c": 0, "d": 1, "e": 1, "f": 2}
    pred = {"a": "a", "b": "a", "c": "c", "d": "a", "e": "e", "f": "f"}
    t, p = brute_pairs(truth), brute_pairs(pred)
    recall, precision = M.pair_quality(pred, truth)
    assert recall == pytest.approx(len(t & p) / len(t))
    assert precision == pytest.approx(len(t & p) / len(p))
    assert (recall, precision) == (pytest.approx(1 / 4), pytest.approx(1 / 3))


def test_pair_quality_perfect_and_empty():
    truth = {"a": 0, "b": 0, "c": 1}
    assert M.pair_quality({"a": "x", "b": "x", "c": "c"}, truth) == (1.0, 1.0)
    # no predicted pairs: precision is vacuous, recall is 0
    assert M.pair_quality({"a": "a", "b": "b", "c": "c"}, truth) == (0.0, 1.0)


def test_cluster_digest():
    rows = [("u1", "u1"), ("u2", "u1")]
    assert M.cluster_digest(rows) == M.cluster_digest(list(reversed(rows)))
    assert M.cluster_digest(rows) != M.cluster_digest([("u1", "u1"), ("u2", "u2")])


def test_union_length():
    assert M.union_length([(0, 1), (0.5, 2), (3, 4)], 0, 10) == 3.0
    assert M.union_length([(0, 1), (0.5, 2), (3, 4)], 1.5, 3.5) == 1.0
    assert M.union_length([], 0, 1) == 0.0
    assert M.union_length([(2, 1)], 0, 5) == 0.0


def _fixture():
    spans = [
        {"name": "fingerprint.input", "start": 0.0, "end": 0.5},
        {"name": "stage:canon", "start": 0.5, "end": 2.0},
        {"name": "ckpt.write", "start": 1.5, "end": 2.0},
        {"name": "ckpt.read", "start": 2.0, "end": 2.25},
        {"name": "stage:exact", "start": 2.0, "end": 5.0},
        {"name": "stage:sigs", "start": 2.0, "end": 4.0},
        {"name": "stage:cands", "start": 4.0, "end": 6.0},
        {"name": "stage:span_cand", "start": 2.5, "end": 5.5},
        {"name": "stage:cc", "start": 7.0, "end": 9.0},
    ]
    job = dict(task_s=1.0, shuffle_mb=2.0, spill_mb=0.0)
    jobs = [
        {"group": "fingerprint", "start": 0.1, "end": 0.4, **job},
        {"group": "stage:canon", "start": 0.6, "end": 1.0, **job},
        {"group": "stage:canon", "start": 0.9, "end": 1.5, **job},
        {"group": "stage:cc", "start": 7.0, "end": 8.0, **job},
        {"group": None, "start": 9.0, "end": 9.5, **job},
    ]
    rows = {"canon": 10, "cands": 8, "verify": 2, "span_cand": 4, "spans": 1}
    counters = {"exact": {"size_members": 10, "weed_members": 5, "digest_members": 2}}
    return spans, jobs, rows, counters


MEMORY = {"mem.peak_rss_mb": 3.0, "mem.jvm_rss_mb": 2.0, "mem.heap_peak_mb": 1.0}


def test_layer_table_arithmetic():
    t = M.layer_table(*_fixture(), cc_rounds=3, memory=MEMORY)
    assert t["canon.wall_s"] == 1.5
    # jobs cover [0.6, 1.5] of the canon span [0.5, 2.0]
    assert t["canon.nojob_s"] == pytest.approx(0.6)
    assert t["canon.jobs"] == 2 and t["canon.task_s"] == 2.0
    assert t["canon.shuffle_mb"] == 4.0
    assert t["cc.nojob_s"] == pytest.approx(1.0)
    assert t["verify.jobs"] == 0 and t["verify.wall_s"] == 0
    assert t["ckpt.write_s"] == 0.5 and t["ckpt.read_s"] == 0.25
    assert t["fingerprint.input_s"] == 0.5 and t["fingerprint.task_s"] == 1.0
    # stage task time + fingerprint + untagged jobs account for the total
    stage_task = sum(t[f"{s}.task_s"] for s in M.STAGES)
    assert stage_task + t["fingerprint.task_s"] + t["other.task_s"] == t["total.task_s"] == 5.0
    assert t["concurrent.wall_s"] == 4.0  # exact/sigs/cands/span_cand: 2.0 .. 6.0
    assert t["cc.rounds"] == 3
    assert t["exact.weed_survival"] == 0.5 and t["exact.digest_yield"] == 0.4
    assert t["cands.verify_yield"] == 0.25 and t["spans.yield"] == 0.25
    assert t["mem.jvm_rss_mb"] == 2.0


def test_layer_table_schema():
    t = M.layer_table(*_fixture(), cc_rounds=1, memory=MEMORY)
    names = M.layer_names()
    assert len(names) == len(set(names))
    assert set(t) == set(names) - {"trace.overhead_pct"}
    for st in M.STAGES:
        for f in M.STAGE_FIELDS:
            assert f"{st}.{f}" in names
    assert all(isinstance(v, float) for v in t.values())
    assert {M.layer_unit(n) for n in names} <= {"s", "MB", "%", "count", "ratio"}


def test_benchmark_json_matches_reported_metrics(monkeypatch):
    monkeypatch.syspath_prepend(str(BENCH_DIR))
    import run

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == run.E2E_UNITS
    bench = run.Bench(run.parse_args(["--workload", "dup_heavy", "--seed", "1",
                                      "--seconds", "1", "--trace", "1"]), ROOT)
    table = M.layer_table(*_fixture(), cc_rounds=1, memory=MEMORY)
    table["wall_s"] = 9.5
    out = bench.layer_result([table], [{"wall_s": 9.0}], table)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: v["unit"] for k, v in out.items()
    }
    assert out["trace.overhead_pct"]["value"] == pytest.approx(100 * 0.5 / 9.0)


def test_failed_runs_leave_metrics_out_and_exit_nonzero(monkeypatch, tmp_path, capsys):
    monkeypatch.syspath_prepend(str(BENCH_DIR))
    import run

    argv = ["--workload", "dup_heavy", "--seed", "1", "--seconds", "1", "--trace", "1"]
    bench = run.Bench(run.parse_args(argv), tmp_path)
    assert bench.layer_result([], [], None) == {}

    def failing_run(self):
        self.attempted, self.failed = 2, 1
        return {"setup_s": {"value": 30.0, "unit": "s"}}

    (tmp_path / "app_dupfind_spark").mkdir()
    monkeypatch.setattr(run, "ROOT", tmp_path)
    monkeypatch.setattr(run.Bench, "run", failing_run)
    assert run.main(argv) == 1
    last = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert last["correct"] is False and last["failed"] == 1


def test_fails_without_the_program(tmp_path):
    """Run from a directory holding only the benchmark: non-zero exit and
    no result line."""
    import shutil

    shutil.copytree(BENCH_DIR, tmp_path / "pipebench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = subprocess.run(
        [sys.executable, "pipebench/run.py", "--workload", "dup_heavy", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
