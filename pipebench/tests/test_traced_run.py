"""One traced benchmark process on a tiny corpus, in-process: every
stage gets spans, jobs and task time; task time adds up; the resume
check passes.  Starts a local Spark session (~1 minute)."""

from __future__ import annotations

import tempfile
from pathlib import Path

import pytest

from pipebench import corpus
from pipebench import metrics as M

BENCH_DIR = Path(__file__).resolve().parent.parent


@pytest.fixture
def run_module(monkeypatch):
    for var in ("PYTHONPATH", "PYSPARK_PYTHON", "TMPDIR", "SPARK_LAUNCHER_OPTS", "SPARK_LOCAL_DIRS"):
        monkeypatch.setenv(var, "")
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    monkeypatch.syspath_prepend(str(BENCH_DIR))
    import run

    monkeypatch.setitem(
        corpus.GENERATORS, "crawl_lowdup", lambda seed: corpus.crawl_lowdup(seed, n_docs=300)
    )
    return run


def test_traced_run_covers_every_stage(run_module, tmp_path):
    args = run_module.parse_args(
        ["--workload", "crawl_lowdup", "--seed", "3", "--seconds", "0", "--trace", "1"]
    )
    bench = run_module.Bench(args, tmp_path)
    out = bench.run()
    assert bench.failed == 0, bench.errors
    assert bench.attempted == 4  # U T U + the resume
    for st in M.STAGES:
        assert out[f"{st}.wall_s"]["value"] > 0, st
        assert out[f"{st}.jobs"]["value"] >= 1, st
    v = {k: m["value"] for k, m in out.items()}
    stage_task = sum(v[f"{st}.task_s"] for st in M.STAGES)
    assert stage_task + v["fingerprint.task_s"] + v["other.task_s"] == pytest.approx(
        v["total.task_s"]
    )
    # the per-thread job groups hold: next to nothing runs untagged
    assert v["other.task_s"] <= 0.05 * v["total.task_s"]
    assert v["cc.rounds"] >= 1 and v["resume.cc.rounds"] >= 1
    assert v["resume.wall_s"] > 0 and v["resume.fingerprint.input_s"] > 0
