"""Paired, interleaved A/B benchmark of two code versions (VERDICT r3 #1).

The box's timing noise is slow drift (co-tenant load), documented at
+/-30% across days.  A single-pass round-over-round comparison cannot
distinguish a real 25% regression from that drift.  This script makes
the comparison decidable: it extracts two code versions into throwaway
trees and runs the SAME bench queries alternately A,B,A,B,... in
fresh JVMs, so drift is shared between the two sample sets, then
reports per-query median + IQR for each side and whether the
inter-quartile intervals overlap.

Usage:
  python scripts/paired_compare.py REF_A REF_B [--reps K] [--out FILE]
      [--sf-dir DIR] [--cpus N] [query ...]

REF_A/REF_B are git refs (commit, branch), extracted with `git archive`,
or literal 'WORKTREE' for a copy of the working tree's tracked and
untracked, non-ignored files.  Both trees are deleted at the end, and
bench.py's BENCH_DETAIL.json lands in them, never in the repo.
Default queries: the full HEADLINE suite of the NEWER side.  Each of
the K rounds runs one fresh-JVM bench pass per side
(SPARK_GRAFT_BENCH_REPS=2, SPARK_GRAFT_SCALE2=0), alternating sides
within the round.  A pass's sample for a query is the faster of its
two calls: the first call in a fresh JVM pays start-up the second
does not, and BENCH_DETAIL.json's `samples` are sorted, so the faster
call is `samples[0]`.

Verdict per query: 'B_faster' / 'A_faster' when the [q25,q75] intervals
do not overlap, else 'overlap' (no decidable change).
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _tree(ref: str, stack: list[Path]) -> Path:
    """A throwaway copy of `ref` (or of the working tree)."""
    d = Path(tempfile.mkdtemp(prefix=f"paired_{ref[:12].replace('/', '_')}_"))
    stack.append(d)
    if ref == "WORKTREE":
        listed = subprocess.run(
            ["git", "ls-files", "-z", "-co", "--exclude-standard"],
            cwd=REPO, check=True, capture_output=True, text=True,
        ).stdout.split("\0")
        for rel in filter(None, listed):
            src = REPO / rel
            if src.is_file():  # listed but deleted in the working tree
                (d / rel).parent.mkdir(parents=True, exist_ok=True)
                shutil.copy2(src, d / rel)
    else:
        blob = subprocess.run(
            ["git", "archive", ref], cwd=REPO, check=True, capture_output=True,
        ).stdout
        with tarfile.open(fileobj=io.BytesIO(blob)) as tar:
            tar.extractall(d, filter="data")
    return d


def _run_once(tree: Path, queries: list[str], sf_dir: str, cpus: int) -> dict:
    """One fresh-JVM bench pass (2 calls per query) in `tree`; returns
    each query's faster call."""
    env = {
        "SPARK_GRAFT_SF_DIR": sf_dir,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_BENCH_REPS": "2",
        "SPARK_GRAFT_SCALE2": "0",
    }
    proc = subprocess.run(
        [sys.executable, "bench.py", *queries],
        cwd=tree, env={**os.environ, **env}, capture_output=True, text=True,
        timeout=3600,
    )
    if proc.returncode != 0:
        raise RuntimeError(
            f"bench in {tree} failed:\n{proc.stderr[-4000:]}"
        )
    spread = json.loads((tree / "BENCH_DETAIL.json").read_text())["spread"]
    return {q: spread[q]["samples"][0] for q in queries}


def _quart(s: list[float], p: float) -> float:
    s = sorted(s)
    idx = p * (len(s) - 1)
    lo = int(idx)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (idx - lo) * (s[hi] - s[lo])


def _side_stats(samples: list[float]) -> dict:
    return {
        "median": round(statistics.median(samples), 3),
        "q25": round(_quart(samples, 0.25), 3),
        "q75": round(_quart(samples, 0.75), 3),
        "samples": [round(x, 3) for x in samples],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("ref_a")
    ap.add_argument("ref_b")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--out", default=None)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_intermixed_args()

    stack: list[Path] = []
    try:
        tree_a = _tree(args.ref_a, stack)
        tree_b = _tree(args.ref_b, stack)
        queries = args.queries
        if not queries:
            sys.path.insert(0, str(tree_b))
            import bench as _b  # noqa: PLC0415

            queries = list(_b.HEADLINE)
        a_samples: dict[str, list[float]] = {q: [] for q in queries}
        b_samples: dict[str, list[float]] = {q: [] for q in queries}
        for r in range(args.reps):
            # alternate starting side round-to-round so neither version
            # systematically runs first (first pass pays OS cache warmup)
            order = [("A", tree_a, a_samples), ("B", tree_b, b_samples)]
            if r % 2 == 1:
                order.reverse()
            for label, tree, acc in order:
                t = _run_once(tree, queries, args.sf_dir, args.cpus)
                for q in queries:
                    acc[q].append(t[q])
                print(
                    f"round {r + 1}/{args.reps} side {label}: "
                    + json.dumps(t),
                    file=sys.stderr,
                )
        result = {
            "ref_a": args.ref_a,
            "ref_b": args.ref_b,
            "reps": args.reps,
            "sf_dir": args.sf_dir,
            "cpus": args.cpus,
            "queries": {},
        }
        for q in queries:
            sa, sb = _side_stats(a_samples[q]), _side_stats(b_samples[q])
            if sb["q75"] < sa["q25"]:
                verdict = "B_faster"
            elif sa["q75"] < sb["q25"]:
                verdict = "A_faster"
            else:
                verdict = "overlap"
            result["queries"][q] = {"a": sa, "b": sb, "verdict": verdict}
        print(json.dumps(result))
        if args.out:
            Path(args.out).write_text(json.dumps(result, indent=2) + "\n")
    finally:
        for d in stack:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
