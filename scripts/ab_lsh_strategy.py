"""Paired, interleaved A/B of the two LSH pair-generation strategies.

cfg.lsh_pair_strategy ('arrays' vs 'salted_join') changes PLAN SHAPE
only — the parity test (tests/test_minhash_lsh.py) pins identical
results — so choosing the default is purely a throughput question.
Same discipline as scripts/paired_compare.py (drift-sharing
interleaved fresh-JVM passes, median + IQR per side, overlap verdict),
but the two sides are config values in ONE working tree, not git refs.

The child pass isolates the stage under test: signatures are computed
and localCheckpoint'ed UNTIMED, then candidate_pairs -> noop write is
timed.  Default corpus: the deterministic 50k synth point
(bench.ensure_scale2_fixture).

Measured (PAIRED_lsh_strategy.json): at 50k docs both strategies
finish in seconds and the box's drift swamps the difference
('overlap', paired ratios in both directions); the exchange-count
difference only carries signal once the bucket membership is tens of
millions of rows, so --scale N swaps in the scaling harness's
deterministic fixture corpus (scaling_bench.generate_corpus, cached
in /tmp) — --scale 7000 = 756k pages = 24.2M membership rows, where
'arrays' won all 3 paired rounds (median per-round ratio 0.70).

Usage:
  python scripts/ab_lsh_strategy.py [--reps K] [--cpus N] [--out FILE]
      [--scale N]
Writes PAIRED_lsh_strategy.json (a='arrays', b='salted_join').
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "scripts"))

from paired_compare import _side_stats  # noqa: E402

STRATEGIES = ("arrays", "salted_join")


def paired_block(a_samples: list[float], b_samples: list[float]) -> dict:
    """Per-round paired ratios — the statistic the interleaved design
    actually buys.  Round i's A and B passes ran back-to-back, so
    their RATIO cancels that round's co-tenant load even when the
    absolute times drift 4x across rounds and the per-side IQRs
    overlap (exactly what the 756k session measured: 28-127 s
    absolutes, yet A < B within every round)."""
    import statistics

    ratios = [a / b for a, b in zip(a_samples, b_samples)]
    return {
        "per_round_ratio_a_over_b": [round(r, 3) for r in ratios],
        "median_ratio": round(statistics.median(ratios), 3),
        "a_wins_rounds": sum(1 for r in ratios if r < 1.0),
        "rounds": len(ratios),
    }


def _child(strategy: str, pages: str, cpus: int, id_col: str) -> None:
    import time

    from app_dupfind_spark.config import DedupConfig
    from app_dupfind_spark.operators.minhash_lsh import (
        candidate_pairs,
        signatures,
    )
    from app_dupfind_spark.session import get_spark

    cfg = DedupConfig(lsh_pair_strategy=strategy)
    spark = get_spark(
        app_name=f"ab-lsh-{strategy}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    docs = spark.read.parquet(pages)
    # untimed: signature compute is identical across strategies; the
    # barrier pins it so the timed section is pair generation alone
    sigs = signatures(docs, cfg, id_col, "text").localCheckpoint()
    sigs.count()
    # untimed warmup on a small slice: pay codegen/JIT for this plan
    warm = sigs.limit(2_000).localCheckpoint()
    pairs_w, _ = candidate_pairs(warm, cfg, id_col)
    pairs_w.write.format("noop").mode("overwrite").save()

    t0 = time.time()
    pairs, _ = candidate_pairs(sigs, cfg, id_col)
    pairs.write.format("noop").mode("overwrite").save()
    sec = time.time() - t0
    print(json.dumps({"strategy": strategy, "sec": round(sec, 3)}))
    spark.stop()


def _run_child(strategy: str, pages: str, cpus: int, id_col: str) -> float:
    proc = subprocess.run(
        [sys.executable, __file__, "--run-child", strategy,
         "--pages", pages, "--cpus", str(cpus), "--id-col", id_col],
        cwd=REPO, env=os.environ, capture_output=True, text=True,
        timeout=1800,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"child {strategy} failed:\n{proc.stderr[-4000:]}")
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)["sec"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--run-child", default=None, choices=STRATEGIES)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--pages", default=None,
                    help="pages parquet path (child mode, or direct)")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--scale", type=int, default=None,
                    help="use scaling_bench.generate_corpus(scale) "
                         "(id col 'url') instead of the 50k synth point")
    ap.add_argument("--out", default=str(REPO / "PAIRED_lsh_strategy.json"))
    args = ap.parse_args()

    if args.run_child:
        _child(args.run_child, args.pages, args.cpus, args.id_col)
        return

    if args.scale:
        from scaling_bench import generate_corpus

        pages, n_rows = generate_corpus(args.scale)
        id_col, corpus = "url", f"scaling fixture scale={args.scale} ({n_rows} pages)"
    else:
        import bench

        sf = args.pages or bench.ensure_scale2_fixture("/root/testdata/sf0.1")
        pages = f"{sf}/documents.parquet" if not sf.endswith(".parquet") else sf
        id_col, corpus = args.id_col, pages
    samples: dict[str, list[float]] = {s: [] for s in STRATEGIES}
    for r in range(args.reps):
        order = list(STRATEGIES)
        if r % 2 == 1:
            order.reverse()
        for strategy in order:
            sec = _run_child(strategy, pages, args.cpus, id_col)
            samples[strategy].append(sec)
            print(
                f"round {r + 1}/{args.reps} {strategy}: {sec:.3f}s",
                file=sys.stderr,
            )
    sa = _side_stats(samples["arrays"])
    sb = _side_stats(samples["salted_join"])
    if sa["q75"] < sb["q25"]:
        verdict = "arrays_faster"
    elif sb["q75"] < sa["q25"]:
        verdict = "salted_join_faster"
    else:
        verdict = "overlap"
    result = {
        "a": "arrays",
        "b": "salted_join",
        "stage": "candidate_pairs only (signatures pre-materialized)",
        "reps": args.reps,
        "corpus": corpus,
        "cpus": args.cpus,
        "arrays": sa,
        "salted_join": sb,
        "paired": paired_block(samples["arrays"], samples["salted_join"]),
        "verdict": verdict,
    }
    print(json.dumps(result))
    Path(args.out).write_text(json.dumps(result, indent=2) + "\n")


if __name__ == "__main__":
    main()
