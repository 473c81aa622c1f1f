"""Deterministic stream-vs-batch replay check (VERDICT r3 #8).

The streaming near-dup matcher is a recall prefilter with the SAME
signature math as the batch operators (same seeds, same band layout).
This check makes that claim a recorded artifact instead of a pytest-only
property: a fixed corpus (fixtures.build_corpus, seed pinned) is
delivered as a fixed sequence of files — one micro-batch each — through
`run_near_dup_file_stream`, and the final pair set in the sink is
compared against the batch path on the same corpus at the same config
(LSH candidate_pairs -> attach_signatures -> verify_pairs, the
estimate-mode OR gate the stream mirrors).

Contract scope: all events share one event time inside the watermark,
so no state expires mid-replay — the comparison prices the matcher and
sink, not late-data policy.  The stream's Jaccard estimate rides the
leading SKETCH_PERMS=32 MinHash permutations (bounded state), so the
EQUALITY assertion runs against the batch gate evaluated at the same
sketch width (minhash sliced to SKETCH_PERMS): identical inputs,
identical gate => the stateful matcher + micro-batching + re-delivery
guards + idempotent sink must change NOTHING.  The full-128-perm batch
gate is also recorded (recall context, not asserted equal — borderline
pairs legitimately flip with estimator width; downstream batch
re-verification owns the final truth, see module docstring of
stream_near_dup).

Run: python scripts/stream_replay_check.py   (writes
STREAM_CORRECTNESS.json at the repo root; tests/test_streaming.py runs
the same function and asserts equality).
"""

from __future__ import annotations

import json
import sys
import tempfile
from datetime import datetime, timezone
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

N_FILES = 3


def run_check(spark, workdir: str, seed: int = 42, scale: int = 1) -> dict:
    from pyspark.sql import functions as F

    from app_dupfind_spark.config import DedupConfig
    from app_dupfind_spark.fixtures import build_corpus, pages_df
    from app_dupfind_spark.operators.minhash_lsh import (
        candidate_pairs,
        signatures,
    )
    from app_dupfind_spark.operators.verify import (
        attach_signatures,
        verify_pairs,
    )
    from app_dupfind_spark.streaming.stream_near_dup import (
        run_near_dup_file_stream,
    )

    from app_dupfind_spark.streaming.stream_near_dup import SKETCH_PERMS

    cfg = DedupConfig()
    corpus = build_corpus(seed=seed, scale=scale)
    docs = pages_df(spark, corpus).where(F.col("text").isNotNull())

    # ---- batch truth: LSH candidates + estimate-mode OR gate ----
    sigs = signatures(docs, cfg, "url", "text")
    cands, _skew = candidate_pairs(sigs, cfg, "url")

    def _gate(sig_df):
        return {
            frozenset((r["a"], r["b"]))
            for r in verify_pairs(
                attach_signatures(cands.select("a", "b"), sig_df, "url"), cfg
            ).collect()
        }

    # the asserted comparator: same sketch width as the stream's state
    sigs_sketch = sigs.withColumn(
        "minhash", F.slice("minhash", 1, SKETCH_PERMS)
    )
    batch_pairs = _gate(sigs_sketch)
    # context only: the full-width gate (estimator-width recall)
    batch_pairs_full = _gate(sigs)

    # ---- streaming replay: fixed file sequence, one per micro-batch ----
    rows = docs.select("url", "text").collect()
    rows.sort(key=lambda r: r["url"])            # pinned delivery order
    t = datetime(2024, 1, 1, tzinfo=timezone.utc)
    src = Path(workdir) / "src"
    schema = (
        "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    chunk = (len(rows) + N_FILES - 1) // N_FILES
    for i in range(N_FILES):
        part = rows[i * chunk:(i + 1) * chunk]
        spark.createDataFrame(
            [(r["url"], t, b"", r["text"], "en") for r in part], schema
        ).coalesce(1).write.mode("append").parquet(str(src))
    out_dir = Path(workdir) / "out"
    q = run_near_dup_file_stream(
        spark, str(src), str(out_dir), str(Path(workdir) / "ck")
    )
    q.awaitTermination(600)
    stream_pairs = {
        frozenset((r["a"], r["b"]))
        for r in spark.read.parquet(str(out_dir)).collect()
    }

    missing = sorted(tuple(sorted(p)) for p in batch_pairs - stream_pairs)
    extra = sorted(tuple(sorted(p)) for p in stream_pairs - batch_pairs)
    return {
        "check": "stream_vs_batch_near_dup_pairs",
        "corpus": {"seed": seed, "scale": scale, "n_docs": len(rows)},
        "config_hash": cfg.config_hash(),
        "sketch_perms": SKETCH_PERMS,
        "n_files": N_FILES,
        "batch_pairs": len(batch_pairs),
        "stream_pairs": len(stream_pairs),
        "n_missing_in_stream": len(missing),
        "n_extra_in_stream": len(extra),
        "missing_in_stream": missing[:20],
        "extra_in_stream": extra[:20],
        "equal": not missing and not extra,
        # estimator-width context (not asserted): the full-num_perm gate
        "batch_pairs_full_width": len(batch_pairs_full),
        "stream_recall_vs_full_width": round(
            len(stream_pairs & batch_pairs_full) / len(batch_pairs_full), 4
        ) if batch_pairs_full else None,
    }


def main() -> None:
    from app_dupfind_spark.session import get_spark

    spark = get_spark(
        app_name="stream-replay-check", master="local[8]",
        shuffle_partitions=8,
    )
    try:
        result = run_check(spark, tempfile.mkdtemp(prefix="stream_replay_"))
    finally:
        spark.stop()
    out = REPO / "STREAM_CORRECTNESS.json"
    out.write_text(json.dumps(result, indent=2) + "\n")
    print(json.dumps(result))
    if not result["equal"]:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
