"""Streaming exact-dedup: file source -> watermarked digest dedup ->
parquet sink, drained with availableNow."""

from __future__ import annotations

from datetime import datetime, timezone


def test_stream_dedup_drains_and_dedups(spark, tmp_path):
    from app_dupfind_spark.streaming.stream_dedup import run_file_stream

    t = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = [
        ("u1", t, b"", "same text " * 10, "en"),
        ("u2", t, b"", "same text " * 10, "en"),   # exact dup of u1
        ("u3", t, b"", "other text " * 10, "en"),
        ("u4", t, b"", None, "en"),                 # null text dropped
    ]
    src = tmp_path / "src"
    spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).write.parquet(str(src))

    q = run_file_stream(
        spark, str(src), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    q.awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "out"))
    digests = [r["digest"] for r in out.collect()]
    assert len(digests) == 2            # one per distinct content
    assert len(set(digests)) == 2


def test_near_dup_stream_matches_across_microbatches(spark, tmp_path):
    """Stateful LSH bucket store: a near-dup arriving in a LATER
    micro-batch must match against bucket state from an earlier one
    (one file per trigger => one micro-batch per file)."""
    from app_dupfind_spark.streaming.stream_near_dup import (
        run_near_dup_file_stream,
    )

    t = datetime(2024, 1, 1, tzinfo=timezone.utc)
    base = " ".join(f"word{i}" for i in range(300))
    near = base.replace("word150 ", "edited ")  # near-identical (hamming ~1)
    schema = (
        "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    src = tmp_path / "src"
    # file 1 -> micro-batch 1: the originals
    spark.createDataFrame(
        [("uA", t, b"", base, "en"),
         ("uC", t, b"", " ".join(f"other{i}" for i in range(300)), "en")],
        schema,
    ).coalesce(1).write.mode("append").parquet(str(src))
    # file 2 -> micro-batch 2: exact dup of A + near-dup of A
    spark.createDataFrame(
        [("uA2", t, b"", base, "en"), ("uA3", t, b"", near, "en")],
        schema,
    ).coalesce(1).write.mode("append").parquet(str(src))
    # file 3 -> micro-batch 3: uA2 RE-DELIVERED (same url, same content,
    # a later micro-batch) — its (uA, uA2) pair was already reported in
    # batch 2 and must NOT surface again (VERDICT r3 #3)
    spark.createDataFrame(
        [("uA2", t, b"", base, "en")], schema,
    ).coalesce(1).write.mode("append").parquet(str(src))

    q = run_near_dup_file_stream(
        spark, str(src), str(tmp_path / "out"), str(tmp_path / "ck")
    )
    q.awaitTermination(180)

    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    pairs = {(r["a"], r["b"]) for r in rows}
    assert ("uA", "uA2") in pairs          # cross-batch exact dup
    assert ("uA", "uA3") in pairs          # cross-batch near dup
    assert not any("uC" in p for pair in pairs for p in pair)
    # exactly-once ACROSS batches: an exact dup shares all 32 band
    # buckets AND uA2 was delivered twice in different micro-batches,
    # yet each (a, b) pair surfaces exactly ONE row in the whole sink
    assert len(rows) == len(pairs)
    # exact dup: hamming 0 in some band
    h = {(r["a"], r["b"]): r["hamming"] for r in rows}
    assert h[("uA", "uA2")] == 0


def test_stream_replay_matches_batch_pairs(spark, tmp_path):
    """Deterministic replay artifact (VERDICT r3 #8): the full fixture
    corpus delivered as a fixed file sequence through the stream must
    produce EXACTLY the batch gate's pair set at the stream's sketch
    width — stateful matcher, micro-batching, re-delivery guards and
    the idempotent sink change nothing.  scripts/stream_replay_check.py
    runs the same function and records STREAM_CORRECTNESS.json."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    from stream_replay_check import run_check

    result = run_check(spark, str(tmp_path))
    assert result["equal"], result
    assert result["stream_pairs"] > 0


def test_bucket_matcher_fifo_cap_and_gates():
    """Pure-function check of the stateful kernel: FIFO eviction at the
    cap, OR-gate (hamming OR sketch-estimate), deterministic order."""
    import pandas as pd

    from app_dupfind_spark.streaming.stream_near_dup import (
        SKETCH_PERMS,
        make_bucket_matcher,
    )

    class FakeState:
        def __init__(self):
            self.exists, self.hasTimedOut, self._v = False, False, None
        @property
        def get(self):
            return self._v
        def update(self, v):
            self._v, self.exists = v, True
        def remove(self):
            self.exists = False
        def getCurrentWatermarkMs(self):
            return 0
        def setTimeoutTimestamp(self, ts):
            self.timeout = ts

    fn = make_bucket_matcher(
        max_hamming=3, jaccard_threshold=0.7, max_bucket_state=2, ttl_ms=1000
    )
    st = FakeState()
    ts = pd.Timestamp("2024-01-01", tz="UTC")

    def batch(rows):
        return [pd.DataFrame({
            "id": [r[0] for r in rows],
            "ts": [ts] * len(rows),
            "sim": [r[1] for r in rows],
            "sketch": [r[2] for r in rows],
            "band": [0] * len(rows),
            "band_hash": [7] * len(rows),
        })]

    sk = list(range(SKETCH_PERMS))
    far_sk = [v + 1000 for v in sk]
    # batch 1: three members; cap=2 keeps only the LAST two (u2, u3)
    list(fn((0, 7), iter(batch([("u1", 0, sk), ("u2", 0, sk), ("u3", 0, sk)])), st))
    assert list(st.get[0]) == ["u2", "u3"]
    # batch 2: new doc matches via sketch (hamming huge, est 1.0)
    out = list(fn((0, 7), iter(batch([("u4", -1, sk)])), st))
    got = {(a, b) for df in out for a, b in zip(df["a"], df["b"])}
    assert got == {("u2", "u4"), ("u3", "u4")}  # u1 evicted
    # batch 3: matches via hamming only (sketch far, sim equal)
    out = list(fn((0, 7), iter(batch([("u5", -1, far_sk)])), st))
    got = {(a, b) for df in out for a, b in zip(df["a"], df["b"])}
    assert got == {("u4", "u5")}  # only u4 has sim == -1


def test_bucket_matcher_redelivery_guard():
    """A re-delivered doc id must not emit a degenerate (X, X) self
    pair, and must REPLACE its stored state entry (latest signature
    wins) rather than append a duplicate."""
    import pandas as pd

    from app_dupfind_spark.streaming.stream_near_dup import (
        SKETCH_PERMS,
        make_bucket_matcher,
    )

    class FakeState:
        def __init__(self):
            self.exists, self.hasTimedOut, self._v = False, False, None
        @property
        def get(self):
            return self._v
        def update(self, v):
            self._v, self.exists = v, True
        def remove(self):
            self.exists = False
        def getCurrentWatermarkMs(self):
            return 0
        def setTimeoutTimestamp(self, ts):
            self.timeout = ts

    fn = make_bucket_matcher(
        max_hamming=3, jaccard_threshold=0.7, max_bucket_state=8, ttl_ms=1000
    )
    st = FakeState()
    ts = pd.Timestamp("2024-01-01", tz="UTC")

    def batch(rows):
        return [pd.DataFrame({
            "id": [r[0] for r in rows],
            "ts": [ts] * len(rows),
            "sim": [r[1] for r in rows],
            "sketch": [r[2] for r in rows],
            "band": [0] * len(rows),
            "band_hash": [7] * len(rows),
        })]

    sk = list(range(SKETCH_PERMS))
    list(fn((0, 7), iter(batch([("u1", 0, sk)])), st))
    # u1 re-delivered: no (u1, u1) pair, state still holds ONE u1 entry
    out = list(fn((0, 7), iter(batch([("u1", 5, sk)])), st))
    got = {(a, b) for df in out for a, b in zip(df["a"], df["b"])}
    assert got == set()
    ids, sims, sketches, emitted, meta = st.get
    assert list(ids) == ["u1"]
    assert list(sims) == [5]               # replaced, latest wins
    assert len(sketches) == SKETCH_PERMS
    # a genuinely new doc still matches the (single) stored entry
    out = list(fn((0, 7), iter(batch([("u2", 5, sk)])), st))
    got = {(a, b) for df in out for a, b in zip(df["a"], df["b"])}
    assert got == {("u1", "u2")}
    # u2 re-delivered in a LATER batch: the (u1, u2) pair is already
    # fingerprinted in bucket state and must not be re-emitted
    out = list(fn((0, 7), iter(batch([("u2", 5, sk)])), st))
    got = {(a, b) for df in out for a, b in zip(df["a"], df["b"])}
    assert got == set()
    # while a genuinely NEW pair from the same bucket still emits
    out = list(fn((0, 7), iter(batch([("u3", 5, sk)])), st))
    got = {(a, b) for df in out for a, b in zip(df["a"], df["b"])}
    assert got == {("u1", "u3"), ("u2", "u3")}


def test_near_dup_stream_rejects_narrow_minhash(spark):
    """num_perm < SKETCH_PERMS must die at plan time with a clear
    error, not at runtime inside the matcher's reshape."""
    import pytest

    from app_dupfind_spark.config import DedupConfig
    from app_dupfind_spark.streaming.stream_near_dup import near_dup_stream

    stream = (
        spark.readStream.format("rate").load()
        .selectExpr(
            "cast(value as string) as url",
            "timestamp as warc_ts",
            "cast(null as binary) as html",
            "'text' as text",
            "'en' as lang",
        )
    )
    with pytest.raises(ValueError, match="SKETCH_PERMS"):
        near_dup_stream(
            stream, DedupConfig(lsh_bands=4, lsh_rows=4)
        )


class _FakeState:
    def __init__(self):
        self.exists, self.hasTimedOut, self._v = False, False, None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v, self.exists = v, True

    def remove(self):
        self.exists = False

    def getCurrentWatermarkMs(self):
        return 0

    def setTimeoutTimestamp(self, ts):
        self.timeout = ts


def _batch(rows):
    import pandas as pd

    ts = pd.Timestamp("2024-01-01", tz="UTC")
    return [pd.DataFrame({
        "id": [r[0] for r in rows],
        "ts": [ts] * len(rows),
        "sim": [r[1] for r in rows],
        "sketch": [r[2] for r in rows],
        "band": [0] * len(rows),
        "band_hash": [7] * len(rows),
    })]


def test_bucket_matcher_redelivery_of_earlier_member():
    """ADVICE r4 (high): re-delivering the EARLIER member X of an
    already-emitted pair (X, Y) reverses the (stored, arrival)
    orientation to (Y, X) — the fingerprint must hash the UNORDERED
    pair, or the sink carries the pair twice as (X, Y) and (Y, X)."""
    from app_dupfind_spark.streaming.stream_near_dup import (
        SKETCH_PERMS,
        make_bucket_matcher,
    )

    fn = make_bucket_matcher(
        max_hamming=3, jaccard_threshold=0.7, max_bucket_state=8, ttl_ms=1000
    )
    st = _FakeState()
    sk = list(range(SKETCH_PERMS))
    list(fn((0, 7), iter(_batch([("u1", 0, sk)])), st))
    out = list(fn((0, 7), iter(_batch([("u2", 0, sk)])), st))
    got = {(a, b) for df in out for a, b in zip(df["a"], df["b"])}
    assert got == {("u1", "u2")}
    # u1 (the EARLIER member) re-delivered: stored u2 matches, and the
    # candidate emission is the REVERSED (u2, u1) — must be suppressed
    out = list(fn((0, 7), iter(_batch([("u1", 0, sk)])), st))
    got = {(a, b) for df in out for a, b in zip(df["a"], df["b"])}
    assert got == set()


def test_bucket_matcher_eviction_counter():
    """VERDICT r4 #7: FIFO eviction of emitted-pair fingerprints
    degrades exactly-once to at-least-once — the degradation must be
    COUNTED and ride out on emitted rows as `evicted_fps`."""
    from app_dupfind_spark.streaming.stream_near_dup import (
        SKETCH_PERMS,
        make_bucket_matcher,
    )

    fn = make_bucket_matcher(
        max_hamming=3, jaccard_threshold=0.7, max_bucket_state=8,
        ttl_ms=1000, max_emitted_state=2,
    )
    st = _FakeState()
    sk = list(range(SKETCH_PERMS))
    # u1,u2,u3 pairwise-match: 3 fingerprints accumulate; cap=2 evicts 1
    list(fn((0, 7), iter(_batch([("u1", 0, sk)])), st))
    out = list(fn((0, 7), iter(_batch([("u2", 0, sk), ("u3", 0, sk)])), st))
    assert all(v == 1 for df in out for v in df["evicted_fps"])
    assert st.get[4] == [1]
    # next batch: u4 emits 3 more pairs onto the 2 retained
    # fingerprints => 3 more evictions, cumulative 4; rows carry it
    out = list(fn((0, 7), iter(_batch([("u4", 0, sk)])), st))
    assert all(v == 4 for df in out for v in df["evicted_fps"])
    assert st.get[4] == [4]
    # the evicted (u1,u2) fingerprint is gone: re-delivering u2 now
    # RE-EMITS its pair with u1 (at-least-once, honestly counted)
    out = list(fn((0, 7), iter(_batch([("u2", 0, sk)])), st))
    got = {(a, b) for df in out for a, b in zip(df["a"], df["b"])}
    assert ("u1", "u2") in got or ("u2", "u1") in got
