"""Pure metric math for the pipeline benchmark: pair quality against the
planted truth, the cluster digest, interval arithmetic for `nojob_s`,
and the per-layer table built from span and job records.

Nothing here touches Spark, so all of it is unit-tested on tiny inputs
(pipebench/tests)."""

from __future__ import annotations

import hashlib
from collections import Counter
from collections.abc import Iterable, Mapping

STAGES = (
    "canon", "exact", "sigs", "cands", "span_cand", "verify", "spans", "cc",
    "clusters",
)
STAGE_FIELDS = ("wall_s", "task_s", "nojob_s", "jobs", "shuffle_mb", "spill_mb", "rows_out")
CROSS_FIELDS = (
    "ckpt.write_s", "ckpt.read_s", "fingerprint.input_s", "fingerprint.task_s",
    "other.task_s", "total.task_s", "cc.rounds", "concurrent.wall_s",
    "exact.weed_survival", "exact.digest_yield", "cands.verify_yield",
    "spans.yield", "trace.overhead_pct",
)
# peaks over the run: the JVM's RSS plus its Python workers' PSS, the
# JVM's RSS alone, and the JVM's heap pools (sparkstats.HeapPeak)
MEMORY_FIELDS = ("mem.peak_rss_mb", "mem.jvm_rss_mb", "mem.heap_peak_mb")
# the three stage chains the pipeline runs from its thread pool
CONCURRENT = ("exact", "sigs", "cands", "span_cand")


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def pair_quality(predicted: Mapping[str, str], truth: Mapping[str, object]) -> tuple[float, float]:
    """(recall, precision) of the doc pairs that share a predicted
    cluster against the pairs that share a true cluster, by pair
    counting over the contingency table (exact, no pair enumeration).
    Only urls present in `truth` count.  A side with no pairs scores 1."""
    both = Counter((predicted[u], truth[u]) for u in truth if u in predicted)
    tp = sum(_pairs(n) for n in both.values())
    pred = sum(_pairs(n) for n in Counter(predicted[u] for u in truth if u in predicted).values())
    true = sum(_pairs(n) for n in Counter(truth.values()).values())
    recall = tp / true if true else 1.0
    precision = tp / pred if pred else 1.0
    return recall, precision


def cluster_digest(assignments: Iterable[tuple[str, str]]) -> str:
    """Order-independent digest of (url, cluster_id) rows."""
    h = hashlib.sha256()
    for url, cid in sorted(assignments):
        h.update(f"{url}\t{cid}\n".encode())
    return h.hexdigest()


def union_length(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _ratio(num: float | None, den: float | None) -> float:
    return float(num) / float(den) if num is not None and den else 0.0


def layer_table(
    spans: list[dict],
    jobs: list[dict],
    stage_rows: Mapping[str, int],
    counters: Mapping[str, Mapping[str, float]],
    cc_rounds: int,
    memory: Mapping[str, float],
) -> dict[str, float]:
    """The per-layer metrics of ONE traced pipeline run.

    spans: {"name", "start", "end"} from the traced wrappers, with names
        "stage:<stage>", "ckpt.write", "ckpt.read", "fingerprint.input";
    jobs:  {"group", "start", "end", "task_s", "shuffle_mb", "spill_mb"}
        per Spark job of the run, group "stage:<stage>", "fingerprint"
        or None;
    stage_rows: runner rows_out per stage; counters: runner counters;
    memory: the run's MEMORY_FIELDS.
    """
    out: dict[str, float] = {}
    by_group: dict[str | None, list[dict]] = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)

    def span_total(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    for st in STAGES:
        mine = [s for s in spans if s["name"] == f"stage:{st}"]
        js = by_group.pop(f"stage:{st}", [])
        wall = sum(s["end"] - s["start"] for s in mine)
        busy = sum(
            union_length([(j["start"], j["end"]) for j in js], s["start"], s["end"])
            for s in mine
        )
        out[f"{st}.wall_s"] = wall
        out[f"{st}.task_s"] = sum(j["task_s"] for j in js)
        out[f"{st}.nojob_s"] = max(wall - busy, 0.0)
        out[f"{st}.jobs"] = float(len(js))
        out[f"{st}.shuffle_mb"] = sum(j["shuffle_mb"] for j in js)
        out[f"{st}.spill_mb"] = sum(j["spill_mb"] for j in js)
        out[f"{st}.rows_out"] = float(stage_rows.get(st, 0))

    out["ckpt.write_s"] = span_total("ckpt.write")
    out["ckpt.read_s"] = span_total("ckpt.read")
    out["fingerprint.input_s"] = span_total("fingerprint.input")
    out["fingerprint.task_s"] = sum(j["task_s"] for j in by_group.pop("fingerprint", []))
    out["other.task_s"] = sum(j["task_s"] for js in by_group.values() for j in js)
    out["total.task_s"] = sum(j["task_s"] for j in jobs)
    out["cc.rounds"] = float(cc_rounds)
    conc = [s for s in spans if s["name"] in {f"stage:{c}" for c in CONCURRENT}]
    out["concurrent.wall_s"] = (
        max(s["end"] for s in conc) - min(s["start"] for s in conc) if conc else 0.0
    )
    ex = counters.get("exact", {})
    out["exact.weed_survival"] = _ratio(ex.get("weed_members"), ex.get("size_members"))
    out["exact.digest_yield"] = _ratio(ex.get("digest_members"), ex.get("weed_members"))
    out["cands.verify_yield"] = _ratio(stage_rows.get("verify"), stage_rows.get("cands"))
    out["spans.yield"] = _ratio(stage_rows.get("spans"), stage_rows.get("span_cand"))
    out.update({k: memory[k] for k in MEMORY_FIELDS})
    return {k: float(v) for k, v in out.items()}


def layer_names() -> list[str]:
    """Every per-layer metric name, in table order."""
    return [f"{s}.{f}" for s in STAGES for f in STAGE_FIELDS] + list(CROSS_FIELDS + MEMORY_FIELDS)


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_pct"):
        return "%"
    if name.endswith((".jobs", ".rows_out", ".rounds")):
        return "count"
    return "ratio"
