"""The shared key-pair kernel (operators/cobucket.py) and the plans of
the operators built on it."""

from __future__ import annotations

import re
from collections import Counter, defaultdict
from itertools import combinations

import pytest

from app_dupfind_spark.config import DedupConfig
from app_dupfind_spark.operators import jaccard as jaccard_mod
from app_dupfind_spark.operators.ann import banded_lsh_neighbors
from app_dupfind_spark.operators.cobucket import key_pairs
from app_dupfind_spark.operators.jaccard import jaccard_pairs
from app_dupfind_spark.operators.spans import span_candidates
from app_dupfind_spark.plans.barriers import materialize_barrier

# (band, h, id) memberships: (0, 1) has one member; (0, 2) is above a
# max_size of 3; (1, 5) carries "p" twice; "m" and "n" share (2, 7) and
# (3, 7), so their pair counts two keys
MEMBERS = (
    [(0, 1, "x")]
    + [(0, 2, f"big{i}") for i in range(4)]
    + [(1, 5, "p"), (1, 5, "p"), (1, 5, "q")]
    + [(2, 7, "m"), (2, 7, "n"), (3, 7, "m"), (3, 7, "n"), (3, 7, "o")]
)


def _oracle(rows, max_size):
    groups = defaultdict(list)
    for band, h, i in rows:
        groups[(band, h)].append(i)
    pairs = Counter()
    for ids in groups.values():
        if len(ids) < 2 or (max_size is not None and len(ids) > max_size):
            continue
        for a, b in combinations(sorted(ids), 2):
            if a != b:
                pairs[(a, b)] += 1
    return dict(pairs), {k: len(v) for k, v in groups.items()}


@pytest.mark.parametrize("max_size", [3, None])
def test_key_pairs_match_python_oracle(spark, max_size):
    member = spark.createDataFrame(MEMBERS, "band int, h long, id string")
    pairs, sizes = key_pairs(member, ["band", "h"], "id", max_size, "n")
    got = {(r["a"], r["b"]): r["n"] for r in pairs.collect()}
    got_sizes = {(r["band"], r["h"]): r["size"] for r in sizes.collect()}
    want, want_sizes = _oracle(MEMBERS, max_size)
    assert got == want
    assert got_sizes == want_sizes
    assert got[("m", "n")] == 2
    assert not any(a == b for a, b in got)  # the duplicated "p" row
    assert not any(a == "x" or b == "x" for a, b in got)  # size-1 key
    big = any(a.startswith("big") for a, _ in got)
    assert big == (max_size is None)  # above the cap: no pair...
    assert got_sizes[(0, 2)] == 4  # ...but its size is reported


def _children(node):
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _nodes(node):
    yield node
    for c in _children(node):
        yield from _nodes(c)


def _reaches_explode(node) -> bool:
    """True if some path below `node` reaches a Generate without
    passing an Aggregate, i.e. `node` carries exploded index rows."""
    name = node.nodeName()
    if name == "Aggregate":
        return False
    if name == "Generate":
        return True
    return any(_reaches_explode(c) for c in _children(node))


def _index_self_joins(df, key: str) -> list[str]:
    """Joins on `key` whose two sides are both exploded index rows."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return [
        n.simpleString(25)
        for n in _nodes(plan)
        if n.nodeName() == "Join"
        and re.search(rf"\b{key}#", n.condition().toString())
        and all(_reaches_explode(c) for c in _children(n))
    ]


def _generators(df) -> list[str]:
    plan = df._jdf.queryExecution().optimizedPlan()
    return [
        n.generator().toString() for n in _nodes(plan)
        if n.nodeName() == "Generate"
    ]


@pytest.mark.parametrize(
    "op", ["jaccard_pairs", "span_candidates", "banded_lsh_neighbors"]
)
def test_pairs_come_from_the_nested_generate_not_a_self_join(spark, pages, op):
    """The inverted indexes and the embedding LSH buckets pair
    co-members through one sorted member array per key
    (posexplode x explode(slice)), never by joining the exploded index
    to itself on the key (an m^2 shuffled join)."""
    if op == "jaccard_pairs":
        df, key = jaccard_pairs(pages, 5, 0.5, "url", "text"), "shingle"
    elif op == "span_candidates":
        df, key = span_candidates(pages, DedupConfig(), "url", "text"), "sh"
    else:
        vecs = spark.createDataFrame(
            [(i, [float(i % 3), 1.0, 0.5, 0.0]) for i in range(8)],
            "vec_id long, embedding array<double>",
        )
        df, _ = banded_lsh_neighbors(
            vecs, 0.5, dim=4, bands=2, rows_per_band=4
        )
        key = "code"
    assert _index_self_joins(df, key) == []
    gens = _generators(df)
    assert any(g.startswith("posexplode(") for g in gens), gens
    assert any(g.startswith("explode(slice(") for g in gens), gens


def test_capped_counter_reuses_the_one_shingle_count(spark, pages, monkeypatch):
    """With capped_count_col, the pairing filter and the truncation
    counter read ONE document-frequency aggregate (bound behind a
    barrier), not one each.  Every barriered frame and the output are
    checked."""
    def plan(df):  # the physical plan as planned, before it runs
        return df._jdf.queryExecution().executedPlan().toString()

    plans = []

    def spy(df, **kw):
        plans.append(plan(df))
        return materialize_barrier(df, **kw)

    monkeypatch.setattr(jaccard_mod, "materialize_barrier", spy)
    out = jaccard_pairs(
        pages, 5, 0.5, "url", "text",
        max_shingle_df=3, capped_count_col="n_capped",
    )
    plans.append(plan(out))
    finals = re.findall(
        r"HashAggregate\(keys=\[shingle#\d+L?\], functions=\[count\(1\)\]",
        "\n".join(plans),
    )
    assert len(finals) == 1, plans
