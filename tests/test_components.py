"""Connected components: large-star/small-star, the numpy driver
finish, label propagation and a python union-find oracle on seeded
random graphs.

`connected_components` finishes on the driver at or below
`DRIVER_FINISH_MAX_EDGES` edges, so every graph here is that small: the
`cc_both_paths` fixture runs each one twice, once as is and once with
the bound at 0 (star rounds only), and requires the two to agree."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from app_dupfind_spark.operators import components
from app_dupfind_spark.operators.components import (
    _canonical_edges,
    _min_labels,
    connected_components,
)


@pytest.fixture
def star_only(monkeypatch):
    """Bound 0: connected_components runs star rounds only."""
    monkeypatch.setattr(components, "DRIVER_FINISH_MAX_EDGES", 0)


@pytest.fixture
def cc_both_paths(monkeypatch):
    """`run(df)` -> {node: component} of `df`, computed on the driver
    finish (no star round) and on star rounds only; asserts the two
    give identical (node, component) sets."""

    def run(df: DataFrame) -> dict:
        got = {}
        for path, bound in (("driver", components.DRIVER_FINISH_MAX_EDGES), ("star", 0)):
            monkeypatch.setattr(components, "DRIVER_FINISH_MAX_EDGES", bound)
            stats: dict = {}
            rows = connected_components(df, counters=stats).collect()
            assert (stats["rounds"] == 0) == (path == "driver"), (path, stats)
            got[path] = {r["node"]: r["component"] for r in rows}
        assert got["driver"] == got["star"]
        return got["driver"]

    return run


def _label_propagation_components(
    pairs: DataFrame, max_iterations: int = 50, a: str = "a", b: str = "b"
) -> DataFrame:
    """Cross-check implementation: iterate label(u) = min(label(u),
    min over neighbors' labels) until fixpoint.  O(diameter) rounds."""
    edges = _canonical_edges(pairs, a, b)
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    labels = sym.select("u").distinct().withColumn("label", F.col("u"))
    for _ in range(max_iterations):
        neigh = (
            sym.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neigh, "u", "left")
            .select(
                "u",
                F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "u")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("u").alias("node"), F.col("label").alias("component"))


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # relabel every node by component min
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    return {n: min([r] + ms) for r, ms in comp.items() for n in ms + [r]}


def _random_edges(seed: int, n_nodes: int, n_edges: int) -> list[tuple[int, int]]:
    rng = np.random.default_rng(seed)
    return [
        (int(a), int(b))
        for a, b in rng.integers(0, n_nodes, size=(n_edges, 2))
        if a != b
    ]


@pytest.mark.parametrize("seed,n_nodes,n_edges", [(1, 30, 25), (2, 100, 80), (3, 60, 120)])
def test_large_small_star_matches_union_find(spark, cc_both_paths, seed, n_nodes, n_edges):
    edges = _random_edges(seed, n_nodes, n_edges)
    df = spark.createDataFrame(edges, "a long, b long")
    assert cc_both_paths(df) == _union_find(edges)


@pytest.mark.parametrize("seed", range(5))
def test_min_labels_matches_union_find(seed):
    """The driver finish's numpy kernel alone, on graphs too large for
    a quick Spark run."""
    rng = np.random.default_rng(seed)
    n_nodes = 3000
    edges = _random_edges(seed, n_nodes, int(rng.integers(500, 4000)))
    eu, ev = np.array(edges).T
    label = _min_labels(eu, ev, n_nodes)
    want = _union_find(edges)
    assert {n: int(label[n]) for n in want} == want
    # nodes on no edge label themselves
    lonely = np.setdiff1d(np.arange(n_nodes), np.concatenate([eu, ev]))
    assert (label[lonely] == lonely).all()


def test_label_propagation_agrees(spark, cc_both_paths):
    edges = _random_edges(9, 50, 40)
    df = spark.createDataFrame(edges, "a long, b long")
    b = {r["node"]: r["component"] for r in _label_propagation_components(df).collect()}
    assert cc_both_paths(df) == b


def test_string_node_ids(spark, cc_both_paths):
    df = spark.createDataFrame(
        [("u3", "u1"), ("u1", "u2"), ("u9", "u8")], "a string, b string"
    )
    got = cc_both_paths(df)
    assert got == {"u1": "u1", "u2": "u1", "u3": "u1", "u8": "u8", "u9": "u8"}


def test_non_ascii_string_order(spark, cc_both_paths):
    """Spark's min compares UTF-8 bytes and numpy compares code points:
    the orders agree on valid UTF-8, including non-BMP ids, which
    UTF-16 order (Java's String.compareTo) would put below U+FB01."""
    df = spark.createDataFrame(
        [("😀", "中"), ("中", "é"), ("é", "a"), ("a", "Z"),
         ("😀x", "中x"), ("中x", "éx"),
         ("😀y", "ﬁ")],
        "a string, b string",
    )
    got = cc_both_paths(df)
    assert set(got.values()) == {"Z", "éx", "ﬁ"}
    assert got["😀"] == "Z" and got["😀y"] == "ﬁ"


def test_long_chain_converges(spark, cc_both_paths):
    # path graph stresses iteration count (diameter = n-1)
    n = 33
    df = spark.createDataFrame([(i, i + 1) for i in range(n)], "a long, b long")
    got = cc_both_paths(df)
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_star_rounds_then_driver_finish(spark, monkeypatch):
    """A graph above the bound runs star rounds until its edge set
    shrinks below it, then finishes on the driver: near-cliques shrink
    to stars, 3 x C(8,2) = 84 edges to ~21 in one round."""
    edges = [
        (base + i, base + j)
        for base in (0, 100, 200)
        for i in range(8)
        for j in range(i + 1, 8)
    ] + [(7, 107)]
    monkeypatch.setattr(components, "DRIVER_FINISH_MAX_EDGES", 50)
    stats: dict = {}
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r["node"]: r["component"] for r in connected_components(df, counters=stats).collect()}
    assert stats["rounds"] >= 1
    assert 0 < stats["driver_edges"] <= 50
    assert got == _union_find(edges)


def test_driver_finish_is_one_partition(spark):
    df = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "a int, b int")
    out = connected_components(df)
    assert out.rdd.getNumPartitions() == 1
    # the input's id type survives the numpy round trip
    assert out.schema.simpleString() == "struct<node:int,component:int>"
    assert sorted(map(tuple, out.collect())) == [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]
    # self-loops only: no edge, no node
    assert connected_components(spark.createDataFrame([(5, 5)], "a int, b int")).count() == 0


def test_unconverged_cc_raises(spark, star_only):
    """A path graph needs several star rounds; one round must not
    return its unconverged edges as components."""
    df = spark.createDataFrame([(i, i + 1) for i in range(16)], "a long, b long")
    with pytest.raises(RuntimeError, match="1 rounds"):
        connected_components(df, max_iterations=1)


def test_fixpoint_checksum_distinguishes_old_sum_collision(spark):
    """Round-2 defect: the fixpoint test compared (count, sum of
    40-bit-masked xxhash64) — these two DIFFERENT edge sets collide
    under that scheme (equal count, equal masked sum 340558332310,
    found by birthday search over xxhash64 seed 42), so CC could have
    declared a false fixpoint.  The (count, bit_xor, sum) triple must
    tell them apart."""
    from app_dupfind_spark.operators.components import _edge_checksum

    set_a = [(3466, 1003466), (3806, 1003806)]
    set_b = [(3815, 1003815), (4993, 1004993)]
    ea = spark.createDataFrame(set_a, "u long, v long")
    eb = spark.createDataFrame(set_b, "u long, v long")
    ca, cb = _edge_checksum(ea), _edge_checksum(eb)
    # the engineered collision: count and masked-sum channels agree
    assert ca[0] == cb[0]
    assert ca[2] == cb[2]
    # the full-width bit_xor channel must separate them
    assert ca != cb
