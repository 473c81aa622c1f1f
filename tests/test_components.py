"""Connected components: large-star/small-star vs label propagation vs
a python union-find oracle on seeded random graphs."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from app_dupfind_spark.operators.components import (
    _canonical_edges,
    connected_components,
)


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


@pytest.mark.parametrize("seed,n_nodes,n_edges", [(1, 30, 25), (2, 100, 80), (3, 60, 120)])
def test_large_small_star_matches_union_find(spark, seed, n_nodes, n_edges):
    rng = np.random.default_rng(seed)
    edges = [
        (int(a), int(b))
        for a, b in rng.integers(0, n_nodes, size=(n_edges, 2))
        if a != b
    ]
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    want = _union_find(edges)
    assert got == want


def test_label_propagation_agrees(spark):
    rng = np.random.default_rng(9)
    edges = [
        (int(a), int(b))
        for a, b in rng.integers(0, 50, size=(40, 2))
        if a != b
    ]
    df = spark.createDataFrame(edges, "a long, b long")
    a = {r["node"]: r["component"] for r in connected_components(df).collect()}
    b = {r["node"]: r["component"] for r in _label_propagation_components(df).collect()}
    assert a == b


def test_string_node_ids(spark):
    df = spark.createDataFrame(
        [("u3", "u1"), ("u1", "u2"), ("u9", "u8")], "a string, b string"
    )
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == {"u1": "u1", "u2": "u1", "u3": "u1", "u8": "u8", "u9": "u8"}


def test_long_chain_converges(spark):
    # path graph stresses iteration count (diameter = n-1)
    n = 33
    df = spark.createDataFrame([(i, i + 1) for i in range(n)], "a long, b long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_unconverged_cc_raises(spark):
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
