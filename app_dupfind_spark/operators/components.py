"""Connected components over verified dup pairs — J3 in SURVEY §2.5.

The reference's clusters are single-key equivalence classes (one digest
= one cluster, Common.pm:187) so closure is trivial there; near-dup
pairs form an arbitrary graph and need real CC.

Distributed algorithm: alternating large-star / small-star (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14 — named by
the north_star).  Each round is two DataFrame aggregations + joins; the
edge set converges to a star forest where every node points at its
component minimum, in O(log^2 n) rounds.  Every round pays driver
planning and job latency whatever its size.

Driver finish: once the edge count is at or below
`DRIVER_FINISH_MAX_EDGES` the edges are collected through Arrow and
finished in numpy (`_driver_components`): dense ids by `np.unique`,
then min-label hooking plus pointer jumping.  The input is checked
first, by collecting at most the bound + 1 of its edges before any
barrier or `distinct` (duplicates are dropped in pandas); a larger
input is barriered, and the count the fixpoint checksum already
returns is checked after the barrier and after every round.  Dup
graphs are small near-cliques, so a typical run takes no star round
and no barrier at all; a large graph pays that one bounded collect,
then runs star rounds until it shrinks below the bound, and star
rounds keep the node set and the partition, so finishing part-way
gives the same components.

A simpler O(diameter) min-label propagation (hash-min) and a python
union-find live in tests/test_components.py as cross-checks.

Scale notes:
- A lazy barrier after every round cuts the lineage — iterative
  self-joins otherwise compound the plan exponentially.  Off a local
  master the barrier is a reliable checkpoint (plans/barriers.py), so
  each ROUND is durable and an executor loss mid-CC replays at most
  one round instead of rewinding to the stage's input checkpoint.
- Fixpoint detection compares the edge multiset via a count+checksum
  aggregate (one cheap job), not exceptAll (a full shuffle).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from app_dupfind_spark.plans.barriers import materialize_barrier

DRIVER_FINISH_MAX_EDGES = 1_000_000
"""Largest edge set `connected_components` finishes on the driver.

Driver memory is roughly edges x (2 x id bytes + 16) bytes: both edge
ends as ids plus their dense int64 ids, ~32 MB at 1M long-id edges
(each hooking pass adds ~32 B/edge of transient arrays).  Url-string
ids are Python objects on the driver, ~50-100 B each.  Not a
`DedupConfig` field: it changes no output row."""


def _canonical_edges(pairs: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Undirected edge list (u, v) with u != v: self-loops dropped, an
    edge may repeat."""
    return pairs.select(F.col(a).alias("u"), F.col(b).alias("v")).where(
        F.col("u") != F.col("v")
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u})."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.withColumn("m", F.least("mn", "u")).select("u", "m")
    # no trailing distinct (r6): every caller feeds this into
    # _small_star, whose first step re-maps to (greatest, least) and
    # dedups — a distinct here was a third Aggregate per round paying
    # plan-time and an exchange for rows the next operator dedups
    # anyway.  (The per-round driver PLANNING cost, ~0.4-0.9 s of the
    # round at the 50k point, scales with operator count — guide §7.3.)
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Direct every edge large->small; for each node u connect u and all
    its smaller neighbors to min(N⁻(u) ∪ {u})."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v")).distinct()
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    neigh = directed.join(mins, "u").select(
        F.col("v").alias("n"), F.col("m"), F.col("u")
    )
    selfrows = mins.select(F.col("u").alias("n"), F.col("m"), F.col("u"))
    out = (
        neigh.select("n", "m")
        .unionByName(selfrows.select("n", "m"))
        .where(F.col("n") != F.col("m"))
        .select(F.col("n").alias("u"), F.col("m").alias("v"))
        .distinct()
    )
    return out


def _edge_checksum(edges: DataFrame) -> tuple[int, int, int]:
    """(count, bit_xor of full 64-bit xxhash64(u,v), sum of 40-bit-
    masked hashes) — the fixpoint identity of an edge SET.

    bit_xor over the full hash is commutative and overflow-free under
    ANSI (the input_fingerprint pattern, plans/pipeline.py), closing
    the round-2 defect where a sum-of-masked-hashes collision between
    two consecutive DIFFERENT edge sets would stop CC early with a
    silently wrong clustering; the masked sum stays as an independent
    second channel (a set pair colliding in all three simultaneously
    has no construction short of engineering the hash itself)."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)
        ).alias("xr"),
        # mask to 40 bits before summing: ANSI-safe (no long overflow
        # until ~8M billion rows) while still change-sensitive
        F.coalesce(
            F.sum(F.xxhash64("u", "v").bitwiseAND(F.lit((1 << 40) - 1))), F.lit(0)
        ).alias("chk"),
    ).collect()[0]
    return row["n"], row["xr"], row["chk"]


def _star_labels(edges: DataFrame) -> DataFrame:
    """(node, component) of a star forest: every edge points node ->
    component min (or min -> min)."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    return sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("component")).select(
        F.col("u").alias("node"), "component"
    )


def _min_labels(eu: np.ndarray, ev: np.ndarray, n_nodes: int) -> np.ndarray:
    """Component min of every dense node id 0..n_nodes-1, given edges
    (eu[i], ev[i]).

    Invariant: label[x] <= x and label[x] lies in x's component.  Each
    pass hooks both edge ends and both of their labels to the smaller
    label, then jumps pointers to the root.  A pass that changes
    nothing leaves equal labels across every edge and label[label] ==
    label, so each component carries one self-labelled node: its min."""
    label = np.arange(n_nodes)
    while True:
        prev = label.copy()
        lu, lv = label[eu], label[ev]
        low = np.minimum(lu, lv)
        np.minimum.at(label, np.concatenate([eu, ev, lu, lv]), np.tile(low, 4))
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped
        if np.array_equal(label, prev):
            return label


def _driver_components(pdf: pd.DataFrame, id_type: str, spark) -> DataFrame:
    """(node, component) of a small, distinct (u, v) edge set, computed
    in numpy on the driver; one partition, typed `id_type` like the
    input ids."""
    n = len(pdf)
    # sorted: the smallest dense id of a component is its min node
    nodes, dense = np.unique(
        np.concatenate([pdf["u"].to_numpy(), pdf["v"].to_numpy()]),
        return_inverse=True,
    )
    label = _min_labels(dense[:n], dense[n:], len(nodes))
    return spark.createDataFrame(
        pd.DataFrame({"node": nodes, "component": nodes[label]}),
        f"node {id_type}, component {id_type}",
    ).coalesce(1)


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 50,
    a: str = "a",
    b: str = "b",
    counters: dict[str, float] | None = None,
) -> DataFrame:
    """(node, component) for every node appearing in `pairs`; component
    is the minimum node id of the connected component (matching the
    reference's min-member cluster identity, Common.pm:248-251).

    Star rounds run while the edge set is larger than
    `DRIVER_FINISH_MAX_EDGES`; the rest is finished on the driver.
    Raises RuntimeError when `max_iterations` star rounds pass without
    a fixpoint or a small enough edge set.  `counters`, when given,
    receives `rounds` (star rounds run) and `driver_edges` (edges
    finished on the driver, 0 if none)."""
    stats = counters if counters is not None else {}
    edges = _canonical_edges(pairs, a, b)
    id_type = edges.schema["u"].dataType.simpleString()
    # a small edge set goes straight from the input to the driver: one
    # bounded Arrow collect, duplicates dropped in pandas, no barrier
    # or checksum job
    head = edges.limit(DRIVER_FINISH_MAX_EDGES + 1).toPandas()
    if len(head) <= DRIVER_FINISH_MAX_EDGES:
        head = head.drop_duplicates(ignore_index=True)
        stats.update(rounds=0, driver_edges=len(head))
        return _driver_components(head, id_type, pairs.sparkSession)
    # lazy barrier: the checksum action right after it both
    # materializes the barrier and reads the aggregate — ONE Spark
    # job per iteration instead of two (driver job latency is the fixed
    # cost that caps scaling efficiency of the iterative stage)
    edges = materialize_barrier(edges.distinct(), eager=False)
    prev = _edge_checksum(edges)
    rounds = 0
    while prev[0] > DRIVER_FINISH_MAX_EDGES:
        if rounds == max_iterations:
            # unconverged edges are not a star forest: labelling them
            # would split components silently
            raise RuntimeError(
                f"connected_components did not reach a fixpoint in "
                f"{max_iterations} rounds; raise max_iterations"
            )
        edges = materialize_barrier(_small_star(_large_star(edges)), eager=False)
        rounds += 1
        cur = _edge_checksum(edges)
        if cur == prev:
            stats.update(rounds=rounds, driver_edges=0)
            return _star_labels(edges)
        prev = cur
    stats.update(rounds=rounds, driver_edges=prev[0])
    return _driver_components(edges.toPandas(), id_type, edges.sparkSession)
