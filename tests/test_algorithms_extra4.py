"""Tests for the fourth algo.* batch (HashGNN, GraphSAGE, hierarchical
clustering, Steiner tree, minimum spanning arborescence)."""

from __future__ import annotations

import math

import pytest

pytestmark = pytest.mark.slow

from arcadedb_spark.graph.algorithms_extra4 import (
    graphsage,
    hashgnn,
    hierarchical_clustering,
    min_spanning_arborescence,
    steiner_tree,
)


@pytest.fixture(scope="module")
def two_cliques(spark):
    # K3 {0,1,2} + K3 {10,11,12} joined by a weak 2-10 link
    return spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10), (2, 10)],
        "src long, dst long",
    )


def test_hashgnn_shape_and_determinism(two_cliques):
    e1 = {r["node"]: list(r["embedding"])
          for r in hashgnn(two_cliques, dim=12, iterations=3).collect()}
    e2 = {r["node"]: list(r["embedding"])
          for r in hashgnn(two_cliques, dim=12, iterations=3).collect()}
    assert set(e1) == {0, 1, 2, 10, 11, 12}
    assert e1 == e2  # seeded → deterministic
    v = e1[0]
    assert len(v) == 12
    assert math.isclose(sum(x * x for x in v), 1.0, rel_tol=1e-9)


def test_hashgnn_structural_similarity(two_cliques):
    # 0 and 1 share a clique, so their round≥1 sketches coincide (min over
    # the same closed neighborhood) — cosine must beat the cross-clique pair
    emb = {r["node"]: list(r["embedding"])
           for r in hashgnn(two_cliques, dim=24, iterations=3).collect()}

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b))  # already L2-normalized

    assert cos(emb[0], emb[1]) > cos(emb[0], emb[11])


def test_graphsage_shape_and_determinism(two_cliques):
    e1 = {r["node"]: list(r["embedding"])
          for r in graphsage(two_cliques, dim=8, layers=2).collect()}
    e2 = {r["node"]: list(r["embedding"])
          for r in graphsage(two_cliques, dim=8, layers=2).collect()}
    assert set(e1) == {0, 1, 2, 10, 11, 12}
    assert e1 == e2
    assert len(e1[0]) == 8
    n = sum(x * x for x in e1[0])
    assert n == pytest.approx(1.0) or n == 0.0


def test_hierarchical_clustering_two_k4(spark):
    # two K4s with one bridge: every intra-clique Jaccard ≥ 2/5, every
    # cross-clique pair ≤ 1/7, so the single-linkage 2-cut is unambiguous
    k4a = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    k4b = [(a + 10, b + 10) for a, b in k4a]
    e = spark.createDataFrame(
        k4a + k4b + [(3, 10)], "src long, dst long"
    )
    rows = hierarchical_clustering(e, num_clusters=2).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], set()).add(r["nodeId"])
    assert sorted(map(sorted, by_cluster.values())) == [
        [0, 1, 2, 3], [10, 11, 12, 13]
    ]


def test_steiner_tree_star(spark):
    # terminals 1,2,3 around hub 0; spokes weight 1; direct 1-2 costs 5
    e = spark.createDataFrame(
        [(0, 1, 1.0), (0, 2, 1.0), (0, 3, 1.0), (1, 2, 5.0)],
        "src long, dst long, weight double",
    )
    rows = steiner_tree(e, [1, 2, 3]).collect()
    edges = {(r["source"], r["target"]) for r in rows}
    assert edges == {(0, 1), (0, 2), (0, 3)}
    assert rows[0]["totalWeight"] == 3.0


def test_steiner_tree_zero_weight_tie(spark):
    # 1 and 2 both lie at distance 1 from terminal 5 and share a 0-weight
    # edge: a tie must not make each the other's predecessor, or the path
    # from terminal 9 (behind 1) back to 5 never arrives
    e = spark.createDataFrame(
        [(5, 1, 1.0), (5, 2, 1.0), (1, 2, 0.0), (1, 9, 1.0)],
        "src long, dst long, weight double",
    )
    rows = steiner_tree(e, [5, 9]).collect()
    assert {(r["source"], r["target"]) for r in rows} == {(1, 5), (1, 9)}
    assert {r["totalWeight"] for r in rows} == {2.0}


def test_steiner_tree_unreachable(spark):
    e = spark.createDataFrame([(0, 1, 1.0)], "src long, dst long, weight double")
    assert steiner_tree(e, [0, 5]).count() == 0


def test_msa_simple(spark):
    # root 0: best arborescence picks 0→1 (1), 1→2 (1) over 0→2 (3)
    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 3.0)],
        "src long, dst long, weight double",
    )
    rows = min_spanning_arborescence(e, 0).collect()
    edges = {(r["source"], r["target"]) for r in rows}
    assert edges == {(0, 1), (1, 2)}
    assert rows[0]["totalWeight"] == 2.0


def test_msa_cycle_contraction(spark):
    # classic Edmonds case: 2-cycle 1↔2 cheap, must break it via root
    e = spark.createDataFrame(
        [(0, 1, 5.0), (0, 2, 5.0), (1, 2, 1.0), (2, 1, 1.0)],
        "src long, dst long, weight double",
    )
    rows = min_spanning_arborescence(e, 0).collect()
    edges = {(r["source"], r["target"]) for r in rows}
    # enter the cycle once (cost 5) + one cycle edge (cost 1)
    assert edges in ({(0, 1), (1, 2)}, {(0, 2), (2, 1)})
    assert rows[0]["totalWeight"] == 6.0


def test_msa_unreachable_empty(spark):
    e = spark.createDataFrame(
        [(0, 1, 1.0), (3, 2, 1.0)], "src long, dst long, weight double"
    )
    assert min_spanning_arborescence(e, 0).count() == 0
