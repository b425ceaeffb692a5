"""Graphs that fit in the driver (graph/local.py): the CSR kernels agree
with the distributed paths they stand in for, the edge memo keeps its
bound, and a write to the graph is seen by the next TRAVERSE."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from arcadedb_spark.graph import algorithms as A
from arcadedb_spark.graph import local
from arcadedb_spark.graph import traverse as tv
from arcadedb_spark.session import in_driver, local_df
from conftest import spark_jobs


def _ranks(df) -> dict:
    return {r["vid"]: r["rank"] for r in df.collect()}


def _random_edges(seed: int) -> list[tuple]:
    """40 vertices, 150 edges drawn with repetition: duplicate edges and
    self-loops occur, and vertices 40..44 only ever receive (dangling)."""
    rng = random.Random(seed)
    edges = [
        (rng.randrange(40), rng.randrange(45), rng.choice([0.5, 1.0, 2.0, 3.5]))
        for _ in range(150)
    ]
    edges += [(7, 7, 1.0), (3, 9, 2.0), (3, 9, 2.0)]
    return edges


@pytest.mark.parametrize("weighted", [False, True])
@pytest.mark.parametrize("iterations", [1, 2, 10])
def test_pagerank_kernel_equals_the_loop(spark, monkeypatch, iterations, weighted):
    rows = _random_edges(9100 + iterations)
    e = spark.createDataFrame(rows, "src long, dst long, weight double")
    kernel = A.pagerank(e, iterations=iterations, weighted=weighted)
    assert in_driver(kernel)
    monkeypatch.setattr(local, "_memo", [])
    monkeypatch.setattr(local, "_DRIVER_EDGES_MAX", 0)
    loop = A.pagerank(e, iterations=iterations, weighted=weighted)
    assert not in_driver(loop)
    got, want = _ranks(kernel), _ranks(loop)
    assert got.keys() == want.keys() == {v for s, d, _ in rows for v in (s, d)}
    for v, rank in want.items():
        assert got[v] == pytest.approx(rank, abs=1e-9), v


def test_pagerank_null_endpoint_keeps_the_loop(spark, monkeypatch):
    """A null endpoint is the loop's null-vid row, so the kernel stands
    aside although the frame fits."""
    e = spark.createDataFrame(
        [(0, 1, 1.0), (None, 2, 1.0), (1, None, 1.0), (2, 0, 1.0)],
        "src long, dst long, weight double",
    )
    fits = A.pagerank(e, iterations=2)
    monkeypatch.setattr(local, "_memo", [])
    monkeypatch.setattr(local, "_DRIVER_EDGES_MAX", 0)
    assert _ranks(fits) == _ranks(A.pagerank(e, iterations=2))
    assert None in _ranks(fits)


@pytest.mark.parametrize("weights", [(0.0, 1.0), (None, 1.0)])
def test_pagerank_zero_or_null_weight_keeps_the_loop(spark, monkeypatch, weights):
    """A zero out-weight raises DIVIDE_BY_ZERO on both paths; a null weight
    gives the loop's null shares on both."""
    e = spark.createDataFrame(
        [(0, 1, weights[0]), (1, 2, weights[1]), (2, 0, 1.0)],
        "src long, dst long, weight double",
    )

    def outcome():
        try:
            return _ranks(A.pagerank(e, iterations=2, weighted=True))
        except Exception as ex:  # the loop's own error
            return "DIVIDE_BY_ZERO" in str(ex)

    fits = outcome()
    monkeypatch.setattr(local, "_memo", [])
    monkeypatch.setattr(local, "_DRIVER_EDGES_MAX", 0)
    assert fits == outcome()
    assert (fits is True) == (weights[0] == 0.0)


@pytest.fixture()
def ring(spark):
    """r→a→b→c→d→a (a 4-cycle entered from r), the chord b→d, and a
    self-loop on c."""
    from arcadedb_spark.database import Database

    db = Database(spark)
    db.query(
        "CREATE (r:R {name:'r'})-[:LINK]->(a:P {name:'a'})-[:LINK]->"
        "(b:P {name:'b'})-[:LINK]->(c:P {name:'c'})-[:LINK]->"
        "(d:P {name:'d'})-[:LINK]->(a), (b)-[:LINK]->(d), (c)-[:LINK]->(c)",
        language="cypher",
    ).collect()
    return db


@pytest.mark.parametrize("depth", [1, 2, 3, 4])
@pytest.mark.parametrize("direction", ["out", "both"])
def test_traverse_csr_equals_per_hop(ring, monkeypatch, depth, direction):
    g = ring.graph()
    roots = g.vertices("R").select("vid")
    edges = g.edges("LINK").select(
        F.col("src").alias("__from"), F.col("dst").alias("__to")
    )
    if direction == "both":
        edges = edges.unionByName(
            edges.select(F.col("__to").alias("__from"), F.col("__from").alias("__to"))
        )

    def walk():
        return {
            (r["vid"], r["depth"])
            for r in tv.traverse(ring, roots, edges, max_depth=depth).collect()
        }

    csr = walk()
    monkeypatch.setattr(local, "_memo", [])
    monkeypatch.setattr(local, "_DRIVER_EDGES_MAX", 0)
    assert csr == walk()
    reached = {"out": [2, 3, 5, 5], "both": [2, 4, 5, 5]}[direction]
    assert len(csr) == reached[depth - 1]


def test_traverse_while_runs_on_the_csr(ring, monkeypatch, spark):
    """A WHILE traversal walks the CSR too: no job reads the edges per
    hop, and it reaches what the per-hop and distributed paths reach."""
    from arcadedb_spark.sql.parser import parse

    g = ring.graph()
    roots = g.vertices("R").select("vid")
    edges = g.edges("LINK").select(
        F.col("src").alias("__from"), F.col("dst").alias("__to")
    )
    while_ = parse("TRAVERSE out('LINK') FROM R WHILE $depth < 3").while_

    def walk():
        rows = tv.traverse(ring, roots, edges, 10, while_).collect()
        return {(r["vid"], r["depth"]) for r in rows}

    local.csr_of(edges)  # the collect, memoized
    # the roots, the WHILE filter and the result are local rows here
    csr, jobs = spark_jobs(spark, walk)
    assert jobs == 0
    monkeypatch.setattr(local, "_memo", [])
    monkeypatch.setattr(local, "_DRIVER_EDGES_MAX", 0)
    per_hop, jobs = spark_jobs(spark, walk)
    assert csr == per_hop and jobs > 0
    assert sorted(d for _, d in csr) == [0, 1, 2]
    monkeypatch.setattr(tv, "_DRIVER_FRONTIER_MAX", 0)
    assert walk() == csr  # the distributed BFS


def test_edge_memo_keeps_its_bound(spark):
    def frame(i):
        return local_df(spark, [(i, i + 1)], "src long, dst long")

    for i in range(local._MEMO_MAX + 3):
        assert local.csr_of(frame(i)).vids.tolist() == [i, i + 1]
        assert len(local._memo) <= local._MEMO_MAX
    assert len(local._memo) == local._MEMO_MAX
    # the newest frame is kept, and an equal plan is served from it
    assert local.csr_of(frame(local._MEMO_MAX + 2)) is local._memo[-1][2]


def test_a_frame_over_the_bound_is_probed_once(spark, monkeypatch):
    """The finding that a frame does not fit is memoized with its plan:
    the second call on an equal plan runs no job."""
    monkeypatch.setattr(local, "_memo", [])
    monkeypatch.setattr(local, "_DRIVER_EDGES_MAX", 2)

    def over():
        e = local_df(spark, [(1, 2), (2, 3), (3, 1)], "src long, dst long")
        return local.csr_of(e.filter(F.col("src") > 0))

    assert spark_jobs(spark, over) == (None, 1)
    assert spark_jobs(spark, over) == (None, 0)


def _traversed(db) -> set:
    return {
        (r["label"], r["$depth"])
        for r in db.query("TRAVERSE out('LINK') FROM R MAXDEPTH 5").collect()
    }


def test_traverse_sees_the_next_write(ring):
    assert _traversed(ring) == {("r", 0), ("p", 1), ("p", 2), ("p", 3)}
    # Cypher CREATE of an edge: r reaches e at depth 1
    ring.query(
        "MATCH (r:R) CREATE (r)-[:LINK]->(:Q {name:'e'})", language="cypher"
    ).collect()
    assert ("q", 1) in _traversed(ring)
    # a DML write to a type the graph reads: deleting a drops its edges
    ring.command("DELETE FROM P WHERE name = 'a'")
    assert _traversed(ring) == {("r", 0), ("q", 1)}


def test_edge_memo_under_concurrent_callers(spark):
    """More threads than cores collect overlapping edge frames with a
    short switch interval: every caller gets its own frame's arrays and
    the memo never holds more than its bound."""
    import sys
    import threading

    def frame(i):
        return local_df(spark, [(i, i + 1), (i + 1, i)], "src long, dst long")

    wrong, sizes = [], []

    def work(t):
        for k in range(3):
            i = 1000 + (t + k) % (local._MEMO_MAX + 2)
            if local.csr_of(frame(i)).vids.tolist() != [i, i + 1]:
                wrong.append(i)
            sizes.append(len(local._memo))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert wrong == [] and len(sizes) == 24
    assert max(sizes) <= local._MEMO_MAX
