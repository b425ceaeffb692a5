"""Bounded state of the query skins' frontier loops.

TRAVERSE's distributed mode, Cypher var-length MATCH, Gremlin
``repeat().until()`` and the ``path.*`` procedures run on the superstep
driver (graph/superstep.py), which releases every frame a loop cached: a
call plus a ``collect()`` leaves the session's CacheManager as it found
it.  TRAVERSE's per-hop and distributed paths cache the edge frame for
their loop and release it after; its CSR kernel caches nothing.
"""

from __future__ import annotations

import pytest
from conftest import cache_entries
from pyspark.sql import functions as F


@pytest.fixture()
def cdb(spark):
    """a→b→c→d→e→f→a over LINK, plus the chord a→d."""
    from arcadedb_spark.database import Database

    db = Database(spark)
    db.query(
        "CREATE (a:P {name:'a'})-[:LINK]->(:P {name:'b'})-[:LINK]->"
        "(:P {name:'c'})-[:LINK]->(d:P {name:'d'})-[:LINK]->"
        "(:P {name:'e'})-[:LINK]->(:P {name:'f'})-[:LINK]->(a), "
        "(a)-[:LINK]->(d)",
        language="cypher",
    ).collect()
    # graph-level frames a first read may cache are not the loop's
    db.query(
        "MATCH (a:P)-[:LINK]->(b:P) RETURN a.name, b.name", language="cypher"
    ).collect()
    return db


def _bounded(spark, run):
    before = cache_entries(spark)
    rows = run()
    assert cache_entries(spark) == before
    return rows


@pytest.mark.parametrize(
    "while_, reached",
    [
        (None, {("d", 1), ("e", 2), ("f", 3)}),
        ("$depth < 3", {("d", 1), ("e", 2)}),
    ],
)
def test_traverse_distributed_releases_its_frames(
    cdb, monkeypatch, while_, reached
):
    import arcadedb_spark.graph.traverse as tv
    from arcadedb_spark.sql.parser import parse

    if while_ is not None:
        while_ = parse(f"TRAVERSE out('LINK') FROM P WHILE {while_}").while_
    g = cdb.graph()
    names = g.vertices("P").select("vid", "name")
    roots = names.filter(F.col("name").isin("a", "b", "c")).select("vid")
    edges = g.edges("LINK").select(
        F.col("src").alias("__from"), F.col("dst").alias("__to")
    )
    # three roots > 2: the walk starts in the distributed loop
    monkeypatch.setattr(tv, "_DRIVER_FRONTIER_MAX", 2)
    rows = _bounded(
        cdb.spark,
        lambda: tv.traverse(cdb, roots, edges, max_depth=5, while_=while_)
        .join(names, "vid")
        .collect(),
    )
    assert {(r["name"], r["depth"]) for r in rows} == {
        ("a", 0), ("b", 0), ("c", 0), *reached,
    }


@pytest.mark.parametrize(
    "path, direction, reached",
    # one edge projection per path that no earlier read cached (the
    # fixture's MATCH caches the out-projection)
    [("csr", "in", 3), ("per_hop", "both", 6), ("distributed", "in('LINK'), out", 6)],
)
def test_traverse_releases_what_it_caches(cdb, monkeypatch, path, direction, reached):
    import arcadedb_spark.graph.local as local
    import arcadedb_spark.graph.traverse as tv
    from arcadedb_spark.sql.parser import parse

    projections = parse(f"TRAVERSE {direction}('LINK') FROM P").projections
    edges = tv._direction_edges(cdb, projections)
    g = cdb.graph()
    roots = g.vertices("P").filter(F.col("name") == "a").select("vid")
    if path != "csr":
        monkeypatch.setattr(local, "_memo", [])
        monkeypatch.setattr(local, "_DRIVER_EDGES_MAX", 0)
    if path == "distributed":
        monkeypatch.setattr(tv, "_DRIVER_FRONTIER_MAX", 0)
    rows = _bounded(
        cdb.spark,
        lambda: tv.traverse(cdb, roots, edges, max_depth=2).collect(),
    )
    assert len(rows) == reached


def test_cypher_var_length_releases_its_frames(cdb):
    rows = _bounded(
        cdb.spark,
        lambda: cdb.query(
            "MATCH (a:P {name:'a'})-[:LINK*1..3]->(b) RETURN b.name AS n",
            language="cypher",
        ).collect(),
    )
    # a→b, a→d; a→b→c, a→d→e; a→b→c→d, a→d→e→f
    assert sorted(r["n"] for r in rows) == ["b", "c", "d", "d", "e", "f"]


def test_var_length_expands_from_its_bound_start(cdb, monkeypatch):
    """Only paths from the bound ``a`` are expanded (seeded from every
    edge, hops 2 and 3 step 17 paths on this graph)."""
    from arcadedb_spark.graph.superstep import Supersteps

    counts = []
    step = Supersteps.step

    def counted(self, frame, *aggregates):
        row = step(self, frame, *aggregates)
        counts.append(row[0])
        return row

    monkeypatch.setattr(Supersteps, "step", counted)
    cdb.query(
        "MATCH (a:P {name:'a'})-[:LINK*1..3]->(b) RETURN b.name AS n",
        language="cypher",
    ).collect()
    # hop 2: a→b→c, a→d→e; hop 3: a→b→c→d, a→d→e→f
    assert sum(counts) == 4


@pytest.mark.parametrize(
    "emit, names",
    [
        # a→d stops at once; a→b→c→d stops after three hops
        ("", ["d", "d"]),
        # plus the start and every traverser that went on (b, c)
        (".emit()", ["a", "b", "c", "d", "d"]),
    ],
)
def test_gremlin_repeat_until_releases_its_frames(cdb, emit, names):
    rows = _bounded(
        cdb.spark,
        lambda: cdb.query(
            "g.V('P').has('name', 'a').repeat(out('LINK'))"
            f".until(has('name', 'd')){emit}.values('name')",
            language="gremlin",
        ).collect(),
    )
    assert sorted(r["name"] for r in rows) == names


def test_path_expand_releases_its_frames(cdb):
    rows = _bounded(
        cdb.spark,
        lambda: cdb.query(
            "MATCH (a:P {name:'a'}) CALL path.expand(a, 'LINK', null, 1, 3) "
            "YIELD path RETURN length(path) AS l",
            language="cypher",
        ).collect(),
    )
    assert rows and {r["l"] for r in rows} == {1, 2, 3}


def test_path_subgraph_nodes_releases_its_frames(cdb):
    rows = _bounded(
        cdb.spark,
        lambda: cdb.query(
            "MATCH (a:P {name:'a'}) CALL path.subgraphNodes(a, "
            "{relationshipFilter: 'LINK', maxLevel: 4}) "
            "YIELD node RETURN node.name AS n",
            language="cypher",
        ).collect(),
    )
    assert sorted(r["n"] for r in rows) == ["a", "b", "c", "d", "e", "f"]
