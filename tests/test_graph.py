"""Graph layer tests: MATCH, TRAVERSE, algorithms (sf0.001)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_match_two_hop_counts(db):
    rows = db.query(
        "MATCH {type: Customer, as: c}.out('PLACED'){as: o} "
        "RETURN count(*) AS n"
    ).collect()
    assert rows[0]["n"] == 1500  # every order placed by exactly one customer


def test_match_where_pushdown(db):
    rows = db.query(
        "MATCH {type: Customer, as: c, where: (c_mktsegment = 'BUILDING')}"
        ".out('PLACED'){as: o} RETURN c.c_custkey AS k, o.o_orderkey AS ok"
    ).collect()
    assert rows
    segs = {
        r["c_mktsegment"]
        for r in db.table("customer")
        .filter(F.col("c_custkey").isin([r["k"] for r in rows]))
        .collect()
    }
    assert segs == {"BUILDING"}


def test_match_optional_keeps_unmatched(db):
    rows = db.query(
        "MATCH {type: Nation, as: n}"
        ".in('LOCATED_IN'){type: Supplier, as: s, optional: true} "
        "RETURN n.n_name AS nation, count(s.s_suppkey) AS ns GROUP BY nation"
    ).collect()
    assert len(rows) == 25  # all nations present even without suppliers
    assert any(r["ns"] == 0 for r in rows)


def test_match_not_pattern(db):
    n = db.query(
        "MATCH {type: Customer, as: c}, "
        "NOT {as: c}.out('PLACED'){type: Order, where: (o_totalprice > 100000)} "
        "RETURN count(*) AS n"
    ).collect()[0]["n"]
    # equals customers whose every order is <= 100000
    placed_big = (
        db.table("orders").filter(F.col("o_totalprice") > 100000).select("o_custkey").distinct()
    )
    expect = db.table("customer").join(
        placed_big, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).count()
    assert n == expect


def test_traverse_depth_semantics(db):
    df = db.query("TRAVERSE out('PLACED') FROM customer MAXDEPTH 1")
    by_label = {r["label"]: r["n"] for r in df.groupBy("label").agg(F.count("*").alias("n")).collect()}
    assert by_label["customer"] == 150
    assert by_label["order"] == 1500


@pytest.mark.slow
def test_pagerank_mass_conservation(db):
    from arcadedb_spark.graph.algorithms import pagerank

    g = db.graph()
    e = g.edges("INTERACTED")
    pr = pagerank(e, iterations=5)
    n = pr.count()
    total = pr.agg(F.sum("rank")).collect()[0][0]
    assert abs(total - n) / n < 1e-6  # rank mass conserved


@pytest.mark.slow
def test_wcc_single_component(db):
    from arcadedb_spark.graph.algorithms import connected_components

    g = db.graph()
    cc = connected_components(g.edges("INTERACTED"))
    # the INTERACTED graph is one connected blob on the fixture
    assert cc.select("component").distinct().count() == 1


@pytest.mark.slow
def test_sssp_distances(db):
    from arcadedb_spark.graph.algorithms import dijkstra_sssp

    g = db.graph()
    e = g.edges("INTERACTED")
    src = e.select("src").first()[0]
    d = dijkstra_sssp(e, src)
    rows = {r["vid"]: r["distance"] for r in d.collect()}
    assert rows[src] == 0.0
    assert all(v >= 0 for v in rows.values())


def test_degree_centrality(db):
    from arcadedb_spark.graph.algorithms import degree_centrality

    g = db.graph()
    deg = degree_centrality(g.edges("PLACED"), direction="out")
    # PLACED out-degree per customer == orders per customer
    total = deg.agg(F.sum("degree")).collect()[0][0]
    assert total == 1500


@pytest.mark.slow
def test_eigenvector_and_katz(db):
    from arcadedb_spark.graph.algorithms import (
        eigenvector_centrality, katz_centrality,
    )
    from pyspark.sql import functions as F

    e = db.graph().edges("INTERACTED")
    ev = eigenvector_centrality(e, iterations=6)
    mx = ev.agg(F.max("centrality")).collect()[0][0]
    assert abs(mx - 1.0) < 1e-9  # normalized
    kz = katz_centrality(e, iterations=6)
    assert kz.filter(F.col("centrality") < 1.0).count() == 0  # β floor


@pytest.mark.slow
def test_closeness(db):
    from arcadedb_spark.graph.algorithms import closeness_centrality

    e = db.graph().edges("INTERACTED")
    cl = closeness_centrality(e, landmarks=[e.select("src").first()[0]])
    rows = cl.collect()
    assert rows and all(0 < r["closeness"] <= 1.0 for r in rows)


@pytest.mark.slow
def test_scc_two_cycles_and_bridge(db, spark):
    from arcadedb_spark.graph.algorithms import strongly_connected_components

    # cycle {1,2,3} → bridge → cycle {10,11}, plus isolated path 20→21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 10), (10, 11), (11, 10), (20, 21)],
        "src long, dst long",
    )
    scc = strongly_connected_components(edges)
    comp = {r["vid"]: r["component"] for r in scc.collect()}
    assert comp[1] == comp[2] == comp[3]
    assert comp[10] == comp[11]
    assert comp[1] != comp[10]
    assert comp[20] != comp[21]  # path vertices are singleton SCCs


@pytest.mark.slow
def test_fastrp_deterministic(db):
    from arcadedb_spark.graph.algorithms import fastrp_embeddings

    e = db.graph().edges("INTERACTED")
    a = {r["vid"]: tuple(r["embedding"]) for r in fastrp_embeddings(e, dim=8, iterations=2).collect()}
    b = {r["vid"]: tuple(r["embedding"]) for r in fastrp_embeddings(e, dim=8, iterations=2).collect()}
    assert a == b  # hash-seeded init → reproducible


def test_gremlin_traversal(db):
    g = db.g()
    n = g.V().hasLabel("Customer").has("c_mktsegment", "BUILDING").out("PLACED").count()
    from pyspark.sql import functions as F

    expect = (
        db.table("orders")
        .join(
            db.table("customer").filter(F.col("c_mktsegment") == "BUILDING"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .count()
    )
    assert n == expect
    orders = (
        g.V("Customer").has("c_custkey", 3).out("PLACED").values("o_orderkey").collect()
    )
    expect_orders = db.table("orders").filter(F.col("o_custkey") == 3).count()
    assert len(orders) == expect_orders
    # heterogeneous edge types fall back to (vid, label) — label still works
    locs = g.V("Customer").has("c_custkey", 3).out("LOCATED_IN").values("label").collect()
    assert [r["label"] for r in locs] == ["nation"]


@pytest.mark.slow
def test_betweenness_path_graph(db, spark):
    from arcadedb_spark.graph.algorithms import betweenness_centrality

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    bc = {r["vid"]: r["betweenness"] for r in betweenness_centrality(
        edges, sources=[1, 2, 3, 4], max_depth=5
    ).collect()}
    assert bc == {1: 0.0, 2: 2.0, 3: 2.0, 4: 0.0}


@pytest.mark.slow
def test_betweenness_matches_networkx_on_a_grid(spark):
    """A directed 3×4 grid has many shortest paths per pair, so sigma
    sums over several predecessors and delta splits over successors."""
    nx = pytest.importorskip("networkx")
    from arcadedb_spark.graph.algorithms import betweenness_centrality

    rows, cols = 3, 4
    pairs = [(r * cols + c, r * cols + c + 1) for r in range(rows) for c in range(cols - 1)]
    pairs += [(r * cols + c, (r + 1) * cols + c) for r in range(rows - 1) for c in range(cols)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {r["vid"]: r["betweenness"] for r in betweenness_centrality(
        edges, sources=list(range(rows * cols)), max_depth=rows + cols
    ).collect()}
    want = nx.betweenness_centrality(nx.DiGraph(pairs), normalized=False)
    assert got == pytest.approx(want)


@pytest.mark.slow
def test_node2vec_embeddings(db):
    from arcadedb_spark.graph.algorithms import node2vec_embeddings

    e = db.graph().edges("INTERACTED")
    emb = node2vec_embeddings(e, dim=8, walk_length=4, walks_per_vertex=2)
    rows = emb.collect()
    assert rows and all(len(r["embedding"]) == 8 for r in rows)


@pytest.mark.slow
def test_louvain_two_cliques(db, spark):
    from arcadedb_spark.graph.algorithms import louvain
    from arcadedb_spark.graph.algorithms_extra2 import modularity_score

    tri = lambda base: [(base + i, base + j) for i in range(4) for j in range(i + 1, 4)]
    edges = spark.createDataFrame(tri(0) + tri(10) + [(0, 10)], "src long, dst long")
    comm = louvain(edges)
    rows = {r["vid"]: r["community"] for r in comm.collect()}
    assert len({rows[v] for v in (0, 1, 2, 3)}) == 1
    assert len({rows[v] for v in (10, 11, 12, 13)}) == 1
    assert rows[0] != rows[10]
    q = modularity_score(edges, comm).collect()[0]["modularity"]
    assert q > 0.4  # clean 2-community split of bridged cliques


@pytest.mark.parametrize("algo", ["louvain", "leiden"])
@pytest.mark.parametrize(
    "pairs, expected",
    [
        ([(1, 2), (3, 3)], {1, 2, 3}),
        ([(1, 1), (2, 2)], {1, 2}),
    ],
)
def test_community_detection_keeps_self_loop_only_vertices(spark, algo, pairs, expected):
    # a vertex whose only edges are self-loops forms a community of its own
    from arcadedb_spark.graph.algorithms import louvain
    from arcadedb_spark.graph.algorithms_extra import leiden

    run = {"louvain": louvain, "leiden": leiden}[algo]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    rows = {r["vid"]: r["community"] for r in run(edges, max_iterations=2).collect()}
    assert set(rows) == expected
    loners = {s for s, d in pairs if s == d}
    for v in loners:
        assert rows[v] == v
        assert all(rows[u] != v for u in rows if u != v)


def test_edge_step_with_properties(db):
    rows = db.query(
        "MATCH {type: `Order`, as: o}"
        ".outE('CONTAINS'){as: e, where: (l_quantity > 45)}.inV(){as: p} "
        "RETURN p.p_brand AS brand, count(*) AS n GROUP BY brand ORDER BY brand"
    ).collect()
    expect = (
        db.table("lineitem").filter(F.col("l_quantity") > 45)
        .join(db.table("part"), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand").count().orderBy("p_brand").collect()
    )
    assert [(r["brand"], r["n"]) for r in rows] == [
        (r["p_brand"], r["count"]) for r in expect
    ]


def test_gremlin_string_queries(db):
    n = db.query(
        "g.V().hasLabel('Customer').has('c_mktsegment', 'BUILDING')"
        ".out('PLACED').count()", language="gremlin",
    ).collect()[0]["count"]
    # fluent equivalent must agree
    fluent = (
        db.g().V().hasLabel("Customer").has("c_mktsegment", "BUILDING")
        .out("PLACED").count()
    )
    assert n == fluent and n > 0
    vals = db.query(
        "g.V('Customer').order().by('c_acctbal', 'desc').limit(3)"
        ".values('c_name', 'c_acctbal')", language="gremlin",
    ).collect()
    assert len(vals) == 3 and vals[0]["c_acctbal"] >= vals[1]["c_acctbal"]
    hist = db.query(
        "g.V('Customer').groupCount().by('c_mktsegment')", language="gremlin",
    ).collect()
    assert sum(r["count"] for r in hist) == 150 and len(hist) == 5
    import pytest as _pt
    with _pt.raises(ValueError):
        db.query("g.V().teleport()", language="gremlin").collect()
    with _pt.raises(ValueError):
        db.query("x.V()", language="gremlin")


def test_gremlin_repeat_times_matches_manual_hops(db):
    # repeat(out(E)).times(2) ≡ out(E).out(E) — multiplicity preserved
    n = db.query(
        "g.V('Customer').repeat(out('INTERACTED')).times(2).count()",
        language="gremlin",
    ).collect()[0]["count"]
    manual = (
        db.g().V("Customer").out("INTERACTED").out("INTERACTED").count()
    )
    assert n == manual and n > 0


def test_gremlin_repeat_until_drains(db):
    # PLACED from orders goes nowhere: non-matching traversers drain
    n = db.query(
        "g.V('Customer').has('c_custkey', 1).repeat(out('PLACED'))"
        ".until(has('o_orderstatus', 'O')).count()",
        language="gremlin",
    ).collect()[0]["count"]
    from pyspark.sql import functions as F

    expect = (
        db.table("orders")
        .filter((F.col("o_custkey") == 1) & (F.col("o_orderstatus") == "O"))
        .count()
    )
    assert n == expect


def test_gremlin_emit_includes_intermediates(db):
    base = db.query(
        "g.V('Customer').has('c_custkey', 1).repeat(out('INTERACTED'))"
        ".times(2).count()", language="gremlin",
    ).collect()[0]["count"]
    one = db.query(
        "g.V('Customer').has('c_custkey', 1).out('INTERACTED').count()",
        language="gremlin",
    ).collect()[0]["count"]
    emitted = db.query(
        "g.V('Customer').has('c_custkey', 1).repeat(out('INTERACTED'))"
        ".times(2).emit().count()", language="gremlin",
    ).collect()[0]["count"]
    assert emitted == 1 + one + base  # source + hop1 + hop2


def test_gremlin_path_select_valuemap(db):
    rows = db.query(
        "g.V('Customer').has('c_custkey', 1).repeat(out('INTERACTED'))"
        ".times(2).path()", language="gremlin",
    ).collect()
    assert rows and all(len(r.path) == 3 for r in rows)
    sel = db.query(
        "g.V('Customer').has('c_custkey', 1).as('a').out('PLACED').as('b')"
        ".select('a', 'b')", language="gremlin",
    ).collect()
    assert sel and all(r.a != r.b for r in sel)
    vm = db.query(
        "g.V('Nation').valueMap('n_name')", language="gremlin",
    ).collect()
    assert len(vm) == 25 and all("n_name" in r.value_map for r in vm)


def test_gremlin_coalesce_union(db):
    # coalesce: first non-empty sub-traversal per traverser
    n = db.query(
        "g.V('Nation').has('n_nationkey', 0)"
        ".coalesce(out('PLACED'), in('LOCATED_IN')).count()",
        language="gremlin",
    ).collect()[0]["count"]
    from pyspark.sql import functions as F

    expect = (
        db.table("customer").filter(F.col("c_nationkey") == 0).count()
        + db.table("supplier").filter(F.col("s_nationkey") == 0).count()
    )
    assert n == expect
    u = db.query(
        "g.V('Customer').has('c_custkey', 1)"
        ".union(out('PLACED'), out('INTERACTED')).count()",
        language="gremlin",
    ).collect()[0]["count"]
    placed = db.g().V("Customer").has("c_custkey", 1).out("PLACED").count()
    inter = db.g().V("Customer").has("c_custkey", 1).out("INTERACTED").count()
    assert u == placed + inter


def test_eid_deterministic_across_recomputation(spark):
    """@eid identity must not change when the frame is re-evaluated
    (cache eviction / task retry at cluster scale).  The write path pins
    freshly minted ids to storage (truncate_plan); catalog bulk frames
    derive @eid from file row metadata — both re-scan to the same set."""
    from arcadedb_spark.graph.model import GraphModel
    from arcadedb_spark.session import local_df

    g = GraphModel(spark)
    pairs = local_df(
        spark,
        [(1, 2, "x"), (1, 2, "x"), (3, 4, "y")],
        "struct<src:bigint,dst:bigint,tag:string>",
    )
    g.add_edges_from_frame("T", pairs)
    e = g.edges("T")
    first = sorted(r["@eid"] for r in e.select("@eid").collect())
    # force full re-evaluation: drop every cached plan in the session
    spark.catalog.clearCache()
    second = sorted(r["@eid"] for r in e.select("@eid").collect())
    assert first == second
    # parallel identical rows keep DISTINCT identities
    assert len(set(first)) == 3


def test_eid_bulk_frames_storage_pinned(db):
    """Catalog-loaded edge frames carry @eid derived from parquet row
    metadata: stable across scans, distinct per physical row."""
    g = db.graph()
    e = g.edges("PLACED").select("@eid")
    a = sorted(r["@eid"] for r in e.collect())
    db.spark.catalog.clearCache()
    b = sorted(r["@eid"] for r in e.collect())
    assert a == b
    assert len(set(a)) == len(a)


def test_gremlin_predicates(db):
    n = db.query(
        "g.V('Customer').has('c_acctbal', between(0, 1000)).count()",
        language="gremlin",
    ).collect()[0]["count"]
    expect = db.table("customer").filter(
        "c_acctbal >= 0 AND c_acctbal < 1000"
    ).count()
    assert n == expect
    n2 = db.query(
        "g.V('Customer').has('c_mktsegment', "
        "within('BUILDING', 'MACHINERY')).count()",
        language="gremlin",
    ).collect()[0]["count"]
    expect2 = db.table("customer").filter(
        "c_mktsegment IN ('BUILDING', 'MACHINERY')"
    ).count()
    assert n2 == expect2
    n3 = db.query(
        "g.V('Nation').has('n_nationkey', without(0, 1)).count()",
        language="gremlin",
    ).collect()[0]["count"]
    assert n3 == 23


def test_gremlin_group_by_by(db):
    rows = db.query(
        "g.V('Nation').has('n_nationkey', lt(4))"
        ".group().by('n_regionkey').by('n_name')",
        language="gremlin",
    ).collect()
    assert all(r["values"] == sorted(r["values"]) for r in rows)
    assert sum(len(r["values"]) for r in rows) == 4


def test_gremlin_project_count_sub(db):
    rows = db.query(
        "g.V('Nation').project('name', 'ncust')"
        ".by('n_name').by(in('LOCATED_IN').hasLabel('Customer'))",
        language="gremlin",
    ).collect()
    assert len(rows) == 25
    from pyspark.sql import functions as F

    per_nation = {
        r["n_nationkey"]: r["n"]
        for r in db.table("customer")
        .groupBy(F.col("c_nationkey").alias("n_nationkey"))
        .agg(F.count("*").alias("n")).collect()
    }
    total = sum(r["ncust"] for r in rows)
    assert total == sum(per_nation.values())


def test_gremlin_choose_branches(db):
    n = db.query(
        "g.V('Customer').has('c_custkey', lt(10))"
        ".choose(has('c_acctbal', gt(5000)), out('PLACED'), "
        "out('LOCATED_IN')).count()",
        language="gremlin",
    ).collect()[0]["count"]
    hi = db.table("customer").filter("c_custkey < 10 AND c_acctbal > 5000")
    lo_n = db.table("customer").filter(
        "c_custkey < 10 AND NOT (c_acctbal > 5000)"
    ).count()
    hi_orders = (
        db.table("orders")
        .join(hi.select("c_custkey"),
              hi["c_custkey"] == db.table("orders")["o_custkey"])
        .count()
    )
    assert n == hi_orders + lo_n  # each low customer has ONE nation edge


def test_gremlin_where_traversal(db):
    n = db.query(
        "g.V('Customer').where(out('PLACED')).count()",
        language="gremlin",
    ).collect()[0]["count"]
    expect = db.table("orders").select("o_custkey").distinct().count()
    assert n == expect


def test_traverse_spills_to_distributed(db, monkeypatch):
    """Forcing a tiny driver-frontier cap must produce identical results
    through the distributed frontier-join loop."""
    from pyspark.sql import functions as F

    import arcadedb_spark.graph.traverse as tv

    g = db.graph()
    roots = g.vertices("Customer").filter(F.col("c_custkey") < 5).select("vid")
    edges = g.edges("PLACED", "CONTAINS").select(
        F.col("src").alias("__from"), F.col("dst").alias("__to")
    )
    expected = {
        (r["vid"], r["depth"])
        for r in tv.traverse(db, roots, edges, max_depth=2).collect()
    }
    monkeypatch.setattr(tv, "_DRIVER_FRONTIER_MAX", 2)
    got = {
        (r["vid"], r["depth"])
        for r in tv.traverse(db, roots, edges, max_depth=2).collect()
    }
    assert got == expected and len(expected) > 4


def test_gremlin_until_same_schema_hop(spark):
    """until(out('E')) where E is same-label→same-label must stop the
    CURRENT traversers that have an out-edge — never emit the hopped
    neighbors (the old column-set heuristic misfired here)."""
    from arcadedb_spark.database import Database

    db = Database(spark)
    db.query(
        "CREATE (:C {name: 'a'})-[:E]->(:C {name: 'b'})-[:E]->"
        "(:C {name: 'c'})",
        language="cypher",
    )
    rows = db.query(
        "g.V('C').has('name', 'a').repeat(out('E')).until(out('E'))"
        ".values('name')",
        language="gremlin",
    ).collect()
    assert [r["name"] for r in rows] == ["b"]


def test_gremlin_project_sub_count_per_traverser(spark):
    """project().by(sub) on duplicate traversers: each duplicate sees
    the per-vertex count, not a duplicate-multiplied sum."""
    from arcadedb_spark.database import Database

    db = Database(spark)
    db.query(
        "CREATE (n:N {name: 'x'}), (:M {k: 1})-[:TO]->(n), "
        "(:M {k: 2})-[:TO]->(n), (:L {j: 1})-[:OF]->(n), "
        "(:L {j: 2})-[:OF]->(n), (:L {j: 3})-[:OF]->(n)",
        language="cypher",
    )
    # two TO-edges produce two duplicate traversers on n
    rows = db.query(
        "g.V('M').out('TO').project('name', 'nof').by('name').by(in('OF'))",
        language="gremlin",
    ).collect()
    assert sorted((r["name"], r["nof"]) for r in rows) == [
        ("x", 3), ("x", 3),
    ]


def test_gremlin_trailing_steps_after_group_rejected(db):
    import pytest

    with pytest.raises(ValueError):
        db.query(
            "g.V('Nation').group().by('n_regionkey').by('n_name').count()",
            language="gremlin",
        )


def test_gremlin_edge_steps(db):
    """outE/inE/otherV/inV/outV — TinkerPop edge-state traversals
    (gremlin/src/main/java/com/arcadedb/gremlin/query/GremlinQueryEngine.java:33)."""
    g = db.g()
    # outE: one edge traverser per incident PLACED edge
    n_edges = g.V("Customer").outE("PLACED").count()
    assert n_edges == db.table("orders").count()
    # outE().inV() == out()
    via_e = g.V("Customer").outE("PLACED").inV().count()
    assert via_e == g.V("Customer").out("PLACED").count()
    # otherV leaves via the opposite endpoint
    via_other = g.V("Customer").outE("PLACED").otherV().count()
    assert via_other == via_e
    # outV returns to the source side
    back = g.V("Customer").has("c_custkey", 3).outE("PLACED").outV().count()
    from pyspark.sql import functions as F
    expect = db.table("orders").filter(F.col("o_custkey") == 3).count()
    assert back == expect
    # string front end: g.E with a chain
    cnt = db.query("g.E('PLACED').count()", language="gremlin").collect()[0][0]
    assert cnt == db.table("orders").count()


def test_gremlin_sack(db):
    """withSack/sack(op).by(prop)/terminal sack() (TinkerPop SackStep)."""
    rows = db.query(
        "g.withSack(0).V('Customer').sack('sum').by('c_custkey').sack()",
        language="gremlin",
    ).collect()
    assert sorted(r["sack"] for r in rows) == sorted(
        r[0] for r in db.table("customer").select("c_custkey").collect()
    )
    # fluent: multiplicative sack
    vals = (
        db.g().withSack(2).V("Nation").sack("mult").by("n_nationkey").sack()
    ).collect()
    expect = [2 * r[0] for r in db.table("nation").select("n_nationkey").collect()]
    assert sorted(v["sack"] for v in vals) == sorted(expect)


def test_gremlin_fold_unfold_simplepath_aggregates(db):
    g = db.g()
    folded = g.V("Nation").fold()._df.collect()
    assert len(folded) == 1 and len(folded[0]["folded"]) == db.table("nation").count()
    assert g.V("Nation").fold().unfold().count() == db.table("nation").count()
    # simplePath drops looped traversers
    t = g.V("Customer", track_path=True).out("PLACED").in_("PLACED")
    total = t.count()
    simple = t.simplePath().count()
    assert simple < total  # the 2-hop out-in always revisits the source
    # terminal aggregates via the string front end
    s = db.query(
        "g.V('Nation').values('n_nationkey').sum()", language="gremlin"
    ).collect()[0][0]
    assert s == sum(r[0] for r in db.table("nation").select("n_nationkey").collect())
    m = db.query(
        "g.V('Nation').values('n_nationkey').max()", language="gremlin"
    ).collect()[0][0]
    assert m == 24


def test_traverse_adjacency_fast_path_matches_per_hop(db, monkeypatch):
    """The small-graph CSR kernel (one bounded collect, walk in driver
    memory) must produce identical (vid, depth) sets as the per-hop
    frontier loop it short-circuits."""
    from pyspark.sql import functions as F

    import arcadedb_spark.graph.local as local
    import arcadedb_spark.graph.traverse as tv

    g = db.graph()
    roots = g.vertices("Customer").filter(F.col("c_custkey") < 5).select("vid")
    edges = g.edges("PLACED", "CONTAINS").select(
        F.col("src").alias("__from"), F.col("dst").alias("__to")
    )
    fast = {
        (r["vid"], r["depth"])
        for r in tv.traverse(db, roots, edges, max_depth=2).collect()
    }
    # force the probe to overflow: the per-hop driver-frontier loop runs
    monkeypatch.setattr(local, "_memo", [])
    monkeypatch.setattr(local, "_DRIVER_EDGES_MAX", 1)
    slow = {
        (r["vid"], r["depth"])
        for r in tv.traverse(db, roots, edges, max_depth=2).collect()
    }
    assert fast == slow and len(fast) > 4


def _probe_skipped(db, monkeypatch, cached):
    from pyspark.sql import functions as F

    import arcadedb_spark.graph.local as local

    g = db.graph()
    edges = g.edges("PLACED").select(
        F.col("src").alias("__from"), F.col("dst").alias("__to")
    )
    if cached:
        edges.cache().count()
    # flag the input as huge and make any collect attempt an error
    monkeypatch.setattr(local, "_memo", [])
    monkeypatch.setattr(local, "_DRIVER_EDGES_MAX_BYTES", 0)
    monkeypatch.setattr(
        type(edges),
        "toArrow",
        lambda self: (_ for _ in ()).throw(AssertionError("probe job ran")),
    )
    try:
        assert local.csr_of(edges) is None
    finally:
        if cached:
            edges.unpersist()


def test_traverse_adjacency_probe_skipped_on_large_input(db, monkeypatch):
    """A frame whose inputs already exceed the driver-edge byte bound
    must skip the 200k-row probe collect entirely (no job)."""
    _probe_skipped(db, monkeypatch, cached=False)


def test_traverse_adjacency_probe_skipped_on_large_cached_input(db, monkeypatch):
    """The same over cached data, as a stored type reads after a write:
    the plan lists no input files, and the gate reads the cached size."""
    _probe_skipped(db, monkeypatch, cached=True)
