"""Superstep driver (graph/superstep.py): cache bound, one action per
superstep, truncation cadence, early stop, no cache left behind by the
algorithms built on it -- on success, on failure, and outside any loop --
and bounded plans in every level-driven loop, every BFS and every
shortest-path relaxation."""

from __future__ import annotations

import sys

import pytest
from conftest import cache_entries
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arcadedb_spark import caching
from arcadedb_spark.graph import algorithms as A
from arcadedb_spark.graph import algorithms_extra as X
from arcadedb_spark.graph import algorithms_extra2 as X2
from arcadedb_spark.graph import algorithms_extra3 as X3
from arcadedb_spark.graph import algorithms_extra4 as X4
from arcadedb_spark.graph import algorithms_more as M
from arcadedb_spark.graph import local
from arcadedb_spark.graph.superstep import CHECKPOINT_EVERY, Supersteps
from arcadedb_spark.session import in_driver


def _persisted(spark) -> set:
    """Ids of the RDDs persisted in the session (other tests' caches and
    the engine's own may come and go meanwhile, so compare id sets)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.fixture
def truncations(monkeypatch):
    calls = []
    orig = DataFrame.truncate_plan

    def counted(df):
        calls.append(df)
        return orig(df)

    monkeypatch.setattr(DataFrame, "truncate_plan", counted)
    return calls


def _countdown(spark, start, max_iter, probe=None):
    """Toy loop on 8 vertices: x ← max(x − 1, 0) until no x changes.  One
    partition, so a superstep's plan has no exchange and its aggregate is
    a single job."""
    state = spark.createDataFrame(
        [(v, start(v)) for v in range(8)], "vid long, x long"
    ).coalesce(1)
    with Supersteps() as ss:
        for _ in range(max_iter):
            if probe:
                probe("begin", ss)
            stepped = state.select(
                "vid",
                F.greatest(F.col("x") - 1, F.lit(0)).alias("x"),
                (F.col("x") > 0).alias("__chg"),
            )
            changed = ss.step(stepped, F.max("__chg"))[0]
            if probe:
                probe("step", ss)
            state = ss.carry(stepped.select("vid", "x"))
            if probe:
                probe("carry", ss)
            if not changed:
                break
        return ss, ss.finish(state)


def test_one_frame_cached_and_all_released(spark):
    base = _persisted(spark)
    seen = []

    def probe(_, ss):
        seen.append(len(_persisted(spark) - base))

    ss, out = _countdown(spark, lambda v: 100, 7, probe)
    assert ss.n == 7
    assert max(seen) == 1  # (a) at most one superstep frame cached
    assert out.agg(F.max("x")).collect()[0][0] == 93
    assert not _persisted(spark) - base  # (b) nothing left cached


def test_one_job_per_superstep(spark):
    """(c) one action per superstep.  Measured with AQE off: under AQE the
    same action fills the new cache as a query stage of its own, which
    Spark runs as a second job."""
    sc = spark.sparkContext
    groups = []

    def probe(where, ss):
        if where == "begin":
            groups.append(f"superstep-test-{len(groups)}")
            sc.setJobGroup(groups[-1], groups[-1])
        elif where == "carry":
            sc._jsc.clearJobGroup()

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _countdown(spark, lambda v: 100, CHECKPOINT_EVERY - 1, probe)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    jobs = [len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups]
    assert jobs == [1] * (CHECKPOINT_EVERY - 1)


@pytest.mark.parametrize(
    "steps, expected",
    [
        (CHECKPOINT_EVERY, 1),  # ends on the cadence: no terminal truncate
        (CHECKPOINT_EVERY + 2, 2),  # one on the cadence, one to pin
    ],
)
def test_truncation_cadence(spark, truncations, steps, expected):
    ss, out = _countdown(spark, lambda v: 100, steps)
    assert ss.n == steps
    assert len(truncations) == expected  # (d)
    assert out.agg(F.max("x")).collect()[0][0] == 100 - steps


def test_stops_when_converged(spark):
    ss, out = _countdown(spark, lambda v: v % 4, 20)
    # three supersteps decrement, the fourth sees nothing change (e)
    assert ss.n == 4
    assert out.agg(F.max("x")).collect()[0][0] == 0


# at least one loop of each algorithms module
_ALGORITHMS = {
    "pagerank": lambda e: A.pagerank(e, iterations=2),
    "connected_components": A.connected_components,
    "dijkstra_sssp": lambda e: A.dijkstra_sssp(e, 0),
    "k_core": lambda e: A.k_core(e, 2),
    "astar": lambda e: X.astar(e, 0, 3),
    "k_shortest_paths": lambda e: X.k_shortest_paths(e, 0, 3, k=2, max_depth=3),
    "all_simple_paths": lambda e: X2.all_simple_paths(e, 0, 3, max_depth=3),
    "bellman_ford_path": lambda e: X3.bellman_ford_path(e, 0, 3),
    "hashgnn": lambda e: X4.hashgnn(e, dim=4, iterations=2),
    "hits": lambda e: M.hits(e, iterations=2),
}


@pytest.fixture
def loop_path(monkeypatch):
    """PageRank and TRAVERSE run their superstep loops, not the driver's
    CSR kernel."""
    monkeypatch.setattr(local, "_memo", [])
    monkeypatch.setattr(local, "_DRIVER_EDGES_MAX", 0)


@pytest.mark.parametrize("name", list(_ALGORITHMS))
def test_algorithms_release_their_caches(spark, loop_path, name):
    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 3.0), (2, 3, 1.0), (1, 3, 4.0), (3, 0, 2.0)],
        "src long, dst long, weight double",
    )
    base = _persisted(spark)
    assert _ALGORITHMS[name](e).collect()
    assert not _persisted(spark) - base


def _var_length_over_cap(spark, db, monkeypatch):
    spark.conf.set("arcadedb.match.maxVarLengthHops", "3")
    try:
        return _cypher(db, "MATCH (a:N {i:0})-[:NEXT*]->(b) RETURN b.i AS i").collect()
    finally:
        spark.conf.unset("arcadedb.match.maxVarLengthHops")


def _repeat_over_cap(spark, db, monkeypatch):
    from arcadedb_spark.graph import gremlin

    monkeypatch.setattr(gremlin, "_REPEAT_CAP", 3)
    return db.query(
        f"g.V('N').has('i', 0).repeat(out('NEXT')).until(has('i', {LEVELS}))"
        ".values('i')",
        language="gremlin",
    ).collect()


# loops that raise part-way: (run, the error it raises)
RAISING_LOOPS = {
    # DIVIDE_BY_ZERO in the first superstep: 0's out-weights sum to 0
    "pagerank": (
        lambda spark, db, mp: A.pagerank(
            spark.createDataFrame(
                [(0, 1, 0.0), (1, 2, 1.0), (2, 0, 1.0)], "src long, dst long, weight double"
            ),
            iterations=2,
            weighted=True,
        ).collect(),
        "DIVIDE_BY_ZERO",
    ),
    # the forward colouring of a 6-cycle needs 5 supersteps
    "strongly_connected_components": (
        lambda spark, db, mp: A.strongly_connected_components(_cycle(spark, 6), max_inner=2),
        "max_inner=2",
    ),
    # the 3-cycle 0 → 1 → 2 → 0 weighs -1: superstep 3 improves a label
    # while 3 rows are reached
    "dijkstra_sssp": (
        lambda spark, db, mp: A.dijkstra_sssp(
            spark.createDataFrame(
                [(0, 1, 1.0), (1, 2, -3.0), (2, 0, 1.0)], "src long, dst long, weight double"
            ),
            0,
        ),
        "negative cycle",
    ),
    # an undirected negative edge is a negative cycle
    "steiner_tree": (
        lambda spark, db, mp: X4.steiner_tree(
            spark.createDataFrame(
                [(0, 1, 1.0), (1, 2, -1.0)], "src long, dst long, weight double"
            ),
            [0, 2],
        ),
        "negative cycle",
    ),
    "match._expand": (_var_length_over_cap, "exceeded 3 hops"),
    "gremlin.GraphTraversal.repeat": (_repeat_over_cap, "exceeded 3 iterations"),
}


@pytest.mark.parametrize("name", list(RAISING_LOOPS))
def test_raising_loops_release_their_caches(spark, chain_db, loop_path, monkeypatch, name):
    run, error = RAISING_LOOPS[name]
    before = cache_entries(spark)
    with pytest.raises(Exception, match=error):
        run(spark, chain_db, monkeypatch)
    assert cache_entries(spark) == before


def _edge_set(spark, shift):
    """A triangle 0-1-2 with a source 5 before it and a tail 3-4 after it;
    ``shift`` renumbers it, so two sets share no plan."""
    rows = [(5, 0), (0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (1, 3)]
    return spark.createDataFrame(
        [(s + shift, d + shift, 1.0) for s, d in rows], "src long, dst long, weight double"
    )


def _halves(e):
    """Communities of ``e``: its vertices split by parity."""
    v = A._vertices_of(e)
    return v.select("vid", (F.col("vid") % 2).alias("community"))


# algorithms outside any loop that cache: a cache read only before the
# call returns goes with a ``Supersteps`` scope, one the returned plan
# reads with ``caching.bounded_cache``
NON_LOOP_CACHES = {
    "triangle_count": A.triangle_count,
    "harmonic_centrality": M.harmonic_centrality,
    "graph_summary": M.graph_summary,
    "rich_club_coefficient": lambda e: M.rich_club_coefficient(e, 1),
    "modularity_score": lambda e: X2.modularity_score(e, _halves(e)),
    "knn_similarity": lambda e: X3.knn_similarity(e, k=2),
    "hierarchical_clustering": lambda e: X4.hierarchical_clustering(e, num_clusters=2),
    "topological_sort": M.topological_sort,
    "conductance": lambda e: M.conductance(e, _halves(e)),
}


@pytest.mark.parametrize("name", list(NON_LOOP_CACHES))
def test_non_loop_algorithms_stay_within_the_cache_bound(spark, monkeypatch, name):
    """Two calls on distinct graphs, with the operator-cache bound at one
    entry, leave at most one entry more than they found."""
    monkeypatch.setattr(caching, "_MAX_DEFAULT", 1)
    before = cache_entries(spark)
    outs = [NON_LOOP_CACHES[name](_edge_set(spark, shift)) for shift in (0, 100)]
    assert cache_entries(spark) <= before + 1
    for out in outs:  # an evicted cache only costs a recompute
        if isinstance(out, DataFrame):
            assert out.collect()


# 0..5 with a duplicate edge (0→1 twice) and a dangling vertex (5)
_PR_EDGES = [
    (0, 1, 1.0), (0, 1, 2.0), (1, 2, 0.5), (1, 5, 1.0), (2, 0, 1.0),
    (2, 3, 3.0), (3, 0, 0.25), (3, 4, 1.0), (4, 5, 2.0),
]


def _pagerank_reference(edges, iterations, weighted, damping=0.85):
    """Plain power iteration with the engine's conventions: ranks start at
    1.0, Σrank = n, dangling mass spread evenly over every vertex."""
    edges = [(s, d, x if weighted else 1.0) for s, d, x in edges]
    verts = {v for s, d, _ in edges for v in (s, d)}
    n = len(verts)
    outw = dict.fromkeys(verts, 0.0)
    for s, _, x in edges:
        outw[s] += x
    rank = dict.fromkeys(verts, 1.0)
    for _ in range(iterations):
        c = dict.fromkeys(verts, 0.0)
        for s, d, x in edges:
            c[d] += rank[s] * x / outw[s]
        spread = (n - sum(c.values())) / n
        rank = {v: 1.0 - damping + damping * (c[v] + spread) for v in verts}
    return rank


@pytest.fixture
def no_probes(monkeypatch):
    """Record every count()/collect() this thread runs outside
    ``Supersteps.step``.  The classic DataFrame overrides both, so it is
    the class to patch, not ``pyspark.sql.DataFrame``."""
    import threading

    from pyspark.sql.classic.dataframe import DataFrame as ClassicFrame

    me = threading.get_ident()
    state = {"in_step": False, "stray": []}
    step = Supersteps.step

    def counted_step(self, *args):
        state["in_step"] = True
        try:
            return step(self, *args)
        finally:
            state["in_step"] = False

    def watch(name):
        orig = getattr(ClassicFrame, name)

        def wrapped(df, *args, **kwargs):
            if threading.get_ident() == me and not state["in_step"]:
                state["stray"].append(name)
            return orig(df, *args, **kwargs)

        monkeypatch.setattr(ClassicFrame, name, wrapped)

    monkeypatch.setattr(Supersteps, "step", counted_step)
    watch("count")
    watch("collect")
    return state


@pytest.mark.parametrize("weighted", [False, True])
@pytest.mark.parametrize("iterations", [0, 1, 2, 7])
def test_pagerank_matches_power_iteration(
    spark, no_probes, monkeypatch, iterations, weighted
):
    """On the driver's CSR kernel, and with the bound lowered below the
    graph, on the superstep loop."""
    e = spark.createDataFrame(_PR_EDGES, "src long, dst long, weight double")
    expected = _pagerank_reference(_PR_EDGES, iterations, weighted)
    for kernel in (True, False):
        if not kernel:
            monkeypatch.setattr(local, "_memo", [])
            monkeypatch.setattr(local, "_DRIVER_EDGES_MAX", 0)
            no_probes["stray"].clear()  # the kernel pass's own collect
        pr = A.pagerank(e, iterations=iterations, weighted=weighted)
        assert no_probes["stray"] == []  # no action outside the supersteps
        assert in_driver(pr) == (kernel and iterations > 0)
        got = {r["vid"]: r["rank"] for r in pr.collect()}
        assert got.keys() == expected.keys()
        for v, rank in expected.items():
            assert got[v] == pytest.approx(rank, abs=1e-9), v


@pytest.mark.parametrize("iterations", [0, 3])
def test_pagerank_empty_graph(spark, iterations):
    e = spark.createDataFrame([], "src long, dst long, weight double")
    pr = A.pagerank(e, iterations=iterations)
    assert pr.columns == ["vid", "rank"]
    assert pr.collect() == []


# Level-driven loops (``Supersteps(level=...)``): run long enough for two
# truncations and two supersteps past the second.
LEVELS = 2 * CHECKPOINT_EVERY + 2


def _chain(spark, n):
    """0 → 1 → … → n."""
    return spark.createDataFrame(
        [(v, v + 1) for v in range(n)], "src long, dst long"
    )


def _cycle(spark, n):
    """0 → 1 → … → n−1 → 0."""
    return spark.createDataFrame(
        [(v, (v + 1) % n) for v in range(n)], "src long, dst long"
    )


@pytest.fixture(scope="module")
def chain_db(spark):
    """(:N {i:0})-[:NEXT]->…->(:N {i:LEVELS})."""
    from arcadedb_spark.database import Database

    db = Database(spark)
    db.query(
        "CREATE " + "-[:NEXT]->".join(f"(:N {{i:{i}}})" for i in range(LEVELS + 1)),
        language="cypher",
    ).collect()
    return db


def _traverse_chain(db):
    from arcadedb_spark.graph import traverse as tv

    g = db.graph()
    roots = g.vertices("N").filter(F.col("i") == 0).select("vid")
    edges = g.edges("NEXT").select(
        F.col("src").alias("__from"), F.col("dst").alias("__to")
    )
    return tv._traverse_distributed(db, roots, edges, LEVELS, None, {})


def _cypher(db, text):
    return db.query(text, language="cypher")


# one case per enclosing function of a ``Supersteps(level=...)`` call in
# graph/ (tests/test_plans.py checks that none is missing); each runs at
# least LEVELS supersteps on a chain or cycle
LEVEL_LOOPS = {
    "algorithms.betweenness_centrality": lambda spark, db: A.betweenness_centrality(
        _chain(spark, LEVELS + 1), sources=[0], max_depth=LEVELS + 1
    ),
    "algorithms_extra2.all_simple_paths": lambda spark, db: X2.all_simple_paths(
        _chain(spark, LEVELS), 0, LEVELS, max_depth=LEVELS
    ),
    "procedures_path._paths_bfs": lambda spark, db: _cypher(
        db,
        "MATCH (a:N {i:0}) CALL path.expand(a, 'NEXT', null, 1, "
        f"{LEVELS}) YIELD path RETURN length(path) AS l",
    ),
    "match._expand": lambda spark, db: _cypher(
        db, f"MATCH (a:N {{i:0}})-[:NEXT*1..{LEVELS + 1}]->(b) RETURN b.i AS i"
    ),
    "gremlin.GraphTraversal.repeat": lambda spark, db: db.query(
        f"g.V('N').has('i', 0).repeat(out('NEXT')).until(has('i', {LEVELS}))"
        ".values('i')",
        language="gremlin",
    ),
}

# one case per function that calls ``algorithms.bfs`` or ``algorithms.relax``,
# plus k_shortest_paths' own top-k loop (tests/test_plans.py checks that
# none is missing); each runs at least LEVELS supersteps of its BFS or
# relaxation
FRONTIER_LOOPS = {
    "algorithms.shortest_paths": lambda spark, db: A.shortest_paths(
        _chain(spark, LEVELS), [LEVELS], max_depth=LEVELS
    ),
    "algorithms.strongly_connected_components": lambda spark, db: (
        A.strongly_connected_components(_cycle(spark, LEVELS + 1))
    ),
    "algorithms_extra3._bfs_forest": lambda spark, db: X3._bfs_forest(
        _chain(spark, LEVELS)
    )[1],
    "algorithms_more.bipartite_check": lambda spark, db: M.bipartite_check(
        _chain(spark, LEVELS)
    ),
    "procedures_path._reachable": lambda spark, db: _cypher(
        db,
        "MATCH (a:N {i:0}) CALL path.subgraphNodes(a, {relationshipFilter: "
        f"'NEXT', maxLevel: {LEVELS}}}) YIELD node RETURN node.i AS i",
    ),
    "traverse._traverse_distributed": lambda spark, db: _traverse_chain(db),
    "algorithms.dijkstra_sssp": lambda spark, db: A.dijkstra_sssp(_chain(spark, LEVELS), 0),
    "algorithms_extra.astar": lambda spark, db: X.astar(_chain(spark, LEVELS), 0, LEVELS),
    "algorithms_extra3.bellman_ford_path": lambda spark, db: X3.bellman_ford_path(
        _chain(spark, LEVELS), 0, LEVELS
    ),
    "algorithms_extra4.steiner_tree": lambda spark, db: X4.steiner_tree(
        _chain(spark, LEVELS), [0, LEVELS]
    ),
    "algorithms_extra.k_shortest_paths": lambda spark, db: X.k_shortest_paths(
        _chain(spark, LEVELS), 0, LEVELS, k=2, max_depth=LEVELS + 1
    ),
}

# the functions whose ``Supersteps`` the FRONTIER_LOOPS guard measures
FRONTIER_STEPPERS = {"bfs", "relax", "k_shortest_paths"}


class _Leaves(list):
    """Leaf counts of one driver's stepped frames; ``loop`` names the
    function that steps it."""

    loop = ""


def _record_leaves(monkeypatch, wanted):
    """Analyzed-plan leaf counts of the frames each ``wanted`` driver
    steps, one ``_Leaves`` per driver.  A step whose plan has more leaves than
    the one CHECKPOINT_EVERY supersteps before it fails at once, so a plan
    that doubles per superstep stops its loop instead of exhausting the
    heap."""
    series = []
    step = Supersteps.step

    def recording(self, frame, *aggregates):
        if wanted(self):
            if not hasattr(self, "_leaves"):
                self._leaves = _Leaves()
                self._leaves.loop = sys._getframe(1).f_code.co_name
                series.append(self._leaves)
            leaves = self._leaves
            leaves.append(
                frame._jdf.queryExecution().analyzed().collectLeaves().size()
            )
            k = len(leaves) - 1 - CHECKPOINT_EVERY
            assert k < 0 or leaves[-1] <= leaves[k], leaves
        return step(self, frame, *aggregates)

    monkeypatch.setattr(Supersteps, "step", recording)
    return series


@pytest.fixture
def plan_leaves(monkeypatch):
    """Leaf series of the level drivers (``Supersteps(level=...)``)."""
    return _record_leaves(monkeypatch, lambda ss: ss.level is not None)


@pytest.fixture
def stepped_leaves(monkeypatch):
    """Leaf series of every driver."""
    return _record_leaves(monkeypatch, lambda ss: True)


@pytest.mark.parametrize("name", list(LEVEL_LOOPS))
def test_level_loops_keep_their_plans_bounded(spark, chain_db, plan_leaves, name):
    out = LEVEL_LOOPS[name](spark, chain_db)
    if isinstance(out, DataFrame):
        assert out.collect()
    assert max(map(len, plan_leaves)) >= LEVELS
    for leaves in plan_leaves:
        later = leaves[CHECKPOINT_EVERY:]
        assert all(b <= a for a, b in zip(leaves, later)), leaves


@pytest.mark.parametrize("name", list(FRONTIER_LOOPS))
def test_bfs_plans_grow_by_a_constant(spark, chain_db, stepped_leaves, name):
    """A BFS or relaxation superstep reads the per-vertex state once,
    through the self rows of the adjacency: within a truncation window the
    stepped frame's plan grows by the same number of leaves each superstep
    (a BFS grew ~2.6x per level while each level anti-joined the union of
    the levels before it; a relaxation doubled while it read its labels
    for the frontier and again for the merge), and the driver's cadence
    cuts it back."""
    out = FRONTIER_LOOPS[name](spark, chain_db)
    if isinstance(out, DataFrame):
        assert out.collect()
    frontier = [s for s in stepped_leaves if s.loop in FRONTIER_STEPPERS]
    assert frontier, {s.loop: list(s) for s in stepped_leaves}
    leaves = frontier[-1]
    assert len(leaves) >= LEVELS, leaves
    windows = [leaves[i : i + CHECKPOINT_EVERY] for i in range(0, len(leaves), CHECKPOINT_EVERY)]
    growth = {b - a for w in windows for a, b in zip(w, w[1:])}
    assert len(growth) == 1, leaves
    later = leaves[CHECKPOINT_EVERY:]
    assert all(b <= a for a, b in zip(leaves, later)), leaves


def _swapping_edge(spark):
    """One edge whose ends share Leiden's move-gate parity: both ends move
    in the same supersteps and swap communities for ever (Louvain's swap
    on any single edge)."""
    rows = spark.range(1, 16).select(
        "id", (F.abs(F.xxhash64("id")) % 2).alias("parity")
    ).collect()
    a, b = [r["id"] for r in rows if r["parity"] == rows[0]["parity"]][:2]
    return spark.createDataFrame([(a, b)], "src long, dst long")


@pytest.mark.parametrize("name", ["louvain", "leiden"])
def test_local_moving_plans_stay_bounded(spark, stepped_leaves, name):
    """Louvain and Leiden read the carried communities once per
    superstep: within a truncation window the stepped frame's plan grows
    by the same number of leaves each superstep, and the driver's cadence
    cuts it back."""
    run = {"louvain": A.louvain, "leiden": X.leiden}[name]
    out = run(_swapping_edge(spark), max_iterations=LEVELS)
    assert len(out.collect()) == 2
    leaves = stepped_leaves[0]  # the local-moving driver (Leiden refines after)
    assert len(leaves) == LEVELS, leaves
    windows = [leaves[i : i + CHECKPOINT_EVERY] for i in range(0, LEVELS, CHECKPOINT_EVERY)]
    growth = {b - a for w in windows for a, b in zip(w, w[1:])}
    assert len(growth) == 1, leaves
    later = leaves[CHECKPOINT_EVERY:]
    assert all(b <= a for a, b in zip(leaves, later)), leaves


@pytest.fixture
def carried_leaves(monkeypatch):
    """Analyzed-plan leaf counts of the state each ``carry`` receives, one
    list per driver."""
    series = []
    carry = Supersteps.carry

    def recording(self, state):
        if not hasattr(self, "_carried"):
            self._carried = []
            series.append(self._carried)
        self._carried.append(state._jdf.queryExecution().analyzed().collectLeaves().size())
        return carry(self, state)

    monkeypatch.setattr(Supersteps, "carry", recording)
    return series


@pytest.mark.parametrize("name", ["connected_components", "label_propagation"])
def test_self_row_loops_read_their_state_once(spark, carried_leaves, name):
    """Connected components and label propagation read the carried state
    once per superstep, through the self rows of the adjacency: within a
    truncation window the state's plan grows by the same number of leaves
    each superstep (it doubled while a superstep read the state twice)."""
    chain = _chain(spark, LEVELS)
    if name == "connected_components":
        out = A.connected_components(chain)  # LEVELS + 1 supersteps
    else:
        out = A.label_propagation(chain, iterations=LEVELS)
    assert len(out.collect()) == LEVELS + 1
    leaves = carried_leaves[0]
    assert len(leaves) >= LEVELS, leaves
    windows = [leaves[i : i + CHECKPOINT_EVERY] for i in range(0, len(leaves), CHECKPOINT_EVERY)]
    growth = {b - a for w in windows for a, b in zip(w, w[1:])}
    assert len(growth) == 1, leaves


# Long BFS loops finish: before the frontier was re-read from the
# truncated state, each of these doubled its plan per level and ran out
# of driver heap well short of 32 levels.  And they run to their fixed
# point: bridges' spanning forest used to stop at 64 levels and
# bipartite_check's colouring at 20, and the vertices beyond got no tree
# edge or colour while an answer still came back.


@pytest.mark.slow
def test_bridges_on_a_long_chain(spark):
    got = {(r["source"], r["target"]) for r in X3.bridges(_chain(spark, 70)).collect()}
    assert got == {(v, v + 1) for v in range(70)}


def test_scc_raises_on_a_reached_cap(spark):
    # the forward colouring of a 6-cycle needs 5 supersteps to converge
    with pytest.raises(RuntimeError, match="max_inner=3"):
        A.strongly_connected_components(_cycle(spark, 6), max_inner=3)


@pytest.mark.slow
def test_scc_on_a_long_cycle_and_chain(spark):
    # the forward colouring needs 31 supersteps on the cycle, more than
    # the 30 the loop used to stop at (and then returned 32 singletons)
    cycle = A.strongly_connected_components(_cycle(spark, 32))
    assert {r["component"] for r in cycle.collect()} == {31}
    chain = A.strongly_connected_components(_chain(spark, 32))
    assert sorted(r["component"] for r in chain.collect()) == list(range(33))


@pytest.mark.slow
def test_bipartite_check_on_long_cycles(spark):
    assert M.bipartite_check(_cycle(spark, 32)) is True
    assert M.bipartite_check(_cycle(spark, 31)) is False
    # the vertices of a 43-cycle lie up to 21 hops from its root
    assert M.bipartite_check(_cycle(spark, 43)) is False


@pytest.mark.slow
def test_shortest_paths_on_a_long_chain(spark):
    # landmark 99 has no edges: it keeps its own row
    d = A.shortest_paths(_chain(spark, 32), [32, 99], max_depth=40)
    assert {(r["vid"], r["landmark"], r["distance"]) for r in d.collect()} == {
        *((v, 32, 32 - v) for v in range(33)), (99, 99, 0)
    }


# Long shortest-path loops run to their fixed point: dijkstra_sssp, A*,
# Bellman-Ford and Steiner's per-terminal SSSP used to stop after 30
# supersteps, and on a 40-edge chain they lost the vertices beyond,
# called 40 unreachable from 0 or flagged a negative cycle.


@pytest.mark.slow
def test_dijkstra_sssp_on_a_long_chain(spark):
    d = A.dijkstra_sssp(_chain(spark, 40), 0)
    assert {(r["vid"], r["distance"]) for r in d.collect()} == {(v, float(v)) for v in range(41)}


@pytest.mark.slow
def test_astar_on_a_long_chain(spark):
    rows = X.astar(_chain(spark, 40), 0, 40).collect()
    assert [(r["path"], r["weight"]) for r in rows] == [(list(range(41)), 40.0)]


@pytest.mark.slow
def test_bellman_ford_path_on_a_long_chain(spark):
    rows = X3.bellman_ford_path(_chain(spark, 40), 0, 40).collect()
    assert [(r["path"], r["weight"], r["negativeCycle"]) for r in rows] == [
        (list(range(41)), 40.0, False)
    ]


@pytest.mark.slow
def test_keyed_relax_on_a_long_chain(spark):
    # Steiner's SSSP: both terminals of an undirected chain, one relax
    hops = A._weighted_adj(_chain(spark, 40))
    und = hops.unionByName(hops.select(F.col("n").alias("v"), F.col("v").alias("n"), "w"))
    seeds = spark.createDataFrame([(0, 0), (40, 40)], "terminal long, vid long")
    got = A.relax(und, seeds, tie="parent", keys=("terminal",)).collect()
    assert {(r["terminal"], r["vid"], r["distance"], r["parent"]) for r in got} == {
        *((0, v, float(v), v - 1 if v else None) for v in range(41)),
        *((40, v, float(40 - v), v + 1 if v < 40 else None) for v in range(41)),
    }


@pytest.mark.slow
def test_steiner_tree_on_a_long_chain(spark):
    rows = X4.steiner_tree(_chain(spark, 40), [0, 40]).collect()
    assert {(r["source"], r["target"]) for r in rows} == {(v, v + 1) for v in range(40)}
    assert {r["totalWeight"] for r in rows} == {40.0}
