"""Superstep driver (graph/superstep.py): cache bound, one action per
superstep, truncation cadence, early stop, no cache left behind by the
algorithms built on it, and bounded plans in every level-driven loop."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arcadedb_spark.graph import algorithms as A
from arcadedb_spark.graph import algorithms_extra as X
from arcadedb_spark.graph import algorithms_extra2 as X2
from arcadedb_spark.graph import algorithms_extra3 as X3
from arcadedb_spark.graph import algorithms_more as M
from arcadedb_spark.graph.superstep import CHECKPOINT_EVERY, Supersteps


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
    ss = Supersteps()
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


_ALGORITHMS = {
    "pagerank": lambda e: A.pagerank(e, iterations=2),
    "connected_components": A.connected_components,
    "dijkstra_sssp": lambda e: A.dijkstra_sssp(e, 0),
    "k_core": lambda e: A.k_core(e, 2),
    "astar": lambda e: X.astar(e, 0, 3),
    "k_shortest_paths": lambda e: X.k_shortest_paths(e, 0, 3, k=2, max_depth=3),
    "all_simple_paths": lambda e: X2.all_simple_paths(e, 0, 3, max_depth=3),
    "bellman_ford_path": lambda e: X3.bellman_ford_path(e, 0, 3, max_iterations=4),
}


@pytest.mark.parametrize("name", list(_ALGORITHMS))
def test_algorithms_release_their_caches(spark, name):
    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 3.0), (2, 3, 1.0), (1, 3, 4.0), (3, 0, 2.0)],
        "src long, dst long, weight double",
    )
    base = _persisted(spark)
    assert _ALGORITHMS[name](e).collect()
    assert not _persisted(spark) - base


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
def test_pagerank_matches_power_iteration(spark, no_probes, iterations, weighted):
    e = spark.createDataFrame(_PR_EDGES, "src long, dst long, weight double")
    pr = A.pagerank(e, iterations=iterations, weighted=weighted)
    assert no_probes["stray"] == []  # no action outside the supersteps
    got = {r["vid"]: r["rank"] for r in pr.collect()}
    expected = _pagerank_reference(_PR_EDGES, iterations, weighted)
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
    "algorithms_extra2.all_simple_paths": lambda spark, db: X2.all_simple_paths(
        _chain(spark, LEVELS), 0, LEVELS, max_depth=LEVELS
    ),
    "procedures_path._paths_bfs": lambda spark, db: _cypher(
        db,
        "MATCH (a:N {i:0}) CALL path.expand(a, 'NEXT', null, 1, "
        f"{LEVELS}) YIELD path RETURN length(path) AS l",
    ),
    "procedures_path._reachable": lambda spark, db: _cypher(
        db,
        "MATCH (a:N {i:0}) CALL path.subgraphNodes(a, {relationshipFilter: "
        f"'NEXT', maxLevel: {LEVELS}}}) YIELD node RETURN node.i AS i",
    ),
    "match._expand": lambda spark, db: _cypher(
        db, f"MATCH (a:N {{i:0}})-[:NEXT*1..{LEVELS + 1}]->(b) RETURN b.i AS i"
    ),
    "traverse._traverse_distributed": lambda spark, db: _traverse_chain(db),
    "gremlin.GraphTraversal.repeat": lambda spark, db: db.query(
        f"g.V('N').has('i', 0).repeat(out('NEXT')).until(has('i', {LEVELS}))"
        ".values('i')",
        language="gremlin",
    ),
}


@pytest.fixture
def plan_leaves(monkeypatch):
    """Analyzed-plan leaf counts of the frames each level driver steps, one
    list per driver.  A step whose plan has more leaves than the one
    CHECKPOINT_EVERY supersteps before it fails at once, so a plan that
    doubles per level stops its loop instead of exhausting the heap."""
    series = []
    step = Supersteps.step

    def recording(self, frame, *aggregates):
        if self.level is not None:
            if not hasattr(self, "_leaves"):
                self._leaves = []
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


@pytest.mark.parametrize("name", list(LEVEL_LOOPS))
def test_level_loops_keep_their_plans_bounded(spark, chain_db, plan_leaves, name):
    out = LEVEL_LOOPS[name](spark, chain_db)
    if isinstance(out, DataFrame):
        assert out.collect()
    assert max(map(len, plan_leaves)) >= LEVELS
    for leaves in plan_leaves:
        later = leaves[CHECKPOINT_EVERY:]
        assert all(b <= a for a, b in zip(leaves, later)), leaves


# Long BFS loops finish: before the frontier was re-read from the
# truncated state, each of these doubled its plan per level and ran out
# of driver heap well short of 32 levels.


@pytest.mark.slow
def test_bridges_on_a_long_chain(spark):
    got = {(r["source"], r["target"]) for r in X3.bridges(_chain(spark, 32)).collect()}
    assert got == {(v, v + 1) for v in range(32)}


@pytest.mark.slow
def test_scc_on_a_long_cycle_and_chain(spark):
    # the forward colouring needs 31 supersteps on the cycle
    cycle = A.strongly_connected_components(_cycle(spark, 32), max_inner=40)
    assert {r["component"] for r in cycle.collect()} == {31}
    chain = A.strongly_connected_components(_chain(spark, 32))
    assert sorted(r["component"] for r in chain.collect()) == list(range(33))


@pytest.mark.slow
def test_bipartite_check_on_long_cycles(spark):
    assert M.bipartite_check(_cycle(spark, 32)) is True
    assert M.bipartite_check(_cycle(spark, 31)) is False


@pytest.mark.slow
def test_shortest_paths_on_a_long_chain(spark):
    d = A.shortest_paths(_chain(spark, 32), [32], max_depth=40)
    assert {(r["vid"], r["distance"]) for r in d.collect()} == {
        (v, 32 - v) for v in range(33)
    }
