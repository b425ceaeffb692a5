"""Graph algorithms as DataFrame-iterative (Pregel-style) programs.

Reference: ~70 ``CALL algo.*`` procedures under
query/opencypher/procedures/algo/Algo*.java (PageRank, WCC, centralities,
community detection, paths…).  The reference iterates over its CSR view in
one JVM; the Spark re-expression is message-passing via join + groupBy
per superstep.  graph/superstep.py owns each loop's persist / probe /
release / truncate lifecycle (lineage.py says why truncation is a parquet
round trip).  This is the GraphX/Pregel shape expressed on DataFrames,
which keeps AQE/broadcast available and scales out by partitioning on
vertex id.  PageRank on a graph that fits in the driver iterates numpy
CSR arrays instead (graph/local.py).

All algorithms take an ``edges`` DataFrame (src:long, dst:long
[, weight:double]) and return vertex-keyed DataFrames.  Deterministic
fixed-iteration variants are used so results are reproducible for the
correctness oracle (tolerance-based stopping is available via ``tol``).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from arcadedb_spark.graph import local
from arcadedb_spark.graph.superstep import Supersteps
from arcadedb_spark.session import local_df


def _vertices_of(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )


def _undirected_pairs(edges: DataFrame) -> DataFrame:
    """Distinct undirected edges (a, b) with a < b; self-loops dropped."""
    return (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 20,
    damping: float = 0.85,
    weighted: bool = False,
) -> DataFrame:
    """PageRank (AlgoPageRank.java parity: damping 0.85, fixed iterations).

    Returns (vid, rank) with sum(rank) == N convention (reference uses the
    1/N-normalized variant scaled by N; ranks are comparable by ratio).

    Every edge carries the share w / Σw of its source's out-weight, ranks
    start at 1.0, and each superstep spreads the dangling mass (n − the
    rank that flowed along an edge) evenly over the n vertices.

    Small graphs: an edge frame of at most ``local._DRIVER_EDGES_MAX``
    rows (200k) is collected once and iterated as numpy CSR arrays on the
    driver (``graph/local.py``); the result is a ``LocalRelation``.  Two
    kinds of input keep the loop below although they fit: a null endpoint
    or weight, and a source whose out-weight is zero -- the kernel would
    not reproduce the loop's null-vid row or its DIVIDE_BY_ZERO.

    Scale: above the bound the loop is unchanged.  One shuffle (a window
    over src) gives every edge its share; the share frame is cached and
    filled by the first superstep, which needs no join because every rank
    starts at 1.0.  There is no separate vertex frame: a superstep groups
    its messages by vid together with a zero row per edge source, so its
    frame holds every vertex (a dangling one is some edge's dst) and its
    one action returns sum(c) and count(*).  n and the dangling mass thus
    come from the superstep itself, and nothing is counted before the
    loop.  The zero rows come from the share frame, not the previous
    ranks: ranks already feed the join, and a second reference would
    double the plan every superstep until the next truncation.  Like a
    repartition by src, the window puts all out-edges of one source in
    one task.
    """
    if iterations <= 0:
        return _vertices_of(edges).withColumn("rank", F.lit(1.0))
    weighted = weighted and "weight" in edges.columns
    w = F.col("weight").cast("double") if weighted else F.lit(1.0)
    csr = local.csr_of(edges.select("src", "dst", *([w] if weighted else [])))
    if csr is not None and csr.complete:
        rows = local.pagerank(csr, iterations, damping)
        if rows is not None:
            return local_df(edges.sparkSession, rows, "vid long, rank double")
    e = edges.select(
        "src", "dst", (w / F.sum(w).over(Window.partitionBy("src"))).alias("__share")
    ).cache()
    zero = e.select(F.col("src").alias("vid"), F.lit(0.0).alias("c"))
    msgs = e.select(F.col("dst").alias("vid"), F.col("__share").alias("c"))
    ss = Supersteps()
    for i in range(iterations):
        if i:
            msgs = e.join(ranks, e["src"] == ranks["vid"]).select(
                F.col("dst").alias("vid"), (F.col("rank") * F.col("__share")).alias("c")
            )
        stepped = zero.unionByName(msgs).groupBy("vid").agg(F.sum("c").alias("c"))
        flowed, n = ss.step(stepped, F.sum("c"), F.count(F.lit(1)))
        # total rank is kept at n: what did not flow along an edge sat on
        # dangling vertices and is spread evenly
        spread = (n - (flowed or 0.0)) / n if n else 0.0
        ranks = ss.carry(
            stepped.select(
                "vid",
                (F.lit(1.0 - damping) + F.lit(damping) * (F.col("c") + F.lit(spread))).alias(
                    "rank"
                ),
            )
        )
    ranks = ss.finish(ranks)
    e.unpersist()
    return ranks


def connected_components(edges: DataFrame, max_iterations: int = 50) -> DataFrame:
    """Weakly connected components via hash-min propagation
    (AlgoWCC.java parity).  Returns (vid, component) where component is
    the minimum vid in the component.

    Scale: O(diameter) supersteps of join+min; for graphs with giant
    diameter the large-star/small-star variant would halve rounds — the
    fixture graphs converge in <10.
    """
    und = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().repartition("src").cache()
    comp = _vertices_of(edges).withColumn("component", F.col("vid"))
    ss = Supersteps()
    for _ in range(max_iterations):
        neigh_min = (
            und.join(comp, und["src"] == comp["vid"], "inner")
            .select(F.col("dst").alias("vid"), F.col("component"))
            .groupBy("vid")
            .agg(F.min("component").alias("nc"))
        )
        # Carry the change flag in the frame (nc < component ⟺ least() picks
        # nc) so convergence needs no extra self-join.
        stepped = comp.join(neigh_min, "vid", "left").select(
            "vid",
            F.least(F.col("component"), F.coalesce(F.col("nc"), F.col("component"))).alias(
                "component"
            ),
            (F.col("nc") < F.col("component")).alias("__chg"),
        )
        changed = ss.step(stepped, F.max("__chg"))[0]
        comp = ss.carry(stepped.select("vid", "component"))
        if not changed:
            break
    comp = ss.finish(comp)
    und.unpersist()
    return comp


def shortest_paths(
    edges: DataFrame, landmarks: list[int], max_depth: int = 20
) -> DataFrame:
    """Unweighted BFS distance from each vertex TO each landmark
    (GraphFrames.shortestPaths semantics; AlgoBFS/SQLFunctionShortestPath
    parity for hop counts).  Returns (vid, landmark, distance).
    """
    spark = edges.sparkSession
    dist = local_df(
        spark, [(v, v, 0) for v in landmarks], "vid long, landmark long, distance int"
    )
    frontier = dist
    # traverse edges BACKWARD so distance is vid→landmark
    back = edges.select(F.col("dst").alias("from"), F.col("src").alias("to")).distinct().cache()
    ss = Supersteps(level="distance")
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(back, frontier["vid"] == back["from"], "inner")
            .select(F.col("to").alias("vid"), "landmark")
            .distinct()
            .withColumn("distance", F.lit(depth))
        )
        seen = dist.select(
            F.col("vid").alias("__v2"), F.col("landmark").alias("__l2")
        )
        nxt = nxt.join(
            seen,
            (nxt["vid"] == seen["__v2"]) & (nxt["landmark"] == seen["__l2"]),
            "left_anti",
        )
        if ss.step(nxt, F.count(F.lit(1)))[0] == 0:
            break
        dist = ss.carry(dist.unionByName(nxt))
        frontier = ss.frontier
    dist = ss.finish(dist)
    back.unpersist()
    return dist


def dijkstra_sssp(
    edges: DataFrame, source: int, max_iterations: int = 30
) -> DataFrame:
    """Single-source weighted shortest paths by Bellman-Ford-style
    relaxation (SQLFunctionDijkstra/BellmanFord parity — same distances;
    the label-correcting DataFrame form is the scalable expression).
    Returns (vid, distance).
    """
    e = edges.select(
        "src", "dst", F.coalesce(F.col("weight"), F.lit(1.0)).alias("w")
    ) if "weight" in edges.columns else edges.select(
        "src", "dst", F.lit(1.0).alias("w")
    )
    e = e.cache()
    spark = edges.sparkSession
    dist = local_df(spark, [(source, 0.0)], "vid long, distance double")
    ss = Supersteps()
    for _ in range(max_iterations):
        relaxed = (
            e.join(dist, e["src"] == dist["vid"], "inner")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.min(F.col("distance") + F.col("w")).alias("__rd"))
        )
        # full-outer merge carries the improvement flag, so convergence
        # needs no second join
        stepped = dist.join(relaxed, "vid", "full").select(
            "vid",
            F.least(
                F.coalesce(F.col("distance"), F.col("__rd")),
                F.coalesce(F.col("__rd"), F.col("distance")),
            ).alias("distance"),
            (F.col("distance").isNull() | (F.col("__rd") < F.col("distance"))).alias("__chg"),
        )
        improved = ss.step(stepped, F.max("__chg"))[0]
        dist = ss.carry(stepped.select("vid", "distance"))
        if not improved:
            break
    dist = ss.finish(dist)
    e.unpersist()
    return dist


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts (AlgoTriangleCount.java parity).

    Degree-ordered orientation bounds the join fan-out on skewed graphs
    (each triangle counted once on the oriented graph, then credited to
    all three corners).
    """
    und = _undirected_pairs(edges)
    deg = (
        und.select(F.col("a").alias("v")).unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    # orient edge u→v when (deg(u), u) < (deg(v), v)
    e1 = (
        und.join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
    ).cache()
    # wedges: u→v, u→w (v<w by orientation total order) closed by v→w
    w1 = e1.alias("x")
    w2 = e1.alias("y")
    wedges = w1.join(w2, F.col("x.u") == F.col("y.u")).filter(
        (F.col("x.v") != F.col("y.v"))
    ).select(
        F.col("x.u").alias("u"), F.col("x.v").alias("v"), F.col("y.v").alias("w")
    )
    closed = wedges.join(
        e1.select(F.col("u").alias("v"), F.col("v").alias("w")),
        ["v", "w"],
        "inner",
    )
    # exactly one of the (v,w)/(w,v) wedge orders closes per triangle, so
    # each triangle appears once in `closed` — credit all three corners
    tri = closed.select(
        F.explode(F.array("u", "v", "w")).alias("vid")
    ).groupBy("vid").agg(F.count("*").cast("long").alias("triangles"))
    verts = _vertices_of(edges)
    return verts.join(tri, "vid", "left").fillna(0, ["triangles"])


def label_propagation(edges: DataFrame, iterations: int = 10) -> DataFrame:
    """Community detection by synchronous label propagation
    (AlgoLabelPropagation.java parity; ties break to the smaller label for
    determinism).  Returns (vid, label)."""
    und = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).repartition("src").cache()
    labels = _vertices_of(edges).withColumn("label", F.col("vid"))
    ss = Supersteps()
    for _ in range(iterations):
        counts = (
            und.join(labels, und["src"] == labels["vid"], "inner")
            .select(F.col("dst").alias("vid"), "label")
            .groupBy("vid", "label")
            .agg(F.count("*").alias("n"))
        )
        # most-frequent label per vertex via max(struct(n, −label)) — hash
        # aggregate with map-side combine instead of a window sort; ties
        # break to the smaller label exactly as (desc n, asc label) did
        best = (
            counts.groupBy("vid")
            .agg(
                F.max(
                    F.struct(
                        F.col("n"), (-F.col("label")).alias("__neg"), F.col("label")
                    )
                ).alias("__m")
            )
            .select("vid", F.col("__m.label").alias("new_label"))
        )
        labels = ss.carry(
            labels.join(best, "vid", "left")
            .select("vid", F.coalesce("new_label", "label").alias("label"))
        )
    labels = ss.finish(labels)
    und.unpersist()
    return labels


def degree_centrality(edges: DataFrame, direction: str = "both") -> DataFrame:
    """(AlgoDegreeCentrality.java parity.)  Returns (vid, degree)."""
    sel = []
    if direction in ("out", "both"):
        sel.append(edges.select(F.col("src").alias("vid")))
    if direction in ("in", "both"):
        sel.append(edges.select(F.col("dst").alias("vid")))
    out = sel[0]
    for s in sel[1:]:
        out = out.unionByName(s)
    return out.groupBy("vid").agg(F.count("*").alias("degree"))


def common_neighbors(edges: DataFrame, undirected: bool = True) -> DataFrame:
    """Link-prediction: common-neighbor counts for vertex pairs ≥1 shared
    neighbor (AlgoCommonNeighbors.java parity).  Returns (a, b, n_common)
    with a < b.

    Join shape: adjacency self-join on the shared neighbor — shuffle
    bounded by Σ deg², the standard scalable form (skew guard = drop
    super-hub neighbors upstream if needed)."""
    adj = _undirected_adj(edges) if undirected else edges.select(
        F.col("src").alias("v"), F.col("dst").alias("n")
    )
    l, r = adj.alias("l"), adj.alias("r")
    return (
        l.join(r, (F.col("l.n") == F.col("r.n")) & (F.col("l.v") < F.col("r.v")))
        .groupBy(F.col("l.v").alias("a"), F.col("r.v").alias("b"))
        .agg(F.count("*").alias("n_common"))
    )


def _undirected_adj(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("v"), F.col("dst").alias("n"))
        .unionByName(edges.select(F.col("dst").alias("v"), F.col("src").alias("n")))
        .filter(F.col("v") != F.col("n"))
        .distinct()
    )


def _with_self_rows(adj: DataFrame, verts: DataFrame) -> DataFrame:
    """``adj`` (v, n) plus one (v, v) row per vertex of ``verts`` (vid),
    flagged ``__self``.  Joined to a per-vertex state on ``n`` and grouped
    by ``v``, the self row brings a vertex's own state into the group of
    its neighbours' rows, so a superstep reads the state once."""
    return adj.withColumn("__self", F.lit(False)).unionByName(
        verts.select(F.col("vid").alias("v"), F.col("vid").alias("n"), F.lit(True).alias("__self"))
    )


def jaccard_similarity(edges: DataFrame) -> DataFrame:
    """Link-prediction: neighbor-set Jaccard per candidate pair
    (AlgoJaccard.java parity).  Returns (a, b, jaccard), a < b."""
    adj = _undirected_adj(edges)
    deg = adj.groupBy("v").agg(F.count("*").alias("d"))
    cn = common_neighbors(edges)
    return (
        cn.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
        .select(
            "a", "b",
            (F.col("n_common") / (F.col("da") + F.col("db") - F.col("n_common"))).alias(
                "jaccard"
            ),
        )
    )


def adamic_adar(edges: DataFrame) -> DataFrame:
    """Link-prediction: Adamic-Adar index Σ 1/ln(deg(shared neighbor))
    (AlgoAdamicAdar.java parity).  Returns (a, b, score), a < b."""
    adj = _undirected_adj(edges)
    deg = adj.groupBy("v").agg(F.count("*").alias("d"))
    weighted = adj.join(
        deg.select(F.col("v").alias("n"), F.col("d").alias("dn")), "n"
    ).filter(F.col("dn") > 1)
    l, r = weighted.alias("l"), weighted.alias("r")
    return (
        l.join(r, (F.col("l.n") == F.col("r.n")) & (F.col("l.v") < F.col("r.v")))
        .groupBy(F.col("l.v").alias("a"), F.col("r.v").alias("b"))
        .agg(F.sum(1.0 / F.log(F.col("l.dn"))).alias("score"))
    )


def k_core(edges: DataFrame, k: int, max_iterations: int = 50) -> DataFrame:
    """Vertices of the k-core (AlgoKCore.java parity): iteratively peel
    vertices with degree < k until fixpoint.  Returns (vid,)."""
    adj = _undirected_adj(edges).cache()
    alive = adj.select("v").distinct()
    # one count up front; per iteration only the NEW frame is counted (the
    # previous count is remembered), halving the actions per peel round
    n_alive = alive.count()
    ss = Supersteps()
    for _ in range(max_iterations):
        cur = adj.join(alive.withColumnRenamed("v", "n"), "n", "left_semi").join(
            alive, "v", "left_semi"
        )
        deg = cur.groupBy("v").agg(F.count("*").alias("d"))
        nxt = deg.filter(F.col("d") >= k).select("v")
        n_next = ss.step(nxt, F.count(F.lit(1)))[0]
        alive = ss.carry(nxt)
        if n_next == n_alive:
            break
        n_alive = n_next
    alive = ss.finish(alive)
    adj.unpersist()
    return alive.select(F.col("v").alias("vid"))


def eigenvector_centrality(edges: DataFrame, iterations: int = 20) -> DataFrame:
    """Power-iteration eigenvector centrality (AlgoEigenvector.java parity:
    normalized so max = 1).  Returns (vid, centrality)."""
    verts = _vertices_of(edges).cache()
    e = edges.select("src", "dst").distinct().repartition("dst").cache()
    x = verts.withColumn("x", F.lit(1.0))
    ss = Supersteps()
    for _ in range(iterations):
        nxt = (
            e.join(x, e["src"] == x["vid"], "inner")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.sum("x").alias("x"))
        )
        nxt = verts.join(nxt, "vid", "left").fillna(0.0, ["x"])
        norm = ss.step(nxt, F.max("x"))[0] or 1.0
        x = ss.carry(nxt.select("vid", (F.col("x") / F.lit(norm)).alias("x")))
    x = ss.finish(x)
    e.unpersist()
    verts.unpersist()
    return x.select("vid", F.col("x").alias("centrality"))


def katz_centrality(
    edges: DataFrame, alpha: float = 0.1, beta: float = 1.0, iterations: int = 20
) -> DataFrame:
    """Katz centrality x = α·Aᵀx + β (AlgoKatz.java parity).
    Returns (vid, centrality)."""
    verts = _vertices_of(edges).cache()
    e = edges.select("src", "dst").distinct().repartition("dst").cache()
    x = verts.withColumn("x", F.lit(beta))
    ss = Supersteps()
    for _ in range(iterations):
        nxt = (
            e.join(x, e["src"] == x["vid"], "inner")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.sum("x").alias("s"))
        )
        x = ss.carry(
            verts.join(nxt, "vid", "left")
            .select(
                "vid",
                (F.lit(alpha) * F.coalesce(F.col("s"), F.lit(0.0)) + F.lit(beta)).alias("x"),
            )
        )
    x = ss.finish(x)  # detach from the caches before releasing them
    e.unpersist()
    verts.unpersist()
    return x.select("vid", F.col("x").alias("centrality"))


_LANDMARK_SAMPLE = 64


def default_landmarks(
    edges: DataFrame, exact: bool = False, sample: int = _LANDMARK_SAMPLE
) -> list[int]:
    """Landmark set for distance-based centralities.

    Default: a deterministic pseudo-random sample of ``sample`` vertex ids
    (smallest xxhash64 first) — bounded driver memory and a bounded
    (vid × landmark) state table at any graph size.  Graphs with ≤ sample
    vertices get every vertex, i.e. exact results.  ``exact=True`` opts in
    to collecting EVERY vertex id — all-pairs cost, only for graphs whose
    vertex list fits on the driver.
    """
    verts = _vertices_of(edges)
    if exact:
        return [r[0] for r in verts.collect()]
    return [r[0] for r in verts.orderBy(F.xxhash64("vid"), "vid").limit(sample).collect()]


def closeness_centrality(
    edges: DataFrame,
    landmarks: list[int] | None = None,
    max_depth: int = 10,
    exact: bool = False,
) -> DataFrame:
    """Closeness 1/Σd(v,·) — landmark-sampled by default (AlgoCloseness.java
    computes exact single-node BFS per vertex; all-pairs is infeasible at
    100 TB, so the scalable form samples 64 landmarks; graphs under 64
    vertices are still exact).  ``exact=True`` opts in to all-vertices
    landmarks.  Returns (vid, closeness)."""
    if landmarks is None:
        landmarks = default_landmarks(edges, exact=exact)
    dist = shortest_paths(edges, landmarks, max_depth=max_depth)
    agg = dist.filter(F.col("distance") > 0).groupBy("vid").agg(
        F.sum("distance").alias("total"), F.count("*").alias("n")
    )
    return agg.select(
        "vid", (F.col("n") / F.col("total")).alias("closeness")
    )


def strongly_connected_components(
    edges: DataFrame, max_outer: int | None = None, max_inner: int | None = None
) -> DataFrame:
    """SCC via the coloring algorithm (AlgoSCC.java parity — same
    components, different discovery order).

    Each outer round: propagate max-vid colors forward to fixpoint, then
    mark the backward-reachable set of each color root (within the color)
    as one SCC and peel it.  Scales as O(rounds · diameter) supersteps —
    the standard distributed SCC shape (vs Tarjan's inherently sequential
    stack walk in the reference).
    Every loop runs to its fixed point.  ``max_outer`` caps the rounds and
    ``max_inner`` the supersteps of each phase; a cap that is reached
    before the fixed point raises ``RuntimeError`` naming it (stopping
    there would return partial components, silently wrong).
    Returns (vid, component)."""

    def _cap(name: str, limit: int | None, done: int) -> None:
        if limit is not None and done >= limit:
            raise RuntimeError(
                f"strongly_connected_components: {name}={limit} reached "
                "before the fixed point; the components would be partial"
            )

    e_all = edges.select("src", "dst").distinct().cache()
    remaining = _vertices_of(edges).persist()
    n_remaining = remaining.count()
    spark = edges.sparkSession
    assigned = local_df(spark, [], "vid long, component long")
    rounds = 0
    while n_remaining:
        _cap("max_outer", max_outer, rounds)
        rounds += 1
        e = (
            e_all.join(remaining.withColumnRenamed("vid", "src"), "src", "left_semi")
            .join(remaining.withColumnRenamed("vid", "dst"), "dst", "left_semi")
            .persist()
        )
        # 1) forward max-color propagation to fixpoint; the flag
        # (nc > color) replaces a new-vs-old convergence self-join.
        color = remaining.withColumn("color", F.col("vid"))
        ss = Supersteps()
        for step in itertools.count():
            _cap("max_inner", max_inner, step)
            prop = (
                e.join(color, e["src"] == color["vid"], "inner")
                .groupBy(F.col("dst").alias("vid"))
                .agg(F.max("color").alias("nc"))
            )
            stepped = color.join(prop, "vid", "left").select(
                "vid",
                F.greatest(F.col("color"), F.coalesce(F.col("nc"), F.col("color"))).alias(
                    "color"
                ),
                (F.col("nc") > F.col("color")).alias("__chg"),
            )
            changed = ss.step(stepped, F.max("__chg"))[0]
            color = ss.carry(stepped.select("vid", "color"))
            if not changed:
                break
        # the backward phase probes `color` every level
        color = ss.finish(color)
        # 2) backward reachability from each color root, within the color
        scc = frontier = color.filter(F.col("vid") == F.col("color")).select(
            "vid", "color", F.lit(0).alias("level")
        )
        back = e.select(F.col("dst").alias("from"), F.col("src").alias("to"))
        ss = Supersteps(level="level")
        for level in itertools.count(1):
            _cap("max_inner", max_inner, level - 1)
            nxt = (
                frontier.join(back, frontier["vid"] == back["from"], "inner")
                .select(F.col("to").alias("vid"), "color")
                .distinct()
            )
            # stay within the same color and don't revisit
            nxt = nxt.join(
                color.withColumnRenamed("color", "c2"), "vid"
            ).filter(F.col("color") == F.col("c2")).select("vid", "color")
            nxt = nxt.join(scc.select("vid"), "vid", "left_anti").withColumn(
                "level", F.lit(level)
            )
            if ss.step(nxt, F.count(F.lit(1)))[0] == 0:
                break
            scc = ss.carry(scc.unionByName(nxt))
            frontier = ss.frontier
        # accumulate lazily: per-round results are truncated frames already,
        # so the union stays a cheap scan-union (the old per-round
        # truncate_plan of `assigned` rewrote the full accumulated set
        # every round)
        scc = ss.finish(scc)
        assigned = assigned.unionByName(
            scc.select("vid", F.col("color").alias("component"))
        )
        remaining_next = remaining.join(
            scc.select("vid"), "vid", "left_anti"
        ).persist()
        n_remaining = remaining_next.count()
        remaining.unpersist()
        remaining = remaining_next
        e.unpersist()
    remaining.unpersist()
    e_all.unpersist()
    return assigned


def fastrp_embeddings(
    edges: DataFrame,
    dim: int = 16,
    iterations: int = 3,
    weights: tuple[float, ...] = (0.0, 1.0, 1.0),
    seed: int = 42,
) -> DataFrame:
    """FastRP graph embeddings (AlgoFastRP.java parity in shape: sparse
    random projection init + iterative neighbor averaging, weighted sum of
    per-hop states).  Deterministic: the initial projection is derived
    from xxhash64(vid, dim_index) — no RNG state to distribute.
    Returns (vid, embedding: array<double>)."""
    verts = _vertices_of(edges)
    nbr = _with_self_rows(
        edges.select(F.col("src").alias("v"), F.col("dst").alias("n"))
        .unionByName(edges.select(F.col("dst").alias("v"), F.col("src").alias("n")))
        .distinct(),
        verts,
    ).cache()

    # sparse signed init: hash → {-1, 0, +1} with p(±1) = 1/4 each
    def _init_col(i: int):
        h = F.xxhash64(F.col("vid"), F.lit(seed + i))
        bucket = F.pmod(h, F.lit(4))
        return (
            F.when(bucket == 0, 1.0).when(bucket == 1, -1.0).otherwise(0.0)
        )

    x0 = F.array(*[_init_col(i) for i in range(dim)])
    w0 = weights[0] if weights else 0.0
    acc0 = F.transform(x0, lambda v: v * F.lit(w0)) if w0 else F.array(*[F.lit(0.0)] * dim)
    # the carried state: (vid, acc, emb)
    state = verts.select("vid", acc0.alias("acc"), x0.alias("emb"))
    nb = ~F.col("__self")
    ss = Supersteps()
    for it in range(1, iterations + 1):
        w = weights[it] if it < len(weights) else 1.0
        # neighbor mean: sum over in-neighbors / degree
        x = (
            nbr.join(state, nbr["n"] == state["vid"])
            .groupBy(F.col("v").alias("vid"))
            .agg(
                F.max(F.when(~nb, F.col("acc"))).alias("acc"),
                F.count(F.when(nb, 1)).alias("d"),
                F.array(
                    *[F.sum(F.when(nb, F.element_at("emb", i + 1))) for i in range(dim)]
                ).alias("s"),
            )
            # every vertex has a neighbour: it comes from an edge
            .withColumn("emb", F.transform("s", lambda s: s / F.col("d")))
        )
        state = ss.carry(
            x.select(
                "vid", F.zip_with("acc", "emb", lambda a, b: a + b * F.lit(w)).alias("acc"), "emb"
            )
        )
    acc = ss.finish(state)
    nbr.unpersist()
    # L2 normalize
    norm = F.sqrt(F.aggregate("acc", F.lit(0.0), lambda s, v: s + v * v))
    return acc.select(
        "vid",
        F.when(
            norm > 0, F.transform("acc", lambda v: v / norm)
        ).otherwise(F.col("acc")).alias("embedding"),
    )


def random_walks(
    edges: DataFrame,
    walk_length: int = 5,
    walks_per_vertex: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Deterministic uniform random walks (DeepWalk/Node2Vec p=q=1
    precursor; AlgoNode2Vec.java's walk phase).  Neighbor choice is
    xxhash64(current, walk_id, step) mod degree — reproducible with no
    distributed RNG state.  Returns (start, walk_id, path: array<long>).

    Scale: neighbors are indexed once per src via row_number; each step is
    one equi-join on (vid, chosen index).
    """
    adj = edges.select("src", "dst").distinct()
    w = Window.partitionBy("src").orderBy("dst")
    indexed = adj.withColumn("__i", F.row_number().over(w) - 1)
    degs = adj.groupBy("src").agg(F.count("*").alias("__deg"))
    indexed = indexed.join(degs, "src").repartition("src").cache()

    verts = _vertices_of(edges)
    walks = verts.crossJoin(
        verts.sparkSession.range(walks_per_vertex).select(
            F.col("id").alias("walk_id")
        )
    ).select(
        F.col("vid").alias("start"), "walk_id",
        F.array(F.col("vid")).alias("path"),
        F.col("vid").alias("cur"),
    )
    ss = Supersteps()
    for step in range(walk_length):
        choice = F.pmod(
            F.xxhash64(F.col("cur"), F.col("walk_id"), F.lit(step), F.lit(seed)),
            F.col("__deg"),
        )
        walks = ss.carry(
            walks.join(indexed, walks["cur"] == indexed["src"], "left")
            .filter((F.col("__i").isNull()) | (F.col("__i") == choice))
            .select(
                "start", "walk_id",
                F.when(
                    F.col("dst").isNotNull(),
                    F.concat(F.col("path"), F.array(F.col("dst"))),
                ).otherwise(F.col("path")).alias("path"),
                F.coalesce(F.col("dst"), F.col("cur")).alias("cur"),
            )
        )
    walks = ss.finish(walks)
    indexed.unpersist()
    return walks.select("start", "walk_id", "path")


def betweenness_centrality(
    edges: DataFrame,
    sources: list[int] | None = None,
    max_depth: int = 10,
) -> DataFrame:
    """Brandes betweenness, batched over sources (AlgoBetweenness.java
    parity on the sampled sources; exact when ``sources`` covers all
    vertices).

    All sources advance together: state is (source, vid, dist, sigma)
    so each BFS level is ONE join regardless of |sources| — the
    vectorized-Brandes shape that scales horizontally.  The forward pass
    carries one row per reached (source, vid) and reads it once per
    superstep through the self rows of the in-adjacency.  The backward
    dependency accumulation is a level loop over the finished state
    filtered on ``dist``: a superstep reads levels d+1 and d only.
    Returns (vid, betweenness).
    """
    e = edges.select("src", "dst").distinct().cache()
    spark = edges.sparkSession
    if sources is None:
        sources = [r[0] for r in _vertices_of(edges).limit(10).collect()]

    state = local_df(
        spark,
        [(s, s, 0, 1.0) for s in sources],
        "source long, vid long, dist int, sigma double",
    )
    # forward: a superstep sends the newest level's sigma along its
    # out-edges; a vertex keeps its (dist, sigma) once reached
    nbr = _with_self_rows(
        e.select(F.col("dst").alias("v"), F.col("src").alias("n")), _vertices_of(e)
    ).cache()
    own = F.col("__self")
    fwd = Supersteps()
    deepest = 0
    for depth in range(1, max_depth + 1):
        stepped = (
            nbr.join(state, (nbr["n"] == state["vid"]) & (own | (state["dist"] == depth - 1)))
            .groupBy("source", F.col("v").alias("vid"))
            .agg(
                F.min(F.when(own, F.col("dist")).otherwise(depth)).alias("dist"),
                F.max(F.when(own, F.col("sigma"))).alias("__own"),
                F.sum(F.when(~own, F.col("sigma"))).alias("__msg"),
            )
            .select("source", "vid", "dist", F.coalesce("__own", "__msg").alias("sigma"))
        )
        grew = fwd.step(stepped, F.count(F.when(F.col("dist") == depth, 1)))[0]
        state = fwd.carry(stepped)
        if not grew:
            break
        deepest = depth
    state = fwd.finish(state)
    nbr.unpersist()

    # backward, deepest level first: delta(v) = σ(v) · Σ_{w: succ}
    # (1 + δ(w)) / σ(w); level d+1 sends its terms to its in-neighbours
    # and level d sums them.  Level 0 (the sources) is not accumulated.
    frontier = state.filter(F.col("dist") == deepest).withColumn("delta", F.lit(0.0))
    acc = frontier
    bwd = Supersteps(level="dist")
    for d in range(deepest - 1, 0, -1):
        terms = (
            frontier.join(e, frontier["vid"] == e["dst"])
            .groupBy("source", F.col("src").alias("vid"))
            .agg(F.sum((1.0 + F.col("delta")) / F.col("sigma")).alias("__t"))
        )
        level = (
            state.filter(F.col("dist") == d)
            .join(terms, ["source", "vid"], "left")
            .select(
                "source", "vid", "dist", "sigma",
                (F.col("sigma") * F.coalesce("__t", F.lit(0.0))).alias("delta"),
            )
        )
        bwd.step(level)
        acc = bwd.carry(acc.unionByName(level))
        frontier = bwd.frontier
    acc = bwd.finish(acc)
    e.unpersist()
    bc = acc.groupBy("vid").agg(F.sum("delta").alias("betweenness"))
    return _vertices_of(edges).join(bc, "vid", "left").fillna(0.0, ["betweenness"])


def node2vec_embeddings(
    edges: DataFrame,
    dim: int = 16,
    walk_length: int = 5,
    walks_per_vertex: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Node2Vec-style embeddings (AlgoNode2Vec.java parity in shape,
    p=q=1 i.e. DeepWalk): hash-seeded uniform random walks fed to MLlib
    Word2Vec (skip-gram).  Returns (vid, embedding: array<float>).

    Scale: the walk corpus is |V|·walks_per_vertex rows built by
    ``random_walks`` (equi-joins only); Word2Vec training is MLlib's
    distributed implementation.
    """
    from pyspark.ml.feature import Word2Vec
    from pyspark.ml.functions import vector_to_array

    walks = random_walks(
        edges, walk_length=walk_length, walks_per_vertex=walks_per_vertex,
        seed=seed,
    )
    sentences = walks.select(
        F.transform("path", lambda v: v.cast("string")).alias("walk")
    )
    w2v = Word2Vec(
        vectorSize=dim, minCount=0, inputCol="walk", outputCol="__vec",
        seed=seed, maxIter=1,
    )
    model = w2v.fit(sentences)
    return model.getVectors().select(
        F.col("word").cast("long").alias("vid"),
        vector_to_array(F.col("vector")).alias("embedding"),
    )


def _local_moving(
    edges: DataFrame, max_iterations: int, gain, gate=None, quiet: int = 1
) -> DataFrame:
    """The local-moving superstep ``louvain`` and ``leiden`` share: every
    vertex may move to the neighbouring community with the best
    ``gain(m2)`` (ties → smaller community id), a column over a candidate
    row: ``nc``, ``w`` (the vertex's links into nc), ``tot`` (Σ degree of
    nc), the vertex's degree ``k``, and its own ``community``, ``w_cur``
    and ``tot_cur``; a null gain is no candidate.  A vertex moves when the
    best gain is positive, names another community and ``gate(i)`` holds;
    the loop stops after ``quiet`` supersteps in a row without a move.

    The carried state is (vid, community, k), read once per superstep:
    community totals are a window over it, and the self rows of ``nbr``
    bring a vertex's own community into the rows of its candidates.
    Every vertex of ``edges`` gets a community, one with only self-loops
    its own.  Returns (vid, community).
    """
    # pinned, so that each superstep's plan adds a scan of it, not its build
    nbr = _with_self_rows(_undirected_adj(edges), _vertices_of(edges)).truncate_plan().cache()
    comm = (
        nbr.groupBy("v")
        .agg(F.count(F.when(~F.col("__self"), 1)).alias("k"))
        .select(F.col("v").alias("vid"), F.col("v").alias("community"), "k")
    )
    m2 = float(nbr.filter(~F.col("__self")).count())  # 2m
    if m2 == 0:
        nbr.unpersist()
        return comm.select("vid", "community")
    by_c, by_v = Window.partitionBy("community"), Window.partitionBy("v")

    def own(c):
        return F.max(F.when(F.col("__own"), c)).over(by_v)

    ss = Supersteps()
    still = 0
    for i in range(1, max_iterations + 1):
        tot = comm.withColumn("tot", F.sum("k").over(by_c))
        rows = (
            nbr.join(tot, nbr["n"] == tot["vid"])
            .groupBy("v", F.col("community").alias("nc"))
            .agg(
                F.count(F.when(~F.col("__self"), 1)).alias("w"),
                F.max("tot").alias("tot"),
                F.max("__self").alias("__own"),
                F.max(F.when(F.col("__self"), F.col("k"))).alias("__k"),
            )
        )
        cand = rows.select(
            "v", "nc", "w", "tot",
            own(F.col("nc")).alias("community"),
            own(F.col("w")).alias("w_cur"),
            own(F.col("tot")).alias("tot_cur"),
            F.max("__k").over(by_v).alias("k"),
        ).withColumn("gain", gain(m2))
        # best candidate per vertex via max(struct(gain, −nc)): a hash
        # aggregate on the window's partitioning, no sort; (gain desc,
        # nc asc) by the lexicographic struct order
        best = cand.groupBy(F.col("v").alias("vid")).agg(
            F.max(F.struct("gain", (-F.col("nc")).alias("__negnc"), "nc")).alias("__m"),
            F.max("community").alias("community"),
            F.max("k").alias("k"),
        )
        move = (F.col("__m.gain") > 0) & (F.col("__m.nc") != F.col("community"))
        if gate is not None:
            move = move & gate(i)
        stepped = best.select(
            "vid",
            F.when(move, F.col("__m.nc")).otherwise(F.col("community")).alias("community"),
            "k",
            move.alias("__moved"),
        )
        moved = ss.step(stepped, F.max("__moved"))[0]
        comm = ss.carry(stepped.drop("__moved"))
        still = 0 if moved else still + 1
        if still >= quiet:
            break
    comm = ss.finish(comm)
    nbr.unpersist()
    return comm.select("vid", "community")


def louvain(edges: DataFrame, max_iterations: int = 10) -> DataFrame:
    """Parallel Louvain, phase-1 (synchronous local moving — the
    distributed Louvain variant; AlgoLouvain.java parity in objective, not
    in visit order).  Each superstep every vertex moves to the neighboring
    community with the best modularity gain (ties → smaller id);
    convergence when no vertex moves.  Returns (vid, community).

    Note: synchronous moving can oscillate on bipartite-ish structures —
    the iteration cap plus min-id tie-breaking keeps it stable in
    practice; the aggregation phase (community contraction) is round-2.
    """
    # ΔQ ∝ w/m2·2 − k·tot/(m2²)·2 up to constants; comparing candidates
    # for one v, the shared terms cancel
    return _local_moving(
        edges,
        max_iterations,
        lambda m2: F.col("w") / F.lit(m2) - F.col("k") * F.col("tot") / F.lit(m2 * m2),
    )
