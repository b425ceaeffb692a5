"""Graph algorithms as DataFrame-iterative (Pregel-style) programs.

Reference: ~70 ``CALL algo.*`` procedures under
query/opencypher/procedures/algo/Algo*.java (PageRank, WCC, centralities,
community detection, paths…).  The reference iterates over its CSR view in
one JVM; the Spark re-expression is message-passing via join + groupBy
per superstep.  graph/superstep.py owns each loop's persist / probe /
release / truncate lifecycle (lineage.py says why truncation is a parquet
round trip).  This is the GraphX/Pregel shape expressed on DataFrames,
which keeps AQE/broadcast available and scales out by partitioning on
vertex id.

All algorithms take an ``edges`` DataFrame (src:long, dst:long
[, weight:double]) and return vertex-keyed DataFrames.  Deterministic
fixed-iteration variants are used so results are reproducible for the
correctness oracle (tolerance-based stopping is available via ``tol``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from arcadedb_spark.graph.superstep import Supersteps


def _vertices_of(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
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

    Scale: one shuffle (a window over src) gives every edge its share
    w / Σw of its source's out-weight; the share frame is cached and
    filled by the first superstep, which needs no join because every rank
    starts at 1.0.  There is no separate vertex frame: a superstep groups
    its messages by vid together with a zero row per edge source, so its
    frame holds every vertex (a dangling one is some edge's dst) and its
    one action returns sum(c) and count(*).  n and the dangling mass
    (n − sum(c), spread evenly) thus come from the superstep itself, and
    nothing is counted before the loop.  The zero rows come from the
    share frame, not the previous ranks: ranks already feed the join, and
    a second reference would double the plan every superstep until the
    next truncation.  Like a repartition by src, the window puts all
    out-edges of one source in one task.
    """
    if iterations <= 0:
        return _vertices_of(edges).withColumn("rank", F.lit(1.0))
    w = (
        F.col("weight").cast("double")
        if weighted and "weight" in edges.columns
        else F.lit(1.0)
    )
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
    dist = spark.createDataFrame(
        [(v, v, 0) for v in landmarks], "vid long, landmark long, distance int"
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
    dist = spark.createDataFrame([(source, 0.0)], "vid long, distance double")
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
    und = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
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
    edges: DataFrame, max_outer: int = 10, max_inner: int = 30
) -> DataFrame:
    """SCC via the coloring algorithm (AlgoSCC.java parity — same
    components, different discovery order).

    Each outer round: propagate max-vid colors forward to fixpoint, then
    mark the backward-reachable set of each color root (within the color)
    as one SCC and peel it.  Scales as O(rounds · diameter) supersteps —
    the standard distributed SCC shape (vs Tarjan's inherently sequential
    stack walk in the reference).
    Returns (vid, component)."""
    e_all = edges.select("src", "dst").distinct().cache()
    remaining = _vertices_of(edges).persist()
    n_remaining = remaining.count()
    spark = edges.sparkSession
    assigned = spark.createDataFrame([], "vid long, component long")
    for _ in range(max_outer):
        if n_remaining == 0:
            break
        e = (
            e_all.join(remaining.withColumnRenamed("vid", "src"), "src", "left_semi")
            .join(remaining.withColumnRenamed("vid", "dst"), "dst", "left_semi")
            .persist()
        )
        # 1) forward max-color propagation to fixpoint; the flag
        # (nc > color) replaces a new-vs-old convergence self-join.
        color = remaining.withColumn("color", F.col("vid"))
        ss = Supersteps()
        for _ in range(max_inner):
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
        for level in range(1, max_inner + 1):
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
    verts = _vertices_of(edges).cache()
    und = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().repartition("src").cache()
    deg = und.groupBy("src").agg(F.count("*").alias("__d"))

    # sparse signed init: hash → {-1, 0, +1} with p(±1) = 1/4 each
    def _init_col(i: int):
        h = F.xxhash64(F.col("vid"), F.lit(seed + i))
        bucket = F.pmod(h, F.lit(4))
        return (
            F.when(bucket == 0, 1.0).when(bucket == 1, -1.0).otherwise(0.0)
        )

    x = verts.select(
        "vid", F.array(*[_init_col(i) for i in range(dim)]).alias("emb")
    )
    acc = x.select(
        "vid",
        F.transform("emb", lambda v: v * F.lit(weights[0])).alias("acc"),
    ) if weights and weights[0] else verts.select(
        "vid", F.array(*[F.lit(0.0)] * dim).alias("acc")
    )
    for it in range(1, iterations + 1):
        # neighbor mean: sum over in-neighbors / degree
        msgs = (
            und.join(x, und["dst"] == x["vid"], "inner")
            .groupBy(F.col("src").alias("vid"))
            .agg(
                F.array(
                    *[
                        F.sum(F.element_at("emb", i + 1)).alias(f"s{i}")
                        for i in range(dim)
                    ]
                ).alias("sums")
            )
        )
        x = (
            verts.join(msgs, "vid", "left")
            .join(deg.withColumnRenamed("src", "vid"), "vid", "left")
            .select(
                "vid",
                F.coalesce(
                    F.transform("sums", lambda s: s / F.col("__d")),
                    F.array(*[F.lit(0.0)] * dim),
                ).alias("emb"),
            )
        )
        w = weights[it] if it < len(weights) else 1.0
        acc = (
            acc.join(x, "vid")
            .select(
                "vid",
                F.zip_with("acc", "emb", lambda a, b: a + b * F.lit(w)).alias("acc"),
                F.col("emb"),
            )
            .select("vid", "acc", "emb")
        )
        x = acc.select("vid", "emb")
        acc = acc.select("vid", "acc")
        if it % 2 == 0:
            acc = acc.truncate_plan()
            x = x.truncate_plan()
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
    for step in range(walk_length):
        choice = F.pmod(
            F.xxhash64(F.col("cur"), F.col("walk_id"), F.lit(step), F.lit(seed)),
            F.col("__deg"),
        )
        walks = (
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
        if (step + 1) % 3 == 0:
            walks = walks.truncate_plan()
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
    vectorized-Brandes shape that scales horizontally.  The backward
    dependency accumulation walks the recorded levels in reverse.
    Returns (vid, betweenness).
    """
    e = edges.select("src", "dst").distinct().cache()
    spark = edges.sparkSession
    if sources is None:
        sources = [r[0] for r in _vertices_of(edges).limit(10).collect()]

    state = spark.createDataFrame(
        [(s, s, 0, 1.0) for s in sources],
        "source long, vid long, dist int, sigma double",
    )
    levels = [state]
    frontier = state
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(e, frontier["vid"] == e["src"], "inner")
            .groupBy("source", F.col("dst").alias("vid"))
            .agg(F.sum("sigma").alias("sigma"))
            .withColumn("dist", F.lit(depth))
        )
        seen = state.select(
            F.col("source").alias("__s"), F.col("vid").alias("__v")
        )
        nxt = nxt.join(
            seen,
            (nxt["source"] == seen["__s"]) & (nxt["vid"] == seen["__v"]),
            "left_anti",
        ).select("source", "vid", "dist", "sigma")
        nxt = nxt.truncate_plan()
        if nxt.limit(1).count() == 0:
            break
        levels.append(nxt)
        state = state.unionByName(nxt).truncate_plan()
        frontier = nxt

    # backward accumulation: delta(v) = Σ_{w: succ} σ(v)/σ(w) · (1 + δ(w))
    delta = levels[-1].select("source", "vid", F.lit(0.0).alias("delta"))
    acc = None
    for d in range(len(levels) - 2, -1, -1):
        cur = levels[d].select("source", "vid", "sigma")
        succ = levels[d + 1].select(
            F.col("source").alias("source"),
            F.col("vid").alias("__w"),
            F.col("sigma").alias("__sw"),
        ).join(
            delta.select(
                F.col("source").alias("source"),
                F.col("vid").alias("__w"),
                F.col("delta").alias("__dw"),
            ),
            ["source", "__w"],
        )
        contrib = (
            cur.join(e, cur["vid"] == e["src"], "inner")
            .join(
                succ,
                (F.col("dst") == succ["__w"]) & (cur["source"] == succ["source"]),
            )
            .groupBy(cur["source"], "vid")
            .agg(
                F.sum(
                    (F.col("sigma") / F.col("__sw")) * (1.0 + F.col("__dw"))
                ).alias("delta")
            )
        )
        delta = cur.select("source", "vid").join(
            contrib, ["source", "vid"], "left"
        ).fillna(0.0, ["delta"]).truncate_plan()
        part = delta.filter(F.col("vid") != F.col("source"))
        acc = part if acc is None else acc.unionByName(part)
    if acc is None:
        return _vertices_of(edges).withColumn("betweenness", F.lit(0.0))
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


def modularity(edges: DataFrame, communities: DataFrame) -> float:
    """Newman modularity Q of an undirected view of ``edges`` under the
    (vid, community) assignment — Σ_c [ in_c/(2m) − (tot_c/(2m))² ].
    (AlgoModularity.java analog; evaluation metric for Louvain/LP.)"""
    und = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    m = und.count()
    if m == 0:
        return 0.0
    ca = communities.select(F.col("vid").alias("a"), F.col("community").alias("__ca"))
    cb = communities.select(F.col("vid").alias("b"), F.col("community").alias("__cb"))
    tagged = und.join(ca, "a").join(cb, "b")
    in_c = (
        tagged.filter(F.col("__ca") == F.col("__cb"))
        .groupBy(F.col("__ca").alias("c"))
        .agg(F.count("*").alias("in_edges"))
    )
    deg = (
        und.select(F.col("a").alias("vid"))
        .unionByName(und.select(F.col("b").alias("vid")))
        .groupBy("vid")
        .agg(F.count("*").alias("d"))
    )
    tot = (
        communities.join(deg, "vid", "left")
        .fillna(0, ["d"])
        .groupBy(F.col("community").alias("c"))
        .agg(F.sum("d").alias("tot"))
    )
    parts = tot.join(in_c, "c", "left").fillna(0, ["in_edges"])
    row = parts.agg(
        F.sum(
            F.col("in_edges") / F.lit(float(m))
            - (F.col("tot") / F.lit(2.0 * m)) * (F.col("tot") / F.lit(2.0 * m))
        ).alias("q")
    ).collect()[0]
    return float(row["q"])


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
    und = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .cache()
    )
    adj = (
        und.select(F.col("a").alias("v"), F.col("b").alias("n"))
        .unionByName(und.select(F.col("b").alias("v"), F.col("a").alias("n")))
        .repartition("v")
        .cache()
    )
    m2 = 2.0 * und.count()  # 2m
    deg = adj.groupBy("v").agg(F.count("*").alias("k")).cache()
    comm = deg.select(F.col("v").alias("vid"), F.col("v").alias("community"))
    for i in range(1, max_iterations + 1):
        cmap = comm.select(F.col("vid").alias("n"), F.col("community").alias("nc"))
        ctot = (
            comm.join(deg.withColumnRenamed("v", "vid"), "vid")
            .groupBy("community")
            .agg(F.sum("k").alias("tot"))
        )
        # links from v to each neighboring community
        v2c = (
            adj.join(cmap, "n")
            .groupBy("v", "nc")
            .agg(F.count("*").alias("w"))
        )
        cand = (
            v2c.join(deg, "v")
            .join(ctot.withColumnRenamed("community", "nc"), "nc")
            .withColumn(
                # ΔQ ∝ w/m2·2 − k·tot/(m2²)·2 up to constants; comparing
                # candidates for one v, the shared terms cancel
                "gain",
                F.col("w") / F.lit(m2) - F.col("k") * F.col("tot") / F.lit(m2 * m2),
            )
        )
        # best candidate per vertex via max(struct(gain, −nc)) — a hash
        # aggregate with map-side partial aggregation instead of the
        # row_number() window's extra shuffle + sort; (gain desc, nc asc)
        # tie-breaking is preserved by the lexicographic struct order
        best = (
            cand.groupBy("v")
            .agg(
                F.max(
                    F.struct(
                        F.col("gain"), (-F.col("nc")).alias("__negnc"), F.col("nc")
                    )
                ).alias("__m")
            )
            .select(
                F.col("v").alias("vid"),
                F.col("__m.nc").alias("new_c"),
                F.col("__m.gain").alias("gain"),
            )
        )
        # Hard-truncate EVERY superstep: ``comm`` feeds this plan 3-4 times
        # (cmap, ctot, the final join), so a lazy chain grows the Catalyst
        # tree ~4^k per superstep — 5 deferred supersteps OOM the driver
        # (measured).  The carried moved-flag still removes the old
        # convergence self-join: `moved` is one aggregate over the freshly
        # truncated frame instead of a second join of two parquet scans.
        stepped = (
            comm.join(best, "vid", "left")
            .select(
                "vid",
                F.when(
                    F.col("gain") > 0, F.col("new_c")
                ).otherwise(F.col("community")).alias("community"),
                (
                    (F.col("gain") > 0) & (F.col("new_c") != F.col("community"))
                ).alias("__chg"),
            )
            .truncate_plan()
        )
        moved = stepped.agg(F.max("__chg")).collect()[0][0]
        comm = stepped.select("vid", "community")
        if not moved:
            break
    adj.unpersist()
    deg.unpersist()
    und.unpersist()
    return comm
