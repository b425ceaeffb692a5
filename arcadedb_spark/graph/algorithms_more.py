"""Long-tail ``algo.*`` procedures as DataFrame programs.

Continues graph/algorithms.py with the remaining Spark-expressible
procedures from query/opencypher/procedures/algo/Algo*.java (70 files).
Same execution discipline: message passing = join + groupBy per
superstep, loop lifecycle in graph/superstep.py, everything keyed by
vertex id so it partitions at cluster scale.

Inherently sequential references (Tarjan bridges/articulation points,
exact Steiner tree, hierarchical clustering dendrograms) are out of
scope and documented as such in COVERAGE.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from arcadedb_spark.graph.algorithms import (
    _undirected_adj,
    _vertices_of,
    connected_components,
    default_landmarks,
    shortest_paths,
    triangle_count,
)
from arcadedb_spark.graph.superstep import Supersteps
from arcadedb_spark.session import local_df


# ---------------------------------------------------------------------------
# Distance-based centralities
# ---------------------------------------------------------------------------


def harmonic_centrality(
    edges: DataFrame,
    landmarks: list[int] | None = None,
    max_depth: int = 10,
    normalized: bool = True,
    exact: bool = False,
) -> DataFrame:
    """Σ 1/d(v,·) (AlgoHarmonicCentrality.java:112-118; normalized by
    n−1 like the reference default).  Landmark-sampled by default
    (64 landmarks — exact for graphs under 64 vertices); ``exact=True``
    opts in to all-vertices landmarks.  Returns (vid, harmonic)."""
    verts = _vertices_of(edges).cache()
    if landmarks is None:
        landmarks = default_landmarks(edges, exact=exact)
    n = len(landmarks)
    dist = shortest_paths(edges, landmarks, max_depth=max_depth)
    agg = (
        dist.filter(F.col("distance") > 0)
        .groupBy("vid")
        .agg(F.sum(1.0 / F.col("distance")).alias("h"))
    )
    denom = float(n - 1) if normalized and n > 1 else 1.0
    return verts.join(agg, "vid", "left").select(
        "vid", (F.coalesce(F.col("h"), F.lit(0.0)) / F.lit(denom)).alias("harmonic")
    )


def eccentricity(
    edges: DataFrame,
    landmarks: list[int] | None = None,
    max_depth: int = 20,
    exact: bool = False,
) -> DataFrame:
    """Max shortest-path distance per vertex (AlgoEccentricity.java).
    Landmark-sampled by default (lower bound on true eccentricity;
    exact for graphs under 64 vertices); ``exact=True`` opts in to
    all-vertices landmarks.  Returns (vid, eccentricity)."""
    if landmarks is None:
        landmarks = default_landmarks(edges, exact=exact)
    dist = shortest_paths(edges, landmarks, max_depth=max_depth)
    return dist.groupBy("vid").agg(F.max("distance").alias("eccentricity"))


def apsp(
    edges: DataFrame, max_depth: int = 20, max_vertices: int = 8192
) -> DataFrame:
    """All-pairs shortest (hop) paths (AlgoAPSP.java).  O(V) concurrent
    BFS frontiers — one join per level regardless of |V|, but the output
    is a (vid × vertex) table: inherently quadratic.  Guarded: refuses
    graphs above ``max_vertices`` (raise the cap explicitly to opt in —
    never silently collects an unbounded vertex list).
    Returns (vid, landmark, distance)."""
    verts = _vertices_of(edges)
    head = [r[0] for r in verts.limit(max_vertices + 1).collect()]
    if len(head) > max_vertices:
        raise ValueError(
            f"apsp: graph exceeds max_vertices={max_vertices}; the all-pairs "
            "distance table is quadratic — raise max_vertices explicitly or "
            "use shortest_paths with sampled landmarks"
        )
    return shortest_paths(edges, head, max_depth=max_depth)


# ---------------------------------------------------------------------------
# DAG algorithms
# ---------------------------------------------------------------------------


def topological_layers(edges: DataFrame, max_iterations: int = 100) -> DataFrame:
    """Kahn peeling: layer i = vertices whose in-degree reaches zero at
    round i (AlgoTopologicalSort.java — the reference emits one order;
    layers are its parallel refinement: any layer-respecting order is
    valid).  Vertices on cycles never peel and are absent from the
    result.  Returns (vid, layer)."""
    e = edges.select("src", "dst").distinct().cache()
    # one carried frame: (vid, layer), layer null until the vertex peels
    state = _vertices_of(edges).withColumn("layer", F.lit(None).cast("int"))
    ss = Supersteps()
    for layer in range(max_iterations):
        # vertices still holding an in-edge from an unpeeled source
        blocked = (
            e.join(
                state.filter(F.col("layer").isNull()).select(F.col("vid").alias("src")),
                "src",
                "left_semi",
            )
            .select(F.col("dst").alias("vid"))
            .distinct()
            .withColumn("__in", F.lit(True))
        )
        stepped = state.join(blocked, "vid", "left").select(
            "vid",
            F.when(F.col("layer").isNull() & F.col("__in").isNull(), F.lit(layer))
            .otherwise(F.col("layer"))
            .alias("layer"),
        )
        peeled = ss.step(stepped, F.count(F.when(F.col("layer") == layer, 1)))[0]
        state = ss.carry(stepped)
        if peeled == 0:
            break
    state = ss.finish(state)
    e.unpersist()
    return state.filter(F.col("layer").isNotNull())


def topological_sort(edges: DataFrame, max_iterations: int = 100) -> DataFrame:
    """Total order = (layer, vid) rank over ``topological_layers``.
    Returns (vid, position) for acyclic vertices.

    Scale: rank WITHIN each layer (distributed window keyed by layer) plus
    a broadcast per-layer offset — layer counts are one row per layer, so
    no global single-partition sort (an unpartitioned Window funnels every
    vertex through one task)."""
    layers = topological_layers(edges, max_iterations).cache()
    counts = layers.groupBy("layer").agg(F.count("*").alias("__n"))
    # cumulative offsets over the tiny per-layer frame (rows = #layers).
    # Constant-valued non-foldable partition key keeps the intended
    # single-partition execution out of the WindowExec warning log.
    # bounded-window ok: one row per topological layer
    w_off = Window.partitionBy(F.col("layer") * F.lit(0)).orderBy(
        "layer"
    ).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "layer",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off"),
    )
    w_in = Window.partitionBy("layer").orderBy(F.asc("vid"))
    return (
        layers.withColumn("__r", F.row_number().over(w_in))
        .join(F.broadcast(offsets), "layer")
        .select(
            "vid", (F.col("__off") + F.col("__r")).cast("int").alias("position")
        )
    )


def cycle_detection(edges: DataFrame, max_iterations: int = 100) -> DataFrame:
    """Vertices on directed cycles (AlgoCycleDetection.java): survivors
    of BOTH forward (in-degree) and backward (out-degree) Kahn peeling —
    forward-only would also flag cycle-downstream vertices.
    Returns (vid,)."""
    fwd = topological_layers(edges, max_iterations).select("vid")
    rev_edges = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    bwd = topological_layers(rev_edges, max_iterations).select("vid")
    verts = _vertices_of(edges)
    return (
        verts.join(fwd, "vid", "left_anti").join(bwd, "vid", "left_anti")
    )


def longest_path_dag(edges: DataFrame, max_iterations: int = 100) -> DataFrame:
    """Longest-path length ending at each vertex of a DAG
    (AlgoLongestPathDAG.java) by iterative max-relaxation — O(longest
    path) supersteps.  Returns (vid, length)."""
    verts = _vertices_of(edges)
    e = edges.select("src", "dst").distinct().cache()
    dist = verts.withColumn("length", F.lit(0))
    ss = Supersteps()
    for _ in range(max_iterations):
        relaxed = (
            e.join(dist, e["src"] == dist["vid"], "inner")
            .groupBy(F.col("dst").alias("vid"))
            .agg((F.max("length") + 1).alias("nl"))
        )
        stepped = dist.join(relaxed, "vid", "left").select(
            "vid",
            F.greatest(F.col("length"), F.coalesce(F.col("nl"), F.col("length"))).alias(
                "length"
            ),
            (F.col("nl") > F.col("length")).alias("__chg"),
        )
        changed = ss.step(stepped, F.max("__chg"))[0]
        dist = ss.carry(stepped.select("vid", "length"))
        if not changed:
            break
    dist = ss.finish(dist)
    e.unpersist()
    return dist


# ---------------------------------------------------------------------------
# Structure metrics
# ---------------------------------------------------------------------------


def local_clustering_coefficient(edges: DataFrame) -> DataFrame:
    """2·tri(v) / (deg(v)·(deg(v)−1))
    (AlgoLocalClusteringCoefficient.java).  Returns (vid, lcc)."""
    tri = triangle_count(edges)
    adj = _undirected_adj(edges)
    deg = adj.groupBy("v").agg(F.count("*").alias("d"))
    return (
        tri.join(deg.withColumnRenamed("v", "vid"), "vid", "left")
        .fillna(0, ["d"])
        .select(
            "vid",
            F.when(
                F.col("d") >= 2,
                2.0 * F.col("triangles") / (F.col("d") * (F.col("d") - 1)),
            )
            .otherwise(0.0)
            .alias("lcc"),
        )
    )


def graph_summary(edges: DataFrame) -> DataFrame:
    """One-row structural summary (AlgoGraphSummary.java): vertex/edge
    counts, density, degree min/avg/max."""
    und = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .cache()
    )
    deg = (
        und.select(F.col("a").alias("vid"))
        .unionByName(und.select(F.col("b").alias("vid")))
        .groupBy("vid")
        .agg(F.count("*").alias("d"))
    )
    return deg.agg(
        F.count("*").alias("n_vertices"),
        (F.sum("d") / 2).cast("long").alias("n_edges"),
        (F.sum("d") / (F.count("*") * (F.count("*") - 1))).alias("density"),
        F.min("d").alias("min_degree"),
        F.avg("d").alias("avg_degree"),
        F.max("d").alias("max_degree"),
    )


def assortativity(edges: DataFrame) -> float:
    """Degree-assortativity coefficient = Pearson correlation of endpoint
    degrees over the undirected edge list (AlgoAssortativity.java)."""
    adj = _undirected_adj(edges)
    deg = adj.groupBy("v").agg(F.count("*").alias("d"))
    both = (
        adj.join(deg.withColumnRenamed("v", "v").withColumnRenamed("d", "dv"), "v")
        .join(
            deg.withColumnRenamed("v", "n").withColumnRenamed("d", "dn"), "n"
        )
    )
    row = both.agg(F.corr("dv", "dn").alias("r")).collect()[0]
    return float(row["r"]) if row["r"] is not None else 0.0


def rich_club_coefficient(edges: DataFrame, k: int) -> float:
    """φ(k) = 2·E_k / (N_k·(N_k−1)) over vertices with degree > k
    (AlgoRichClub.java)."""
    und = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .cache()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    rich = deg.filter(F.col("d") > k).select("v").cache()
    nk = rich.count()
    if nk < 2:
        return 0.0
    ek = (
        und.join(rich.withColumnRenamed("v", "a"), "a", "left_semi")
        .join(rich.withColumnRenamed("v", "b"), "b", "left_semi")
        .count()
    )
    return 2.0 * ek / (nk * (nk - 1))


def conductance(edges: DataFrame, communities: DataFrame) -> DataFrame:
    """Per-community conductance = cut / min(vol, 2m − vol)
    (AlgoConductance.java).  ``communities`` = (vid, community)."""
    und = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .cache()
    )
    m = und.count()
    ca = communities.select(F.col("vid").alias("a"), F.col("community").alias("__ca"))
    cb = communities.select(F.col("vid").alias("b"), F.col("community").alias("__cb"))
    tagged = und.join(ca, "a").join(cb, "b").cache()
    cut = (
        tagged.filter(F.col("__ca") != F.col("__cb"))
        .select(F.explode(F.array("__ca", "__cb")).alias("c"))
        .groupBy("c")
        .agg(F.count("*").alias("cut"))
    )
    deg = (
        und.select(F.col("a").alias("vid"))
        .unionByName(und.select(F.col("b").alias("vid")))
        .groupBy("vid")
        .agg(F.count("*").alias("d"))
    )
    vol = (
        communities.join(deg, "vid", "left")
        .fillna(0, ["d"])
        .groupBy(F.col("community").alias("c"))
        .agg(F.sum("d").alias("vol"))
    )
    return (
        vol.join(cut, "c", "left")
        .fillna(0, ["cut"])
        .select(
            F.col("c").alias("community"),
            F.when(
                F.least(F.col("vol"), F.lit(2 * m) - F.col("vol")) > 0,
                F.col("cut")
                / F.least(F.col("vol"), F.lit(2 * m) - F.col("vol")),
            )
            .otherwise(0.0)
            .alias("conductance"),
        )
    )


def bipartite_check(edges: DataFrame, max_depth: int = 20) -> bool:
    """2-colorability: BFS-parity color from each component's min-vid
    root, then look for a same-color edge (AlgoBipartiteCheck.java).

    Roots stay distributed (vid == component id from
    ``connected_components``) — no driver-side component list, so it
    scales to graphs with arbitrarily many components."""
    adj = _undirected_adj(edges).cache()
    comp = connected_components(edges)
    seen = frontier = comp.filter(F.col("vid") == F.col("component")).select(
        "vid", F.lit(0).alias("depth")
    )
    ss = Supersteps(level="depth")
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(adj, frontier["vid"] == adj["v"], "inner")
            .select(F.col("n").alias("vid"), F.lit(depth).alias("depth"))
            .distinct()
            .join(seen, "vid", "left_anti")
        )
        if ss.step(nxt, F.count(F.lit(1)))[0] == 0:
            break
        seen = ss.carry(seen.unionByName(nxt))
        frontier = ss.frontier
    color = ss.finish(seen).select("vid", (F.col("depth") % 2).alias("color"))
    adj.unpersist()
    e = edges.select("src", "dst")
    bad = (
        e.join(color.withColumnRenamed("vid", "src").withColumnRenamed("color", "cs"), "src")
        .join(color.withColumnRenamed("vid", "dst").withColumnRenamed("color", "cd"), "dst")
        .filter(F.col("cs") == F.col("cd"))
        .limit(1)
        .count()
    )
    return bad == 0


# ---------------------------------------------------------------------------
# Link prediction (remaining indices)
# ---------------------------------------------------------------------------


def _pair_base(edges: DataFrame):
    adj = _undirected_adj(edges)
    deg = adj.groupBy("v").agg(F.count("*").alias("d"))
    from arcadedb_spark.graph.algorithms import common_neighbors

    cn = common_neighbors(edges)
    return adj, deg, cn


def preferential_attachment(edges: DataFrame) -> DataFrame:
    """deg(a)·deg(b) for candidate pairs with ≥1 common neighbor
    (AlgoPreferentialAttachment.java).  Returns (a, b, score)."""
    _, deg, cn = _pair_base(edges)
    return (
        cn.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
        .select("a", "b", (F.col("da") * F.col("db")).cast("long").alias("score"))
    )


def total_neighbors(edges: DataFrame) -> DataFrame:
    """|N(a) ∪ N(b)| = deg(a)+deg(b)−common (AlgoTotalNeighbors.java).
    Returns (a, b, total)."""
    _, deg, cn = _pair_base(edges)
    return (
        cn.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
        .select(
            "a", "b",
            (F.col("da") + F.col("db") - F.col("n_common")).cast("long").alias("total"),
        )
    )


def resource_allocation(edges: DataFrame) -> DataFrame:
    """Σ 1/deg(z) over shared neighbors z (AlgoResourceAllocation.java —
    Adamic-Adar with 1/d instead of 1/ln d).  Returns (a, b, score)."""
    adj = _undirected_adj(edges)
    deg = adj.groupBy("v").agg(F.count("*").alias("d"))
    weighted = adj.join(
        deg.select(F.col("v").alias("n"), F.col("d").alias("dn")), "n"
    )
    l, r = weighted.alias("l"), weighted.alias("r")
    return (
        l.join(r, (F.col("l.n") == F.col("r.n")) & (F.col("l.v") < F.col("r.v")))
        .groupBy(F.col("l.v").alias("a"), F.col("r.v").alias("b"))
        .agg(F.sum(1.0 / F.col("l.dn")).alias("score"))
    )


# ---------------------------------------------------------------------------
# Rank variants
# ---------------------------------------------------------------------------


def personalized_pagerank(
    edges: DataFrame,
    sources: list[int],
    iterations: int = 20,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank with teleport restricted to ``sources``
    (AlgoPersonalizedPageRank.java).  Returns (vid, rank); Σ rank = 1."""
    spark = edges.sparkSession
    verts = _vertices_of(edges).cache()
    outd = edges.groupBy("src").agg(F.count("*").alias("__outd"))
    e = edges.join(outd, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("__outd")).alias("__share")
    ).cache()
    src_df = local_df(spark, [(s,) for s in sources], "vid long")
    teleport = verts.join(src_df, "vid", "left_semi").withColumn(
        "t", F.lit(1.0 / len(sources))
    )
    ranks = teleport.select("vid", F.col("t").alias("rank"))
    ranks = verts.join(ranks, "vid", "left").fillna(0.0, ["rank"])
    ss = Supersteps()
    for _ in range(iterations):
        contribs = (
            e.join(ranks, e["src"] == ranks["vid"], "inner")
            .select(F.col("dst").alias("vid"), (F.col("rank") * F.col("__share")).alias("c"))
            .groupBy("vid")
            .agg(F.sum("c").alias("c"))
        )
        flowed = ss.step(contribs, F.sum("c"))[0] or 0.0
        dangling = 1.0 - flowed  # total rank mass is 1
        ranks = ss.carry(
            verts.join(contribs, "vid", "left")
            .join(teleport.select("vid", "t"), "vid", "left")
            .select(
                "vid",
                (
                    F.lit(1.0 - damping) * F.coalesce(F.col("t"), F.lit(0.0))
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("c"), F.lit(0.0))
                        + F.lit(dangling) * F.coalesce(F.col("t"), F.lit(0.0))
                    )
                ).alias("rank"),
            )
        )
    ranks = ss.finish(ranks)
    e.unpersist()
    verts.unpersist()
    return ranks


def article_rank(
    edges: DataFrame, iterations: int = 20, damping: float = 0.85
) -> DataFrame:
    """ArticleRank: PageRank with contributions damped by
    (outdeg + avg outdeg) (AlgoArticleRank.java:169-187).
    Returns (vid, rank)."""
    # one shuffle tags every vertex with its out-degree: each edge counts
    # 1 for its src and 0 for its dst, so a dangling vertex has 0.  The
    # tag is static, so each superstep's dangling mass is one aggregate
    # over the new rank frame, and |E| is the sum of the out-degrees.
    out = F.explode(
        F.array(
            F.struct(F.col("src").alias("vid"), F.lit(1).alias("d")),
            F.struct(F.col("dst").alias("vid"), F.lit(0).alias("d")),
        )
    ).alias("o")
    verts = (
        edges.select(out)
        .groupBy(F.col("o.vid").alias("vid"))
        .agg(F.sum("o.d").alias("__outd"))
        .cache()
    )
    dang = F.col("__outd") == 0
    n, n_dang, m = verts.agg(
        F.count(F.lit(1)), F.count(F.when(dang, 1)), F.sum("__outd")
    ).collect()[0]
    avg_out = m / n if n else 1.0
    e = edges.join(verts, edges["src"] == verts["vid"]).select(
        "src", "dst",
        (F.lit(1.0) / (F.col("__outd") + F.lit(avg_out))).alias("__share"),
    ).cache()
    ranks = verts.withColumn("rank", F.lit(1.0 / n))
    dangling = n_dang / n  # rank mass on dangling vertices
    ss = Supersteps()
    for _ in range(iterations):
        contribs = (
            e.join(ranks, e["src"] == ranks["vid"], "inner")
            .select(F.col("dst").alias("vid"), (F.col("rank") * F.col("__share")).alias("c"))
            .groupBy("vid")
            .agg(F.sum("c").alias("c"))
        )
        stepped = verts.join(contribs, "vid", "left").select(
            "vid",
            "__outd",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping)
                * (F.coalesce(F.col("c"), F.lit(0.0)) + F.lit(dangling / n))
            ).alias("rank"),
        )
        dangling = ss.step(stepped, F.sum(F.when(dang, F.col("rank"))))[0] or 0.0
        ranks = ss.carry(stepped)
    ranks = ss.finish(ranks).select("vid", "rank")
    e.unpersist()
    verts.unpersist()
    return ranks


def hits(edges: DataFrame, iterations: int = 20) -> DataFrame:
    """HITS hub/authority power iteration, max-normalized per step
    (AlgoHITS.java).  Returns (vid, hub, authority)."""
    verts = _vertices_of(edges).cache()
    e = edges.select("src", "dst").distinct().cache()
    out = verts.select("vid", F.lit(1.0).alias("hub"), F.lit(1.0).alias("authority"))
    ss = Supersteps()
    for _ in range(iterations):
        # authority(v) = Σ hub(u) over u→v, then hub(v) = Σ authority(w)
        # over v→w, in one superstep: max-normalizing authority before the
        # hub sums would only rescale them, and hub is max-normalized anyway
        auth = (
            e.join(out, e["src"] == out["vid"], "inner")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.sum("hub").alias("authority"))
        )
        auth = verts.join(auth, "vid", "left").fillna(0.0, ["authority"])
        hub = (
            e.join(auth, e["dst"] == auth["vid"], "inner")
            .groupBy(F.col("src").alias("vid"))
            .agg(F.sum("authority").alias("hub"))
        )
        stepped = auth.join(hub, "vid", "left").fillna(0.0, ["hub"])
        amax, hmax = ss.step(stepped, F.max("authority"), F.max("hub"))
        out = ss.carry(
            stepped.select(
                "vid",
                (F.col("hub") / F.lit(hmax or 1.0)).alias("hub"),
                (F.col("authority") / F.lit(amax or 1.0)).alias("authority"),
            )
        )
    out = ss.finish(out)
    e.unpersist()
    verts.unpersist()
    return out


# ---------------------------------------------------------------------------
# Subgraph algorithms
# ---------------------------------------------------------------------------


def k_truss(edges: DataFrame, k: int, max_iterations: int = 30) -> DataFrame:
    """Edges of the k-truss: iteratively drop edges supported by fewer
    than k−2 triangles (AlgoKTruss.java computes the full decomposition;
    this is the membership query for one k — run over k=3..k_max for the
    decomposition).  Returns undirected surviving edges (a, b)."""
    und = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .cache()
    )
    cur = und
    n_cur = und.count()
    ss = Supersteps()
    for _ in range(max_iterations):
        # support(a,b) = |N(a) ∩ N(b)| within the current edges; neighbor
        # sets are one degree-bounded groupBy, so `cur` appears three times
        # in the superstep plan instead of six (the plan nests per step)
        nbrs = (
            cur.select(F.explode(F.array(F.array("a", "b"), F.array("b", "a"))).alias("p"))
            .groupBy(F.col("p")[0].alias("v"))
            .agg(F.collect_set(F.col("p")[1]).alias("nb"))
        )
        nxt = (
            cur.join(nbrs.select(F.col("v").alias("a"), F.col("nb").alias("na")), "a")
            .join(nbrs.select(F.col("v").alias("b"), F.col("nb").alias("nbb")), "b")
            .filter(F.size(F.array_intersect("na", "nbb")) >= k - 2)
            .select("a", "b")
        )
        n_next = ss.step(nxt, F.count(F.lit(1)))[0]
        cur = ss.carry(nxt)
        if n_next == n_cur:
            break
        n_cur = n_next
    cur = ss.finish(cur)
    und.unpersist()
    return cur


def mst(edges: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Minimum spanning forest via Borůvka rounds (AlgoMST.java parity in
    total weight; edge choice ties break by (weight, a, b)).  Each round
    every component picks its lightest outgoing edge, then components
    merge by hash-min propagation.  Returns chosen edges
    (a, b, weight)."""
    w = F.coalesce(F.col("weight"), F.lit(1.0)) if "weight" in edges.columns else F.lit(1.0)
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            w.alias("weight"),
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.min("weight").alias("weight"))
        .cache()
    )
    # vertices read off the cached edge frame, not the (maybe costly) input
    comp = (
        und.select(F.col("a").alias("vid"))
        .unionByName(und.select(F.col("b").alias("vid")))
        .distinct()
        .withColumn("component", F.col("vid"))
    )
    spark = edges.sparkSession
    chosen = local_df(spark, [], "a long, b long, weight double")
    ss = Supersteps()
    for _ in range(max_iterations):
        ca = comp.select(F.col("vid").alias("a"), F.col("component").alias("__ca"))
        cb = comp.select(F.col("vid").alias("b"), F.col("component").alias("__cb"))
        cross = und.join(ca, "a").join(cb, "b").filter(F.col("__ca") != F.col("__cb"))
        if ss.step(cross, F.count(F.lit(1)))[0] == 0:
            break
        # lightest outgoing edge per component (either endpoint side)
        per_comp = cross.select(
            F.explode(F.array("__ca", "__cb")).alias("c"), "a", "b", "weight"
        )
        wmin = Window.partitionBy("c").orderBy(
            F.asc("weight"), F.asc("a"), F.asc("b")
        )
        picks = (
            per_comp.withColumn("__rn", F.row_number().over(wmin))
            .filter(F.col("__rn") == 1)
            .select("a", "b")
            .distinct()
        )
        # the round's output, one row per merging component: pinned, since
        # `chosen` keeps it after the cross-edge frame is released
        picked = cross.join(picks, ["a", "b"], "left_semi").truncate_plan()
        # a picked edge joins two components, so no edge is picked twice
        chosen = chosen.unionByName(picked.select("a", "b", "weight"))
        # merge the components the picks connect: min-id WCC over the
        # component graph (a truncated frame, so comp grows one join a round)
        merged = connected_components(
            picked.select(F.col("__ca").alias("src"), F.col("__cb").alias("dst"))
        )
        comp = ss.carry(
            comp.join(
                merged.select(F.col("vid").alias("component"), F.col("component").alias("__m")),
                "component",
                "left",
            ).select("vid", F.coalesce("__m", "component").alias("component"))
        )
    chosen = ss.finish(chosen)
    und.unpersist()
    return chosen


# ---------------------------------------------------------------------------
# Overlapping communities / similarity
# ---------------------------------------------------------------------------


def slpa(
    edges: DataFrame,
    iterations: int = 10,
    threshold: float = 0.1,
    seed: int = 42,
) -> DataFrame:
    """Speaker-Listener LPA (AlgoSLPA.java, Xie et al. 2011): every round
    each node hears one label per neighbor (the speaker's current
    most-frequent label, hash-deterministic tie/selection) and remembers
    the most frequent heard label; memory counts thresholded at the end
    give overlapping communities.  Returns (vid, label).
    """
    und = _undirected_adj(edges).repartition("v").cache()
    # memory: (vid, label, cnt), initialized with each node's own label
    memory = _vertices_of(edges).select(
        "vid", F.col("vid").alias("label"), F.lit(1).alias("cnt")
    )
    ss = Supersteps()
    for it in range(1, iterations + 1):
        # speaker's label: most frequent in memory, hash-jittered tie order
        wsp = Window.partitionBy("vid").orderBy(
            F.desc("cnt"),
            F.asc(F.xxhash64(F.col("label"), F.lit(seed + it))),
        )
        speak = (
            memory.withColumn("__rn", F.row_number().over(wsp))
            .filter(F.col("__rn") == 1)
            .select(F.col("vid").alias("n"), F.col("label").alias("heard"))
        )
        # listener: most frequent heard label this round
        heard = und.join(speak, "n").groupBy(
            F.col("v").alias("vid"), F.col("heard").alias("label")
        ).agg(F.count("*").alias("h"))
        wl = Window.partitionBy("vid").orderBy(F.desc("h"), F.asc("label"))
        accepted = (
            heard.withColumn("__rn", F.row_number().over(wl))
            .filter(F.col("__rn") == 1)
            .select("vid", "label", F.lit(1).alias("cnt"))
        )
        memory = ss.carry(
            memory.unionByName(accepted)
            .groupBy("vid", "label")
            .agg(F.sum("cnt").alias("cnt"))
        )
    memory = ss.finish(memory)
    und.unpersist()
    totals = memory.groupBy("vid").agg(F.sum("cnt").alias("tot"))
    return (
        memory.join(totals, "vid")
        .filter(F.col("cnt") / F.col("tot") >= threshold)
        .select("vid", "label")
    )


def simrank(
    edges: DataFrame,
    decay: float = 0.8,
    iterations: int = 5,
) -> DataFrame:
    """All-pairs SimRank s(a,b) = C/(|I(a)||I(b)|)·Σ s(u,v) over
    in-neighbor pairs (AlgoSimRank.java:139).  State is O(pairs with
    similarity) — use on moderate graphs or pre-filtered vertex subsets;
    the reference's per-pair query does the same recursion memoized.
    Returns (a, b, similarity) for a ≤ b with similarity > 0."""
    inn = edges.select(F.col("dst").alias("v"), F.col("src").alias("n")).distinct().cache()
    ind = inn.groupBy("v").agg(F.count("*").alias("ind"))
    verts = _vertices_of(edges)
    sim = verts.select(
        F.col("vid").alias("a"), F.col("vid").alias("b"), F.lit(1.0).alias("s")
    )
    ss = Supersteps()
    for _ in range(iterations):
        # expand: a pair (u,v) with sim s contributes to every (a,b) with
        # u ∈ I(a), v ∈ I(b) — two joins against the in-neighbor lists
        fa = inn.select(F.col("v").alias("ta"), F.col("n").alias("a"))
        fb = inn.select(F.col("v").alias("tb"), F.col("n").alias("b"))
        contrib = (
            sim.join(fa, sim["a"] == fa["a"])
            .join(fb, sim["b"] == fb["b"])
            .groupBy(F.col("ta").alias("a"), F.col("tb").alias("b"))
            .agg(F.sum("s").alias("acc"))
        )
        new_sim = (
            contrib.join(ind.withColumnRenamed("v", "a").withColumnRenamed("ind", "ia"), "a")
            .join(ind.withColumnRenamed("v", "b").withColumnRenamed("ind", "ib"), "b")
            .select(
                "a", "b",
                (F.lit(decay) * F.col("acc") / (F.col("ia") * F.col("ib"))).alias("s"),
            )
            .filter(F.col("a") != F.col("b"))
        )
        diag = verts.select(
            F.col("vid").alias("a"), F.col("vid").alias("b"), F.lit(1.0).alias("s")
        )
        sim = ss.carry(new_sim.unionByName(diag))
    sim = ss.finish(sim)
    inn.unpersist()
    return (
        sim.filter((F.col("a") < F.col("b")) & (F.col("s") > 0))
        .select("a", "b", F.col("s").alias("similarity"))
    )
