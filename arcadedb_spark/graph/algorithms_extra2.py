"""Second round-2 ``algo.*`` batch: simple paths, coloring, densest
subgraph, VoteRank, influence maximization, modularity, maxKCut,
sameCommunity.

Reference: query/opencypher/procedures/algo/AlgoAllSimplePaths.java,
AlgoGraphColoring.java, AlgoDensestSubgraph.java, AlgoVoteRank.java,
AlgoInfluenceMaximization.java, AlgoModularityScore.java,
AlgoMaxKCut.java, AlgoSameCommunity.java.  Same superstep discipline as
graph/algorithms.py; sequential-selection loops (VoteRank, influence
max) do one 1-row action per selection, never an unbounded collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from arcadedb_spark.graph.algorithms import (
    _undirected_adj,
    _vertices_of,
    connected_components,
)
from arcadedb_spark.graph.superstep import Supersteps
from arcadedb_spark.session import local_df


def all_simple_paths(
    edges: DataFrame, source: int, target: int, max_depth: int = 8
) -> DataFrame:
    """All loopless s→t paths up to ``max_depth`` hops
    (AlgoAllSimplePaths.java — yields (path)).  Frontier expansion with
    path arrays, loops filtered by array_contains — one join per depth
    regardless of path count.  Returns (path array<long>)."""
    e = edges.select("src", "dst").distinct().cache()
    spark = edges.sparkSession
    # every hop's paths, tagged with the hop; a path stops at the target
    paths = frontier = local_df(
        spark, [(source, [source], 0)], "vid long, path array<long>, hop int"
    )
    ss = Supersteps(level="hop")
    for hop in range(1, max_depth + 1):
        nxt = (
            frontier.filter(F.col("vid") != target)
            .join(e, frontier["vid"] == e["src"], "inner")
            .filter(~F.array_contains("path", F.col("dst")))
            .select(
                F.col("dst").alias("vid"),
                F.concat("path", F.array("dst")).alias("path"),
                F.lit(hop).alias("hop"),
            )
        )
        if ss.step(nxt, F.count(F.lit(1)))[0] == 0:
            break
        paths = ss.carry(paths.unionByName(nxt))
        frontier = ss.frontier
    paths = ss.finish(paths)
    e.unpersist()
    return paths.filter(F.col("vid") == target).select("path")


def graph_coloring(edges: DataFrame, max_colors: int = 64) -> DataFrame:
    """Greedy distributed coloring by iterated maximal independent sets
    (AlgoGraphColoring.java — yields (node, color, chromaticNumber);
    greedy order differs, both produce a proper coloring).

    Round c: uncolored vertices that are (degree, vid)-maximal among
    their uncolored neighbors form an independent set → color c.  The
    Luby-style parallel shape; O(colors) supersteps.
    Returns (vid, color)."""
    adj = _undirected_adj(edges).cache()
    deg = adj.groupBy("v").agg(F.count("*").alias("d"))
    verts = _vertices_of(edges)
    # one carried frame: (vid, d, color), color null while uncolored
    state = verts.join(deg, verts["vid"] == deg["v"], "left").select(
        "vid", F.coalesce("d", F.lit(0)).alias("d"), F.lit(None).cast("int").alias("color")
    )
    ss = Supersteps()
    for color in range(max_colors):
        uncolored = state.filter(F.col("color").isNull())
        # highest (degree, vid) among each vertex's uncolored neighbors
        nbr = adj.join(
            uncolored.select(F.col("vid").alias("n"), F.col("d").alias("dn")), "n"
        ).groupBy(F.col("v").alias("vid")).agg(
            F.max(F.struct("dn", F.col("n").alias("nv"))).alias("mx")
        )
        wins = F.col("color").isNull() & (
            F.col("mx").isNull()
            | (F.struct(F.col("d").alias("dn"), F.col("vid").alias("nv")) > F.col("mx"))
        )
        stepped = state.join(nbr, "vid", "left").select(
            "vid", "d", F.when(wins, F.lit(color)).otherwise(F.col("color")).alias("color")
        )
        uncolored_left = ss.step(stepped, F.count(F.when(F.col("color").isNull(), 1)))[0]
        state = ss.carry(stepped)
        if uncolored_left == 0:
            break
    state = ss.finish(state)
    adj.unpersist()
    return state.filter(F.col("color").isNotNull()).select("vid", "color")


def densest_subgraph(edges: DataFrame, epsilon: float = 0.1) -> DataFrame:
    """Charikar-style 2(1+ε)-approximate densest subgraph by parallel
    peeling (AlgoDensestSubgraph.java — yields (node, inDenseSubgraph,
    density)).  Each round removes all vertices with degree ≤ (1+ε)·avg;
    the best-density snapshot wins — O(log n) rounds (Bahmani et al.
    2012).  Returns (vid, in_dense boolean, density double)."""
    und = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .cache()
    )
    verts = _vertices_of(edges).cache()
    cur_v = verts
    best_density = -1.0
    best = cur_v
    while True:
        m = und.join(cur_v.withColumnRenamed("vid", "a"), "a", "left_semi").join(
            cur_v.withColumnRenamed("vid", "b"), "b", "left_semi"
        ).cache()
        counts = m.count()
        nv = cur_v.count()
        if nv == 0:
            break
        density = counts / nv
        if density > best_density:
            best_density = density
            best = cur_v
        deg = (
            m.select(F.col("a").alias("vid"))
            .unionByName(m.select(F.col("b").alias("vid")))
            .groupBy("vid")
            .agg(F.count("*").alias("d"))
        )
        thresh = 2.0 * (1.0 + epsilon) * density
        keep = (
            cur_v.join(deg, "vid", "left")
            .filter(F.coalesce(F.col("d"), F.lit(0)) > thresh)
            .select("vid")
            .truncate_plan()
        )
        if keep.count() == nv:
            break
        cur_v = keep
    return verts.join(
        best.withColumn("__in", F.lit(True)), "vid", "left"
    ).select(
        "vid",
        F.coalesce(F.col("__in"), F.lit(False)).alias("in_dense"),
        F.lit(float(best_density)).alias("density"),
    )


def vote_rank(edges: DataFrame, k: int = 10) -> DataFrame:
    """VoteRank influential-node selection (AlgoVoteRank.java — yields
    (nodeId, rank)).  Each round every vertex votes its voting ability
    for its neighbors; the top scorer is elected, zeroed, and its
    neighbors' ability drops by 1/⟨k⟩.  k sequential elections = k
    1-row actions; the voting pass itself is one join+groupBy.
    Returns (vid, rank) for the k elected."""
    adj = _undirected_adj(edges).cache()
    avg_deg = adj.groupBy("v").agg(F.count("*").alias("d")).agg(F.avg("d")).collect()[0][0]
    decay = 1.0 / (avg_deg or 1.0)
    spark = edges.sparkSession
    ability = _vertices_of(edges).withColumn("ab", F.lit(1.0))
    elected: list[tuple[int, int]] = []
    for rank in range(1, k + 1):
        votes = (
            adj.join(ability.withColumnRenamed("vid", "n").withColumnRenamed("ab", "nab"), "n")
            .groupBy("v")
            .agg(F.sum("nab").alias("score"))
            .filter(~F.col("v").isin([e[0] for e in elected]) if elected else F.lit(True))
        )
        top = votes.orderBy(F.desc("score"), F.asc("v")).limit(1).collect()
        if not top or top[0]["score"] <= 0:
            break
        w = int(top[0]["v"])
        elected.append((w, rank))
        nbrs = adj.filter(F.col("v") == w).select(F.col("n").alias("vid"))
        ability = (
            ability.join(nbrs.withColumn("__hit", F.lit(True)), "vid", "left")
            .select(
                "vid",
                F.when(F.col("vid") == w, F.lit(0.0))
                .when(F.col("__hit"), F.greatest(F.col("ab") - decay, F.lit(0.0)))
                .otherwise(F.col("ab"))
                .alias("ab"),
            )
            .truncate_plan()
        )
    return local_df(spark, elected or [], "vid long, rank int")


def influence_maximization(edges: DataFrame, k: int = 5) -> DataFrame:
    """Degree-discount heuristic for influence maximization under the
    independent-cascade model (AlgoInfluenceMaximization.java — yields
    (nodeId, rank, marginalGain); the reference greedily simulates
    cascades, this uses the standard degree-discount approximation —
    Chen et al. KDD'09 — which parallelizes).  Returns
    (vid, rank, marginal_gain)."""
    adj = _undirected_adj(edges).cache()
    p = 0.1  # IC edge probability (reference default)
    deg = adj.groupBy("v").agg(F.count("*").alias("d"))
    spark = edges.sparkSession
    state = deg.select(F.col("v").alias("vid"), F.col("d"), F.lit(0).alias("t"))
    chosen: list[tuple[int, int, float]] = []
    for rank in range(1, k + 1):
        scored = state.withColumn(
            "dd", F.col("d") - 2 * F.col("t") - (F.col("d") - F.col("t")) * F.col("t") * F.lit(p)
        ).filter(~F.col("vid").isin([c[0] for c in chosen]) if chosen else F.lit(True))
        top = scored.orderBy(F.desc("dd"), F.asc("vid")).limit(1).collect()
        if not top:
            break
        w = int(top[0]["vid"])
        chosen.append((w, rank, float(top[0]["dd"])))
        nbrs = adj.filter(F.col("v") == w).select(F.col("n").alias("vid"))
        state = (
            state.join(nbrs.withColumn("__hit", F.lit(True)), "vid", "left")
            .select(
                "vid", "d",
                (F.col("t") + F.when(F.col("__hit"), 1).otherwise(0)).alias("t"),
            )
            .truncate_plan()
        )
    return local_df(spark, chosen or [], "vid long, rank int, marginal_gain double")


def modularity_score(edges: DataFrame, communities: DataFrame) -> DataFrame:
    """Modularity Q of a community assignment (AlgoModularityScore.java —
    yields (modularity, communities, edgeCount)).  Pure aggregation:
    Q = Σ_c [ in_c/m − (tot_c/2m)² ].  Returns one row
    (modularity, communities, edge_count)."""
    und = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .cache()
    )
    m = und.count()
    spark = edges.sparkSession
    if m == 0:
        ncomm = communities.select("community").distinct().count()
        return local_df(
            spark,
            [(0.0, ncomm, 0)], "modularity double, communities long, edge_count long"
        )
    ca = communities.select(F.col("vid").alias("a"), F.col("community").alias("ca"))
    cb = communities.select(F.col("vid").alias("b"), F.col("community").alias("cb"))
    tagged = und.join(ca, "a").join(cb, "b").cache()
    internal = (
        tagged.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count("*").alias("inc"))
    )
    deg = (
        tagged.select(F.col("a").alias("vid"), F.col("ca").alias("c"))
        .unionByName(tagged.select(F.col("b").alias("vid"), F.col("cb").alias("c")))
        .groupBy("c")
        .agg(F.count("*").alias("tot"))
    )
    q = (
        deg.join(internal, "c", "left")
        .select(
            (
                F.coalesce(F.col("inc"), F.lit(0)) / F.lit(float(m))
                - (F.col("tot") / F.lit(2.0 * m)) ** 2
            ).alias("q")
        )
        .agg(F.sum("q"))
        .collect()[0][0]
    )
    ncomm = communities.select("community").distinct().count()
    return local_df(
        spark,
        [(float(q or 0.0), ncomm, m)],
        "modularity double, communities long, edge_count long",
    )


def max_k_cut(edges: DataFrame, k: int = 2, max_iterations: int = 10) -> DataFrame:
    """Approximate maximum k-cut by synchronous local search
    (AlgoMaxKCut.java — yields (node, community, cutWeight); the
    reference restarts a greedy local search, this runs the same move
    rule data-parallel).  Each round every vertex moves to the partition
    minimizing same-partition neighbors (hash-parity gate breaks
    oscillation); two quiet rounds in a row (both gate parities) are a
    fixed point and end the search.  Returns (vid, community, cut_weight)."""
    adj = _undirected_adj(edges).cache()
    und = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .cache()
    )
    part = _vertices_of(edges).withColumn(
        "community", F.pmod(F.xxhash64("vid"), F.lit(k)).cast("int")
    )
    spark = edges.sparkSession
    parts_df = local_df(spark, [(i,) for i in range(k)], "community int")
    quiet = 0
    ss = Supersteps()
    for i in range(1, max_iterations + 1):
        cmap = part.select(F.col("vid").alias("n"), F.col("community").alias("nc"))
        # same-partition neighbor counts per (v, candidate partition)
        cand = (
            adj.join(cmap, "n")
            .groupBy("v", "nc")
            .agg(F.count("*").alias("same"))
        )
        full = (
            part.select(F.col("vid").alias("v"), "community")
            .crossJoin(F.broadcast(parts_df.withColumnRenamed("community", "nc")))
            .join(cand, ["v", "nc"], "left")
            .fillna(0, ["same"])
        )
        w_best = Window.partitionBy("v").orderBy(F.asc("same"), F.asc("nc"))
        move = ((F.abs(F.xxhash64(F.col("v"))) + F.lit(i)) % 2 == 0) & (
            F.col("nc") != F.col("community")
        )
        stepped = (
            full.withColumn("__rn", F.row_number().over(w_best))
            .filter(F.col("__rn") == 1)
            .select(
                F.col("v").alias("vid"),
                F.when(move, F.col("nc")).otherwise(F.col("community")).alias("community"),
                move.alias("__moved"),
            )
        )
        moved = ss.step(stepped, F.count(F.when(F.col("__moved"), 1)))[0]
        part = ss.carry(stepped.select("vid", "community"))
        quiet = quiet + 1 if moved == 0 else 0
        if quiet == 2:
            break
    part = ss.finish(part)
    pa = part.select(F.col("vid").alias("a"), F.col("community").alias("ca"))
    pb = part.select(F.col("vid").alias("b"), F.col("community").alias("cb"))
    cut = und.join(pa, "a").join(pb, "b").filter(F.col("ca") != F.col("cb")).count()
    adj.unpersist()
    und.unpersist()
    return part.withColumn("cut_weight", F.lit(float(cut)))


def same_community(
    edges: DataFrame, communities: DataFrame | None = None
) -> DataFrame:
    """Pairwise same-community coefficient over connected vertex pairs
    (AlgoSameCommunity.java — yields (node1, node2, coefficient);
    communities default to WCC).  Returns (node1, node2, coefficient)."""
    if communities is None:
        communities = connected_components(edges).withColumnRenamed(
            "component", "community"
        )
    und = (
        edges.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    ca = communities.select(F.col("vid").alias("a"), F.col("community").alias("ca"))
    cb = communities.select(F.col("vid").alias("b"), F.col("community").alias("cb"))
    return und.join(ca, "a").join(cb, "b").select(
        F.col("a").alias("node1"),
        F.col("b").alias("node2"),
        F.when(F.col("ca") == F.col("cb"), 1.0).otherwise(0.0).alias("coefficient"),
    )
