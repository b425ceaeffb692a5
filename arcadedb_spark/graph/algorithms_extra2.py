"""Second round-2 ``algo.*`` batch: simple paths, coloring, densest
subgraph, VoteRank, influence maximization, modularity, maxKCut,
sameCommunity.

Reference: query/opencypher/procedures/algo/AlgoAllSimplePaths.java,
AlgoGraphColoring.java, AlgoDensestSubgraph.java, AlgoVoteRank.java,
AlgoInfluenceMaximization.java, AlgoModularityScore.java,
AlgoMaxKCut.java, AlgoSameCommunity.java.  Same superstep discipline as
graph/algorithms.py; sequential-selection loops (VoteRank, influence
max) observe each selection's top row as ``max(struct(score, −vid))`` in
their superstep's one action, never an unbounded collect.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from arcadedb_spark.graph.algorithms import (
    _undirected_adj,
    _undirected_pairs,
    _vertices_of,
    _with_self_rows,
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
    with Supersteps(level="hop") as ss:
        e = ss.cache(edges.select("src", "dst").distinct())
        spark = edges.sparkSession
        # every hop's paths, tagged with the hop; a path stops at the target
        paths = frontier = local_df(
            spark, [(source, [source], 0)], "vid long, path array<long>, hop int"
        )
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
    return paths.filter(F.col("vid") == target).select("path")


def graph_coloring(edges: DataFrame, max_colors: int = 64) -> DataFrame:
    """Greedy distributed coloring by iterated maximal independent sets
    (AlgoGraphColoring.java — yields (node, color, chromaticNumber);
    greedy order differs, both produce a proper coloring).

    Round c: uncolored vertices that are (degree, vid)-maximal among
    their uncolored neighbors form an independent set → color c.  The
    Luby-style parallel shape; O(colors) supersteps.
    Returns (vid, color)."""
    with Supersteps() as ss:
        adj = ss.cache(_undirected_adj(edges))
        deg = adj.groupBy("v").agg(F.count("*").alias("d"))
        verts = _vertices_of(edges)
        # one carried frame: (vid, d, color), color null while uncolored
        state = verts.join(deg, verts["vid"] == deg["v"], "left").select(
            "vid", F.coalesce("d", F.lit(0)).alias("d"), F.lit(None).cast("int").alias("color")
        )
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
    return state.filter(F.col("color").isNotNull()).select("vid", "color")


def densest_subgraph(edges: DataFrame, epsilon: float = 0.1) -> DataFrame:
    """Charikar-style 2(1+ε)-approximate densest subgraph by parallel
    peeling (AlgoDensestSubgraph.java — yields (node, inDenseSubgraph,
    density)).  Each round removes all vertices with degree ≤ (1+ε)·avg;
    the best-density snapshot wins — O(log n) rounds (Bahmani et al.
    2012).  Returns (vid, in_dense boolean, density double)."""
    verts = _vertices_of(edges)
    with Supersteps() as ss:
        nbr = ss.cache(_with_self_rows(_undirected_adj(edges), verts))
        # the carried state: each vertex with the round that peeled it (null
        # while it is in the subgraph)
        state = verts.select("vid", F.lit(None).cast("int").alias("gone"))
        alive = F.col("gone").isNull()
        best_density, best_round, nv_before = -1.0, 0, None
        for r in itertools.count():
            # degree of each vertex inside the current subgraph
            stepped = (
                nbr.join(state, nbr["n"] == state["vid"])
                .groupBy("v")
                .agg(
                    F.max(F.when(F.col("__self"), F.col("gone"))).alias("gone"),
                    F.count(F.when(~F.col("__self") & alive, 1)).alias("d"),
                )
                .withColumnRenamed("v", "vid")
            )
            nv, ends = ss.step(stepped, F.count(F.when(alive, 1)), F.sum(F.when(alive, F.col("d"))))
            if nv == 0 or nv == nv_before:
                break
            density = (ends // 2) / nv
            if density > best_density:
                best_density, best_round = density, r
            thresh = 2.0 * (1.0 + epsilon) * density
            state = ss.carry(
                stepped.select(
                    "vid",
                    F.when(alive & (F.col("d") <= thresh), F.lit(r))
                    .otherwise(F.col("gone"))
                    .alias("gone"),
                )
            )
            nv_before = nv
        state = ss.finish(state)
    return state.select(
        "vid",
        (alive | (F.col("gone") >= best_round)).alias("in_dense"),
        F.lit(float(best_density)).alias("density"),
    )


def vote_rank(edges: DataFrame, k: int = 10) -> DataFrame:
    """VoteRank influential-node selection (AlgoVoteRank.java — yields
    (nodeId, rank)).  Each round every vertex votes its voting ability
    for its neighbors; the top scorer is elected, zeroed, and its
    neighbors' ability drops by 1/⟨k⟩.  k sequential elections = k
    1-row actions; the voting pass itself is one join+groupBy.
    Returns (vid, rank) for the k elected."""
    with Supersteps() as ss:
        adj = ss.cache(_undirected_adj(edges))
        avg_deg = adj.groupBy("v").agg(F.count("*").alias("d")).agg(F.avg("d")).collect()[0][0]
        decay = 1.0 / (avg_deg or 1.0)
        spark = edges.sparkSession
        verts = _vertices_of(edges)
        nbr = ss.cache(_with_self_rows(adj, verts))
        state = verts.select("vid", F.lit(1.0).alias("ab"), F.lit(False).alias("__won"))
        elected: list[tuple[int, int]] = []
        for rank in range(1, k + 1):
            own = F.col("__self")
            stepped = (
                nbr.join(state, nbr["n"] == state["vid"])
                .groupBy(F.col("v").alias("vid"))
                .agg(
                    F.max(F.when(own, F.col("ab"))).alias("ab"),
                    F.max(F.when(own, F.col("__won"))).alias("__won"),
                    F.sum(F.when(~own, F.col("ab"))).alias("score"),
                )
            )
            # the election: max(struct(score, −vid)) over the unelected voters
            top = ss.step(
                stepped,
                F.max(
                    F.when(
                        F.col("score").isNotNull() & ~F.col("__won"),
                        F.struct("score", (-F.col("vid")).alias("v")),
                    )
                ),
            )[0]
            if top is None or top["score"] <= 0:
                break
            w = -int(top["v"])
            elected.append((w, rank))
            nbrs = adj.filter(F.col("v") == w).select(
                F.col("n").alias("vid"), F.lit(True).alias("__hit")
            )
            state = ss.carry(
                stepped.join(nbrs, "vid", "left").select(
                    "vid",
                    F.when(F.col("vid") == w, F.lit(0.0))
                    .when(F.col("__hit"), F.greatest(F.col("ab") - decay, F.lit(0.0)))
                    .otherwise(F.col("ab"))
                    .alias("ab"),
                    (F.col("__won") | (F.col("vid") == w)).alias("__won"),
                )
            )
    return local_df(spark, elected or [], "vid long, rank int")


def influence_maximization(edges: DataFrame, k: int = 5) -> DataFrame:
    """Degree-discount heuristic for influence maximization under the
    independent-cascade model (AlgoInfluenceMaximization.java — yields
    (nodeId, rank, marginalGain); the reference greedily simulates
    cascades, this uses the standard degree-discount approximation —
    Chen et al. KDD'09 — which parallelizes).  Returns
    (vid, rank, marginal_gain)."""
    with Supersteps() as ss:
        adj = ss.cache(_undirected_adj(edges))
        p = 0.1  # IC edge probability (reference default)
        deg = adj.groupBy("v").agg(F.count("*").alias("d"))
        spark = edges.sparkSession
        state = deg.select(
            F.col("v").alias("vid"), F.col("d"), F.lit(0).alias("t"), F.lit(False).alias("__won")
        )
        chosen: list[tuple[int, int, float]] = []
        for rank in range(1, k + 1):
            stepped = state.withColumn(
                "dd",
                F.col("d") - 2 * F.col("t") - (F.col("d") - F.col("t")) * F.col("t") * F.lit(p),
            )
            # the pick: max(struct(dd, −vid)) over the unchosen vertices
            top = ss.step(
                stepped,
                F.max(F.when(~F.col("__won"), F.struct("dd", (-F.col("vid")).alias("v")))),
            )[0]
            if top is None:
                break
            w = -int(top["v"])
            chosen.append((w, rank, float(top["dd"])))
            nbrs = adj.filter(F.col("v") == w).select(
                F.col("n").alias("vid"), F.lit(True).alias("__hit")
            )
            state = ss.carry(
                stepped.join(nbrs, "vid", "left").select(
                    "vid", "d",
                    (F.col("t") + F.when(F.col("__hit"), 1).otherwise(0)).alias("t"),
                    (F.col("__won") | (F.col("vid") == w)).alias("__won"),
                )
            )
    return local_df(spark, chosen or [], "vid long, rank int, marginal_gain double")


def modularity_score(edges: DataFrame, communities: DataFrame) -> DataFrame:
    """Modularity Q of a community assignment (AlgoModularityScore.java —
    yields (modularity, communities, edgeCount)).  Pure aggregation:
    Q = Σ_c [ in_c/m − (tot_c/2m)² ].  Returns one row
    (modularity, communities, edge_count)."""
    spark = edges.sparkSession
    q = 0.0
    with Supersteps() as scope:
        und = scope.cache(_undirected_pairs(edges))
        m = und.count()
        if m:
            ca = communities.select(F.col("vid").alias("a"), F.col("community").alias("ca"))
            cb = communities.select(F.col("vid").alias("b"), F.col("community").alias("cb"))
            tagged = scope.cache(und.join(ca, "a").join(cb, "b"))
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
    with Supersteps() as ss:
        adj = ss.cache(_undirected_adj(edges))
        und = ss.cache(_undirected_pairs(edges))
        part = _vertices_of(edges).withColumn(
            "community", F.pmod(F.xxhash64("vid"), F.lit(k)).cast("int")
        )
        spark = edges.sparkSession
        parts_df = local_df(spark, [(i,) for i in range(k)], "community int")
        quiet = 0
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
    und = _undirected_pairs(edges)
    ca = communities.select(F.col("vid").alias("a"), F.col("community").alias("ca"))
    cb = communities.select(F.col("vid").alias("b"), F.col("community").alias("cb"))
    return und.join(ca, "a").join(cb, "b").select(
        F.col("a").alias("node1"),
        F.col("b").alias("node2"),
        F.when(F.col("ca") == F.col("cb"), 1.0).otherwise(0.0).alias("coefficient"),
    )
