"""High-demand ``algo.*`` procedures round 2: Leiden, A*, k-shortest
paths, max-flow, maximal cliques.

Reference: query/opencypher/procedures/algo/AlgoLeiden.java,
AlgoAStar.java, AlgoKShortestPaths.java, AlgoMaxFlow.java,
AlgoClique.java.  Same discipline as graph/algorithms.py: supersteps are
join + groupBy keyed by vertex id, loop lifecycle in graph/superstep.py,
no unbounded driver collects (point-to-point paths are the one
legitimate single-row collect).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from arcadedb_spark.graph.algorithms import (
    _local_moving,
    _undirected_adj,
    _undirected_pairs,
    _weighted,
    _weighted_adj,
    _with_self_rows,
    connected_components,
    relax,
)
from arcadedb_spark.graph.superstep import Supersteps
from arcadedb_spark.session import local_df


# ---------------------------------------------------------------------------
# Leiden
# ---------------------------------------------------------------------------


def leiden(
    edges: DataFrame, max_iterations: int = 10, resolution: float = 1.0
) -> DataFrame:
    """Leiden community detection (AlgoLeiden.java:34-36: local moving with
    resolution γ plus a refinement phase guaranteeing well-connected
    communities).

    Distributed form: (1) synchronous modularity local-moving with the γ
    term (gain ∝ w/2m − γ·k·Σtot/(2m)²) — the superstep ``louvain``
    shares (``algorithms._local_moving``); (2) refinement = connected components of each community's
    induced subgraph, so no output community can be internally
    disconnected (the Leiden guarantee Louvain lacks — Traag et al. 2019).
    Returns (vid, community).
    """
    # full move delta = insertion gain MINUS removal cost
    # (AlgoLeiden.java:142,175 computes both terms; without the removal
    # term, symmetric vertices swap communities forever); the own
    # community is no candidate
    def gain(m2):
        return F.when(
            F.col("nc") != F.col("community"),
            (F.col("w") - F.col("w_cur")) / F.lit(m2)
            - F.lit(resolution)
            * F.col("k")
            * (F.col("tot") - F.col("tot_cur") + F.col("k"))
            / F.lit(m2 * m2),
        )

    # alternating move gate (vid-hash parity per round) breaks the
    # synchronous-oscillation symmetry that plain simultaneous moving
    # suffers on regular structures — standard distributed-Louvain trick.
    # It lets one parity class move per round, so two consecutive quiet
    # rounds (both parities) confirm convergence (AlgoLeiden.java's
    # local-move loop exits when no vertex moves).
    comm = _local_moving(
        edges,
        max_iterations,
        gain,
        gate=lambda i: (F.abs(F.xxhash64(F.col("vid"))) + F.lit(i)) % 2 == 0,
        quiet=2,
    )
    # refinement: split internally-disconnected communities
    intra = (
        edges.select("src", "dst")
        .join(comm.select(F.col("vid").alias("src"), F.col("community").alias("cs")), "src")
        .join(comm.select(F.col("vid").alias("dst"), F.col("community").alias("cd")), "dst")
        .filter(F.col("cs") == F.col("cd"))
        .select("src", "dst")
    )
    refined = connected_components(intra).withColumnRenamed("component", "rc")
    return comm.join(refined, "vid", "left").select(
        "vid", F.coalesce(F.col("rc"), F.col("vid")).alias("community")
    )


# ---------------------------------------------------------------------------
# A* point-to-point shortest path
# ---------------------------------------------------------------------------


def astar(
    edges: DataFrame,
    source: int,
    target: int,
    heuristic: DataFrame | None = None,
) -> DataFrame:
    """A* shortest path (AlgoAStar.java — yields (path, weight); the
    reference's heuristic is geographic great-circle distance; here any
    admissible per-vertex heuristic DataFrame (vid, h) is accepted,
    defaulting to h=0 ≡ Dijkstra).

    Distributed form: ``relax`` with path labels, where the heuristic
    prunes hops with g + h ≥ best-known target distance —
    the frontier-parallel equivalent of A*'s priority queue (a strict
    best-first queue is inherently sequential; pruning preserves the
    optimality argument for admissible h).  That distance is observed in
    each superstep's one job, and the loop runs until no label improves.
    Returns one row (path array<long>, weight double), empty if
    unreachable.
    """
    seeds = local_df(edges.sparkSession, [(source,)], "vid long")
    h = heuristic.select("vid", "h") if heuristic is not None else None
    best = relax(_weighted_adj(edges), seeds, tie="path", target=target, h=h)
    return best.filter(F.col("vid") == target).select(
        "path", F.col("distance").alias("weight")
    )


# ---------------------------------------------------------------------------
# k shortest loopless paths
# ---------------------------------------------------------------------------


def k_shortest_paths(
    edges: DataFrame,
    source: int,
    target: int,
    k: int = 3,
    max_depth: int = 12,
) -> DataFrame:
    """k shortest simple paths (AlgoKShortestPaths.java — Yen's algorithm;
    yields (path, weight, rank) ascending by weight).

    Distributed form: k-label-correcting — every vertex keeps its k best
    loopless (weight, path) labels per superstep; expansion is one join
    per depth level regardless of path count (Yen's spur loop is
    inherently sequential; per-vertex top-k relaxation is the standard
    data-parallel formulation and returns the same k best simple paths
    when max_depth covers them).  Returns (path, weight, rank).
    """
    spark = edges.sparkSession
    # __chg marks the labels added by the last superstep (the frontier);
    # an expansion adds one hop, so it never repeats a kept (vid, path)
    state = local_df(
        spark,
        [(source, 0.0, [source], True)],
        "vid long, weight double, path array<long>, __chg boolean",
    )
    wadj = _weighted_adj(edges)
    verts = wadj.select(F.col("v").alias("vid")).unionByName(state.select("vid")).distinct()
    own = F.col("__self")
    w = Window.partitionBy("vid").orderBy(F.asc("weight"), F.asc("path"))
    with Supersteps() as ss:
        # a superstep reads the labels once: own rows carry every kept
        # label, hop rows extend the frontier's
        nbr = ss.cache(_with_self_rows(wadj, verts))
        for _ in range(max_depth):
            merged = (
                nbr.join(state, (nbr["n"] == state["vid"]) & (own | state["__chg"]))
                .filter(own | ~F.array_contains("path", F.col("v")))
                .select(
                    F.col("v").alias("vid"),
                    F.when(own, F.col("weight")).otherwise(F.col("weight") + F.col("w")).alias("weight"),
                    F.when(own, F.col("path")).otherwise(F.concat("path", F.array("v"))).alias("path"),
                    (~own).alias("__chg"),
                )
                .dropDuplicates(["vid", "path"])
            )
            kept = (
                merged.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= k)
                .drop("__rn")
            )
            changed = ss.step(kept, F.max("__chg"))[0]
            state = ss.carry(kept)
            if not changed:
                break
        state = ss.finish(state)
    # bounded-window ok: at most k candidate paths reach the target
    w_rank = Window.orderBy(F.asc("weight"), F.asc("path"))
    return (
        state.filter(F.col("vid") == target)
        .select("path", "weight")
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Max flow (Edmonds-Karp)
# ---------------------------------------------------------------------------


def max_flow(
    edges: DataFrame,
    source: int,
    sink: int,
    max_augmentations: int = 64,
    max_depth: int = 20,
) -> DataFrame:
    """Maximum s-t flow by Edmonds-Karp (AlgoMaxFlow.java — BFS-based
    Ford-Fulkerson; yields (maxFlow, sourceId, sinkId); edge capacity =
    ``weight`` column, default 1.0).

    Each augmentation runs a distributed BFS over the residual graph
    (positive-capacity edges) carrying path arrays; the shortest
    augmenting path (one row) is an observed aggregate of the superstep
    that reaches the sink.  Residual updates are a broadcast join against
    the path's edge list, and the residual frame is the outer loop's
    carried state; both loops run on ``Supersteps``.  The BFS carries one
    row per reached vertex, read once per superstep through the self rows
    of the live in-adjacency, rather than a union of levels anti-joined
    per level, so its plan grows by one superstep per level, not ~2.6×.
    ``max_augmentations`` bounds the sequential
    outer loop — flow problems with more augmenting paths than that need
    a push-relabel formulation, documented out of scope.
    Returns one row (max_flow double, source_id long, sink_id long).
    """
    spark = edges.sparkSession
    fwd = _weighted(edges).groupBy("src", "dst").agg(F.sum("w").alias("cap"))
    res = (
        fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            .withColumn("cap", F.lit(0.0))
        )
        .groupBy("src", "dst")
        .agg(F.sum("cap").alias("cap"))
        .truncate_plan()
    )
    own = F.col("__self")
    total = 0.0
    with Supersteps() as rounds:
        # one self row per vertex keeps a reached vertex's own row in its group
        verts = rounds.cache(res.select(F.col("src").alias("vid")).distinct())
        for _ in range(max_augmentations):
            # BFS shortest augmenting path in the residual graph, one row per
            # reached vertex: a superstep extends the newest level along the
            # live edges and keeps each vertex's first (depth, path)
            live = res.filter(F.col("cap") > 0)
            nbr = _with_self_rows(
                live.select(F.col("dst").alias("v"), F.col("src").alias("n")), verts
            )
            reached = local_df(
                spark, [(source, 0, [source])], "vid long, depth int, path array<long>"
            )
            found = None
            with Supersteps() as bfs:
                for depth in range(1, max_depth + 1):
                    hop = F.struct(
                        F.lit(depth).alias("depth"), F.concat("path", F.array("v")).alias("path")
                    )
                    stepped = (
                        nbr.join(
                            reached,
                            (nbr["n"] == reached["vid"]) & (own | (reached["depth"] == depth - 1)),
                        )
                        .groupBy(F.col("v").alias("vid"))
                        .agg(
                            F.min(F.when(own, F.struct("depth", "path")).otherwise(hop)).alias("m")
                        )
                        .select("vid", "m.depth", "m.path")
                    )
                    new = F.col("depth") == depth
                    found, grew = bfs.step(
                        stepped,
                        F.max(F.when(new & (F.col("vid") == sink), F.col("path"))),
                        F.count(F.when(new, 1)),
                    )
                    reached = bfs.carry(stepped)
                    if found or not grew:
                        break
            if not found:
                break
            path_edges = [(int(found[j]), int(found[j + 1])) for j in range(len(found) - 1)]
            pe = local_df(spark, path_edges, "src long, dst long")
            # every path edge's cap with its bottleneck, in one superstep
            stepped = res.join(
                F.broadcast(pe.withColumn("__on", F.lit(True))), ["src", "dst"], "left"
            )
            bottleneck = rounds.step(stepped, F.min(F.when(F.col("__on"), F.col("cap"))))[0]
            if not bottleneck or bottleneck <= 0:
                break
            total += float(bottleneck)
            delta = pe.withColumn("d", F.lit(-float(bottleneck))).unionByName(
                pe.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                .withColumn("d", F.lit(float(bottleneck)))
            )
            res = rounds.carry(
                stepped.join(F.broadcast(delta), ["src", "dst"], "left")
                .select("src", "dst", (F.col("cap") + F.coalesce("d", F.lit(0.0))).alias("cap"))
            )
    return local_df(
        spark, [(total, source, sink)], "max_flow double, source_id long, sink_id long"
    )


# ---------------------------------------------------------------------------
# Maximal cliques
# ---------------------------------------------------------------------------


def maximal_cliques(
    edges: DataFrame, min_size: int = 3, max_size: int = 8
) -> DataFrame:
    """All maximal cliques (AlgoClique.java — Bron-Kerbosch with Tomita
    pivoting; yields (clique, size)).

    Distributed form: level-synchronous k-clique enumeration — one
    explode + adjacency join + count per (clique, vertex) pair finds the
    vertices adjacent to every member of a size-s clique: the clique is
    maximal when there is none, and grows to size s+1 by each one larger
    than its largest member (ordering kills duplicates).  Bron-Kerbosch's
    recursive pivot stack is inherently sequential; level enumeration
    does the same search breadth-first with one superstep per clique
    size, bounded by ``max_size`` (cliques above it are reported
    truncated — raise it explicitly for clique-dense graphs).
    Returns (clique array<long> ascending, size int).
    """
    with Supersteps() as ss:
        adj = ss.cache(_undirected_adj(edges))
        # the carried state holds the newest level's cliques and the maximal
        # cliques of the levels before; a superstep tests the newest level,
        # keeps its maximal cliques and appends the next level
        state = _undirected_pairs(edges).select(F.array("a", "b").alias("clique"))
        for size in range(2, max_size):
            newest = F.size("clique") == size
            # (clique, n): members adjacent to n; n extends the clique when
            # all ``size`` members are, and grows it when n > its last member
            hits = (
                state.select("clique", F.explode_outer(F.when(newest, F.col("clique"))).alias("m"))
                .join(adj, F.col("m") == adj["v"], "left")
                .groupBy("clique", "n")
                .agg(F.count("v").alias("hits"))
            )
            extends = (F.col("hits") == size) & ~F.array_contains("clique", F.col("n"))
            stepped = hits.groupBy("clique").agg(
                F.max(extends).alias("__ext"),
                F.collect_list(
                    F.when(extends & (F.col("n") > F.element_at("clique", -1)), F.col("n"))
                ).alias("__up"),
            )
            grown = ss.step(stepped, F.sum(F.size("__up")))[0]
            state = ss.carry(
                stepped.select(
                    F.explode(
                        F.concat(
                            F.filter(F.array("clique"), lambda c: ~F.col("__ext")),
                            F.transform("__up", lambda w: F.concat("clique", F.array(w))),
                        )
                    ).alias("clique")
                )
            )
            if not grown:
                break
        state = ss.finish(state)
    # a level the loop never tested (the one at max_size) is emitted
    # unconditionally
    return state.filter(F.size("clique") >= min_size).select(
        "clique", F.size("clique").alias("size")
    )
