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

from arcadedb_spark.graph.algorithms import _vertices_of, connected_components
from arcadedb_spark.graph.superstep import Supersteps


def _weighted(edges: DataFrame) -> DataFrame:
    if "weight" in edges.columns:
        return edges.select(
            "src", "dst", F.coalesce(F.col("weight"), F.lit(1.0)).alias("w")
        )
    return edges.select("src", "dst", F.lit(1.0).alias("w"))


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
    term (gain ∝ w/2m − γ·k·Σtot/(2m)²) — the same superstep shape as
    ``louvain``; (2) refinement = connected components of each community's
    induced subgraph, so no output community can be internally
    disconnected (the Leiden guarantee Louvain lacks — Traag et al. 2019).
    Returns (vid, community).
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
    m2 = 2.0 * und.count()
    if m2 == 0:
        return _vertices_of(edges).withColumn("community", F.col("vid"))
    deg = adj.groupBy("v").agg(F.count("*").alias("k")).cache()
    comm = deg.select(F.col("v").alias("vid"), F.col("v").alias("community"))
    quiet = 0
    for i in range(1, max_iterations + 1):
        cmap = comm.select(F.col("vid").alias("n"), F.col("community").alias("nc"))
        ctot = (
            comm.join(deg.withColumnRenamed("v", "vid"), "vid")
            .groupBy("community")
            .agg(F.sum("k").alias("tot"))
        )
        v2c = adj.join(cmap, "n").groupBy("v", "nc").agg(F.count("*").alias("w"))
        # full move delta = insertion gain MINUS removal cost
        # (AlgoLeiden.java:142,175 computes both terms; without the removal
        # term, symmetric vertices swap communities forever)
        cur = (
            comm.withColumnRenamed("vid", "v")
            .join(ctot, "community")
            .withColumnRenamed("tot", "tot_cur")
        )
        w_cur = (
            v2c.join(
                comm.select(F.col("vid").alias("v"), F.col("community").alias("nc")),
                ["v", "nc"],
            )
            .select("v", F.col("w").alias("w_cur"))
        )
        cand = (
            v2c.join(deg, "v")
            .join(cur.select("v", "community", "tot_cur"), "v")
            .join(w_cur, "v", "left")
            .filter(F.col("nc") != F.col("community"))
            .join(ctot.withColumnRenamed("community", "nc"), "nc")
            .withColumn(
                "gain",
                (F.col("w") - F.coalesce(F.col("w_cur"), F.lit(0.0))) / F.lit(m2)
                - F.lit(resolution)
                * F.col("k")
                * (F.col("tot") - F.col("tot_cur") + F.col("k"))
                / F.lit(m2 * m2),
            )
        )
        w_best = Window.partitionBy("v").orderBy(F.desc("gain"), F.asc("nc"))
        best = (
            cand.withColumn("__rn", F.row_number().over(w_best))
            .filter(F.col("__rn") == 1)
            .select(F.col("v").alias("vid"), F.col("nc").alias("new_c"), "gain")
        )
        # alternating move gate (vid-hash parity per round) breaks the
        # synchronous-oscillation symmetry that plain simultaneous moving
        # suffers on regular structures — standard distributed-Louvain trick
        gate = (F.abs(F.xxhash64(F.col("vid"))) + F.lit(i)) % 2 == 0
        moved = (F.col("gain") > 0) & gate
        comm = (
            comm.join(best, "vid", "left")
            .select(
                "vid",
                F.when(moved, F.col("new_c"))
                .otherwise(F.col("community"))
                .alias("community"),
                moved.alias("__moved"),
            )
            .truncate_plan()
        )
        # convergence early-exit (AlgoLeiden.java local-move loop exits when
        # no vertex moves) — the count scans the just-truncated frame, cheap.
        # The alternating gate only lets one parity class move per round, so
        # two consecutive quiet rounds (both parities) are needed to confirm.
        moves = comm.filter(F.col("__moved")).limit(1).count()
        comm = comm.drop("__moved")
        quiet = quiet + 1 if moves == 0 else 0
        if quiet >= 2:
            break
    # refinement: split internally-disconnected communities
    cm = comm.select(F.col("vid").alias("a"), F.col("community").alias("ca"))
    intra = (
        und.join(cm, "a")
        .join(
            comm.select(F.col("vid").alias("b"), F.col("community").alias("cb")), "b"
        )
        .filter(F.col("ca") == F.col("cb"))
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
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
    max_iterations: int = 30,
) -> DataFrame:
    """A* shortest path (AlgoAStar.java — yields (path, weight); the
    reference's heuristic is geographic great-circle distance; here any
    admissible per-vertex heuristic DataFrame (vid, h) is accepted,
    defaulting to h=0 ≡ Dijkstra).

    Distributed form: label-correcting frontier relaxation where the
    heuristic prunes expansions with g + h ≥ best-known target distance —
    the frontier-parallel equivalent of A*'s priority queue (a strict
    best-first queue is inherently sequential; pruning preserves the
    optimality argument for admissible h).  Returns one row
    (path array<long>, weight double), empty if unreachable.
    """
    e = _weighted(edges).cache()
    spark = edges.sparkSession
    # label frame; __chg marks the labels the last superstep improved,
    # which are the frontier the next one expands
    best = spark.createDataFrame(
        [(source, 0.0, [source], True)],
        "vid long, distance double, path array<long>, __chg boolean",
    )
    bound = 0.0 if source == target else None  # best-known target distance
    h = heuristic.select("vid", "h") if heuristic is not None else None
    ss = Supersteps()
    for _ in range(max_iterations):
        frontier = best.filter("__chg")
        exp = (
            frontier.join(e, frontier["vid"] == e["src"], "inner")
            .filter(~F.array_contains("path", F.col("dst")))
            .select(
                F.col("dst").alias("vid"),
                (F.col("distance") + F.col("w")).alias("distance"),
                F.concat("path", F.array(F.col("dst"))).alias("path"),
            )
        )
        if bound is not None:
            if h is not None:
                exp = (
                    exp.join(h, "vid", "left")
                    .filter(
                        F.col("distance") + F.coalesce(F.col("h"), F.lit(0.0))
                        < F.lit(bound)
                    )
                    .drop("h")
                )
            else:
                exp = exp.filter(F.col("distance") < F.lit(bound))
        stepped = _relax(best, exp, "path")
        # one action: the improvement flag and the next pruning bound
        changed, bound = ss.step(
            stepped,
            F.max("__chg"),
            F.min(F.when(F.col("vid") == target, F.col("distance"))),
        )
        best = ss.carry(stepped)
        if not changed:
            break
    best = ss.finish(best)
    e.unpersist()
    return best.filter(F.col("vid") == target).select(
        "path", F.col("distance").alias("weight")
    )


def _relax(best: DataFrame, exp: DataFrame, tie: str) -> DataFrame:
    """Merge candidate labels ``exp`` (vid, distance, ``tie``) into the
    label frame ``best``: per vertex the least (distance, ``tie``) wins,
    and ``__chg`` flags the vertices whose distance strictly improved (or
    that had no label), i.e. the next frontier."""
    merged = best.select("vid", "distance", tie, F.col("distance").alias("__old")).unionByName(
        exp.select("vid", "distance", tie, F.lit(None).cast("double").alias("__old"))
    )
    return (
        merged.groupBy("vid")
        .agg(F.min(F.struct("distance", tie)).alias("__b"), F.min("__old").alias("__old"))
        .select(
            "vid",
            "__b.distance",
            f"__b.{tie}",
            (F.col("__old").isNull() | (F.col("__b.distance") < F.col("__old"))).alias("__chg"),
        )
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
    e = _weighted(edges).cache()
    spark = edges.sparkSession
    # __chg marks the labels added by the last superstep (the frontier);
    # an expansion adds one hop, so it never repeats a kept (vid, path)
    state = spark.createDataFrame(
        [(source, 0.0, [source], True)],
        "vid long, weight double, path array<long>, __chg boolean",
    )
    ss = Supersteps()
    for _ in range(max_depth):
        frontier = state.filter("__chg")
        exp = (
            frontier.join(e, frontier["vid"] == e["src"], "inner")
            .filter(~F.array_contains("path", F.col("dst")))
            .select(
                F.col("dst").alias("vid"),
                (F.col("weight") + F.col("w")).alias("weight"),
                F.concat("path", F.array(F.col("dst"))).alias("path"),
            )
        )
        merged = state.withColumn("__chg", F.lit(False)).unionByName(
            exp.dropDuplicates(["vid", "path"]).withColumn("__chg", F.lit(True))
        )
        w = Window.partitionBy("vid").orderBy(F.asc("weight"), F.asc("path"))
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
    e.unpersist()
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
    augmenting path (one row) is the only driver-side materialization.
    Residual updates are a broadcast join against the path's edge list,
    checkpointed per round.  ``max_augmentations`` bounds the sequential
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
    total = 0.0
    for _ in range(max_augmentations):
        # BFS shortest augmenting path in the residual graph
        live = res.filter(F.col("cap") > 0)
        frontier = spark.createDataFrame(
            [(source, [source])], "vid long, path array<long>"
        )
        seen = frontier.select("vid")
        found = None
        for _d in range(max_depth):
            exp = (
                frontier.join(live, frontier["vid"] == live["src"], "inner")
                .select(F.col("dst").alias("vid"), F.concat("path", F.array("dst")).alias("path"))
                .join(seen, "vid", "left_anti")
                .dropDuplicates(["vid"])
                .truncate_plan()
            )
            hit = exp.filter(F.col("vid") == sink).limit(1).collect()
            if hit:
                found = hit[0]["path"]
                break
            if exp.limit(1).count() == 0:
                break
            seen = seen.unionByName(exp.select("vid")).truncate_plan()
            frontier = exp
        if found is None:
            break
        path_edges = [(int(found[j]), int(found[j + 1])) for j in range(len(found) - 1)]
        pe = spark.createDataFrame(path_edges, "src long, dst long")
        bottleneck = (
            res.join(F.broadcast(pe), ["src", "dst"]).agg(F.min("cap")).collect()[0][0]
        )
        if not bottleneck or bottleneck <= 0:
            break
        total += float(bottleneck)
        delta = pe.withColumn("d", F.lit(-float(bottleneck))).unionByName(
            pe.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            .withColumn("d", F.lit(float(bottleneck)))
        )
        res = (
            res.join(F.broadcast(delta), ["src", "dst"], "left")
            .select("src", "dst", (F.col("cap") + F.coalesce("d", F.lit(0.0))).alias("cap"))
            .truncate_plan()
        )
    return spark.createDataFrame(
        [(total, source, sink)], "max_flow double, source_id long, sink_id long"
    )


# ---------------------------------------------------------------------------
# Maximal cliques
# ---------------------------------------------------------------------------


def maximal_cliques(
    edges: DataFrame, min_size: int = 3, max_size: int = 8
) -> DataFrame:
    """All maximal cliques (AlgoClique.java — Bron-Kerbosch with Tomita
    pivoting; yields (clique, size)).

    Distributed form: level-synchronous k-clique enumeration — cliques of
    size s+1 = size-s cliques joined with the adjacency of their largest
    member (ordering kills duplicates), all-membership verified with one
    explode + edge semi-join + count.  Bron-Kerbosch's recursive pivot
    stack is inherently sequential; level enumeration does the same
    search breadth-first with one join round per clique size, bounded by
    ``max_size`` (cliques above it are reported truncated — raise it
    explicitly for clique-dense graphs).  Maximality = no vertex extends
    the clique, tested with the same explode/count shape.
    Returns (clique array<long> ascending, size int).
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
        .cache()
    )
    spark = edges.sparkSession
    out = spark.createDataFrame([], "clique array<long>, size int")
    cliques = und.select(F.array("a", "b").alias("clique"))
    size = 2
    while size < max_size:
        # extend: w adjacent to the largest member, larger than it
        last = F.element_at("clique", -1)
        cand = (
            cliques.join(adj, last == adj["v"], "inner")
            .filter(F.col("n") > last)
            .select("clique", F.col("n").alias("w"))
        )
        # verify w adjacent to EVERY member: explode + edge join + count
        chk = cand.select("clique", "w", F.explode("clique").alias("m"))
        ok = (
            chk.join(und, (chk["m"] == und["a"]) & (chk["w"] == und["b"]), "inner")
            .groupBy("clique", "w")
            .agg(F.count("*").alias("hits"))
            .filter(F.col("hits") == size)
        )
        nxt = ok.select(F.concat("clique", F.array("w")).alias("clique")).truncate_plan()
        # maximality of the current level: no vertex (any id) extends it
        ext = cliques.select("clique", F.explode("clique").alias("m")).join(
            adj, F.col("m") == adj["v"], "inner"
        )
        extendable = (
            ext.groupBy("clique", "n")
            .agg(F.count("*").alias("hits"))
            .filter((F.col("hits") == size) & ~F.array_contains("clique", F.col("n")))
            .select("clique")
            .distinct()
        )
        maximal = cliques.join(extendable, "clique", "left_anti")
        if size >= min_size:
            out = out.unionByName(
                maximal.withColumn("size", F.lit(size))
            ).truncate_plan()
        if nxt.limit(1).count() == 0:
            return out
        cliques = nxt
        size += 1
    # emit the final level unconditionally (truncated at max_size)
    if size >= min_size:
        out = out.unionByName(cliques.withColumn("size", F.lit(size)))
    return out
