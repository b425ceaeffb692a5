"""Final algo.* batch: point-to-point shortest paths (Dijkstra /
Bellman-Ford with path reconstruction), bridges, articulation points,
biconnected components, DFS order, neighborhood-similarity kNN, and
maximum bipartite matching.

Reference: query/opencypher/procedures/algo/AlgoDijkstra.java,
AlgoBellmanFord.java, AlgoBridges.java, AlgoArticulationPoints.java,
AlgoBiconnectedComponents.java, AlgoDFS.java, AlgoKNN.java,
AlgoBipartiteMatching.java.

Scale notes per function: bridges and kNN are fully distributed;
DFS order, Tarjan articulation/biconnected, and Hopcroft-Karp matching
are inherently sequential (DFS discovery order / augmenting paths), so
they run driver-side behind an explicit ``max_edges`` cap that errors
loudly — the same contract the reference's single-JVM engine has
implicitly.  (The PRAM alternative, Tarjan-Vishkin tree contraction, is
documented as the scale-up path but not worth its complexity before a
real >cap workload exists.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from arcadedb_spark.graph.algorithms import _undirected_adj, connected_components
from arcadedb_spark.graph.algorithms_extra import _relax, _weighted
from arcadedb_spark.graph.superstep import Supersteps


def _capped_edge_list(edges: DataFrame, max_edges: int, what: str):
    """Collect (src, dst) onto the driver behind an explicit cap."""
    rows = edges.select("src", "dst").limit(max_edges + 1).collect()
    if len(rows) > max_edges:
        raise ValueError(
            f"{what} is inherently sequential and runs driver-side; the "
            f"graph exceeds max_edges={max_edges}. Raise the cap "
            f"explicitly if the driver has memory for it."
        )
    return [(r[0], r[1]) for r in rows]


# ---------------------------------------------------------------------------
# Point-to-point shortest paths with path reconstruction
# ---------------------------------------------------------------------------


def dijkstra_path(
    edges: DataFrame, source: int, target: int, max_iterations: int = 30
) -> DataFrame:
    """algo.dijkstra(start, end) — YIELD (path, weight).

    Dijkstra with non-negative weights is A* with h=0; reuse the
    frontier-parallel label-correcting kernel (AlgoDijkstra.java)."""
    from arcadedb_spark.graph.algorithms_extra import astar

    return astar(edges, source, target, heuristic=None,
                 max_iterations=max_iterations)


def bellman_ford_path(
    edges: DataFrame, source: int, target: int, max_iterations: int = 30
) -> DataFrame:
    """algo.bellmanford(start, end) — YIELD (path, weight, negativeCycle).

    Label-correcting relaxation that admits negative edge weights
    (AlgoBellmanFord.java).  Shortest walks are simple when no negative
    cycle exists, so the frontier drops re-visits; a final unrestricted
    relaxation round that still improves any distance flags a negative
    cycle (the classic V-th-round test), in which case path/weight are
    null."""
    e = _weighted(edges).cache()
    spark = edges.sparkSession
    best = spark.createDataFrame(
        [(source, 0.0, [source], True)],
        "vid long, distance double, path array<long>, __chg boolean",
    )
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
        stepped = _relax(best, exp, "path")
        changed = ss.step(stepped, F.max("__chg"))[0]
        best = ss.carry(stepped)
        if not changed:
            break
    # `best` feeds the V-th-round test and the hit below
    best = ss.finish(best)
    # V-th-round improvement test (unrestricted by the simple-path filter)
    improved = (
        best.join(e, best["vid"] == e["src"], "inner")
        .join(
            best.select(F.col("vid").alias("dvid"),
                        F.col("distance").alias("ddist")),
            F.col("dst") == F.col("dvid"),
            "left",
        )
        .filter(
            F.col("ddist").isNull()
            | (F.col("distance") + F.col("w") < F.col("ddist") - F.lit(1e-12))
        )
        .limit(1)
        .count()
    )
    neg = improved > 0
    e.unpersist()  # the lazy `hit` below reads only the truncated `best`
    hit = best.filter(F.col("vid") == target)
    if neg:
        return spark.createDataFrame(
            [(None, None, True)],
            "path array<long>, weight double, negativeCycle boolean",
        )
    return hit.select(
        F.col("path"),
        F.col("distance").alias("weight"),
        F.lit(False).alias("negativeCycle"),
    )


# ---------------------------------------------------------------------------
# Bridges — fully distributed via spanning-forest XOR tagging
# ---------------------------------------------------------------------------


def _bfs_forest(edges: DataFrame, max_depth: int = 64):
    """BFS spanning forest from each component's min-vid root.

    Returns (tree, levels, depth): tree = (vid, parent, level) for
    non-root vertices, levels = (vid, level) for all, depth = max level
    reached.  O(diameter) supersteps, frontier-parallel."""
    adj = _undirected_adj(edges).cache()
    comp = connected_components(edges)
    visited = frontier = comp.filter(F.col("vid") == F.col("component")).select(
        "vid", F.lit(0).alias("level"), F.lit(None).cast("long").alias("parent")
    )
    depth = 0
    ss = Supersteps(level="level")
    for lvl in range(1, max_depth + 1):
        nxt = (
            frontier.join(adj, frontier["vid"] == adj["v"], "inner")
            .groupBy(F.col("n").alias("vid"))
            .agg(F.min("v").alias("parent"))
            .join(visited.select("vid"), "vid", "left_anti")
            .withColumn("level", F.lit(lvl))
            .select("vid", "level", "parent")
        )
        if ss.step(nxt, F.count(F.lit(1)))[0] == 0:
            break
        depth = lvl
        visited = ss.carry(visited.unionByName(nxt))
        frontier = ss.frontier
    visited = ss.finish(visited)
    adj.unpersist()
    return visited.filter(F.col("parent").isNotNull()), visited, depth


def bridges(edges: DataFrame, max_depth: int = 64) -> DataFrame:
    """algo.bridges() — YIELD (source, target), fully distributed.

    Replaces the reference's sequential Tarjan DFS (AlgoBridges.java)
    with the random-XOR-tag certificate over an arbitrary spanning
    forest: every non-tree edge instance gets a pseudorandom 64-bit tag
    XOR-ed onto both endpoints; S(v) = XOR over v's subtree equals the
    XOR of tags of non-tree edges with exactly one endpoint below v, so
    the tree edge above v is a bridge iff S(v) == 0 (collision odds
    2^-64 per edge).  Parallel edges cancel into non-bridges naturally
    because the duplicate instance is itself a covering non-tree edge.

    Cost: one WCC + one BFS + `depth` bounded-width XOR sweeps — every
    step an equi-join + groupBy, no driver-side state."""
    spark = edges.sparkSession
    tree, levels, depth = _bfs_forest(edges, max_depth=max_depth)
    inst = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
        )
        .withColumn(
            "idx",
            F.row_number().over(
                Window.partitionBy("lo", "hi").orderBy(F.lit(1))
            ),
        )
    )
    tree_pairs = tree.select(
        F.least("parent", "vid").alias("lo"),
        F.greatest("parent", "vid").alias("hi"),
        F.col("vid").alias("child"),
    )
    # one instance (idx=1) of each tree pair is the tree edge; the rest tag
    non_tree = inst.join(
        tree_pairs.select("lo", "hi").withColumn("is_tree", F.lit(True)),
        ["lo", "hi"],
        "left",
    ).filter(F.col("is_tree").isNull() | (F.col("idx") > 1))
    tagged = non_tree.withColumn("tag", F.xxhash64("lo", "hi", "idx"))
    t = (
        tagged.select(F.col("lo").alias("vid"), "tag")
        .unionByName(tagged.select(F.col("hi").alias("vid"), "tag"))
        .groupBy("vid")
        .agg(F.expr("bit_xor(tag)").alias("t"))
    )
    base = levels.select("vid").join(t, "vid", "left").select(
        "vid", F.coalesce("t", F.lit(0)).alias("t")
    ).truncate_plan()
    child_parent = tree.select(F.col("vid"), F.col("parent")).cache()
    # S_{i+1}(v) = T(v) XOR bit_xor over children c of S_i(c);
    # after `depth` rounds S(v) = XOR of T over v's whole subtree.
    s = base
    ss = Supersteps()
    for _ in range(depth):
        contrib = (
            s.join(child_parent, "vid")
            .groupBy(F.col("parent").alias("vid"))
            .agg(F.expr("bit_xor(t)").alias("cs"))
        )
        s = ss.carry(
            base.join(contrib, "vid", "left").select(
                "vid",
                F.col("t").bitwiseXOR(F.coalesce("cs", F.lit(0))).alias("t"),
            )
        )
    s = ss.finish(s)
    child_parent.unpersist()
    subtree_xor = s.select("vid", F.col("t").alias("s"))
    return (
        tree.join(subtree_xor, "vid")
        .filter(F.col("s") == 0)
        .select(F.col("parent").alias("source"), F.col("vid").alias("target"))
    )


# ---------------------------------------------------------------------------
# kNN over neighborhood Jaccard — fully distributed
# ---------------------------------------------------------------------------


def knn_similarity(
    edges: DataFrame, k: int = 10, direction: str = "both"
) -> DataFrame:
    """algo.knn(k) — YIELD (node1, node2, similarity): for each node the
    k most Jaccard-similar other nodes by adjacency-set overlap
    (AlgoKNN.java).

    Inverted-index self-join on shared neighbors — pairs with zero
    overlap are never materialized (the all-pairs matrix is never
    built), then a per-node top-k window.  Skew note: a hub neighbor of
    degree d fans out d² pairs; at scale cap hub contribution via
    AQE skew handling (enabled in the session)."""
    if direction == "out":
        adj = edges.select(F.col("src").alias("v"), F.col("dst").alias("n"))
    elif direction == "in":
        adj = edges.select(F.col("dst").alias("v"), F.col("src").alias("n"))
    else:
        adj = _undirected_adj(edges)
    adj = adj.distinct().cache()
    deg = adj.groupBy("v").agg(F.count("*").alias("d"))
    x = adj.select(F.col("v").alias("a"), "n")
    y = adj.select(F.col("v").alias("b"), "n")
    common = (
        x.join(y, "n")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
    )
    sim = (
        common.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
        .select(
            F.col("a").alias("node1"),
            F.col("b").alias("node2"),
            (F.col("c") / (F.col("da") + F.col("db") - F.col("c"))).alias(
                "similarity"
            ),
        )
    )
    w = Window.partitionBy("node1").orderBy(
        F.desc("similarity"), F.asc("node2")
    )
    return (
        sim.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# DFS order / Tarjan articulation + biconnected — capped driver-side
# ---------------------------------------------------------------------------


def dfs_order(
    edges: DataFrame,
    start: int,
    direction: str = "both",
    max_depth: int | None = None,
    max_edges: int = 2_000_000,
) -> DataFrame:
    """algo.dfs(start) — YIELD (node, depth) in DFS discovery order.

    DFS discovery order is inherently sequential (each step depends on
    the full prior visit history), so this runs driver-side behind
    ``max_edges`` — mirroring the reference's single-JVM AlgoDFS.java.
    Neighbors are visited in ascending vid order for determinism."""
    pairs = _capped_edge_list(edges, max_edges, "algo.dfs")
    adj: dict = {}
    for s, d in pairs:
        if direction in ("out", "both"):
            adj.setdefault(s, set()).add(d)
        if direction in ("in", "both"):
            adj.setdefault(d, set()).add(s)
    order = []
    seen = set()
    stack = [(start, 0)]
    while stack:
        v, depth = stack.pop()
        if v in seen:
            continue
        seen.add(v)
        order.append((v, depth))
        if max_depth is not None and depth >= max_depth:
            continue
        for n in sorted(adj.get(v, ()), reverse=True):
            if n not in seen:
                stack.append((n, depth + 1))
    spark = edges.sparkSession
    return spark.createDataFrame(order or [], "node long, depth int")


def _tarjan(pairs):
    """Iterative Tarjan over an undirected edge list.

    Returns (articulation_set, biconnected_components) where each
    biconnected component is a set of vertices."""
    adj: dict = {}
    for s, d in pairs:
        if s == d:
            continue
        adj.setdefault(s, []).append(d)
        adj.setdefault(d, []).append(s)
    for v in adj:
        adj[v].sort()
    disc: dict = {}
    low: dict = {}
    arts = set()
    comps = []
    estack = []
    timer = 0
    for root in sorted(adj):
        if root in disc:
            continue
        # frames: [v, parent, next-child index, parent-edge skipped?]
        stack = [[root, None, 0, False]]
        disc[root] = low[root] = timer
        timer += 1
        root_children = 0
        while stack:
            frame = stack[-1]
            v, parent, i, skipped = frame
            nbrs = adj[v]
            advanced = False
            while i < len(nbrs):
                n = nbrs[i]
                i += 1
                if n == parent and not skipped:
                    # skip exactly one copy of the tree edge back up
                    frame[3] = skipped = True
                    continue
                if n not in disc:
                    estack.append((v, n))
                    disc[n] = low[n] = timer
                    timer += 1
                    if v == root:
                        root_children += 1
                    frame[2] = i
                    stack.append([n, v, 0, False])
                    advanced = True
                    break
                if disc[n] < disc[v]:
                    estack.append((v, n))
                    if disc[n] < low[v]:
                        low[v] = disc[n]
            frame[2] = i
            if advanced:
                continue
            stack.pop()
            if stack:
                pv = stack[-1][0]
                if low[v] < low[pv]:
                    low[pv] = low[v]
                if low[v] >= disc[pv]:
                    # pv is the articulation boundary of a finished block
                    comp = set()
                    while estack:
                        a, b = estack.pop()
                        comp.add(a)
                        comp.add(b)
                        if (a, b) == (pv, v):
                            break
                    if comp:
                        comps.append(comp)
                    if pv != root:
                        arts.add(pv)
        if root_children >= 2:
            arts.add(root)
    return arts, comps


def articulation_points(
    edges: DataFrame, max_edges: int = 2_000_000
) -> DataFrame:
    """algo.articulationPoints() — YIELD (node).

    Tarjan lowpoint DFS, driver-side behind ``max_edges``
    (AlgoArticulationPoints.java; DFS-tree lowpoints have no
    frontier-parallel equivalent — Tarjan-Vishkin tree contraction is
    the known PRAM path if a real >cap workload appears)."""
    pairs = _capped_edge_list(edges, max_edges, "algo.articulationPoints")
    arts, _ = _tarjan(pairs)
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(v,) for v in sorted(arts)] or [], "node long"
    )


def biconnected_components(
    edges: DataFrame, max_edges: int = 2_000_000
) -> DataFrame:
    """algo.biconnectedComponents() — YIELD (node, componentId); nodes in
    multiple blocks (articulation points) repeat with different ids
    (AlgoBiconnectedComponents.java)."""
    pairs = _capped_edge_list(edges, max_edges, "algo.biconnectedComponents")
    _, comps = _tarjan(pairs)
    rows = [
        (v, cid) for cid, comp in enumerate(comps) for v in sorted(comp)
    ]
    spark = edges.sparkSession
    return spark.createDataFrame(rows or [], "node long, componentId int")


# ---------------------------------------------------------------------------
# Maximum bipartite matching — distributed 2-coloring + capped Hopcroft-Karp
# ---------------------------------------------------------------------------


def bipartite_matching(
    edges: DataFrame, max_edges: int = 2_000_000, max_depth: int = 64
) -> DataFrame:
    """algo.bipartiteMatching() — YIELD (node1, node2, matchingSize).

    The 2-coloring runs distributed (BFS parity, as bipartite_check);
    the augmenting-path search is Hopcroft-Karp driver-side behind
    ``max_edges`` (AlgoBipartiteMatching.java; maximum matching via
    augmenting paths is P-complete — no frontier-parallel form).
    Returns empty if the graph is not bipartite."""
    from arcadedb_spark.graph.algorithms_more import bipartite_check

    spark = edges.sparkSession
    empty = spark.createDataFrame(
        [], "node1 long, node2 long, matchingSize int"
    )
    if not bipartite_check(edges, max_depth=max_depth):
        return empty
    pairs = _capped_edge_list(edges, max_edges, "algo.bipartiteMatching")
    # rebuild the two sides by BFS parity on the driver copy (cheap: the
    # edge list is already capped)
    adj: dict = {}
    for s, d in pairs:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    color: dict = {}
    for root in sorted(adj):
        if root in color:
            continue
        color[root] = 0
        queue = [root]
        while queue:
            v = queue.pop()
            for n in adj[v]:
                if n not in color:
                    color[n] = 1 - color[v]
                    queue.append(n)
    left = sorted(v for v, c in color.items() if c == 0)
    # Hopcroft-Karp
    INF = float("inf")
    match_l: dict = {}
    match_r: dict = {}

    def bfs():
        dist = {}
        queue = []
        for u in left:
            if u not in match_l:
                dist[u] = 0
                queue.append(u)
            else:
                dist[u] = INF
        found = False
        qi = 0
        while qi < len(queue):
            u = queue[qi]
            qi += 1
            for v in adj.get(u, ()):
                w = match_r.get(v)
                if w is None:
                    found = True
                elif dist.get(w, INF) == INF:
                    dist[w] = dist[u] + 1
                    queue.append(w)
        return dist, found

    def dfs_aug(u, dist):
        for v in adj.get(u, ()):
            w = match_r.get(v)
            if w is None or (
                dist.get(w, INF) == dist[u] + 1 and dfs_aug(w, dist)
            ):
                match_l[u] = v
                match_r[v] = u
                return True
        dist[u] = INF
        return False

    import sys

    old_limit = sys.getrecursionlimit()
    sys.setrecursionlimit(max(old_limit, len(color) + 1000))
    try:
        while True:
            dist, found = bfs()
            if not found:
                break
            for u in left:
                if u not in match_l:
                    dfs_aug(u, dist)
    finally:
        sys.setrecursionlimit(old_limit)
    size = len(match_l)
    rows = [(u, v, size) for u, v in sorted(match_l.items())]
    return spark.createDataFrame(
        rows or [], "node1 long, node2 long, matchingSize int"
    )
