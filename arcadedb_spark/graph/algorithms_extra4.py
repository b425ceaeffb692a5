"""Fourth algo.* batch: training-free embeddings (HashGNN, unsupervised
GraphSAGE), hierarchical clustering, Steiner tree, and minimum spanning
arborescence — completing the reference's algo/ procedure inventory.

Reference: query/opencypher/procedures/algo/AlgoHashGNN.java,
AlgoGraphSAGE.java, AlgoHierarchicalClustering.java,
AlgoSteinerTree.java, AlgoMinSpanningArborescence.java.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

from arcadedb_spark.graph.algorithms import _undirected_adj
from arcadedb_spark.graph.algorithms_extra import _relax, _weighted
from arcadedb_spark.graph.superstep import Supersteps

_MAX_LONG = (1 << 63) - 1


# ---------------------------------------------------------------------------
# HashGNN — minhash message passing, fully distributed, training-free
# ---------------------------------------------------------------------------


def hashgnn(
    edges: DataFrame,
    dim: int = 64,
    iterations: int = 3,
    seed: int = 42,
    direction: str = "both",
) -> DataFrame:
    """algo.hashgnn — YIELD (node, embedding) (AlgoHashGNN.java).

    Each node starts from a structural-identity sketch (seeded hashes of
    its vid); each round OR-combines neighborhood feature sets, which
    under MinHash is exactly the elementwise minimum of the sketches
    (min of independents ≡ sketch of the union), then re-mixes so
    consecutive rounds stay independent.  Final embedding = per-round
    sketches concatenated, mapped to [-1, 1] floats and L2-normalised.

    Scale: per round one degree-bounded groupBy (collect_list of
    neighbor sketches folded with zip_with/least) — no driver state, no
    all-pairs anything."""
    per_round = max(1, dim // max(1, iterations))
    adj = _undirected_adj(edges) if direction == "both" else (
        edges.select(F.col("src").alias("v"), F.col("dst").alias("n"))
        if direction == "out"
        else edges.select(F.col("dst").alias("v"), F.col("src").alias("n"))
    )
    adj = adj.cache()
    verts = adj.select(F.col("v").alias("vid")).distinct()
    sig = verts.select(
        "vid",
        F.array(
            *[F.xxhash64("vid", F.lit(seed), F.lit(i)) for i in range(per_round)]
        ).alias("sig"),
    )
    # carried frame: the current sketch plus every round's sketch so far
    state = sig.withColumn("acc", F.col("sig"))
    ss = Supersteps()
    for r in range(1, iterations):
        neigh = adj.join(state, adj["n"] == state["vid"], "inner").select(
            F.col("v").alias("vid"), "sig", F.lit(None).cast("array<long>").alias("acc")
        )
        mins = state.unionByName(neigh).groupBy("vid").agg(
            F.aggregate(
                F.collect_list("sig"),
                F.array_repeat(F.lit(_MAX_LONG), per_round),
                lambda acc, x: F.zip_with(acc, x, lambda a, b: F.least(a, b)),
            ).alias("sig"),
            F.first("acc", ignorenulls=True).alias("acc"),
        )
        # re-mix so round r+1's minhash space is independent of round r's
        state = ss.carry(
            mins.withColumn(
                "sig", F.transform("sig", lambda x: F.xxhash64(x, F.lit(seed + r)))
            ).withColumn("acc", F.concat("acc", "sig"))
        )
    out = ss.finish(state)
    adj.unpersist()
    floats = F.transform(
        "acc", lambda x: (x % 1000003).cast("double") / F.lit(1000003.0)
        * F.lit(2.0) - F.lit(1.0)
    )
    norm = F.sqrt(
        F.aggregate(
            floats, F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    return out.select(
        F.col("vid").alias("node"),
        F.transform(floats, lambda x: x / norm).alias("embedding"),
    )


# ---------------------------------------------------------------------------
# GraphSAGE (unsupervised, random projections) — distributed
# ---------------------------------------------------------------------------

_SAGE_UDFS: dict = {}


def _sage_project_udf(in_dim: int, out_dim: int, seed: int):
    """Memoized Arrow-batched projection h → relu(h @ W), rows
    L2-normalised; W is a seeded Gaussian reconstructed identically in
    every executor (no broadcast payload needed)."""
    key = (in_dim, out_dim, seed)
    if key not in _SAGE_UDFS:
        from pyspark.sql.functions import pandas_udf

        def project(batch):
            import numpy as np
            import pandas as pd

            rng = np.random.default_rng(seed)
            w = rng.standard_normal((in_dim, out_dim)) / math.sqrt(in_dim)
            x = np.stack(batch.apply(lambda a: np.asarray(a, dtype="float64")))
            y = np.maximum(x @ w, 0.0)
            n = np.linalg.norm(y, axis=1, keepdims=True)
            n[n == 0.0] = 1.0
            y = y / n
            return pd.Series(list(y))

        _SAGE_UDFS[key] = pandas_udf(project, ArrayType(DoubleType()))
    return _SAGE_UDFS[key]


def graphsage(
    edges: DataFrame,
    dim: int = 64,
    layers: int = 2,
    seed: int = 42,
) -> DataFrame:
    """algo.graphsage — YIELD (node, embedding) (AlgoGraphSAGE.java,
    unsupervised variant: no labels, no training).

    Features start from structural identity (log-degree + seeded noise);
    each layer mean-aggregates neighbor features (degree-bounded groupBy
    fold), concatenates [self ‖ neighborhood], applies a seeded random
    linear projection + ReLU (Arrow-batched, the matrix is rebuilt from
    the seed in each executor), and L2-normalises.  Captures multi-hop
    structural similarity deterministically for a fixed seed."""
    adj = _undirected_adj(edges).cache()
    deg = adj.groupBy(F.col("v").alias("vid")).agg(F.count("*").alias("d"))
    noise = [
        (F.xxhash64("vid", F.lit(seed), F.lit(i)) % 1000003).cast("double")
        / F.lit(1000003.0) * F.lit(2.0) - F.lit(1.0)
        for i in range(dim - 1)
    ]
    h = deg.select(
        "vid", F.array(F.log1p("d"), *noise).alias("h")
    ).truncate_plan()
    for layer in range(layers):
        neigh = adj.join(h, adj["n"] == h["vid"], "inner").select(
            F.col("v").alias("vid"), "h"
        )
        mean = neigh.groupBy("vid").agg(
            (
                F.aggregate(
                    F.collect_list("h"),
                    F.array_repeat(F.lit(0.0), dim),
                    lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
                )
            ).alias("s"),
            F.count("*").alias("n"),
        ).select(
            "vid", F.transform("s", lambda x: x / F.col("n")).alias("m")
        )
        combined = h.join(mean, "vid", "left").select(
            "vid",
            F.concat(
                "h", F.coalesce("m", F.array_repeat(F.lit(0.0), dim))
            ).alias("x"),
        )
        proj = _sage_project_udf(2 * dim, dim, seed + layer)
        h = combined.select("vid", proj("x").alias("h"))
        h = h.truncate_plan()
    return h.select(F.col("vid").alias("node"), F.col("h").alias("embedding"))


# ---------------------------------------------------------------------------
# Hierarchical clustering — single linkage == max-similarity MST cut
# ---------------------------------------------------------------------------


def hierarchical_clustering(
    edges: DataFrame, num_clusters: int = 2
) -> DataFrame:
    """algo.hierarchicalClustering(numClusters) — YIELD (nodeId, cluster)
    (AlgoHierarchicalClustering.java: agglomerative single-linkage over
    neighborhood-Jaccard similarity).

    Classical equivalence replaces the sequential merge loop: single
    linkage's dendrogram is exactly the maximum-similarity spanning
    tree, and "stop at k clusters" is "cut the k−1 weakest tree links" —
    so the whole thing is one distributed Borůvka MST + a WCC, no
    driver-side union-find."""
    from arcadedb_spark.graph.algorithms import connected_components
    from arcadedb_spark.graph.algorithms_extra3 import knn_similarity
    from arcadedb_spark.graph.algorithms_more import mst

    verts = _undirected_adj(edges).select(
        F.col("v").alias("vid")
    ).distinct().cache()
    n_verts = verts.count()
    sim = (
        knn_similarity(edges, k=n_verts, direction="both")
        .filter(F.col("node1") < F.col("node2"))
        .select(
            F.col("node1").alias("src"),
            F.col("node2").alias("dst"),
            (-F.col("similarity")).alias("weight"),
        )
    )
    tree = mst(sim).select(
        "a", "b", (-F.col("weight")).alias("similarity")
    ).cache()
    n_tree = tree.count()
    base_comps = n_verts - n_tree  # forest components before any cut
    cut = max(0, min(num_clusters, n_verts) - base_comps)
    keep = tree.orderBy(F.desc("similarity"), F.asc("a"), F.asc("b")).limit(
        max(0, n_tree - cut)
    )
    comp = connected_components(
        keep.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    return (
        verts.join(comp, "vid", "left")
        .select(
            F.col("vid").alias("nodeId"),
            F.coalesce("component", "vid").alias("cluster"),
        )
    )


# ---------------------------------------------------------------------------
# Steiner tree — Kou–Markowsky–Berman 2-approximation
# ---------------------------------------------------------------------------


def _sssp_parents(
    edges: DataFrame, source: int, max_iterations: int = 30
) -> DataFrame:
    """Label-correcting SSSP keeping the predecessor: (vid, distance,
    parent).  Undirected (Steiner trees are an undirected notion)."""
    e = _weighted(edges)
    und = e.unionByName(
        e.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    ).cache()
    spark = edges.sparkSession
    best = spark.createDataFrame(
        [(source, 0.0, None, True)],
        "vid long, distance double, parent long, __chg boolean",
    )
    ss = Supersteps()
    for _ in range(max_iterations):
        frontier = best.filter("__chg")
        relaxed = (
            frontier.join(und, frontier["vid"] == und["src"], "inner")
            .select(
                F.col("dst").alias("vid"),
                (F.col("distance") + F.col("w")).alias("distance"),
                F.col("src").alias("parent"),
            )
        )
        stepped = _relax(best, relaxed, "parent")
        changed = ss.step(stepped, F.max("__chg"))[0]
        best = ss.carry(stepped)
        if not changed:
            break
    best = ss.finish(best)  # detach before releasing the caches
    und.unpersist()
    return best.drop("__chg")


def steiner_tree(
    edges: DataFrame, terminals: list[int], max_iterations: int = 30
) -> DataFrame:
    """algo.steinerTree(terminals) — YIELD (source, target, weight,
    totalWeight): KMB 2(1−1/t)-approximation (AlgoSteinerTree.java).

    SSSP from each terminal (t is user-supplied and small — the SSSPs
    themselves are distributed); the t×t metric closure and its MST are
    driver-side (t² scalars); path expansion walks predecessor chains
    with per-step 1-row lookups batched across all MST edges; leaf
    pruning is iterative degree-filtering, all joins."""
    spark = edges.sparkSession
    empty = spark.createDataFrame(
        [], "source long, target long, weight double, totalWeight double"
    )
    terminals = sorted(set(int(t) for t in terminals))
    if len(terminals) < 2:
        return empty
    # 1. SSSP per terminal, tagged
    maps = []
    for t in terminals:
        maps.append(
            _sssp_parents(edges, t, max_iterations=max_iterations)
            .withColumn("terminal", F.lit(t))
        )
    allp = maps[0]
    for m in maps[1:]:
        allp = allp.unionByName(m)
    allp = allp.truncate_plan()
    # 2. metric closure on terminals (t² rows → driver)
    closure = {
        (r["terminal"], r["vid"]): r["distance"]
        for r in allp.filter(F.col("vid").isin(terminals)).collect()
    }
    # 3. MST of the closure (Kruskal on ≤ t² edges, driver-side)
    cand = sorted(
        (d, a, b)
        for (a, b), d in closure.items()
        if a < b
    )
    par = {t: t for t in terminals}

    def find(x):
        while par[x] != x:
            par[x] = par[par[x]]
            x = par[x]
        return x

    mst_pairs = []
    for d, a, b in cand:
        ra, rb = find(a), find(b)
        if ra != rb:
            par[ra] = rb
            mst_pairs.append((a, b))
    if len(mst_pairs) < len(terminals) - 1:
        return empty  # terminals not mutually reachable
    # 4. expand each closure edge (a,b) along a's predecessor chain from b
    frontier = spark.createDataFrame(
        [(a, b) for a, b in mst_pairs], "terminal long, cur long"
    )
    pmap = allp.select(
        "terminal", F.col("vid").alias("cur"), "parent",
        F.col("distance").alias("dist"),
    )
    tree_edges = None
    for _ in range(max_iterations * len(terminals)):
        step = frontier.join(pmap, ["terminal", "cur"], "inner").filter(
            F.col("parent").isNotNull()
        )
        seg = step.select(
            F.least("parent", "cur").alias("lo"),
            F.greatest("parent", "cur").alias("hi"),
        )
        tree_edges = seg if tree_edges is None else tree_edges.unionByName(seg)
        frontier = step.select("terminal", F.col("parent").alias("cur"))
        frontier = frontier.truncate_plan()
        if frontier.limit(1).count() == 0:
            break
    if tree_edges is None:
        return empty
    ew = _weighted(edges).select(
        F.least("src", "dst").alias("lo"),
        F.greatest("src", "dst").alias("hi"),
        "w",
    ).groupBy("lo", "hi").agg(F.min("w").alias("w"))
    sub = tree_edges.distinct().join(ew, ["lo", "hi"], "inner")
    # 5. iteratively prune non-terminal leaves
    sub = sub.truncate_plan()
    term_df = spark.createDataFrame([(t,) for t in terminals], "vid long")
    for _ in range(max_iterations):
        degs = (
            sub.select(F.col("lo").alias("vid"))
            .unionByName(sub.select(F.col("hi").alias("vid")))
            .groupBy("vid")
            .agg(F.count("*").alias("d"))
        )
        leaves = degs.filter(F.col("d") == 1).join(
            term_df, "vid", "left_anti"
        )
        if leaves.limit(1).count() == 0:
            break
        sub = (
            sub.join(leaves.select(F.col("vid").alias("lo")), "lo", "left_anti")
            .join(leaves.select(F.col("vid").alias("hi")), "hi", "left_anti")
            .truncate_plan()
        )
    total = sub.agg(F.sum("w")).collect()[0][0] or 0.0
    return sub.select(
        F.col("lo").alias("source"),
        F.col("hi").alias("target"),
        F.col("w").alias("weight"),
        F.lit(float(total)).alias("totalWeight"),
    )


# ---------------------------------------------------------------------------
# Minimum spanning arborescence — Chu-Liu/Edmonds, distributed loop
# ---------------------------------------------------------------------------


def min_spanning_arborescence(
    edges: DataFrame, root: int, max_contractions: int = 15
) -> DataFrame:
    """algo.msa(root) — YIELD (source, target, weight, totalWeight):
    directed minimum spanning tree rooted at ``root``
    (AlgoMinSpanningArborescence.java, Chu-Liu/Edmonds).

    Distributed formulation: each contraction round is (a) a per-vertex
    min-incoming-edge groupBy, (b) an SCC call on the chosen functional
    graph to find cycles, (c) a relabel-join that contracts cycles and
    reweights entering edges by −chosen_w(head).  Rounds are bounded by
    ``max_contractions`` (each round strictly shrinks the vertex set);
    unwinding replays the per-level cycle frames with joins only.
    Returns empty if some vertex is unreachable from the root."""
    from arcadedb_spark.graph.algorithms import (
        strongly_connected_components,
    )

    spark = edges.sparkSession
    empty = spark.createDataFrame(
        [], "source long, target long, weight double, totalWeight double"
    )
    e0 = _weighted(edges).filter(F.col("src") != F.col("dst"))
    # rows carry original identity through contractions
    E = e0.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), F.col("w"),
        F.col("src").alias("os"), F.col("dst").alias("od"),
        F.col("w").alias("ow"),
    ).truncate_plan()
    verts = (
        e0.select(F.col("src").alias("vid"))
        .unionByName(e0.select(F.col("dst").alias("vid")))
        .distinct()
        .truncate_plan()
    )
    n_target = verts.filter(F.col("vid") != root).count()
    levels = []  # per contraction: (cycle_map, cyc_edges with orig ids)
    final_chosen = None
    for _ in range(max_contractions):
        cur = E.filter(F.col("u") != F.col("v")).filter(F.col("v") != root)
        w_win = Window.partitionBy("v").orderBy(
            F.asc("w"), F.asc("u"), F.asc("os"), F.asc("od")
        )
        chosen = (
            cur.withColumn("__rn", F.row_number().over(w_win))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .truncate_plan()
        )
        cur_verts = (
            E.select(F.col("u").alias("vid"))
            .unionByName(E.select(F.col("v").alias("vid")))
            .distinct()
            .filter(F.col("vid") != root)
        )
        if chosen.count() < cur_verts.count():
            return empty  # some supervertex has no incoming edge
        comp = strongly_connected_components(
            chosen.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        )
        cyc_ids = (
            comp.groupBy("component").agg(F.count("*").alias("n"))
            .filter(F.col("n") > 1)
            .select("component")
        )
        cycle_map = comp.join(cyc_ids, "component").select(
            "vid", F.col("component").alias("cid")
        ).truncate_plan()
        if cycle_map.limit(1).count() == 0:
            final_chosen = chosen
            break
        cyc_edges = (
            chosen.alias("c")
            .join(cycle_map.alias("mu"), F.col("c.u") == F.col("mu.vid"))
            .join(cycle_map.alias("mv"), F.col("c.v") == F.col("mv.vid"))
            .filter(F.col("mu.cid") == F.col("mv.cid"))
            .select(
                F.col("mu.cid").alias("cid"), F.col("c.v").alias("head"),
                F.col("c.os"), F.col("c.od"), F.col("c.ow"),
            )
            .truncate_plan()
        )
        levels.append((cycle_map, cyc_edges))
        chosen_w = chosen.select(F.col("v").alias("cw_v"), F.col("w").alias("cw"))
        mu = cycle_map.select(F.col("vid").alias("u"), F.col("cid").alias("ucid"))
        mv = cycle_map.select(F.col("vid").alias("v"), F.col("cid").alias("vcid"))
        E = (
            E.join(mu, "u", "left")
            .join(mv, "v", "left")
            .join(chosen_w, E["v"] == F.col("cw_v"), "left")
            .select(
                F.coalesce("ucid", "u").alias("u"),
                F.coalesce("vcid", "v").alias("v"),
                F.when(
                    F.col("vcid").isNotNull(), F.col("w") - F.col("cw")
                ).otherwise(F.col("w")).alias("w"),
                "os", "od", "ow",
                F.col("vcid").isNotNull().alias("entered"),
                E["v"].alias("head_prev"),
            )
            .filter(F.col("u") != F.col("v"))
            # head_prev tracks the pre-contraction head for unwinding
            .truncate_plan()
        )
        # keep only the cheapest representative per (u, v, head_prev)?
        # No — keep all rows; min-selection happens per round.
        E = E.drop("entered")
    if final_chosen is None:
        return empty  # still cyclic after max_contractions
    # Unwind: start from the top-level chosen edges (original ids + the
    # head at the current level), expanding one contraction at a time.
    sol = final_chosen.select("os", "od", "ow").truncate_plan()
    for cycle_map, cyc_edges in reversed(levels):
        # the solution edge entering cycle `cid` does so at the original
        # head `od` mapped to that level's pre-contraction vertex — which
        # is exactly od's cycle membership at this level
        entering = (
            sol.join(cycle_map, sol["od"] == cycle_map["vid"], "inner")
            .select("cid", F.col("vid").alias("entry_head"))
            .distinct()
        )
        add = (
            cyc_edges.join(entering, "cid", "inner")
            .filter(F.col("head") != F.col("entry_head"))
            .select("os", "od", "ow")
        )
        sol = sol.unionByName(add).truncate_plan()
    if sol.count() != n_target:
        return empty
    total = sol.agg(F.sum("ow")).collect()[0][0] or 0.0
    return sol.select(
        F.col("os").alias("source"),
        F.col("od").alias("target"),
        F.col("ow").alias("weight"),
        F.lit(float(total)).alias("totalWeight"),
    )
