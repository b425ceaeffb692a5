"""CALL procedure registry: the ``CALL algo.*`` surface.

Reference: query/opencypher/procedures/algo/Algo*.java (~70 procedures
invoked as ``CALL algo.pageRank(...) YIELD ...``) registered through
function/procedure/ProcedureRegistry.java and executed by CallStep.java:71.

Here each procedure is a function (db, args) → DataFrame over the graph's
edge frames; the Cypher front end parses ``CALL ns.name(args) [YIELD c1,
c2] [RETURN …]`` and hands the result to the normal projection machinery.
Procedure names are case-insensitive; the first argument selects the edge
type(s) (default: all edges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arcadedb_spark.session import local_df

PROCEDURES = {}


def procedure(name: str):
    def deco(fn):
        PROCEDURES[name.lower()] = fn
        return fn

    return deco


def _edges(db, args):
    g = db.graph()
    etypes = [a for a in args if isinstance(a, str)]
    return g.edges(*etypes) if etypes else g.edges()


def _num(args, idx, default):
    nums = [a for a in args if isinstance(a, (int, float))]
    return nums[idx] if idx < len(nums) else default


@procedure("algo.pageRank")
def _p_pagerank(db, args) -> DataFrame:
    from arcadedb_spark.graph.algorithms import pagerank

    return pagerank(
        _edges(db, args), iterations=int(_num(args, 0, 20))
    ).select("vid", F.col("rank"))


@procedure("algo.wcc")
def _p_wcc(db, args) -> DataFrame:
    from arcadedb_spark.graph.algorithms import connected_components

    return connected_components(_edges(db, args))


@procedure("algo.scc")
def _p_scc(db, args) -> DataFrame:
    from arcadedb_spark.graph.algorithms import strongly_connected_components

    return strongly_connected_components(_edges(db, args))


@procedure("algo.labelPropagation")
def _p_lp(db, args) -> DataFrame:
    from arcadedb_spark.graph.algorithms import label_propagation

    return label_propagation(_edges(db, args), iterations=int(_num(args, 0, 10)))


@procedure("algo.louvain")
def _p_louvain(db, args) -> DataFrame:
    from arcadedb_spark.graph.algorithms import louvain

    return louvain(_edges(db, args))


@procedure("algo.triangleCount")
def _p_triangles(db, args) -> DataFrame:
    from arcadedb_spark.graph.algorithms import triangle_count

    return triangle_count(_edges(db, args))


@procedure("algo.degreeCentrality")
def _p_degree(db, args) -> DataFrame:
    from arcadedb_spark.graph.algorithms import degree_centrality

    return degree_centrality(_edges(db, args))


@procedure("algo.betweenness")
def _p_betweenness(db, args) -> DataFrame:
    from arcadedb_spark.graph.algorithms import betweenness_centrality

    return betweenness_centrality(_edges(db, args))


@procedure("algo.eigenvector")
def _p_eigen(db, args) -> DataFrame:
    from arcadedb_spark.graph.algorithms import eigenvector_centrality

    return eigenvector_centrality(_edges(db, args))


@procedure("algo.kCore")
def _p_kcore(db, args) -> DataFrame:
    from arcadedb_spark.graph.algorithms import k_core

    return k_core(_edges(db, args), k=int(_num(args, 0, 2)))


@procedure("algo.jaccard")
def _p_jaccard(db, args) -> DataFrame:
    from arcadedb_spark.graph.algorithms import jaccard_similarity

    return jaccard_similarity(_edges(db, args))


@procedure("algo.adamicAdar")
def _p_adamic(db, args) -> DataFrame:
    from arcadedb_spark.graph.algorithms import adamic_adar

    return adamic_adar(_edges(db, args))


@procedure("algo.fastRP")
def _p_fastrp(db, args) -> DataFrame:
    from arcadedb_spark.graph.algorithms import fastrp_embeddings

    return fastrp_embeddings(_edges(db, args), dim=int(_num(args, 0, 16)))


# -- long-tail procedures (graph/algorithms_more.py) ----------------------


def _simple(name: str, impl_name: str, *extra_builder):
    """Register a procedure that forwards (edges [, numeric args…])."""

    def fn(db, args, _i=impl_name):
        import importlib

        impl = getattr(
            importlib.import_module("arcadedb_spark.graph.algorithms_more"), _i
        )
        return impl(_edges(db, args))

    PROCEDURES[name.lower()] = fn


for _n, _i in {
    "algo.harmonic": "harmonic_centrality",
    "algo.eccentricity": "eccentricity",
    "algo.apsp": "apsp",
    "algo.topologicalSort": "topological_sort",
    "algo.cycleDetection": "cycle_detection",
    "algo.longestPathDAG": "longest_path_dag",
    "algo.localClusteringCoefficient": "local_clustering_coefficient",
    "algo.graphSummary": "graph_summary",
    "algo.preferentialAttachment": "preferential_attachment",
    "algo.totalNeighbors": "total_neighbors",
    "algo.resourceAllocation": "resource_allocation",
    "algo.articleRank": "article_rank",
    "algo.hits": "hits",
    "algo.slpa": "slpa",
    "algo.simRank": "simrank",
    "algo.mst": "mst",
}.items():
    _simple(_n, _i)


@procedure("algo.commonNeighbors")
def _p_common_neighbors(db, args) -> DataFrame:
    from arcadedb_spark.graph.algorithms import common_neighbors

    return common_neighbors(_edges(db, args))


@procedure("algo.closeness")
def _p_closeness(db, args) -> DataFrame:
    from arcadedb_spark.graph.algorithms import closeness_centrality

    return closeness_centrality(_edges(db, args))


@procedure("algo.katz")
def _p_katz(db, args) -> DataFrame:
    from arcadedb_spark.graph.algorithms import katz_centrality

    return katz_centrality(_edges(db, args))


@procedure("algo.kTruss")
def _p_ktruss(db, args) -> DataFrame:
    from arcadedb_spark.graph.algorithms_more import k_truss

    return k_truss(_edges(db, args), k=int(_num(args, 0, 3)))


@procedure("algo.personalizedPageRank")
def _p_ppr(db, args) -> DataFrame:
    from arcadedb_spark.graph.algorithms_more import personalized_pagerank

    sources = [int(a) for a in args if isinstance(a, (int, float))]
    if not sources:
        raise ValueError("algo.personalizedPageRank needs ≥1 source vertex id")
    return personalized_pagerank(_edges(db, args), sources)


@procedure("algo.node2Vec")
def _p_node2vec(db, args) -> DataFrame:
    from arcadedb_spark.graph.algorithms import node2vec_embeddings

    return node2vec_embeddings(_edges(db, args), dim=int(_num(args, 0, 16)))


@procedure("algo.randomWalk")
def _p_randomwalk(db, args) -> DataFrame:
    from arcadedb_spark.graph.algorithms import random_walks

    return random_walks(_edges(db, args))


@procedure("algo.shortestPath")
def _p_shortest(db, args) -> DataFrame:
    from arcadedb_spark.graph.algorithms import shortest_paths

    landmarks = [int(a) for a in args if isinstance(a, (int, float))]
    if not landmarks:
        raise ValueError("algo.shortestPath needs ≥1 landmark vertex id")
    return shortest_paths(_edges(db, args), landmarks)


@procedure("algo.sssp")
def _p_sssp(db, args) -> DataFrame:
    from arcadedb_spark.graph.algorithms import dijkstra_sssp

    src = [int(a) for a in args if isinstance(a, (int, float))]
    if not src:
        raise ValueError("algo.sssp needs a source vertex id")
    return dijkstra_sssp(_edges(db, args), src[0])


@procedure("algo.leiden")
def _p_leiden(db, args) -> DataFrame:
    # algo.leiden(relTypes?, maxIterations?, resolution?) — AlgoLeiden.java:34
    from arcadedb_spark.graph.algorithms_extra import leiden

    nums = [a for a in args if isinstance(a, (int, float))]
    return leiden(
        _edges(db, args),
        max_iterations=int(nums[0]) if nums else 10,
        resolution=float(nums[1]) if len(nums) > 1 else 1.0,
    )


@procedure("algo.aStar")
def _p_astar(db, args) -> DataFrame:
    # algo.aStar(startNode, endNode, …) — AlgoAStar.java:34
    from arcadedb_spark.graph.algorithms_extra import astar

    nums = [int(a) for a in args if isinstance(a, (int, float))]
    if len(nums) < 2:
        raise ValueError("algo.aStar needs start and end vertex ids")
    return astar(_edges(db, args), nums[0], nums[1])


@procedure("algo.kShortestPaths")
def _p_kshortest(db, args) -> DataFrame:
    # algo.kShortestPaths(startNode, endNode, k, …) — AlgoKShortestPaths.java:34
    from arcadedb_spark.graph.algorithms_extra import k_shortest_paths

    nums = [int(a) for a in args if isinstance(a, (int, float))]
    if len(nums) < 2:
        raise ValueError("algo.kShortestPaths needs start and end vertex ids")
    return k_shortest_paths(
        _edges(db, args), nums[0], nums[1], k=nums[2] if len(nums) > 2 else 3
    )


@procedure("algo.maxFlow")
def _p_maxflow(db, args) -> DataFrame:
    # algo.maxFlow(sourceNode, sinkNode, …) — AlgoMaxFlow.java:34
    from arcadedb_spark.graph.algorithms_extra import max_flow

    nums = [int(a) for a in args if isinstance(a, (int, float))]
    if len(nums) < 2:
        raise ValueError("algo.maxFlow needs source and sink vertex ids")
    return max_flow(_edges(db, args), nums[0], nums[1])


@procedure("algo.clique")
def _p_clique(db, args) -> DataFrame:
    # algo.clique(relTypes?, minSize?) — AlgoClique.java:34
    from arcadedb_spark.graph.algorithms_extra import maximal_cliques

    return maximal_cliques(_edges(db, args), min_size=int(_num(args, 0, 3)))


@procedure("algo.bipartiteCheck")
def _p_bipartite(db, args) -> DataFrame:
    # algo.bipartiteCheck(relTypes?) — AlgoBipartiteCheck.java
    from arcadedb_spark.graph.algorithms_more import bipartite_check

    ok = bipartite_check(_edges(db, args))
    return local_df(db.spark, [(bool(ok),)], "is_bipartite boolean")


@procedure("algo.assortativity")
def _p_assortativity(db, args) -> DataFrame:
    # algo.assortativity(relTypes?) — AlgoAssortativity.java
    from arcadedb_spark.graph.algorithms_more import assortativity

    r = assortativity(_edges(db, args))
    return local_df(db.spark, [(float(r),)], "assortativity double")


@procedure("algo.conductance")
def _p_conductance(db, args) -> DataFrame:
    # algo.conductance(relTypes?) — AlgoConductance.java (communities from
    # label propagation, reference default)
    from arcadedb_spark.graph.algorithms import label_propagation
    from arcadedb_spark.graph.algorithms_more import conductance

    edges = _edges(db, args)
    comm = label_propagation(edges).withColumnRenamed("label", "community")
    return conductance(edges, comm)


@procedure("algo.richClub")
def _p_richclub(db, args) -> DataFrame:
    # algo.richClub(relTypes?, k?) — AlgoRichClub.java
    from arcadedb_spark.graph.algorithms_more import rich_club_coefficient

    k = int(_num(args, 0, 2))
    r = rich_club_coefficient(_edges(db, args), k)
    return local_df(db.spark, [(k, float(r))], "k int, rich_club double")


@procedure("algo.allSimplePaths")
def _p_allsimple(db, args) -> DataFrame:
    # algo.allSimplePaths(startNode, endNode, maxDepth?) — AlgoAllSimplePaths.java
    from arcadedb_spark.graph.algorithms_extra2 import all_simple_paths

    nums = [int(a) for a in args if isinstance(a, (int, float))]
    if len(nums) < 2:
        raise ValueError("algo.allSimplePaths needs start and end vertex ids")
    return all_simple_paths(
        _edges(db, args), nums[0], nums[1],
        max_depth=nums[2] if len(nums) > 2 else 8,
    )


@procedure("algo.graphColoring")
def _p_coloring(db, args) -> DataFrame:
    # algo.graphColoring(relTypes?) — AlgoGraphColoring.java
    from arcadedb_spark.graph.algorithms_extra2 import graph_coloring

    return graph_coloring(_edges(db, args))


@procedure("algo.densestSubgraph")
def _p_densest(db, args) -> DataFrame:
    # algo.densestSubgraph(relTypes?) — AlgoDensestSubgraph.java
    from arcadedb_spark.graph.algorithms_extra2 import densest_subgraph

    return densest_subgraph(_edges(db, args))


@procedure("algo.voteRank")
def _p_voterank(db, args) -> DataFrame:
    # algo.voteRank(relTypes?, k?) — AlgoVoteRank.java
    from arcadedb_spark.graph.algorithms_extra2 import vote_rank

    return vote_rank(_edges(db, args), k=int(_num(args, 0, 10)))


@procedure("algo.influenceMaximization")
def _p_influence(db, args) -> DataFrame:
    # algo.influenceMaximization(relTypes?, k?) — AlgoInfluenceMaximization.java
    from arcadedb_spark.graph.algorithms_extra2 import influence_maximization

    return influence_maximization(_edges(db, args), k=int(_num(args, 0, 5)))


@procedure("algo.modularityScore")
def _p_modularity(db, args) -> DataFrame:
    # algo.modularityScore(relTypes?) — AlgoModularityScore.java
    # (communities from label propagation, reference default)
    from arcadedb_spark.graph.algorithms import label_propagation
    from arcadedb_spark.graph.algorithms_extra2 import modularity_score

    edges = _edges(db, args)
    comm = label_propagation(edges).withColumnRenamed("label", "community")
    return modularity_score(edges, comm)


@procedure("algo.maxKCut")
def _p_maxkcut(db, args) -> DataFrame:
    # algo.maxKCut(k, …) — AlgoMaxKCut.java
    from arcadedb_spark.graph.algorithms_extra2 import max_k_cut

    return max_k_cut(_edges(db, args), k=int(_num(args, 0, 2)))


@procedure("algo.sameCommunity")
def _p_samecommunity(db, args) -> DataFrame:
    # algo.sameCommunity(relTypes?) — AlgoSameCommunity.java
    from arcadedb_spark.graph.algorithms_extra2 import same_community

    return same_community(_edges(db, args))


@procedure("algo.bfs")
def _p_bfs(db, args) -> DataFrame:
    # algo.bfs(startNode, maxDepth?) — AlgoBFS.java (level-order distance)
    from arcadedb_spark.graph.algorithms import shortest_paths

    nums = [int(a) for a in args if isinstance(a, (int, float))]
    if not nums:
        raise ValueError("algo.bfs needs a start vertex id")
    # shortest_paths computes vid→landmark distance; reverse the edges to
    # get start→vid level order
    rev = _edges(db, args).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return shortest_paths(
        rev, [nums[0]], max_depth=nums[1] if len(nums) > 1 else 20
    ).select("vid", "distance")


@procedure("algo.dijkstra")
def _p_dijkstra(db, args) -> DataFrame:
    # algo.dijkstra(startNode, endNode, relTypes?, weightProperty?) —
    # AlgoDijkstra.java: YIELD path, weight
    from arcadedb_spark.graph.algorithms_extra3 import dijkstra_path

    nums = [int(a) for a in args if isinstance(a, (int, float))]
    if len(nums) < 2:
        raise ValueError("algo.dijkstra needs start and end vertex ids")
    return dijkstra_path(_edges(db, args), nums[0], nums[1])


@procedure("algo.dijkstraSingleSource")
def _p_dijkstra_ss(db, args) -> DataFrame:
    # AlgoDijkstraSingleSource.java — same distances as algo.sssp
    from arcadedb_spark.graph.algorithms import dijkstra_sssp

    nums = [int(a) for a in args if isinstance(a, (int, float))]
    if not nums:
        raise ValueError("algo.dijkstraSingleSource needs a source vertex id")
    return dijkstra_sssp(_edges(db, args), nums[0])


@procedure("algo.bellmanFord")
def _p_bellmanford(db, args) -> DataFrame:
    # AlgoBellmanFord.java: YIELD path, weight, negativeCycle
    from arcadedb_spark.graph.algorithms_extra3 import bellman_ford_path

    nums = [int(a) for a in args if isinstance(a, (int, float))]
    if len(nums) < 2:
        raise ValueError("algo.bellmanFord needs start and end vertex ids")
    return bellman_ford_path(_edges(db, args), nums[0], nums[1])


@procedure("algo.bridges")
def _p_bridges(db, args) -> DataFrame:
    # AlgoBridges.java: YIELD source, target
    from arcadedb_spark.graph.algorithms_extra3 import bridges

    return bridges(_edges(db, args))


@procedure("algo.articulationPoints")
def _p_articulation(db, args) -> DataFrame:
    # AlgoArticulationPoints.java: YIELD node
    from arcadedb_spark.graph.algorithms_extra3 import articulation_points

    return articulation_points(_edges(db, args))


@procedure("algo.biconnectedComponents")
def _p_biconnected(db, args) -> DataFrame:
    # AlgoBiconnectedComponents.java: YIELD node, componentId
    from arcadedb_spark.graph.algorithms_extra3 import biconnected_components

    return biconnected_components(_edges(db, args))


@procedure("algo.dfs")
def _p_dfs(db, args) -> DataFrame:
    # AlgoDFS.java: algo.dfs(startNode, relTypes?, direction?, maxDepth?)
    from arcadedb_spark.graph.algorithms_extra3 import dfs_order

    nums = [int(a) for a in args if isinstance(a, (int, float))]
    if not nums:
        raise ValueError("algo.dfs needs a start vertex id")
    direction = next(
        (a.lower() for a in args
         if isinstance(a, str) and a.upper() in ("OUT", "IN", "BOTH")),
        "both",
    )
    return dfs_order(
        _edges(db, args), nums[0], direction=direction,
        max_depth=nums[1] if len(nums) > 1 else None,
    )


@procedure("algo.knn")
def _p_knn(db, args) -> DataFrame:
    # AlgoKNN.java: algo.knn(k?, relTypes?, direction?) —
    # YIELD node1, node2, similarity (Jaccard of adjacency sets)
    from arcadedb_spark.graph.algorithms_extra3 import knn_similarity

    direction = next(
        (a.lower() for a in args
         if isinstance(a, str) and a.upper() in ("OUT", "IN", "BOTH")),
        "both",
    )
    return knn_similarity(
        _edges(db, args), k=int(_num(args, 0, 10)), direction=direction
    )


@procedure("algo.bipartiteMatching")
def _p_bipartite_matching(db, args) -> DataFrame:
    # AlgoBipartiteMatching.java: YIELD node1, node2, matchingSize
    from arcadedb_spark.graph.algorithms_extra3 import bipartite_matching

    return bipartite_matching(_edges(db, args))


@procedure("algo.node2vec")
def _p_node2vec(db, args) -> DataFrame:
    # AlgoNode2Vec.java — biased random-walk embeddings
    from arcadedb_spark.graph.algorithms import node2vec_embeddings

    return node2vec_embeddings(
        _edges(db, args), dim=int(_num(args, 0, 16))
    )


@procedure("algo.hashgnn")
def _p_hashgnn(db, args) -> DataFrame:
    # AlgoHashGNN.java: YIELD node, embedding (training-free minhash GNN)
    from arcadedb_spark.graph.algorithms_extra4 import hashgnn

    return hashgnn(_edges(db, args), dim=int(_num(args, 0, 64)))


@procedure("algo.graphsage")
def _p_graphsage(db, args) -> DataFrame:
    # AlgoGraphSAGE.java: YIELD node, embedding (unsupervised)
    from arcadedb_spark.graph.algorithms_extra4 import graphsage

    return graphsage(
        _edges(db, args),
        dim=int(_num(args, 0, 64)),
        layers=int(_num(args, 1, 2)),
    )


@procedure("algo.hierarchicalClustering")
def _p_hierarchical(db, args) -> DataFrame:
    # AlgoHierarchicalClustering.java: YIELD nodeId, cluster
    from arcadedb_spark.graph.algorithms_extra4 import hierarchical_clustering

    return hierarchical_clustering(
        _edges(db, args), num_clusters=int(_num(args, 0, 2))
    )


@procedure("algo.steinerTree")
def _p_steiner(db, args) -> DataFrame:
    # AlgoSteinerTree.java: algo.steinerTree(terminals, relTypes?, weight?)
    from arcadedb_spark.graph.algorithms_extra4 import steiner_tree

    terms = next((a for a in args if isinstance(a, list)), None)
    if terms is None:
        terms = [int(a) for a in args if isinstance(a, (int, float))]
    if len(terms) < 2:
        raise ValueError("algo.steinerTree needs ≥2 terminal vertex ids")
    return steiner_tree(_edges(db, args), [int(t) for t in terms])


@procedure("algo.msa")
def _p_msa(db, args) -> DataFrame:
    # AlgoMinSpanningArborescence.java: algo.msa(root) —
    # YIELD source, target, weight, totalWeight
    from arcadedb_spark.graph.algorithms_extra4 import (
        min_spanning_arborescence,
    )

    nums = [int(a) for a in args if isinstance(a, (int, float))]
    if not nums:
        raise ValueError("algo.msa needs a root vertex id")
    return min_spanning_arborescence(_edges(db, args), nums[0])


@procedure("algo.minSpanningArborescence")
def _p_msa_alias(db, args) -> DataFrame:
    return _p_msa(db, args)


_CYPHER_SPARK_TYPES = {
    "string": "string",
    "integer": "long",
    "float": "double",
    "number": "double",
    "boolean": "boolean",
}


def _arg_type_ok(v, t: str) -> bool:
    t = t.lower().rstrip("?").strip()
    if v is None:
        return True  # nullable (T?) — null always admissible
    if t == "string":
        return isinstance(v, str)
    if t == "integer":
        return isinstance(v, int) and not isinstance(v, bool)
    if t in ("float", "number"):
        return isinstance(v, (int, float)) and not isinstance(v, bool)
    if t == "boolean":
        return isinstance(v, bool)
    return True  # ANY / LIST / MAP …: no static check


def _table_proc_frame(db, tp: dict, args: list) -> DataFrame:
    """Invoke a user table-backed procedure (Database.register_table_
    procedure): filter its rows on the input columns = the literal
    arguments, project the output columns with signature-declared types."""
    from arcadedb_spark.sql.translator import TranslateError

    if len(args) != len(tp["in"]):
        # wrong arity is a SyntaxError-class rejection (TCK Call1)
        raise TranslateError(
            f"procedure expects {len(tp['in'])} arguments, got {len(args)}"
        )
    for (c, t), a in zip(tp["in"], args):
        if not _arg_type_ok(a, t):
            raise TranslateError(
                f"procedure argument '{c}' expects {t}, got {type(a).__name__}"
                " (InvalidArgumentType)"
            )
    matched = [
        r
        for r in tp["rows"]
        if all(r.get(c) == a for (c, _t), a in zip(tp["in"], args))
    ]
    out_rows = [tuple(r.get(c) for c, _t in tp["out"]) for r in matched]
    if not tp["out"]:
        # VOID procedure: no columns, no rows (CALL result "empty")
        from pyspark.sql.types import StructType

        return local_df(db.spark, [], StructType([]))
    schema = ", ".join(
        f"`{c}` {_CYPHER_SPARK_TYPES.get(t.lower().rstrip('?'), 'string')}"
        for c, t in tp["out"]
    )
    return local_df(db.spark, out_rows, schema)


def normalize_proc_name(name: str) -> str:
    """Lowercase + strip the Neo4j/APOC compatibility prefix
    (CypherProcedureRegistry.java:136 APOC_PREFIX handling —
    'apoc.merge.relationship' resolves to 'merge.relationship')."""
    key = name.lower()
    return key[5:] if key.startswith("apoc.") else key


def call_procedure(
    db, name: str, args: list, params: dict | None = None,
    implicit: bool = False, frame: "DataFrame | None" = None,
) -> DataFrame:
    import arcadedb_spark.graph.procedures_path as _pp  # registers path/meta/merge

    key = normalize_proc_name(name)
    if key in _pp.FRAME_PROCEDURES:
        out, _ycols = _pp.FRAME_PROCEDURES[key](db, args, frame, params)
        return out
    name = key
    tp = getattr(db, "_table_procedures", {}).get(name.lower())
    if tp is not None:
        if implicit and not args and tp["in"]:
            # CALL proc (no parens): implicit arguments are taken from the
            # query parameters by input-column name (openCypher CALL)
            params = params or {}
            try:
                args = [params[c] for c, _t in tp["in"]]
            except KeyError as e:
                from arcadedb_spark.sql.translator import ParameterMissing

                raise ParameterMissing(
                    f"implicit CALL needs parameter {e.args[0]!r}"
                ) from None
        return _table_proc_frame(db, tp, args)
    fn = PROCEDURES.get(name.lower())
    if fn is None:
        from arcadedb_spark.sql.translator import ProcedureError

        raise ProcedureError(
            f"Unknown procedure '{name}' (ProcedureNotFound; available: "
            f"{sorted(PROCEDURES)})"
        )
    return fn(db, args)


# --- db.* catalog introspection (Neo4j-compatible procedure surface the
# reference exposes through its Cypher engine; tested e.g. in
# CypherCallYieldWithVariablesTest.java) ------------------------------------


@procedure("db.labels")
def _p_db_labels(db, args) -> DataFrame:
    g = db.graph()
    labels: set = set()
    for key in g.vertex_dfs:
        if key == "_":
            continue
        # composite keys store multi-label nodes ("a:b"); db.labels lists
        # each distinct label once (Neo4j procedure contract).  The
        # display map may carry either the composite or the single label.
        disp = g.label_display.get(key, key)
        for part in disp.split(":"):
            if part:
                labels.add(g.label_display.get(part.lower(), part))
    return local_df(db.spark, [(l,) for l in sorted(labels)], "label string")


@procedure("db.relationshipTypes")
def _p_db_rel_types(db, args) -> DataFrame:
    g = db.graph()
    types = sorted(set(getattr(g, "edge_meta", {}) or {}))
    if not types and getattr(g, "_edge_dfs", None):
        types = sorted({
            r["etype"]
            for r in g.edges().select("etype").distinct().collect()
        })
    return local_df(db.spark, [(t,) for t in types], "relationshipType string")


@procedure("db.propertyKeys")
def _p_db_prop_keys(db, args) -> DataFrame:
    g = db.graph()
    keys: set = set()
    for df in g.vertex_dfs.values():
        keys.update(
            c for c in df.columns
            if not c.startswith(("__", "@")) and c != "vid"
        )
    if getattr(g, "_edge_dfs", None):
        keys.update(
            c for c in g.edges().columns
            if not c.startswith(("__", "@")) and c not in (
                "src", "dst", "etype",
            )
        )
    return local_df(db.spark, [(k,) for k in sorted(keys)], "propertyKey string")


@procedure("db.ping")
def _p_db_ping(db, args) -> DataFrame:
    return local_df(db.spark, [(True,)], "ok boolean")
