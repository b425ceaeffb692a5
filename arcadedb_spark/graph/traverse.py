"""TRAVERSE statement → iterative frontier BFS (hybrid driver/distributed).

Reference: query/sql/executor/BreadthFirstTraverseStep.java:34 /
DepthFirstTraverseStep.java:36 walk records one at a time keeping a
visited set.  The Spark re-expression is a frontier loop: each hop
expands the current frontier along the edge DataFrame, excluding
already-visited vertices.

DFS visit *order* is inherently sequential and is not reproducible on a
distributed engine — we execute BFS regardless of STRATEGY (documented
deviation; result *sets* are identical, only row order differs, and
TRAVERSE result order is undefined without ORDER BY anyway).

Execution strategy — chosen by observable sizes:

- **Driver-frontier mode** (bounded-depth traversal from point roots):
  the frontier and visited set live as driver-side hash sets (8 MB per
  million vids), and a hop takes the frontier's distinct out-neighbours
  from one of two sources:

  - the CSR kernel: an edge frame of at most ``local._DRIVER_EDGES_MAX``
    rows (200k) is collected once into numpy CSR arrays
    (``graph/local.py``, memoized per analyzed edge plan), and a hop is
    an array lookup -- no job, nothing cached;
  - larger edge sets: ONE job per hop, a (semi-join|isin)-filtered scan
    of the edge frame reduced by map-side-combined ``collect_set`` -- the
    shuffle carries only distinct neighbor ids, never raw edges, so a
    celebrity vertex cannot blow up the collect.

  A WHILE predicate filters each hop's new vertices through the
  expression compiler on a one-partition frame.
- **Distributed mode**: the moment the frontier outgrows
  ``_DRIVER_FRONTIER_MAX`` (or the roots already do), state spills to
  DataFrames and the engine's one BFS (``algorithms.bfs``) takes over on
  the shared superstep driver (``graph/superstep.py``): it carries one
  (vid, depth) row per reached vertex, each hop is one persisted frame
  that keeps a vertex's first depth, the count of its new rows is its one
  action (it both decides termination and fully populates the cache), a
  WHILE predicate filters the hop rows, and the state is truncated on the
  driver's ``CHECKPOINT_EVERY`` cadence so Catalyst never sees a growing
  iterative plan.

The per-hop job and the distributed loop read the edge frame every hop:
they take its cache from one ``Supersteps`` scope, which releases it when
the call returns or raises (an equal plan the caller cached serves the
loop and stays the caller's), so a call leaves the session's
CacheManager as it found it.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arcadedb_spark.graph import local
from arcadedb_spark.graph.algorithms import bfs
from arcadedb_spark.graph.superstep import Supersteps
from arcadedb_spark.session import local_df
from arcadedb_spark.sql import ast
from arcadedb_spark.sql.translator import Ctx, ExprCompiler, TranslateError, VarBinding

_DEFAULT_MAX_DEPTH = 10
# frontier/visited ids held driver-side before spilling to DataFrames
# (1M longs ≈ 8 MB — trivial next to any driver heap; the cap bounds the
# collect, the isin-vs-broadcast split below bounds the plan size)
_DRIVER_FRONTIER_MAX = 200_000
# ≤ this, filter via array_contains(lit(ids), …): the array literal rides
# the codegen `references` table, so every hop (any id set) reuses ONE
# compiled plan — an isin() literal list would embed in the generated
# source and recompile per hop.  Above it, the per-row linear array scan
# loses to a broadcast semi-join on an Arrow-built frame.
_ARRAY_FILTER_MAX = 256


def _direction_edges(db, projections) -> DataFrame:
    """Union of the edge frames named by the traverse projections
    (out('X'), in('Y'), both()) normalized to (__from, __to)."""
    g = db.graph()
    frames = []
    specs = []
    for p in projections:
        if isinstance(p, ast.Star):
            specs.append(("both", ()))
        elif isinstance(p, ast.FuncCall) and p.name.lower() in ("out", "in", "both"):
            etypes = tuple(
                a.value if isinstance(a, ast.Lit) else a.parts[0]
                for a in p.args
                if isinstance(a, (ast.Lit, ast.Chain))
            )
            specs.append((p.name.lower(), etypes))
        else:
            raise TranslateError(
                "TRAVERSE projections must be out()/in()/both() or *"
            )
    if not specs:
        specs = [("both", ())]
    for method, etypes in specs:
        # TRAVERSE never reads edge identity — skip the @eid metadata
        # wiring so the scan stays narrow (model.add_edges)
        e = (
            g.edges(*etypes, with_identity=False)
            if etypes
            else g.edges(with_identity=False)
        )
        if method in ("out", "both"):
            frames.append(
                e.select(F.col("src").alias("__from"), F.col("dst").alias("__to"))
            )
        if method in ("in", "both"):
            frames.append(
                e.select(F.col("dst").alias("__from"), F.col("src").alias("__to"))
            )
    out = frames[0]
    for f_ in frames[1:]:
        out = out.unionByName(f_)
    return out


def _expand_driver(edges: DataFrame, frontier: "set[int]") -> "list[int]":
    """Distinct out-neighbors of ``frontier`` in ONE job.

    ``collect_set`` aggregates map-side first, so each partition ships
    only its distinct neighbor ids — bounded by the true neighbor-set
    size, not the (possibly skewed) edge count."""
    spark = edges.sparkSession
    if len(frontier) <= _ARRAY_FILTER_MAX:
        hits = edges.filter(
            F.array_contains(
                F.lit([int(v) for v in frontier]), F.col("__from")
            )
        )
    else:
        fdf = local_df(spark, [(int(v),) for v in frontier], "__from long")
        hits = edges.join(F.broadcast(fdf), "__from", "left_semi")
    row = hits.agg(F.collect_set("__to").alias("ns")).collect()[0]
    return row["ns"] or []


def _while_keep(db, params, pairs, while_):
    """Apply the WHILE predicate to driver-side (vid, depth) pairs via a
    one-partition frame — keeps the expression compiler as the single
    source of predicate semantics."""
    if not pairs:
        return []
    df = local_df(db.spark, pairs, "struct<vid:bigint,depth:int>")
    ctx = Ctx(db=db, params=params, columns=("vid", "depth"))
    ctx.vars["depth"] = VarBinding("col", col=F.col("depth"))
    kept = df.filter(ExprCompiler(ctx).compile(while_)).select("vid").collect()
    return [r["vid"] for r in kept]


def traverse(
    db,
    roots: DataFrame,
    edges: DataFrame,
    max_depth: int,
    while_: ast.Expr | None = None,
    params: dict | None = None,
) -> DataFrame:
    """BFS from ``roots`` (a DataFrame with a ``vid`` column).

    Returns (vid, depth) for every reachable vertex within max_depth,
    depth = first-visit hop count (roots at depth 0).
    """
    params = params or {}
    # raw limit+collect (no distinct — dedup is a driver-side set insert;
    # a pre-collect distinct() would cost a shuffle just to count)
    root_rows = roots.select("vid").limit(_DRIVER_FRONTIER_MAX + 1).collect()
    driver_roots = len(root_rows) <= _DRIVER_FRONTIER_MAX
    root_vids = [r["vid"] for r in root_rows]
    csr = local.csr_of(edges.select("__from", "__to")) if driver_roots else None
    if csr is not None:
        result = _traverse_driver(
            db, root_vids, partial(local.neighbors, csr), max_depth, while_, params
        )
        if result is not None:
            return result
    # the per-hop job and the distributed loop read the edges every hop
    with Supersteps() as scope:
        edges = scope.cache(edges)
        if driver_roots and csr is None:
            result = _traverse_driver(
                db, root_vids, partial(_expand_driver, edges), max_depth, while_,
                params,
            )
            if result is not None:
                return result
        # roots too large, or the driver loop spilled: distributed BFS
        return _traverse_distributed(db, roots, edges, max_depth, while_, params)


def _traverse_driver(db, root_vids, expand, max_depth, while_, params):
    """Driver-frontier BFS, ``expand(frontier)`` giving a hop's distinct
    out-neighbours; returns the (vid, depth) frame, or ``None`` if the
    frontier outgrew ``_DRIVER_FRONTIER_MAX`` mid-walk (the caller
    restarts distributed — bounded rework: at most one extra
    sub-threshold prefix of the walk)."""
    visited: dict[int, int] = {int(v): 0 for v in root_vids}
    frontier = set(visited)
    for depth in range(1, max_depth + 1):
        if not frontier:
            break
        nxt = [int(v) for v in expand(frontier) if int(v) not in visited]
        if while_ is not None:
            nxt = _while_keep(
                db, params, [(v, depth) for v in nxt], while_
            )
        if len(visited) + len(nxt) > _DRIVER_FRONTIER_MAX:
            return None  # spill to the distributed loop
        for v in nxt:
            visited[v] = depth
        frontier = set(nxt)
    return local_df(
        db.spark, list(visited.items()), "struct<vid:bigint,depth:int>"
    )


def _traverse_distributed(db, roots, edges, max_depth, while_, params):
    keep = None
    if while_ is not None:
        # WHILE with $depth bound (grammar SQLParser.g4:223-230)
        ctx = Ctx(db=db, params=params, columns=("vid", "depth"))
        ctx.vars["depth"] = VarBinding("col", col=F.col("depth"))
        keep = ExprCompiler(ctx).compile(while_)
    adj = edges.select(F.col("__to").alias("v"), F.col("__from").alias("n"))
    return bfs(adj, roots, max_depth=max_depth, keep=keep)[0]


def translate_traverse(db, stmt: ast.TraverseStmt, params: dict) -> DataFrame:
    from arcadedb_spark.sql.translator import Translator

    edges = _direction_edges(db, stmt.projections)
    # Resolve roots: a type target (all its vertices) or a subquery
    tr = Translator(db, params)
    root_df, type_name = tr._resolve_target(stmt.target)
    g = db.graph()
    if "vid" not in root_df.columns:
        if type_name is not None and type_name.lower() in g.vertex_dfs:
            root_df = g.vertices(type_name)
        else:
            raise TranslateError(
                f"TRAVERSE target must be a vertex type; got {type_name!r}"
            )
    roots = root_df.select("vid")
    max_depth = stmt.max_depth if stmt.max_depth is not None else _DEFAULT_MAX_DEPTH
    visited = traverse(db, roots, edges, max_depth, stmt.while_, params)
    # join back vertex labels/properties
    out = visited.join(g.all_vertices(), "vid", "left").select(
        "vid", "label", F.col("depth").alias("$depth")
    )
    if stmt.limit is not None:
        out = out.limit(tr._int_of(stmt.limit, Ctx(db=db, params=params)))
    return out
