"""path.* / meta.* / merge.* / db.index.vector.queryNodes procedures.

Reference: engine/src/main/java/com/arcadedb/query/opencypher/procedures/
{path/*.java, meta/*.java, merge/*.java, db/DbIndexVectorQueryNodes.java},
registered in CypherProcedureRegistry.java (which also strips the
Neo4j/APOC ``apoc.`` prefix).

Frame-aware procedures (FRAME_PROCEDURES) receive the pipeline frame so a
``MATCH (a) CALL path.expand(a, …)`` resolves the bound node per row —
the reference streams the procedure per input row (CallStep.java:71);
here the start SET drives ONE distributed BFS and the results join back
on the start vid, so cardinality matches without a per-row loop.

Scale posture: expansions are frontier equi-joins against the edge frame,
one superstep per hop on the shared superstep driver
(``graph/superstep.py``); simple-path enumeration is bounded by node
uniqueness within a path, spanning trees by global first-arrival.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arcadedb_spark.graph.procedures import PROCEDURES, procedure
from arcadedb_spark.graph.superstep import Supersteps
from arcadedb_spark.session import local_df

# name → fn(db, args, frame, params) -> (DataFrame, yield_cols)
# When frame is None (standalone CALL) the result carries only yield_cols.
FRAME_PROCEDURES: dict = {}


def frame_procedure(name: str):
    def deco(fn):
        FRAME_PROCEDURES[name.lower()] = fn
        return fn

    return deco


def _err(msg: str):
    from arcadedb_spark.sql.translator import ProcedureError

    return ProcedureError(msg)


def _split_filter(v) -> "list[str] | None":
    """AbstractPathProcedure.extractRelTypes/extractLabels: pipe- or
    comma-separated string, a collection, or null."""
    if v is None:
        return None
    if isinstance(v, str):
        s = v.strip()
        if not s:
            return None
        parts = [p.strip() for p in s.replace("|", ",").split(",")]
        return [p for p in parts if p] or None
    if isinstance(v, (list, tuple)):
        return [str(x) for x in v] or None
    return [str(v)]


def _resolve_starts(db, arg, frame):
    """Start-node argument → one-column frame (__start long).  A string
    names a bound node variable of the pipeline frame; an int is a vid."""
    if isinstance(arg, str) and frame is not None and arg in frame.columns:
        return (
            frame.select(F.col(f"`{arg}`.vid").alias("__start"))
            .where(F.col("__start").isNotNull())
            .distinct()
        )
    if isinstance(arg, bool):
        raise _err("path procedure start must be a node or vid")
    if isinstance(arg, int):
        return local_df(db.spark, [(arg,)], "__start long")
    raise _err(
        "path procedure start must be a bound node variable or a vid "
        f"(got {arg!r})"
    )


def _label_allowed_vids(g, labels):
    """vids whose label set intersects ``labels`` (PathExpand
    matchesLabels: type-name equality, applied to NEIGHBOR nodes)."""
    want = {l.lower() for l in labels}
    av = g.all_vertices()
    if av is None:
        return None
    # stored keys may be composite ("a:b") — match any part
    cond = F.arrays_overlap(
        F.split(F.col("label"), ":"),
        F.array(*[F.lit(w) for w in want]),
    )
    return av.filter(cond).select("vid").distinct()


def _undirected_edges(g, rel_types):
    e = g.edges(*rel_types) if rel_types else g.edges()
    fwd = e.select("src", "dst")
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionAll(rev)


def _paths_bfs(db, starts, rel_types, labels, min_d, max_d,
               spanning=False, limit=None) -> DataFrame:
    """Distributed path expansion from every start vid, both directions
    (PathExpand.java expandInDirection OUT then IN), neighbors filtered
    by label.  ``spanning=False``: all simple paths (node-unique WITHIN a
    path — the reference's per-path visited set with backtracking);
    ``spanning=True``: BFS tree (global first-arrival per start,
    PathSpanningTree.java).  Returns (__start, path{vids, n_rels})."""
    g = db.graph()
    und = _undirected_edges(g, rel_types)
    if labels:
        allowed = _label_allowed_vids(g, labels)
        if allowed is not None:
            und = und.join(
                allowed.withColumnRenamed("vid", "dst"), "dst", "left_semi"
            )
    und = und.distinct().cache()
    roots = starts.select("__start", F.array(F.col("__start")).alias("vids"))
    frontier = roots.withColumn("__last", F.col("__start"))
    # every hop's paths, tagged with the hop: the frontier is the newest
    # hop and, when spanning, the (start, node) pairs seen so far are all
    # of them (a path never returns to its start: `vids` holds it)
    paths = None
    ss = Supersteps(level="__depth")
    for depth in range(1, max_d + 1):
        nxt = (
            frontier.join(und, frontier["__last"] == und["src"])
            .filter(~F.array_contains(F.col("vids"), F.col("dst")))
            .select(
                "__start",
                F.concat(F.col("vids"), F.array(F.col("dst"))).alias("vids"),
                F.col("dst").alias("__last"),
            )
        )
        if spanning:
            # first arrival wins, one path per (start, node); the pick is
            # deterministic (min path signature) where the reference's
            # queue order is incidental
            if paths is not None:
                nxt = nxt.join(
                    paths.select("__start", "__last"),
                    ["__start", "__last"], "left_anti",
                )
            nxt = (
                nxt.groupBy("__start", "__last")
                .agg(F.min_by("vids", F.concat_ws(",", F.transform(
                    "vids", lambda x: F.lpad(x.cast("string"), 20, "0")
                ))).alias("vids"))
                .select("__start", "vids", "__last")
            )
        nxt = nxt.withColumn("__depth", F.lit(depth))
        if ss.step(nxt, F.count(F.lit(1)))[0] == 0:
            break
        paths = ss.carry(nxt if paths is None else paths.unionByName(nxt))
        frontier = ss.frontier
    paths = ss.finish(paths)
    und.unpersist()
    out = roots if min_d <= 0 else roots.limit(0)
    if paths is not None:
        out = out.unionByName(
            paths.filter(F.col("__depth") >= min_d).select("__start", "vids")
        )
    res = out.select(
        "__start",
        F.struct(
            F.col("vids").alias("vids"),
            (F.size("vids") - 1).cast("int").alias("n_rels"),
        ).alias("path"),
    )
    if limit is not None:
        res = res.limit(int(limit))
    return res


def _join_back(db, frame, arg, starts_result, ycols):
    """Attach the per-start procedure output to the pipeline frame
    (inner join on the bound node's vid — CALL drops rows the procedure
    yields nothing for)."""
    if frame is None:
        return starts_result.drop("__start"), ycols
    out = frame.join(
        starts_result,
        F.col(f"`{arg}`.vid") == starts_result["__start"],
    ).drop("__start")
    return out, ycols


@frame_procedure("path.expand")
def _p_path_expand(db, args, frame, params):
    """path.expand(startNode, relTypes, labelFilter, minDepth, maxDepth)
    YIELD path (PathExpand.java:54)."""
    if len(args) != 5:
        raise _err("path.expand() expects 5 arguments")
    rel_types = _split_filter(args[1])
    labels = _split_filter(args[2])
    min_d, max_d = int(args[3]), int(args[4])
    if min_d < 0:
        raise _err("path.expand(): minDepth must be non-negative")
    if max_d < min_d:
        raise _err("path.expand(): maxDepth must be >= minDepth")
    starts = _resolve_starts(db, args[0], frame)
    res = _paths_bfs(db, starts, rel_types, labels, min_d, max_d)
    return _join_back(db, frame, args[0], res, ["path"])


def _config(v) -> dict:
    return dict(v) if isinstance(v, dict) else {}


@frame_procedure("path.expandconfig")
def _p_path_expand_config(db, args, frame, params):
    """path.expandConfig(startNode, {relationshipFilter, labelFilter,
    minLevel, maxLevel, limit, bfs}) YIELD path
    (PathExpandConfig.java:63)."""
    if len(args) != 2:
        raise _err("path.expandConfig() expects 2 arguments")
    cfg = _config(args[1])
    rel_types = _split_filter(cfg.get("relationshipFilter"))
    labels = _split_filter(cfg.get("labelFilter"))
    min_d = int(cfg.get("minLevel", 0))
    max_d = cfg.get("maxLevel")
    # unbounded maxLevel terminates anyway: simple paths are node-unique
    max_d = int(max_d) if max_d is not None else 1 << 30
    limit = cfg.get("limit")
    starts = _resolve_starts(db, args[0], frame)
    res = _paths_bfs(
        db, starts, rel_types, labels, min_d, max_d,
        limit=int(limit) if limit is not None else None,
    )
    return _join_back(db, frame, args[0], res, ["path"])


@frame_procedure("path.spanningtree")
def _p_path_spanning(db, args, frame, params):
    """path.spanningTree(startNode, config) YIELD path — BFS tree, one
    path per reachable node (PathSpanningTree.java:60)."""
    if len(args) != 2:
        raise _err("path.spanningTree() expects 2 arguments")
    cfg = _config(args[1])
    rel_types = _split_filter(cfg.get("relationshipFilter"))
    labels = _split_filter(cfg.get("labelFilter"))
    max_d = cfg.get("maxLevel")
    max_d = int(max_d) if max_d is not None else 1 << 30
    starts = _resolve_starts(db, args[0], frame)
    res = _paths_bfs(db, starts, rel_types, labels, 0, max_d, spanning=True)
    return _join_back(db, frame, args[0], res, ["path"])


def _reachable(db, starts, rel_types, labels, max_d) -> DataFrame:
    """(__start, v): nodes reachable within max_d undirected hops
    (PathSubgraphNodes.java BFS with a global visited set)."""
    g = db.graph()
    und = _undirected_edges(g, rel_types)
    if labels:
        allowed = _label_allowed_vids(g, labels)
        if allowed is not None:
            und = und.join(
                allowed.withColumnRenamed("vid", "dst"), "dst", "left_semi"
            )
    und = und.distinct().cache()
    frontier = seen = roots = starts.select(
        "__start", F.col("__start").alias("v"), F.lit(0).alias("__depth")
    ).cache()
    ss = Supersteps(level="__depth")
    for depth in range(1, max_d + 1):
        nxt = (
            frontier.join(und, frontier["v"] == und["src"])
            .select("__start", F.col("dst").alias("v"))
            .distinct()
            .join(seen, ["__start", "v"], "left_anti")
            .withColumn("__depth", F.lit(depth))
        )
        if ss.step(nxt, F.count(F.lit(1)))[0] == 0:
            break
        seen = ss.carry(seen.unionByName(nxt))
        frontier = ss.frontier
    seen = ss.finish(seen).drop("__depth")
    roots.unpersist()
    und.unpersist()
    return seen


def _node_struct_frame(db, vids: DataFrame, vcol: str = "v") -> DataFrame:
    """Join vids to the full vertex union and pack each row as a node
    struct column ``node`` (vid + @type + properties)."""
    g = db.graph()
    av = g.all_vertices_full()
    if av is None:
        return vids.select(
            "__start", F.lit(None).cast("struct<vid:bigint>").alias("node")
        )
    joined = vids.join(av, vids[vcol] == av["vid"])
    props = [c for c in av.columns if not c.startswith("__")]
    return joined.select(
        "__start", F.struct(*[F.col(c) for c in props]).alias("node")
    )


@frame_procedure("path.subgraphnodes")
def _p_subgraph_nodes(db, args, frame, params):
    """path.subgraphNodes(startNode, config) YIELD node
    (PathSubgraphNodes.java:60)."""
    if len(args) != 2:
        raise _err("path.subgraphNodes() expects 2 arguments")
    cfg = _config(args[1])
    rel_types = _split_filter(cfg.get("relationshipFilter"))
    labels = _split_filter(cfg.get("labelFilter"))
    max_d = cfg.get("maxLevel")
    max_d = int(max_d) if max_d is not None else 1 << 30
    starts = _resolve_starts(db, args[0], frame)
    reach = _reachable(db, starts, rel_types, labels, max_d)
    res = _node_struct_frame(db, reach)
    return _join_back(db, frame, args[0], res, ["node"])


@frame_procedure("path.subgraphall")
def _p_subgraph_all(db, args, frame, params):
    """path.subgraphAll(startNode, config) YIELD nodes, relationships —
    the reachable nodes plus every edge between them
    (PathSubgraphAll.java:61)."""
    if len(args) != 2:
        raise _err("path.subgraphAll() expects 2 arguments")
    cfg = _config(args[1])
    rel_types = _split_filter(cfg.get("relationshipFilter"))
    labels = _split_filter(cfg.get("labelFilter"))
    max_d = cfg.get("maxLevel")
    max_d = int(max_d) if max_d is not None else 1 << 30
    g = db.graph()
    starts = _resolve_starts(db, args[0], frame)
    reach = _reachable(db, starts, rel_types, labels, max_d)
    nodes = _node_struct_frame(db, reach).groupBy("__start").agg(
        F.sort_array(F.collect_list("node")).alias("nodes")
    )
    e = g.edges(*rel_types) if rel_types else g.edges()
    within = (
        e.select("etype", "src", "dst")
        .join(
            reach.select("__start", F.col("v").alias("src")),
            "src",
        )
        .join(
            reach.select(
                F.col("__start").alias("__s2"), F.col("v").alias("dst")
            ),
            "dst", "left_semi" if False else "inner",
        )
        .filter(F.col("__start") == F.col("__s2"))
        .select(
            "__start",
            F.struct("etype", "src", "dst").alias("rel"),
        )
        .groupBy("__start")
        .agg(F.sort_array(F.collect_list("rel")).alias("relationships"))
    )
    res = nodes.join(within, "__start", "left").withColumn(
        "relationships",
        F.coalesce(
            F.col("relationships"),
            F.array().cast("array<struct<etype:string,src:bigint,dst:bigint>>"),
        ),
    )
    return _join_back(db, frame, args[0], res, ["nodes", "relationships"])


# --- merge.* (procedures/merge/*.java; apoc.merge.* aliases) ---------------


@procedure("merge.node")
def _p_merge_node(db, args) -> DataFrame:
    """merge.node(labels, identProps[, onCreateProps[, onMatchProps]])
    YIELD node (MergeNode.java:54): match a node carrying the label(s)
    and identifying property values; create it when absent."""
    if not args or len(args) < 2:
        raise _err("merge.node() expects (labels, identProps[, ...])")
    labels = _split_filter(args[0]) or []
    ident = args[1] if isinstance(args[1], dict) else {}
    on_create = args[2] if len(args) > 2 and isinstance(args[2], dict) else {}
    on_match = args[3] if len(args) > 3 and isinstance(args[3], dict) else {}
    if not labels:
        raise _err("merge.node(): labels must be non-empty")
    if not ident:
        raise _err("merge.node(): identProps must be non-empty")
    g = db.graph()
    label = ":".join(labels)
    vdf = g.vertices(label)
    cond = F.lit(True)
    for k, v in ident.items():
        cond = cond & (
            (F.col(k) == F.lit(v)) if k in vdf.columns else F.lit(False)
        )
    matched = vdf.filter(cond)
    rows = matched.select("vid").limit(2).collect()
    if rows:
        if on_match:
            for key in {k.lower() for k in g.vertex_dfs}:
                if set(label.lower().split(":")) <= set(key.split(":")):
                    g.update_vertices(
                        key, matched.select("vid"),
                        [(k, F.lit(v)) for k, v in on_match.items()],
                    )
        vids = [r["vid"] for r in matched.select("vid").collect()]
    else:
        vids = g.add_vertex_rows(label, [{**ident, **on_create}])
    out = g.vertices(label).filter(F.col("vid").isin(vids))
    props = [c for c in out.columns if not c.startswith("__")]
    return out.select(F.struct(*[F.col(c) for c in props]).alias("node"))


@frame_procedure("merge.relationship")
def _p_merge_rel(db, args, frame, params):
    """merge.relationship(startNode, relType, identProps, createProps,
    endNode[, onMatchProps]) YIELD rel (MergeRelationship.java:57):
    idempotent edge merge between bound endpoints."""
    if len(args) < 5:
        raise _err(
            "merge.relationship() expects (startNode, relType, "
            "identProps, createProps, endNode[, onMatchProps])"
        )
    etype = str(args[1])
    ident = args[2] if isinstance(args[2], dict) else {}
    create = args[3] if isinstance(args[3], dict) else {}
    on_match = args[5] if len(args) > 5 and isinstance(args[5], dict) else {}
    g = db.graph()
    starts = _resolve_starts(db, args[0], frame)
    ends = _resolve_starts(db, args[4], frame)
    if frame is not None and isinstance(args[0], str) \
            and isinstance(args[4], str):
        pairs = frame.select(
            F.col(f"`{args[0]}`.vid").alias("src"),
            F.col(f"`{args[4]}`.vid").alias("dst"),
        ).where(
            F.col("src").isNotNull() & F.col("dst").isNotNull()
        ).distinct()
    else:
        pairs = starts.crossJoin(
            ends.withColumnRenamed("__start", "__end")
        ).select(
            F.col("__start").alias("src"), F.col("__end").alias("dst")
        )
    new = g.filter_new_edges(etype, pairs, props=ident)
    created = new.count()
    if created:
        fresh = new
        for k, v in {**ident, **create}.items():
            fresh = fresh.withColumn(k, F.lit(v))
        g.add_edges_from_frame(etype, fresh)
    if on_match and created < pairs.count():
        g.update_edges(
            etype, pairs.join(new, ["src", "dst"], "left_anti"),
            [(k, F.lit(v)) for k, v in on_match.items()],
            cond_props=ident or None,
        )
    e = g.edges(etype)
    for k, v in ident.items():
        if k in e.columns:
            e = e.filter(F.col(k) == F.lit(v))
        elif ident:
            e = e.limit(0)
    rel_props = [c for c in e.columns if c != "@eid"]
    hits = e.join(pairs, ["src", "dst"], "left_semi")
    rel_struct = F.struct(*[F.col(c) for c in rel_props]).alias("rel")
    if frame is None:
        return hits.select(rel_struct), ["rel"]
    if isinstance(args[0], str) and isinstance(args[4], str):
        # Bound endpoints: each pipeline row pairs ONLY with the rel it
        # merged — join on both endpoint vids (never a crossJoin, which
        # would yield N×N rows with wrong row-to-rel association).
        keyed = hits.select(
            F.col("src").alias("__msrc"), F.col("dst").alias("__mdst"),
            rel_struct,
        )
        out = frame.join(
            keyed,
            (F.col(f"`{args[0]}`.vid") == F.col("__msrc"))
            & (F.col(f"`{args[4]}`.vid") == F.col("__mdst")),
        ).drop("__msrc", "__mdst")
        return out, ["rel"]
    return frame.crossJoin(hits.select(rel_struct)), ["rel"]


# --- meta.* introspection (procedures/meta/*.java) --------------------------


def _vertex_label_frames(db):
    g = db.graph()
    g._flush_vertices()
    for key in list(g.vertex_dfs):
        disp = g.label_display.get(key, key)
        yield disp, dict.__getitem__(g.vertex_dfs, key)


_SPARK_CYPHER_TYPES = {
    "bigint": "Long", "int": "Integer", "smallint": "Integer",
    "tinyint": "Integer", "double": "Double", "float": "Float",
    "string": "String", "boolean": "Boolean", "date": "Date",
    "timestamp": "DateTime", "binary": "ByteArray",
}


def _cy_type(dt) -> str:
    s = dt.simpleString()
    if s.startswith("array"):
        return "List"
    if s.startswith(("map", "struct")):
        return "Map"
    if s.startswith("decimal"):
        return "Double"
    return _SPARK_CYPHER_TYPES.get(s, s.capitalize())


def _node_props(df) -> list[str]:
    return sorted(
        c for c in df.columns
        if not c.startswith(("__", "@")) and c != "vid"
    )


@procedure("meta.stats")
def _p_meta_stats(db, args) -> DataFrame:
    """meta.stats() YIELD value (MetaStats.java:51): node/rel counts per
    label/type packed in one struct."""
    g = db.graph()
    label_counts = {
        disp: df.count() for disp, df in _vertex_label_frames(db)
    }
    g._flush_edges()
    rel_counts = {
        r["etype"]: r["n"]
        for r in g.edges().groupBy("etype").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    } if g.edge_meta or g._edge_dfs else {}
    row = (
        (
            len(label_counts), len(rel_counts),
            int(sum(label_counts.values())), int(sum(rel_counts.values())),
            {k: int(v) for k, v in label_counts.items()},
            {k: int(v) for k, v in rel_counts.items()},
        ),
    )
    df = local_df(
        db.spark,
        list(row),
        "labelCount int, relTypeCount int, nodeCount bigint, "
        "relCount bigint, labels map<string,bigint>, "
        "relTypes map<string,bigint>",
    )
    return df.select(F.struct(*df.columns).alias("value"))


@procedure("meta.schema")
def _p_meta_schema(db, args) -> DataFrame:
    """meta.schema() YIELD value (MetaSchema.java:52): map of type name →
    {type, count, properties}."""
    g = db.graph()
    entries = []
    for disp, df in _vertex_label_frames(db):
        entries.append((disp, "node", int(df.count()), _node_props(df)))
    g._flush_edges()
    if g.edge_meta or g._edge_dfs:
        e = g.edges()
        eprops = sorted(
            c for c in e.columns
            if c not in ("etype", "src", "dst") and not c.startswith("@")
        )
        for r in e.groupBy("etype").agg(
            F.count(F.lit(1)).alias("n")
        ).collect():
            entries.append((r["etype"], "relationship", int(r["n"]), eprops))
    pairs = [
        (name, (kind, cnt, props)) for name, kind, cnt, props in entries
    ]
    return db.spark.range(1).select(
        F.map_from_arrays(
            F.array(*[F.lit(n) for n, _ in pairs]),
            F.array(*[
                F.struct(
                    F.lit(k).alias("type"),
                    F.lit(c).cast("long").alias("count"),
                    F.array(*[F.lit(p) for p in ps]).cast(
                        "array<string>"
                    ).alias("properties"),
                )
                for _, (k, c, ps) in pairs
            ]),
        ).alias("value") if pairs else F.lit(None).alias("value")
    )


@procedure("meta.graph")
def _p_meta_graph(db, args) -> DataFrame:
    """meta.graph() YIELD nodes, relationships (MetaGraph.java:53): one
    virtual node per label, one virtual relationship per edge type."""
    g = db.graph()
    nodes = [
        (f"meta:{disp}", disp, int(df.count()), _node_props(df))
        for disp, df in _vertex_label_frames(db)
    ]
    g._flush_edges()
    rels = []
    if g.edge_meta or g._edge_dfs:
        e = g.edges()
        eprops = sorted(
            c for c in e.columns
            if c not in ("etype", "src", "dst") and not c.startswith("@")
        )
        rels = [
            (f"meta_rel:{r['etype']}", r["etype"], int(r["n"]), eprops)
            for r in e.groupBy("etype").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        ]

    def pack(items):
        return F.array(*[
            F.struct(
                F.lit(i).alias("_id"), F.lit(n).alias("name"),
                F.lit(c).cast("long").alias("count"),
                F.array(*[F.lit(p) for p in ps]).cast(
                    "array<string>"
                ).alias("properties"),
            )
            for i, n, c, ps in items
        ]) if items else F.array().cast(
            "array<struct<_id:string,name:string,count:bigint,"
            "properties:array<string>>>"
        )

    return db.spark.range(1).select(
        pack(nodes).alias("nodes"), pack(rels).alias("relationships")
    )


@procedure("meta.nodetypeproperties")
def _p_meta_ntp(db, args) -> DataFrame:
    """meta.nodeTypeProperties() (MetaNodeTypeProperties.java:50): one
    row per (label, property) with the property's type; mandatory comes
    from declared-property constraints when registered."""
    rows = []
    for disp, df in _vertex_label_frames(db):
        declared = {}
        if db.schema.exists(disp):
            declared = db.schema.get(disp).properties.get("declared", {})
        for f_ in df.schema.fields:
            if f_.name.startswith(("__", "@")) or f_.name == "vid":
                continue
            spec = declared.get(f_.name, {})
            rows.append((
                disp, f_.name, [_cy_type(f_.dataType)],
                bool(spec.get("mandatory", False)),
            ))
    return local_df(
        db.spark,
        sorted(rows),
        "nodeType string, propertyName string, "
        "propertyTypes array<string>, mandatory boolean",
    )


@procedure("meta.reltypeproperties")
def _p_meta_rtp(db, args) -> DataFrame:
    """meta.relTypeProperties() (MetaRelTypeProperties.java:50)."""
    g = db.graph()
    g._flush_edges()
    rows = []
    if g.edge_meta or g._edge_dfs:
        e = g.edges()
        etypes = [r["etype"] for r in e.select("etype").distinct().collect()]
        for f_ in e.schema.fields:
            if f_.name in ("etype", "src", "dst") or \
                    f_.name.startswith(("__", "@")):
                continue
            for et in etypes:
                rows.append((et, f_.name, [_cy_type(f_.dataType)], False))
    return local_df(
        db.spark,
        sorted(rows),
        "relType string, propertyName string, "
        "propertyTypes array<string>, mandatory boolean",
    )


@procedure("db.schema.visualization")
def _p_db_schema_viz(db, args) -> DataFrame:
    """db.schema.visualization() — Neo4j-compatible schema graph (same
    virtual nodes/relationships as meta.graph; reference routes both
    through the procedure registry)."""
    return _p_meta_graph(db, args)


@procedure("vector.neighbors")
def _p_vector_neighbors(db, args) -> DataFrame:
    """vector.neighbors('Type[prop]', <vector | record key>, k) YIELD
    name, distance (CypherCallVectorNeighborsTest.java; SQL-surface twin
    of the LSMVectorIndex neighbor search).  A string second argument
    names an existing record (its id property); its stored vector is the
    query and the record itself is excluded.  distance = cosine
    distance, ascending."""
    if len(args) != 3:
        raise _err("vector.neighbors() expects (indexSpec, vector|key, k)")
    spec = str(args[0])
    k = int(args[2])
    if "[" in spec and spec.endswith("]"):
        type_name, prop = spec[:-1].split("[", 1)
    else:
        meta = db.schema.indexes.get(spec)
        if meta is None:
            raise _err(f"vector index '{spec}' not found")
        type_name, prop = meta["type"], meta["props"][0]
    base = db.schema.table(type_name)
    if prop not in base.columns:
        raise _err(f"type '{type_name}' has no vector column '{prop}'")
    tdef = db.schema.get(type_name)
    id_col = tdef.key
    if id_col is None or id_col not in base.columns:
        # id property: first string column (the reference's vector index
        # is keyed by a declared string id property)
        id_col = next(
            (c for c, t in base.dtypes if t == "string"
             and not c.startswith("@")),
            None,
        )
    if id_col is None:
        raise _err(f"type '{type_name}' has no id property for neighbors")
    from arcadedb_spark.vector.distance import cosine_similarity

    exclude = None
    if isinstance(args[1], str):
        rows = base.filter(F.col(id_col) == args[1]) \
            .select(prop).limit(1).collect()
        if not rows:
            raise _err(f"record '{args[1]}' not found in {type_name}")
        qvec = [float(x) for x in rows[0][0]]
        exclude = args[1]
    else:
        qvec = [float(x) for x in args[1]]
    q = F.array(*[F.lit(float(v)) for v in qvec])
    out = base
    if exclude is not None:
        out = out.filter(F.col(id_col) != exclude)
    return (
        out.select(
            F.col(id_col).alias("name"),
            (F.lit(1.0) - cosine_similarity(
                F.col(prop).cast("array<double>"), q
            )).alias("distance"),
        )
        .orderBy(F.col("distance").asc())
        .limit(k)
    )


# --- db.index.vector.queryNodes (DbIndexVectorQueryNodes.java) --------------


@procedure("db.index.vector.querynodes")
def _p_vector_query_nodes(db, args) -> DataFrame:
    """db.index.vector.queryNodes(indexName, k, vector) YIELD node, score
    (DbIndexVectorQueryNodes.java): index name is 'Type[property]';
    score = cosine similarity (1 - distance), descending."""
    if len(args) != 3:
        raise _err(
            "db.index.vector.queryNodes() expects (indexName, k, vector)"
        )
    spec = str(args[0])
    k = int(args[1])
    qvec = [float(x) for x in args[2]]
    if "[" in spec and spec.endswith("]"):
        type_name, prop = spec[:-1].split("[", 1)
    else:
        meta = db.schema.indexes.get(spec)
        if meta is None:
            raise _err(f"vector index '{spec}' not found")
        type_name, prop = meta["type"], meta["props"][0]
    from arcadedb_spark.vector.distance import cosine_similarity

    base = db.schema.table(type_name)
    if prop not in base.columns:
        raise _err(f"type '{type_name}' has no vector column '{prop}'")
    q = F.array(*[F.lit(float(v)) for v in qvec])
    data_cols = [c for c in base.columns if not c.startswith("__")]
    return (
        base.select(
            F.struct(*[F.col(c) for c in data_cols]).alias("node"),
            cosine_similarity(F.col(prop).cast("array<double>"), q)
            .alias("score"),
        )
        .orderBy(F.col("score").desc())
        .limit(k)
    )
