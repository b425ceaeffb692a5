"""MATCH statement → join-chain translation.

Reference: query/sql/executor/MatchExecutionPlanner.java:59 plans a
topological traversal schedule with root-cardinality estimation (:115,
:263) and executes via MatchStep/MatchEdgeTraverser record-at-a-time.
Spark re-expression: each pattern path becomes a chain of equi-joins
vertexDF ⋈ edgeDF ⋈ vertexDF…; join ordering and broadcast choices are
left to Catalyst CBO + AQE (replacing the reference's hand cost model).

Pattern aliases become struct columns, so RETURN expressions compile with
the ordinary expression compiler (``c.c_name`` → ``col("c").getField``).

- optional step   → left_outer join (OptionalMatchStep.java:24)
- NOT pattern     → left_anti join (FilterNotMatchPatternStep.java:26)
- multiple paths  → join on shared aliases; cross-join when disjoint
  (CartesianProductStep.java:31)
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arcadedb_spark.graph.superstep import Supersteps
from arcadedb_spark.sql import ast
from arcadedb_spark.sql.translator import Ctx, ExprCompiler, TranslateError, Translator

_uid = itertools.count()


def _vertex_df(db, type_name: str | None) -> DataFrame:
    g = db.graph()
    if type_name is None:
        # anonymous node: all vertices with all properties (null-padded)
        df = g.all_vertices_full()
        if df is None:
            return db.spark.createDataFrame([], "vid long, `@type` string")
        return df
    if type_name.lower().startswith("bucket:"):
        # {bucket: <name|id>}: resolve the owning type (default bucket
        # names equal the type name; named buckets know their owner)
        bval = type_name.split(":", 1)[1]
        meta = db.schema.named_buckets.get(bval.lower())
        if meta is not None and meta.get("owner"):
            type_name = meta["owner"]
        elif bval.isdigit():
            tdef = next(
                (t for t in db.schema._types.values()
                 if t.bucket_id == int(bval)), None,
            )
            if tdef is None:
                raise TranslateError(f"No bucket {bval}")
            type_name = tdef.name
        else:
            type_name = bval
    alts = [
        {p for p in a.split(":") if p}
        for a in type_name.lower().split("|") if a
    ]
    in_graph = any(
        any(w <= set(k.split(":")) for w in alts)
        for k in list(g.vertex_dfs)
    )
    if not in_graph and db.schema.exists(type_name):
        # MATCH over a catalog DOCUMENT type (MatchStatement.java works
        # on any type): synthesize vid/@type over the table scan; such
        # nodes have no incident edges, so only root patterns bind
        tdef = db.schema.get(type_name)
        base = db.schema.table(type_name)
        if "@rid" in base.columns:
            vid = (
                F.lit(tdef.bucket_id * (1 << 40))
                + F.split(F.col("@rid"), ":").getItem(1).cast("long")
            )
        else:
            vid = F.monotonically_increasing_id()
        out = base.withColumn("vid", vid)
        if "@type" not in out.columns:
            out = out.withColumn("@type", F.lit(tdef.name))
        return out
    return g.vertices(type_name)


def _structify(df: DataFrame, alias: str) -> DataFrame:
    """Collapse all columns into one struct column named ``alias``."""
    return df.select(F.struct(*[F.col(c) for c in df.columns]).alias(alias))


def _apply_where(db, df: DataFrame, where: ast.Expr | None, params: dict) -> DataFrame:
    if where is None:
        return df
    ctx = Ctx(db=db, params=params, columns=tuple(df.columns),
              frame_schema=df.schema)
    return df.filter(ExprCompiler(ctx).compile(where))


def _expand(
    db,
    current: DataFrame,
    from_alias: str,
    step: ast.MatchStep,
    params: dict,
    alias: str,
    prev_step: ast.MatchStep | None = None,
    rel_unique: bool = False,
) -> tuple[DataFrame, str]:
    """Join one traversal step; returns (df, new_alias)."""
    g = db.graph()
    method = step.method
    # fetch the @eid-free edge frames unless something in this step reads
    # edge identity: relationship uniqueness / undirected dedup / a bound
    # relationship variable / var-length paths / edge-record steps.  The
    # identity column drags a parquet-metadata struct through every scan
    # (model.add_edges), so plain directed SQL-MATCH hops skip it.
    _needs_identity = (
        rel_unique
        or method in ("oute", "ine", "bothe", "both", "bothv")
        or bool(getattr(step, "edge_alias", None))
        or bool(getattr(step, "var_length", False))
        or step.min_hops != 1
        or step.max_hops != 1
    )
    e = (
        g.edges(*step.edge_types, with_identity=_needs_identity)
        if step.edge_types
        else g.edges(with_identity=_needs_identity)
    )
    if step.edge_props:
        # inline relationship property map -[r:T {k: v}]- is an equality
        # predicate on the edge (TCK clauses/match Match2)
        from arcadedb_spark.graph.cypher import _ast_literal

        for k, ve in step.edge_props:
            try:
                val = _ast_literal(ve, params)
            except ValueError:
                val = None
            if k not in e.columns or val is None:
                e = e.filter(F.lit(False))  # unknown prop/null: no match
            else:
                e = e.filter(F.col(k) == F.lit(val))

    # Edge step (.outE/.inE/.bothE{as: e, where: (edge props…)}):
    # the step alias binds to the EDGE record; a following .inV()/.outV()
    # completes the hop (MatchEdgeTraverser edge-record semantics).
    if method in ("oute", "ine", "bothe"):
        edge_filtered = _apply_where(db, e, step.filter.where, params)
        frames = []
        if method in ("oute", "bothe"):
            frames.append(
                edge_filtered.select(
                    F.col("src").alias("__efrom"),
                    F.col("dst").alias("__eto"),
                    F.struct(*[F.col(c) for c in edge_filtered.columns]).alias(alias),
                )
            )
        if method in ("ine", "bothe"):
            frames.append(
                edge_filtered.select(
                    F.col("dst").alias("__efrom"),
                    F.col("src").alias("__eto"),
                    F.struct(*[F.col(c) for c in edge_filtered.columns]).alias(alias),
                )
            )
        edge_side = frames[0]
        for fr in frames[1:]:
            edge_side = edge_side.unionByName(fr)
        how = "left_outer" if step.filter.optional else "inner"
        out = current.join(
            edge_side, F.col(f"{from_alias}.vid") == edge_side["__efrom"], how
        ).drop("__efrom")
        # __eto_<alias> carries the pending endpoint for .inV()/.outV()
        out = out.withColumnRenamed("__eto", f"__eto_{alias}")
        return out, alias

    if method in ("outv", "inv", "bothv"):
        # complete a preceding edge step: join the vertex at the pending
        # endpoint (from_alias is the edge alias)
        pending = f"__eto_{from_alias}"
        if pending not in current.columns:
            raise TranslateError(
                f".{method}() must follow an edge step (.outE/.inE)"
            )
        target_type = step.filter.type_name
        if target_type is None and prev_step is not None and len(prev_step.edge_types) == 1:
            meta = g.edge_meta.get(prev_step.edge_types[0])
            if meta is not None:
                # the pending endpoint follows the edge-step direction
                target_type = meta[1] if prev_step.method == "oute" else (
                    meta[0] if prev_step.method == "ine" else None
                )
        target = _vertex_df(db, target_type)
        target = _apply_where(db, target, step.filter.where, params)
        target_s = _structify(target, alias)
        how = "left_outer" if step.filter.optional else "inner"
        out = current.join(
            target_s, F.col(pending) == F.col(f"{alias}.vid"), how
        ).drop(pending)
        return out, alias

    if method in ("out", "outv"):
        directions = [("src", "dst")]
    elif method in ("in", "inv"):
        directions = [("dst", "src")]
    else:  # both
        directions = [("src", "dst"), ("dst", "src")]

    # edge frame with normalized (from_vid, to_vid); a Cypher relationship
    # variable (-[r:T]->) rides along as a struct column so RETURN r.prop /
    # type(r) resolve (single-hop only — var-length has no one edge)
    is_vl = getattr(step, "var_length", False)
    ealias = (step.edge_alias
              if step.max_hops == 1 and step.min_hops == 1 and not is_vl
              else None)
    # stable edge identity for Cypher relationship-uniqueness: the stored
    # @eid column when the graph stamped one (build/write time — a column
    # read, no per-pattern hashing), else a hash of the full
    # (orientation-independent) edge row.  Null-padded @eid rows (frames
    # whose derivation had no row metadata) keep the content-hash
    # fallback; only for those does the documented deviation remain:
    # fully identical parallel edges collapse to one identity.
    _hash_cols = [F.col(c) for c in e.columns if c != "@eid"]
    if "@eid" in e.columns:
        eid_col = F.coalesce(F.col("@eid"), F.xxhash64(*_hash_cols))
    else:
        eid_col = F.xxhash64(*_hash_cols)
    anon_undirected = (
        not ealias and len(directions) > 1
        and step.max_hops == 1 and step.min_hops == 1
    )
    parts = []
    for a, b in directions:
        cols = [F.col(a).alias("__from"), F.col(b).alias("__to")]
        if ealias:
            cols.append(F.struct(*[F.col(c) for c in e.columns]).alias(ealias))
        if (rel_unique and step.max_hops == 1 and step.min_hops == 1) or (
            anon_undirected
        ):
            cols.append(eid_col.alias(f"__eid_{alias}"))
            # traversal direction relative to the stored edge: 'out' when
            # walked src→dst — path rendering needs it (TCK Match6[12]).
            # Self-loops normalize to 'out' so the undirected distinct()
            # still collapses the two orientations to one binding.
            cols.append(
                F.when(F.col(a) == F.col(b), F.lit("out"))
                .otherwise(F.lit("out" if (a, b) == ("src", "dst") else "in"))
                .alias(f"__edir_{alias}")
            )
        parts.append(e.select(*cols))
    edge = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    if len(parts) > 1 and (ealias or anon_undirected):
        # undirected self-loops must bind once, not once per orientation
        # (TCK countingSubgraphMatches — eid keeps parallel edges apart)
        edge = edge.distinct()
        if anon_undirected and not rel_unique:
            edge = edge.drop(f"__eid_{alias}", f"__edir_{alias}")

    if step.min_hops != 1 or step.max_hops != 1 or is_vl:
        # Variable-length relationship (Cypher -[:T*min..max]->, reference
        # ExpandPathStep.java:57): relationship-unique PATH enumeration —
        # one output row per distinct path, carrying the visited vid list
        # and the relationship list (supports length(p)/nodes(p) and
        # var-length relationship variables).  max_hops == -1 is Cypher's
        # unbounded upper end; edge-uniqueness bounds path length by |E|,
        # so the frontier drains and the loop terminates.
        # Scale note: path counts can grow combinatorially — bounded hops
        # are strongly recommended on large graphs; each superstep is one
        # distributed self-join on the shared superstep driver.
        from pyspark.sql.types import ArrayType, StructType

        vname = f"__pvids_{alias}"
        rname = f"__prels_{alias}"
        iname = f"__peids_{alias}"
        dname = f"__pdirs_{alias}"
        estruct = F.struct(*[F.col(c) for c in e.columns])
        bparts = []
        for a, b in directions:
            bparts.append(
                e.select(
                    F.col(a).alias("__from"),
                    F.col(b).alias("__to"),
                    estruct.alias("__rel"),
                    eid_col.alias("__eid"),
                    # traversal orientation per hop (self-loops normalize
                    # to 'out' — both orientations are the same binding)
                    F.when(F.col(a) == F.col(b), F.lit("out"))
                    .otherwise(F.lit(
                        "out" if (a, b) == ("src", "dst") else "in"
                    ))
                    .alias("__dir"),
                )
            )
        base = bparts[0]
        for fr in bparts[1:]:
            base = base.unionByName(fr)
        base = base.cache()
        unbounded = step.max_hops < 0
        selected = []
        rel_t = ArrayType(StructType(list(e.schema.fields)))
        if step.min_hops == 0:
            av = g.all_vertices_full()
            if av is None:
                ids = db.spark.createDataFrame([], "vid long")
            else:
                ids = av.select("vid")
            selected.append(
                ids.select(
                    F.col("vid").alias("__from"),
                    F.col("vid").alias("__to"),
                    F.array(F.col("vid")).alias(vname),
                    F.array().cast(rel_t).alias(rname),
                    F.array().cast("array<long>").alias(iname),
                    F.array().cast("array<string>").alias(dname),
                )
            )
        if unbounded or step.max_hops >= 1:
            # paths start at the bound vertices only: `__from` never
            # changes along a path, and the closing join keeps no other
            starts = current.select(F.col(f"{from_alias}.vid").alias("__from"))
            one = base.join(starts.distinct(), "__from", "left_semi").select(
                "__from",
                "__to",
                F.array(F.col("__from"), F.col("__to")).alias(vname),
                F.array(F.col("__rel")).alias(rname),
                F.array(F.col("__eid")).alias(iname),
                F.array(F.col("__dir")).alias(dname),
                F.lit(1).alias("__hop"),
            ).cache()
            # every hop's paths, tagged with the hop; the frontier is the
            # newest hop
            frontier = paths = one
            ss = Supersteps(level="__hop")
            h = 1
            # unbounded (*) expansion superstep cap: edge-uniqueness bounds
            # path length by |E|, but pathological graphs could need huge
            # hop counts — configurable, and hitting it with a live
            # frontier is an ERROR (silent truncation would drop paths)
            cap = int(
                db.spark.conf.get("arcadedb.match.maxVarLengthHops", "100")
            )
            drained = False
            # WALK mode (rel_unique=False, bounded): edges may repeat —
            # drop the anti-reuse conjunct; termination comes from the
            # explicit max-hop bound (PathMode.java WALK)
            join_cond = F.col("r.__to") == F.col("s.__from")
            if rel_unique or unbounded:
                join_cond = join_cond & ~F.array_contains(
                    F.col(f"r.{iname}"), F.col("s.__eid")
                )
            while (unbounded or h < step.max_hops) and h < cap:
                h += 1
                frontier = (
                    frontier.alias("r")
                    .join(base.alias("s"), join_cond)
                    .select(
                        F.col("r.__from").alias("__from"),
                        F.col("s.__to").alias("__to"),
                        F.concat(
                            F.col(f"r.{vname}"), F.array(F.col("s.__to"))
                        ).alias(vname),
                        F.concat(
                            F.col(f"r.{rname}"), F.array(F.col("s.__rel"))
                        ).alias(rname),
                        F.concat(
                            F.col(f"r.{iname}"), F.array(F.col("s.__eid"))
                        ).alias(iname),
                        F.concat(
                            F.col(f"r.{dname}"), F.array(F.col("s.__dir"))
                        ).alias(dname),
                        F.lit(h).alias("__hop"),
                    )
                )
                if ss.step(frontier, F.count(F.lit(1)))[0] == 0:
                    drained = True
                    break
                paths = ss.carry(paths.unionByName(frontier))
                frontier = ss.frontier
            if unbounded and not drained and h >= cap:
                # probe one more expansion: only a LIVE frontier means
                # paths were actually dropped (a longest path of exactly
                # `cap` hops is complete, not truncated)
                probe = frontier.alias("r").join(
                    base.alias("s"),
                    (F.col("r.__to") == F.col("s.__from"))
                    & ~F.array_contains(
                        F.col(f"r.{iname}"), F.col("s.__eid")
                    ),
                )
                if not probe.isEmpty():
                    ss.finish(paths.limit(0))  # release; nothing to pin
                    one.unpersist()
                    base.unpersist()
                    raise TranslateError(
                        f"unbounded var-length expansion exceeded {cap} "
                        "hops with paths still growing — results would "
                        "be truncated; raise "
                        "arcadedb.match.maxVarLengthHops or bound the "
                        "pattern (*..n)"
                    )
            paths = ss.finish(paths)
            one.unpersist()
            selected.append(
                paths.filter(F.col("__hop") >= max(step.min_hops, 1))
                .drop("__hop")
            )
        base.unpersist()
        if not selected:
            edge = db.spark.createDataFrame(
                [], StructType(
                    base.select(
                        "__from", "__to",
                        F.array(F.col("__from")).alias(vname),
                        F.array(F.col("__rel")).alias(rname),
                        F.array(F.col("__eid")).alias(iname),
                        F.array(F.col("__dir")).alias(dname),
                    ).schema.fields
                )
            )
        else:
            edge = selected[0]
            for fr in selected[1:]:
                edge = edge.unionByName(fr)
        if step.edge_alias:
            # var-length relationship variable binds the relationship LIST
            edge = edge.withColumn(step.edge_alias, F.col(rname))

    # infer the target vertex type from edge metadata when the pattern
    # leaves it anonymous (the reference resolves it from the edge type's
    # schema constraints the same way)
    target_type = step.filter.type_name
    if target_type is None and len(step.edge_types) == 1 and step.min_hops >= 1:
        meta = g.edge_meta.get(step.edge_types[0])
        if meta is not None:
            if method in ("out", "oute", "outv"):
                target_type = meta[1]
            elif method in ("in", "ine", "inv"):
                target_type = meta[0]
            elif meta[0] == meta[1]:
                target_type = meta[0]

    target = _vertex_df(db, target_type)
    target = _apply_where(db, target, step.filter.where, params)
    target_s = _structify(target, alias)

    right = edge.join(
        target_s, edge["__to"] == F.col(f"{alias}.vid"), "inner"
    ).drop("__to")

    how = "left_outer" if step.filter.optional else "inner"
    out = current.join(
        right, F.col(f"{from_alias}.vid") == right["__from"], how
    ).drop("__from")
    return out, alias


def translate_path(
    db, path: ast.MatchPath, params: dict, keep_rel_ids: bool = False,
    defer_shortest: bool = False,
) -> tuple[DataFrame, list[str]]:
    root_alias = path.root.alias or f"__m{next(_uid)}"
    df = _vertex_df(db, path.root.type_name)
    df = _apply_where(db, df, path.root.where, params)
    df = _structify(df, root_alias)
    aliases = [root_alias]
    hops = [root_alias]  # step-ordered endpoints (repeats kept) for path vids
    # per-step alias whose __eid_/__edir_/__peids_/__pdirs_ columns carry
    # the hop's edge identity (differs from the hop alias on cyclic
    # back-edges, where the expansion uses a fresh name)
    eid_hops: list[str] = []
    # Vacuous relationship-uniqueness: a pattern with exactly ONE
    # single-hop relationship cannot bind the same relationship twice, so
    # the all-distinct filter never fires and the edge identity it feeds
    # is dead — unless something else reads it (a path variable carries
    # eids as part of path identity, clause-wide isomorphism defers them,
    # shortestPath re-ranks on them).  Dropping rel_unique here lets
    # _expand fetch the @eid-free slim edge frames (no per-row
    # parquet-metadata struct on the scan).
    step0 = path.steps[0] if path.steps else None
    vacuous_unique = (
        path.rel_unique
        and not keep_rel_ids
        and not getattr(path, "path_alias", None)
        and not getattr(path, "shortest", None)
        and len(path.steps) == 1
        and step0.min_hops == 1
        and step0.max_hops == 1
        and not getattr(step0, "var_length", False)
    )
    rel_unique = path.rel_unique and not vacuous_unique
    cur = root_alias
    prev = None
    for step in path.steps:
        want = step.filter.alias or f"__m{next(_uid)}"
        if want in aliases:
            # cyclic / self-referencing pattern ((a)-->(b)-->(a)): the
            # repeated alias is an equality constraint on the earlier
            # binding, not a second column (MatchExecutionPlanner
            # back-edge handling; TCK Match3 cyclic scenarios)
            fresh = f"__cyc{next(_uid)}"
            df, _ = _expand(db, df, cur, step, params, fresh,
                            prev_step=prev, rel_unique=rel_unique)
            df = df.filter(
                F.col(f"{fresh}.vid") == F.col(f"{want}.vid")
            ).drop(fresh)
            cur = want
            eid_hops.append(fresh)
        else:
            df, cur = _expand(db, df, cur, step, params, want,
                              prev_step=prev, rel_unique=rel_unique)
            aliases.append(cur)
            eid_hops.append(want)
        hops.append(want)
        if step.edge_alias and step.edge_alias not in aliases:
            # relationship variable: joinable across clauses for single
            # hops (MATCH ()-[r:T1]->() MATCH ()-[r:T2]->() joins on r);
            # a relationship LIST for var-length steps
            aliases.append(step.edge_alias)
        prev = step
    if getattr(path, "path_mode", None) == "acyclic" and path.steps:
        # MATCH ACYCLIC (PathMode.java): no vertex repeats along the
        # path — concat every hop's vids and require all-distinct.
        # (TRAIL is the default edge-uniqueness; WALK cleared rel_unique
        # at parse.)
        av_parts = [F.array(F.col(f"{root_alias}.vid"))]
        for step, a, ea in zip(path.steps, hops[1:], eid_hops):
            pv = f"__pvids_{ea}"
            if pv in df.columns:
                av_parts.append(F.slice(F.col(pv), 2, 1 << 30))
            else:
                av_parts.append(F.array(F.col(f"{a}.vid")))
        allv = F.concat(*av_parts)
        df = df.filter(F.size(F.array_distinct(allv)) == F.size(allv))
    if getattr(path, "path_alias", None):
        # p = (a)-[..]->(b): struct(vids, n_rels) — supports length(p) /
        # nodes(p).  Var-length steps contribute their enumerated vid
        # lists (leading endpoint sliced off: already in the prefix).
        vid_parts = [F.array(F.col(f"{root_alias}.vid"))]
        n_rels = None
        eid_parts: list = []
        dir_parts: list = []
        ids_complete = True
        for step, a, ea in zip(path.steps, hops[1:], eid_hops):
            pv = f"__pvids_{ea}"
            if pv in df.columns:
                vid_parts.append(F.slice(F.col(pv), 2, 1 << 30))
                seg = F.size(F.col(pv)) - F.lit(1)
                if f"__peids_{ea}" in df.columns and f"__pdirs_{ea}" in df.columns:
                    eid_parts.append(F.col(f"__peids_{ea}"))
                    dir_parts.append(F.col(f"__pdirs_{ea}"))
                else:
                    ids_complete = False
            else:
                vid_parts.append(F.array(F.col(f"{a}.vid")))
                seg = F.lit(1)
                if f"__eid_{ea}" in df.columns and f"__edir_{ea}" in df.columns:
                    eid_parts.append(F.array(F.col(f"__eid_{ea}")))
                    dir_parts.append(F.array(F.col(f"__edir_{ea}")))
                else:
                    ids_complete = False
            n_rels = seg if n_rels is None else (n_rels + seg)
        # when every hop recorded its edge identity + orientation, the
        # path carries them: edge identity is part of openCypher path
        # identity (two paths over the same vids but different parallel
        # edges differ), and rendering needs the walked direction
        # (TCK Match6[12,13])
        extra = []
        if ids_complete and eid_parts:
            extra = [
                F.concat(*eid_parts).alias("eids"),
                F.concat(*dir_parts).alias("dirs"),
            ]
        df = df.withColumn(
            path.path_alias,
            F.struct(
                F.concat(*vid_parts).alias("vids"),
                (n_rels if n_rels is not None else F.lit(0))
                .cast("int")
                .alias("n_rels"),
                *extra,
            ),
        )
        aliases = aliases + [path.path_alias]
    if path.rel_unique:
        # openCypher relationship-uniqueness: no relationship may bind
        # twice within one pattern — concat every step's edge identity
        # (scalar for single hops, array for var-length) and require all
        # distinct (RelationshipUniqueness in the reference's planner)
        id_parts = []
        for c in df.columns:
            if c.startswith("__eid_"):
                id_parts.append(F.array(F.col(c)))
            elif c.startswith("__peids_"):
                id_parts.append(F.col(c))
        if len(id_parts) > 1:
            allids = F.concat(*id_parts)
            df = df.filter(
                F.size(F.array_distinct(allids)) == F.size(allids)
            )
        # isomorphism applies across ALL comma-separated paths of one
        # MATCH clause: keep_rel_ids leaves the edge-identity columns for
        # combine_paths to run the clause-wide all-distinct filter.  The
        # names are suffixed per path — eid columns are named after the
        # step's TARGET node alias, and two paths ending at the same bound
        # node would otherwise collide (TCK Match3[20]).
        pref = (
            ("__pvids_", "__prels_", "__edir_", "__pdirs_")
            if keep_rel_ids
            else (
                "__eid_", "__peids_", "__pvids_", "__prels_",
                "__edir_", "__pdirs_",
            )
        )
        drop = [c for c in df.columns if c.startswith(pref)]
        if drop:
            df = df.drop(*drop)
        if keep_rel_ids:
            for c in list(df.columns):
                if c.startswith(("__eid_", "__peids_")):
                    df = df.withColumnRenamed(c, f"{c}#{next(_uid)}")
    if getattr(path, "shortest", None) and getattr(
        path, "inline_where", None
    ) is not None:
        # function-form shortestPath((a)-[r:T* WHERE pred]->(b)): the
        # inline predicate filters candidate walks BEFORE minimal-hop
        # selection (reference applies edge filters during expansion) —
        # clause-form paths had inline_where folded into the clause
        # WHERE at parse, so this only fires for hoisted function paths
        df = _apply_where_conjuncts(
            db, df, _and_conjuncts(path.inline_where), params
        )
    if getattr(path, "shortest", None) and path.path_alias \
            and not defer_shortest:
        df = _apply_shortest_selection(df, path.path_alias, path.shortest)
    return df, aliases


def _apply_shortest_selection(df: DataFrame, path_alias: str,
                              kind: str) -> DataFrame:
    """shortestPath()/allShortestPaths(): among the (uniqueness-filtered)
    enumerated walks keep only minimal-hop ones per endpoint pair — a
    partitioned window, no global sort (reference
    CypherShortestPathEdgeFilterTest).  When the clause WHERE references
    the path, combine_paths defers this selection until after that
    predicate so the result is the shortest path SATISFYING it, not an
    empty set when the globally-shortest one fails it."""
    from pyspark.sql import Window as _W

    pc = F.col(path_alias)
    src_v = F.element_at(pc.getField("vids"), 1)
    dst_v = F.element_at(pc.getField("vids"), -1)
    w = _W.partitionBy(src_v, dst_v)
    df = df.withColumn(
        "__sp_min", F.min(pc.getField("n_rels")).over(w)
    ).filter(pc.getField("n_rels") == F.col("__sp_min")).drop("__sp_min")
    if kind == "single":
        w2 = _W.partitionBy(src_v, dst_v).orderBy(pc.getField("vids"))
        df = (
            df.withColumn("__sp_rn", F.row_number().over(w2))
            .filter(F.col("__sp_rn") == 1)
            .drop("__sp_rn")
        )
    return df


def _collect_pattern_exprs(e, out: list, bound: frozenset = frozenset()) -> None:
    """Collect PatternExpr/PatternComp nodes with the set of LAMBDA
    variables (list-comprehension/quantifier/reduce vars) in scope at
    each — a pattern rooted at a lambda variable needs the deferred
    per-element marker (TCK Pattern2[7])."""
    if isinstance(e, ast.FuncCall) and e.name.lower() == "size" and any(
        isinstance(a, ast.PatternExpr) for a in e.args
    ):
        # size() on a bare pattern is UnexpectedSyntax in openCypher (TCK
        # List6[6]) — the supported form is size([pattern | 1]).  Raise
        # BEFORE lowering: the bare-pattern marker would compute an
        # (unbounded) match count that the query then rejects anyway.
        raise TranslateError(
            "size() on a pattern is not allowed — use a pattern "
            "comprehension: size([pattern | 1])"
        )
    if isinstance(e, (ast.PatternExpr, ast.PatternComp)):
        out.append((e, bound))
        return
    if isinstance(e, ast.ListComp):
        _collect_pattern_exprs(e.source, out, bound)
        inner = bound | {e.var}
        _collect_pattern_exprs(e.pred, out, inner)
        _collect_pattern_exprs(e.proj, out, inner)
        return
    if isinstance(e, ast.Quantifier):
        _collect_pattern_exprs(e.source, out, bound)
        _collect_pattern_exprs(e.pred, out, bound | {e.var})
        return
    if hasattr(e, "__dataclass_fields__"):
        for f_ in e.__dataclass_fields__:
            _collect_pattern_exprs(getattr(e, f_), out, bound)
    elif isinstance(e, (tuple, list)):
        for x in e:
            _collect_pattern_exprs(x, out, bound)


def enrich_path_columns(db, df: DataFrame, pvars: list[str]) -> DataFrame:
    """Attach entity payloads to path-struct columns for RESULT cells:
    {vids, n_rels} → {vids, n_rels, nodes: array<node>, rels: array<rel>}.

    Paths never carry payloads through the match shuffles (they would
    multiply every frontier row by the full property width at scale);
    enrichment is one dedup + posexplode + equi-join per returned path
    column, exactly like nodes(p).  Relationship structs carry a __dir
    field ('out'/'in') — the stored edge may run either way along the
    path.  Reference result shape: TCKResultMatcher.java renders paths as
    alternating node/rel entities."""
    from pyspark.sql.types import StructType

    g = db.graph()
    av = g.all_vertices_full()
    for pv in pvars:
        dt = df.schema[pv].dataType
        if not isinstance(dt, StructType) or not (
            {"vids", "n_rels"} <= set(dt.names)
        ):
            continue
        if "nodes" in dt.names:
            continue  # already enriched
        uidc = f"__pe{next(_uid)}"
        key = F.col(f"{pv}.vids")
        # identity hash must include edge ids when present: two paths over
        # the same vids can differ in which parallel edge they walked
        df = df.withColumn(
            uidc,
            F.xxhash64(key, F.col(f"{pv}.eids"))
            if "eids" in dt.names else F.xxhash64(key),
        )
        base = df.select(F.col(uidc), key.alias("__vs")).dropDuplicates(
            [uidc]
        )
        # nodes: position-ordered entity list
        ex = base.select(
            F.col(uidc), F.posexplode("__vs").alias("__pos", "__vid")
        )
        if av is not None:
            ent = F.struct(*[F.col(c) for c in av.columns])
            nj = ex.join(
                av.select(F.col("vid").alias("__av"), ent.alias("__ent")),
                F.col("__vid") == F.col("__av"), "left",
            )
        else:
            nj = ex.withColumn("__ent", F.lit(None))
        nodes_agg = nj.groupBy(uidc).agg(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("__pos").alias("p"),
                             F.col("__ent").alias("e"))
                )),
                lambda x: x["e"],
            ).alias("__nodes")
        )
        e_ = g.edges()
        if "eids" in dt.names and "dirs" in dt.names:
            # the path recorded which edge it walked and in which
            # orientation — join by the edge-identity hash (exact even
            # with parallel edges / both-direction pairs, TCK Match6)
            ebase = df.select(
                F.col(uidc),
                F.col(f"{pv}.eids").alias("__es"),
                F.col(f"{pv}.dirs").alias("__ds"),
            ).dropDuplicates([uidc])
            pairs = ebase.select(
                F.col(uidc),
                F.posexplode(
                    F.zip_with(
                        "__es", "__ds",
                        lambda e2, d2: F.struct(
                            e2.alias("eid"), d2.alias("dir")
                        ),
                    )
                ).alias("__pos", "__pair"),
            )
            # must mirror the pattern-side eid formula exactly (stored
            # @eid column first, content-hash fallback)
            _ehc = [F.col(c) for c in e_.columns if c != "@eid"]
            ehash = (
                F.coalesce(F.col("@eid"), F.xxhash64(*_ehc))
                if "@eid" in e_.columns
                else F.xxhash64(*_ehc)
            )
            ek = e_.select(
                ehash.alias("__eh"),
                F.struct(*[F.col(c) for c in e_.columns]).alias("__er"),
            ).dropDuplicates(["__eh"])
            rj = pairs.join(
                ek, F.col("__pair.eid") == F.col("__eh"), "left"
            ).select(
                F.col(uidc), "__pos",
                F.struct(
                    F.col("__er.*"), F.col("__pair.dir").alias("__dir")
                ).alias("__r"),
            )
        else:
            # fallback: consecutive (s, d) pairs joined against the edge
            # universe in both orientations; parallel edges dedupe to one
            # deterministic representative
            pairs = base.select(
                F.col(uidc),
                F.posexplode(
                    F.when(
                        F.size("__vs") > 1,
                        F.zip_with(
                            F.slice("__vs", 1, F.greatest(F.size("__vs") - 1, F.lit(0))),
                            F.slice("__vs", 2, F.greatest(F.size("__vs") - 1, F.lit(0))),
                            lambda a, b: F.struct(a.alias("s"), b.alias("d")),
                        ),
                    ).otherwise(F.array().cast("array<struct<s:long,d:long>>")),
                ).alias("__pos", "__pair"),
            )
            es = F.struct(
                *[F.col(c) for c in e_.columns], F.lit("out").alias("__dir")
            )
            fwd = e_.groupBy("src", "dst").agg(F.min(es).alias("__rel")).select(
                F.col("src").alias("__s"), F.col("dst").alias("__d"), "__rel"
            )
            es_in = F.struct(
                *[F.col(c) for c in e_.columns], F.lit("in").alias("__dir")
            )
            bwd = e_.groupBy("src", "dst").agg(F.min(es_in).alias("__rel")).select(
                F.col("dst").alias("__s"), F.col("src").alias("__d"),
                F.col("__rel").alias("__relb"),
            )
            rj = (
                pairs.join(
                    fwd,
                    (F.col("__pair.s") == F.col("__s"))
                    & (F.col("__pair.d") == F.col("__d")),
                    "left",
                )
                .drop("__s", "__d")
                .join(
                    bwd,
                    (F.col("__pair.s") == F.col("__s"))
                    & (F.col("__pair.d") == F.col("__d")),
                    "left",
                )
                .select(
                    F.col(uidc), "__pos",
                    F.coalesce(F.col("__rel"), F.col("__relb")).alias("__r"),
                )
            )
        rels_agg = rj.groupBy(uidc).agg(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("__pos").alias("p"), F.col("__r").alias("e"))
                )),
                lambda x: x["e"],
            ).alias("__rels")
        )
        # DataType OBJECT, not simpleString: field names like @eid do
        # not round-trip through the SQL type parser
        rel_arr_type = rels_agg.schema["__rels"].dataType
        enj = nodes_agg.join(rels_agg, uidc, "left")
        df = df.join(enj, uidc, "left").withColumn(
            pv,
            # an unmatched OPTIONAL path is NULL, not an empty struct
            # (TCK Match7[16,18,19])
            F.when(
                F.col(f"{pv}.vids").isNotNull(),
                F.struct(
                    F.col(f"{pv}.vids").alias("vids"),
                    F.col(f"{pv}.n_rels").alias("n_rels"),
                    F.col("__nodes").alias("nodes"),
                    # single-node paths have no pairs row → null → empty
                    F.coalesce(
                        F.col("__rels"), F.array().cast(rel_arr_type)
                    ).alias("rels"),
                ),
            ),
        ).drop(uidc, "__nodes", "__rels")
    return df


def _rewrite_collected_path_nodes(e, df: DataFrame):
    """``[x IN collect(p) | … nodes(x) …]`` → ``[x IN collect(nodes(p)) |
    … x …]`` when p is a path-struct column and every use of x is inside
    ``nodes(x)``.

    nodes() over a LAMBDA variable cannot be join-enriched (the paths are
    already inside a collected array); hoisting the extraction onto the
    direct path column lets the standard posexplode+join enrichment run
    BEFORE aggregation (TCK List12[4,5])."""
    from pyspark.sql.types import StructType

    from arcadedb_spark.sql.translator import walk

    def _uses_ok(body, var: str) -> bool:
        """Every Chain((var,)) appears only as nodes(var)'s sole arg."""
        if body is None:
            return True
        wrapped = set()
        for n in walk(body):
            if (
                isinstance(n, ast.FuncCall) and n.name.lower() == "nodes"
                and len(n.args) == 1
                and isinstance(n.args[0], ast.Chain)
                and n.args[0].parts == (var,)
            ):
                wrapped.add(id(n.args[0]))
        for n in walk(body):
            if isinstance(n, ast.Chain) and n.parts[0] == var and id(
                n
            ) not in wrapped:
                if n.parts == (var,):
                    return False
        return True

    def _strip_nodes(body, var: str):
        if isinstance(body, ast.FuncCall) and body.name.lower() == "nodes" \
                and len(body.args) == 1 \
                and isinstance(body.args[0], ast.Chain) \
                and body.args[0].parts == (var,):
            return body.args[0]
        if isinstance(body, ast.Expr):
            kwargs = {
                f_: _strip_nodes(getattr(body, f_), var)
                for f_ in body.__dataclass_fields__
            }
            return type(body)(**kwargs)
        if isinstance(body, tuple):
            return tuple(_strip_nodes(x, var) for x in body)
        return body

    def _rw(e):
        if (
            isinstance(e, ast.ListComp)
            and isinstance(e.source, ast.FuncCall)
            and e.source.name.lower() == "collect"
            and len(e.source.args) == 1
            and isinstance(e.source.args[0], ast.Chain)
            and len(e.source.args[0].parts) == 1
        ):
            pvar = e.source.args[0].parts[0]
            if pvar in df.columns:
                dt = df.schema[pvar].dataType
                if (
                    isinstance(dt, StructType) and "vids" in dt.names
                    and _uses_ok(e.pred, e.var) and _uses_ok(e.proj, e.var)
                ):
                    return ast.ListComp(
                        var=e.var,
                        source=ast.FuncCall(
                            "collect",
                            (ast.FuncCall("nodes", (e.source.args[0],)),),
                            distinct=e.source.distinct,
                        ),
                        pred=_strip_nodes(e.pred, e.var),
                        proj=_strip_nodes(e.proj, e.var),
                    )
        if isinstance(e, ast.Expr):
            kwargs = {
                f_: _rw(getattr(e, f_)) for f_ in e.__dataclass_fields__
            }
            return type(e)(**kwargs)
        if isinstance(e, tuple):
            return tuple(_rw(x) for x in e)
        return e

    return _rw(e)


def attach_entity_lookups(
    db, df: DataFrame, exprs, params: dict, markers: dict,
) -> DataFrame:
    """startNode(r)/endNode(r) return the NODE, not its vid: left-join
    the vertex universe once per call on the relationship struct's
    src/dst and precompile the FuncCall to the joined node struct
    (reference function/rel/RelStartNode.java semantics).  One
    broadcast-sized equi-join per distinct call — never a per-row
    lookup."""
    from arcadedb_spark.sql.translator import walk

    targets = []
    for e in exprs:
        for node in walk(e):
            if (
                isinstance(node, ast.FuncCall)
                and node.name.lower() in ("startnode", "endnode")
                and len(node.args) == 1
                and not isinstance(node.args[0], ast.Lit)
            ):
                targets.append(node)
    if df is not None:
        df = _attach_path_node_lists(db, df, exprs, markers)
        df = _attach_path_rel_lists(db, df, exprs, markers)
    if not targets or df is None:
        return df
    g = db.graph()
    av = g.all_vertices_full()
    if av is None:
        for t in targets:
            markers[id(t)] = F.lit(None)
        return df
    struct = F.struct(*[F.col(c) for c in av.columns])
    for i, t in enumerate(targets):
        ctx = Ctx(cypher=True, db=db, params=params, columns=tuple(df.columns),
                  frame_schema=df.schema, precompiled=markers)
        try:
            argc = ExprCompiler(ctx).compile(t.args[0])
            field = "src" if t.name.lower() == "startnode" else "dst"
            key = argc.getField(field)
        except Exception:
            continue  # not a relationship struct in this frame
        kname, sname = f"__ev{i}", f"__ent{i}"
        upd = av.select(F.col("vid").alias(kname), struct.alias(sname))
        df = df.join(upd, key == F.col(kname), "left").drop(kname)
        markers[id(t)] = F.col(sname)
    return df


def _attach_path_node_lists(db, df: DataFrame, exprs, markers: dict):
    """nodes(p) over a vid-level path struct → the node ENTITY list.

    Distributed enrichment only where requested (paths never carry full
    node payloads through the match shuffles): dedup the distinct vid
    lists by hash, posexplode, one equi-join against the vertex universe,
    re-collect in position order, join back.  (TCK Quantifier1-4 [8],
    List12, With6.)"""
    from arcadedb_spark.sql.translator import walk
    from pyspark.sql.types import StructType

    targets = []
    for e in exprs:
        for node in walk(e):
            if (
                isinstance(node, ast.FuncCall)
                and node.name.lower() == "nodes"
                and len(node.args) == 1
                and isinstance(node.args[0], ast.Chain)
                and len(node.args[0].parts) == 1
            ):
                targets.append(node)
    if not targets:
        return df
    g = db.graph()
    for i, t in enumerate(targets):
        if id(t) in markers:
            continue
        alias = t.args[0].parts[0]
        if alias not in df.columns:
            continue
        adt = df.schema[alias].dataType
        if not isinstance(adt, StructType) or "vids" not in adt.names:
            continue  # not a path struct — the vid-level fallback applies
        av = g.all_vertices_full()
        if av is None:
            markers[id(t)] = F.lit(None)
            continue
        uidc, lstc = f"__nu{next(_uid)}", f"__nl{next(_uid)}"
        key = F.col(f"{alias}.vids")
        df = df.withColumn(uidc, F.xxhash64(key))
        base = (
            df.select(F.col(uidc), key.alias("__vs"))
            .dropDuplicates([uidc])
        )
        ex = base.select(
            F.col(uidc), F.posexplode("__vs").alias("__pos", "__vid")
        )
        ent = F.struct(*[F.col(c) for c in av.columns])
        j = ex.join(
            av.select(F.col("vid").alias("__av"), ent.alias("__ent")),
            F.col("__vid") == F.col("__av"), "left",
        )
        agg = j.groupBy(uidc).agg(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("__pos").alias("p"),
                             F.col("__ent").alias("e"))
                )),
                lambda x: x["e"],
            ).alias(lstc)
        )
        df = df.join(agg, uidc, "left").drop(uidc)
        # nodes(null) is null (unmatched OPTIONAL path), not []
        markers[id(t)] = F.when(
            F.col(alias).isNull() | key.isNull(), F.lit(None)
        ).otherwise(F.coalesce(F.col(lstc), F.array()))
    return df


def _attach_path_rel_lists(db, df: DataFrame, exprs, markers: dict):
    """relationships(p) over a path struct → the relationship ENTITY
    list (TCK Path2, Quantifier1-4 [9]).  Paths carry the walked edge
    ids; one enrichment join materializes the rel structs, and the
    marker reads the struct's rels field."""
    from pyspark.sql.types import StructType

    from arcadedb_spark.sql.translator import walk

    targets = []
    for e in exprs:
        for node in walk(e):
            if (
                isinstance(node, ast.FuncCall)
                and node.name.lower() == "relationships"
                and len(node.args) == 1
                and isinstance(node.args[0], ast.Chain)
                and len(node.args[0].parts) == 1
            ):
                targets.append(node)
    if not targets:
        return df
    for t in targets:
        if id(t) in markers:
            continue
        alias = t.args[0].parts[0]
        if alias not in df.columns:
            continue
        adt = df.schema[alias].dataType
        if not isinstance(adt, StructType) or "vids" not in adt.names:
            continue
        if "rels" not in adt.names:
            df = enrich_path_columns(db, df, [alias])
        markers[id(t)] = F.col(alias).getField("rels")
    return df


def _lambda_pattern_marker(db, df, pe, params, marker_cols):
    """Per-element pattern count for a comprehension rooted at a lambda
    variable: lower the pattern with an anonymous root, group match
    counts by root vid, broadcast ONE map column onto the frame, and
    hand the compiler a deferred marker it resolves per element
    (coalesce(map[x.vid], 0) → array_repeat).  Scale: the map holds one
    entry per vertex WITH matches — the same size as the grouped count
    frame a correlated join would build.

    Returns (df, marker) or None when the shape is out of scope (only
    literal projections without an inner WHERE are supported)."""
    import dataclasses

    if pe.where is not None or not isinstance(pe.proj, ast.Lit):
        return None
    fresh = f"__lamroot{next(_uid)}"
    path2 = dataclasses.replace(
        pe.path, root=dataclasses.replace(pe.path.root, alias=fresh),
        path_alias=None,
    )
    try:
        pdf, _ = translate_path(db, path2, params)
    except TranslateError:
        return None
    name = f"__lampm{next(_uid)}"
    counts = pdf.groupBy(
        F.col(f"{fresh}.vid").alias("__v")
    ).agg(F.count(F.lit(1)).alias("__c"))
    mrow = counts.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__v"), F.col("__c")))
        ).alias(name)
    )
    df = df.crossJoin(F.broadcast(mrow))
    marker_cols.append(name)
    return df, ("__lam_pat__", name, pe.path.root.alias, pe.proj.value)


def attach_pattern_markers(
    db, df: DataFrame, exprs, params: dict, markers: dict,
    marker_cols: list,
) -> DataFrame:
    """Lower every PatternExpr inside ``exprs`` to a per-row match-COUNT
    column joined onto the frame: the pattern translates once, groups by
    its aliases shared with the frame, and left-joins — never a
    correlated per-row subplan.  ``markers[id(pe)]`` becomes the count
    Column (0 when no match); the compiler renders boolean context as
    count > 0 and size(pattern) as the count itself."""
    pes: list = []
    for e in exprs:
        _collect_pattern_exprs(e, pes)
    for pe, lam_vars in pes:
        if id(pe) in markers:
            continue
        is_comp = isinstance(pe, ast.PatternComp)
        root_alias = getattr(getattr(pe, "path", None), "root", None)
        root_alias = getattr(root_alias, "alias", None)
        if (
            is_comp and root_alias and root_alias in lam_vars
            and root_alias not in df.columns
        ):
            # pattern rooted at a LAMBDA variable ([x IN nodes(p) |
            # size([(x)-->(:Y) | 1])]): one per-vertex count map joined
            # once, read per element inside the lambda (TCK Pattern2[7])
            mk = _lambda_pattern_marker(db, df, pe, params, marker_cols)
            if mk is not None:
                df, markers[id(pe)] = mk
                continue
        where_handled = False
        pe_mode = getattr(pe, "mode", "exists")
        is_collect = not is_comp and pe_mode == "collect"
        collect_order = None
        collect_distinct = False
        collect_is_agg = False
        count_vals = None  # COUNT { … RETURN DISTINCT … } value columns
        proj_col = None
        if is_collect:
            # COLLECT { … RETURN expr } block: the RETURN column is the
            # collected value (Cypher25Parser.g4 collectExpression)
            from arcadedb_spark.graph.cypher import lower_collect_block

            (pdf, paliases, proj_col, collect_order, collect_distinct,
             collect_is_agg) = lower_collect_block(db, pe.block, df, params)
            where_handled = True
        elif (
            not is_comp and getattr(pe, "block", None)
            and pe_mode == "count"
        ):
            # COUNT { … RETURN [DISTINCT] … } block: rows counted per
            # key; RETURN DISTINCT counts distinct value tuples
            from arcadedb_spark.graph.cypher import lower_count_block

            pdf, paliases, cvals, cdist = lower_count_block(
                db, pe.block, df, params
            )
            if cdist and cvals:
                count_vals = cvals
            where_handled = True
        elif not is_comp and getattr(pe, "block", None):
            # full-query EXISTS { … } block: correlated pipeline frame
            from arcadedb_spark.graph.cypher import lower_exists_block

            pdf, paliases = lower_exists_block(db, pe.block, df, params)
            where_handled = True
        elif not is_comp and pe.subquery:
            # EXISTS { pattern WHERE … }: seed with the outer frame's
            # bound aliases so the inner WHERE (and nested EXISTS) sees
            # every enclosing variable (TCK ExistentialSubquery3)
            keep = [c for c in df.columns if not c.startswith(("__", "@"))]
            seed = df.select(*keep) if keep else None
            pdf, paliases = combine_paths(
                db, [pe.path], pe.where, params,
                base=seed, base_aliases=set(keep),
            )
            where_handled = True
        else:
            pdf, paliases = translate_path(db, pe.path, params)
        shared = [a for a in paliases if a in df.columns]
        if not is_comp and not pe.subquery:
            # a bare pattern predicate may not introduce new variables
            # (openCypher; TCK Pattern1) — EXISTS { … } subqueries may
            fresh = [
                a for a in paliases
                if not a.startswith("__") and a not in df.columns
            ]
            if fresh:
                raise TranslateError(
                    f"Pattern expression introduces new variable "
                    f"'{fresh[0]}'"
                )
        if pe.where is not None and not where_handled:
            # the inner WHERE may itself contain pattern expressions
            # (nested EXISTS) — recurse against the pattern frame
            inner_m: dict = {}
            inner_c: list = []
            pdf = attach_pattern_markers(
                db, pdf, [pe.where], params, inner_m, inner_c
            )
            wctx = Ctx(cypher=True, db=db, params=params, columns=tuple(pdf.columns),
                       frame_schema=pdf.schema, precompiled=inner_m)
            pdf = pdf.filter(ExprCompiler(wctx).compile(pe.where))
            if inner_c:
                pdf = pdf.drop(*inner_c)
        name = f"__pe{next(_uid)}"
        wants_list = is_comp or is_collect
        if is_comp:
            # a path variable projected as a VALUE surfaces entity
            # payloads ([p = (n)-->() | p] — TCK Pattern2[1-3,10,11])
            from arcadedb_spark.sql.translator import walk as _pw
            from pyspark.sql.types import StructType as _PSt

            ppaths = []
            for nd in _pw(pe.proj):
                if (
                    isinstance(nd, ast.Chain) and len(nd.parts) == 1
                    and nd.parts[0] in pdf.columns
                ):
                    pdt = pdf.schema[nd.parts[0]].dataType
                    if isinstance(pdt, _PSt) and "vids" in pdt.names:
                        ppaths.append(nd.parts[0])
            if ppaths:
                pdf = enrich_path_columns(
                    db, pdf, list(dict.fromkeys(ppaths))
                )
            # compile the projection against the pattern frame — new
            # variables introduced by the comprehension scope to it
            inner_pm: dict = {}
            pdf = attach_entity_lookups(
                db, pdf, [pe.proj], params, inner_pm
            )
            pctx = Ctx(cypher=True, db=db, params=params,
                       columns=tuple(pdf.columns), frame_schema=pdf.schema,
                       precompiled=inner_pm)
            proj_col = ExprCompiler(pctx).compile(pe.proj)
        if not shared:
            if wants_list and collect_is_agg:
                # uncorrelated COLLECT of an aggregate: one scalar over
                # the whole block, wrapped as a one-element list
                agg1 = pdf.agg(proj_col.alias(name))
                df = df.crossJoin(F.broadcast(agg1))
                markers[id(pe)] = F.array(F.col(name))
                marker_cols.append(name)
                continue
            if wants_list:
                # uncorrelated comprehension/COLLECT: one-row aggregate,
                # broadcast cross-joined onto the frame (struct-wrapped:
                # collect_list drops bare nulls — TCK Pattern2[4])
                sel1 = pdf.select(
                    _collect_struct(proj_col, collect_order).alias("__cv")
                )
                if collect_distinct:
                    sel1 = sel1.dropDuplicates()
                agg1 = sel1.agg(F.collect_list("__cv").alias(name))
                df = df.crossJoin(F.broadcast(agg1))
                markers[id(pe)] = _collect_marker(name, collect_order)
                marker_cols.append(name)
                continue
            # uncorrelated existence: one scalar count
            if count_vals is not None:
                cnt = pdf.select(*count_vals).distinct().count()
            else:
                cnt = pdf.count()
            markers[id(pe)] = F.lit(cnt)
            continue
        key_cols = []
        key_names = []
        cond = None
        from pyspark.sql.types import StructType as _MSt

        for j, a in enumerate(shared):
            adt = pdf.schema[a].dataType
            if not isinstance(adt, _MSt):
                # scalar binding (projected WITH value): whole-value key
                kn = f"__pk{name[4:]}_{j}_v"
                key_cols.append(F.col(a).alias(kn))
                key_names.append(kn)
                c = F.col(kn).eqNullSafe(F.col(a))
                cond = c if cond is None else (cond & c)
                continue
            fields = set(adt.names)
            if "vid" in fields:
                ks = ["vid"]
            elif {"etype", "src", "dst"} <= fields:
                ks = ["etype", "src", "dst"]
            else:
                ks = ["vids"]
            for k in ks:
                kn = f"__pk{name[4:]}_{j}_{k}"
                key_cols.append(F.col(f"{a}.{k}").alias(kn))
                key_names.append(kn)
                c = F.col(kn) == F.col(f"{a}.{k}")
                cond = c if cond is None else (cond & c)
        if wants_list and collect_is_agg:
            # correlated COLLECT of an aggregate: aggregate per shared
            # key, wrap the scalar; unmatched outer rows take the
            # aggregate's empty-group value (count→0, sum→null, …)
            zero = pdf.limit(0).agg(proj_col.alias("__z")).collect()[0][0]
            mdf = pdf.groupBy(*key_cols).agg(proj_col.alias(name))
            df = df.join(mdf, cond, "left_outer").drop(*key_names)
            scalar = F.col(name)
            if zero is not None:
                scalar = F.coalesce(scalar, F.lit(zero))
            markers[id(pe)] = F.array(scalar)
            marker_cols.append(name)
            continue
        pjn = f"__pj{name[4:]}"
        extra = []
        if wants_list:
            extra = [_collect_struct(proj_col, collect_order).alias(pjn)]
        elif count_vals is not None:
            extra = [v.alias(f"__cd{j}") for j, v in enumerate(count_vals)]
        sel = pdf.select(*key_cols, *extra)
        if collect_distinct or count_vals is not None:
            sel = sel.dropDuplicates()
        mdf = (
            sel.groupBy(*key_names)
            .agg(
                (F.collect_list(F.col(pjn)) if wants_list
                 else F.count(F.lit(1))).alias(name)
            )
        )
        df = df.join(mdf, cond, "left_outer").drop(*key_names)
        markers[id(pe)] = (
            _collect_marker(name, collect_order) if wants_list
            else F.coalesce(F.col(name), F.lit(0))
        )
        marker_cols.append(name)
    return df


def _collect_struct(proj_col, order):
    """Struct payload for a collect marker: the ORDER BY key (when the
    COLLECT block carries one) leads the struct so array_sort orders by
    it, the value rides as .v."""
    if order is None:
        return F.struct(proj_col.alias("v"))
    return F.struct(order[0].alias("o"), proj_col.alias("v"))


def _collect_marker(name, order):
    arr = F.coalesce(F.col(name), F.array())
    if order is not None:
        arr = F.array_sort(arr)
        if not order[1]:  # descending
            arr = F.reverse(arr)
    return F.transform(arr, lambda x: x["v"])


def _hoist_frame_prop_conjuncts(path, seen: set):
    """Split inline-prop equality conjuncts that reference already-bound
    frame variables out of a path's node filters.

    ``{year: event.year}`` compiles against the VERTEX frame, where outer
    bindings don't exist — hoist ``node.year = event.year`` (alias-
    qualified) to a post-join predicate instead.  Returns (path',
    hoisted-exprs)."""
    import dataclasses

    from arcadedb_spark.sql.translator import _split_conjuncts, walk

    if not seen:
        return path, []

    def refs_seen(e) -> bool:
        return any(
            isinstance(n, ast.Chain) and n.parts[0] in seen
            for n in walk(e)
        )

    hoisted: list = []

    def split(node):
        if node is None or node.alias is None or node.where is None:
            return node
        if node.alias in seen:
            return node  # bound node: the filter joins on identity anyway
        keep = []
        for c in _split_conjuncts(node.where):
            if (
                isinstance(c, ast.Bin) and c.op == "="
                and isinstance(c.left, ast.Chain)
                and len(c.left.parts) == 1
                and c.left.parts[0] not in seen
                and refs_seen(c.right)
            ):
                hoisted.append(ast.Bin(
                    "=", ast.Chain((node.alias, c.left.parts[0])), c.right
                ))
                continue
            keep.append(c)
        if len(keep) == len(_split_conjuncts(node.where)):
            return node
        new_where = None
        for c in keep:
            new_where = c if new_where is None else ast.Bin(
                "AND", new_where, c
            )
        return dataclasses.replace(node, where=new_where)

    root2 = split(path.root)
    steps2 = tuple(
        dataclasses.replace(s, filter=split(s.filter)) for s in path.steps
    )
    if not hoisted:
        return path, []
    return dataclasses.replace(path, root=root2, steps=steps2), hoisted


def _merged_schema(df, pdf, rename):
    """Union schema of a pending join (left + non-shared right fields) so
    the expression compiler can resolve struct members on either side."""
    from pyspark.sql.types import StructType

    fields = list(df.schema.fields) if df is not None else []
    names = {f.name for f in fields}
    for f in pdf.schema.fields:
        if f.name not in rename and f.name not in names:
            fields.append(f)
    return StructType(fields)


def _join_on_shared(
    df: DataFrame, pdf: DataFrame, shared: list[str], how: str,
    extra_cond=None,
) -> DataFrame:
    """Join two pattern frames on the identity of their shared alias
    structs: vid for nodes, (etype, src, dst) for relationships, vids for
    paths.  ``extra_cond`` joins the condition (OPTIONAL MATCH … WHERE:
    the predicate is part of the outer join, so rows null-pad)."""
    rename = {a: f"__r_{a}" for a in shared}
    for a, r in rename.items():
        pdf = pdf.withColumnRenamed(a, r)
    cond = None
    for a in shared:
        from pyspark.sql.types import StructType

        dt = pdf.schema[rename[a]].dataType
        if not isinstance(dt, StructType):
            # non-struct binding (var-length relationship list): join on
            # whole-value equality
            c = F.col(a) == F.col(rename[a])
            cond = c if cond is None else (cond & c)
            continue
        fields = set(dt.names)
        if "vid" in fields:
            keys = ["vid"]
        elif {"etype", "src", "dst"} <= fields:
            keys = ["etype", "src", "dst"]
            if "@eid" in fields:
                keys.append("@eid")  # exact identity for parallel edges
        else:
            keys = ["vids"]
        from pyspark.sql.types import NullType as _JNull

        ldt = df.schema[a].dataType if a in df.columns else None
        if isinstance(ldt, _JNull):
            # matching a null binding yields no rows (not an error)
            cond = F.lit(False) if cond is None else (cond & F.lit(False))
            continue
        if ldt is not None and (
            not isinstance(ldt, StructType)
            or not set(keys) <= set(ldt.names)
        ):
            # the frame binding is not an entity of the pattern's kind —
            # a value (map/list/scalar) cannot be re-matched as a node or
            # relationship (VariableTypeConflict, TCK Match1[11])
            raise TranslateError(
                f"Variable '{a}' is bound to a value and cannot be "
                "matched as a graph entity (VariableTypeConflict)"
            )
        for k in keys:
            c = F.col(f"{a}.{k}") == F.col(f"{rename[a]}.{k}")
            cond = c if cond is None else (cond & c)
    if extra_cond is not None:
        cond = extra_cond if cond is None else (cond & extra_cond)
    out = df.join(pdf, cond, how)
    if how != "left_anti":
        out = out.drop(*rename.values())
    return out


def _and_conjuncts(e) -> list:
    """Split an expression on top-level ANDs."""
    if isinstance(e, ast.Bin) and e.op.upper() == "AND":
        return _and_conjuncts(e.left) + _and_conjuncts(e.right)
    return [e]


def _mentions_alias(e, alias: str) -> bool:
    """True when the expression references the given bound alias."""
    if isinstance(e, ast.Chain):
        return bool(e.parts) and e.parts[0] == alias
    if hasattr(e, "__dataclass_fields__"):
        return any(
            _mentions_alias(getattr(e, f_), alias)
            for f_ in e.__dataclass_fields__
        )
    if isinstance(e, (tuple, list)):
        return any(_mentions_alias(x, alias) for x in e)
    return False


def _apply_where_conjuncts(db, df: DataFrame, conjs: list,
                           params: dict) -> DataFrame:
    """Compile and apply a list of WHERE conjuncts (pattern markers
    attached as needed) as one filter."""
    if not conjs:
        return df
    markers: dict = {}
    marker_cols: list = []
    df = attach_pattern_markers(db, df, conjs, params, markers, marker_cols)
    # relationships(p)/nodes(p)/startNode/endNode inside WHERE need the
    # same entity enrichment RETURN expressions get
    df = attach_entity_lookups(db, df, conjs, params, markers)
    wctx = Ctx(cypher=True, db=db, params=params, columns=tuple(df.columns),
               frame_schema=df.schema, precompiled=markers)
    comp = ExprCompiler(wctx)
    cond = None
    for c in conjs:
        cc = comp.compile(c)
        cond = cc if cond is None else (cond & cc)
    df = df.filter(cond)
    if marker_cols:
        df = df.drop(*marker_cols)
    return df


def combine_paths(
    db,
    paths,
    where,
    params: dict,
    base: DataFrame | None = None,
    base_aliases: set[str] | None = None,
) -> tuple[DataFrame, set[str]]:
    """Join a list of MatchPaths (over an optional pre-bound frame from a
    WITH stage) and apply the global WHERE.  Returns (df, bound aliases)."""
    positive = [p for p in paths if not p.negated]
    negative = [p for p in paths if p.negated]
    if base is None and not positive:
        raise TranslateError("MATCH requires at least one positive pattern")

    df = base
    seen: set[str] = set(base_aliases or ())
    # clauses with ≥2 comma-separated paths need the clause-wide
    # relationship-isomorphism filter (openCypher: no relationship binds
    # twice across the whole MATCH pattern, not just within one path)
    clause_sizes: dict[int, int] = {}
    for p_ in positive:
        if p_.rel_unique and p_.clause_id >= 0:
            clause_sizes[p_.clause_id] = clause_sizes.get(p_.clause_id, 0) + 1
    clause_eids: dict[int, list[str]] = {}
    # shortestPath whose clause WHERE references the path (or its
    # relationships/nodes): the predicate must filter candidate walks
    # BEFORE minimal-hop selection — openCypher returns the shortest
    # path SATISFYING the predicate, not empty when the globally
    # shortest path fails it (reference shortest-path edge-filter
    # behavior, CypherShortestPathEdgeFilterTest)
    deferred_sp: list[tuple[str, str]] = []
    for path in positive:
        path, hoisted = _hoist_frame_prop_conjuncts(path, seen)
        defer_ids = clause_sizes.get(path.clause_id, 0) > 1
        static_bound = {path.path_alias} if path.path_alias else set()
        if getattr(path, "shortest", None):
            if path.root.alias:
                static_bound.add(path.root.alias)
            for s_ in path.steps:
                if s_.filter.alias:
                    static_bound.add(s_.filter.alias)
                if s_.edge_alias:
                    static_bound.add(s_.edge_alias)
        defer_sp = bool(
            getattr(path, "shortest", None) and path.path_alias
            and not path.optional and where is not None
            and any(_mentions_alias(where, a) for a in static_bound)
        )
        pdf, paliases = translate_path(db, path, params,
                                       keep_rel_ids=defer_ids,
                                       defer_shortest=defer_sp)
        if defer_sp:
            deferred_sp.append(
                (path.path_alias, path.shortest,
                 frozenset(paliases) | {path.path_alias})
            )
        if defer_ids:
            clause_eids.setdefault(path.clause_id, []).extend(
                c for c in pdf.columns
                if c.startswith(("__eid_", "__peids_"))
            )
        shared = [a for a in paliases if a in seen]
        opt_cond = None
        if hoisted and df is not None:
            # frame-referencing inline props ({year: event.year}) join the
            # outer frame: optional → part of the left-outer condition,
            # inner → post-join filter (TCK Unwind1[6])
            rename_h = {a: f"__r_{a}" for a in shared}
            cols_h = tuple(
                dict.fromkeys(
                    list(df.columns)
                    + [c for c in pdf.columns if c not in rename_h]
                )
            )
            hctx = Ctx(cypher=True, db=db, params=params, columns=cols_h,
                       frame_schema=_merged_schema(df, pdf, rename_h))
            hcomp = ExprCompiler(hctx)
            hcond = None
            for hx in hoisted:
                c_ = hcomp.compile(hx)
                hcond = c_ if hcond is None else (hcond & c_)
            if path.optional:
                opt_cond = hcond
            else:
                opt_cond = None
                post_h = hcond
        else:
            post_h = None
        if path.optional and getattr(path, "opt_where", None) is not None:
            # OPTIONAL MATCH … WHERE: the predicate joins the left-outer
            # condition so failing rows null-pad instead of dropping
            # (TCK MatchWhere6).  Compiled against the union of both
            # sides' columns; Spark resolves each name at join time.
            rename = {a: f"__r_{a}" for a in shared}
            cols = tuple(
                dict.fromkeys(
                    list(df.columns if df is not None else ())
                    + [c for c in pdf.columns if c not in rename]
                )
            )
            octx = Ctx(cypher=True, db=db, params=params, columns=cols,
                       frame_schema=_merged_schema(df, pdf, rename))
            ow = ExprCompiler(octx).compile(path.opt_where)
            opt_cond = ow if opt_cond is None else (opt_cond & ow)
        if df is None:
            if path.optional:
                # leading OPTIONAL MATCH: the driving table is one row, so
                # an empty match still yields a single all-null row
                # (openCypher OPTIONAL MATCH semantics, TCK Match7)
                seed = db.spark.range(1).select(F.lit(1).alias("__seed"))
                df = seed.join(
                    pdf,
                    F.lit(True) if opt_cond is None else opt_cond,
                    "left_outer",
                ).drop("__seed")
            else:
                df = pdf
        elif shared:
            # Cypher OPTIONAL MATCH → left_outer (OptionalMatchStep.java:24)
            how = "left_outer" if path.optional else "inner"
            df = _join_on_shared(df, pdf, shared, how, extra_cond=opt_cond)
        elif path.optional:
            # unshared OPTIONAL pattern: keep every left row, null-pad
            # when the pattern has no matches at all
            df = df.join(
                pdf,
                F.lit(True) if opt_cond is None else opt_cond,
                "left_outer",
            )
        else:
            df = df.crossJoin(pdf)  # CartesianProductStep.java:31
        if post_h is not None:
            df = df.filter(post_h)
        seen.update(paliases)

    # clause-wide relationship isomorphism: all edge identities bound by
    # one MATCH clause's paths must be pairwise distinct.  Null identities
    # (unmatched OPTIONAL rows) are excluded — uniqueness constrains only
    # relationships actually bound.
    for _cid, cols in clause_eids.items():
        present = [c for c in cols if c in df.columns]
        parts = []
        for c in present:
            if c.startswith("__eid_"):
                parts.append(
                    F.when(F.col(c).isNotNull(), F.array(F.col(c)))
                    .otherwise(F.array().cast("array<long>"))
                )
            else:
                parts.append(
                    F.coalesce(F.col(c), F.array().cast("array<long>"))
                )
        if len(parts) > 1:
            allids = F.concat(*parts)
            df = df.filter(
                F.size(F.array_distinct(allids)) == F.size(allids)
            )
    drop_ids = [
        c for c in df.columns if c.startswith(("__eid_", "__peids_"))
    ] if clause_eids and df is not None else []
    if drop_ids:
        df = df.drop(*drop_ids)

    # global WHERE over bound aliases (Cypher); Catalyst pushes the
    # predicate down through the joins where possible
    if where is not None and deferred_sp:
        # split conjuncts: path-referencing ones filter the candidate
        # walks first, THEN minimal-hop selection runs, then the rest
        conjs = _and_conjuncts(where)
        pre_idx = {
            i for i, c in enumerate(conjs)
            if any(
                any(_mentions_alias(c, a) for a in bound)
                for _pa, _k, bound in deferred_sp
            )
        }
        pre = [conjs[i] for i in sorted(pre_idx)]
        post = [c for i, c in enumerate(conjs) if i not in pre_idx]
        df = _apply_where_conjuncts(db, df, pre, params)
        for a, kind, _bound in deferred_sp:
            df = _apply_shortest_selection(df, a, kind)
        df = _apply_where_conjuncts(db, df, post, params)
    elif where is not None:
        df = _apply_where_conjuncts(db, df, [where], params)

    for path in negative:
        pdf, paliases = translate_path(db, path, params)
        shared = [a for a in paliases if a in seen]
        if not shared:
            raise TranslateError("NOT pattern must share an alias with the match")
        df = _join_on_shared(df, pdf, shared, "left_anti")
    return df, seen


def project_stage(
    db,
    df: DataFrame,
    returns,
    params: dict,
    distinct: bool = False,
    group_by=(),
    order_by=(),
    skip=None,
    limit=None,
    order_scope: str | None = None,
) -> DataFrame:
    """RETURN/WITH projection over a pattern frame via the SELECT machinery.

    ``order_scope='strict'`` enforces openCypher ORDER BY scoping: sort
    expressions may only reference the projection's output names (TCK
    WithOrderBy1[46]/WithOrderBy3[8], ReturnOrderBy2[13]) — a WITH always
    re-scopes, and RETURN DISTINCT removes the underlying variables."""
    if order_scope == "strict" and order_by:
        _check_order_scope(returns, order_by, tuple(df.columns), distinct)
    if any(isinstance(p.expr, ast.Star) for p in returns) and not any(
        not c.startswith(("__", "@")) for c in df.columns
    ):
        raise TranslateError(
            "RETURN * is not allowed when there are no variables in scope"
        )
    for p in returns:
        if isinstance(p.expr, ast.PatternExpr) and not p.expr.subquery:
            # a bare pattern is a predicate, not a value (TCK Pattern1
            # [22-24]) — EXISTS/COUNT/COLLECT { … } subquery expressions
            # project fine (boolean/long/list values)
            raise TranslateError(
                "A pattern is not a value — wrap it in exists(…) or a "
                "pattern comprehension (UnexpectedSyntax)"
            )
    if df is not None:
        returns = [
            type(p)(**{
                **{f_: getattr(p, f_) for f_ in p.__dataclass_fields__},
                "expr": _rewrite_collected_path_nodes(p.expr, df),
            })
            for p in returns
        ]
        # directly-projected path variables surface full entity payloads
        # in result cells (TCK Merge1[13]/Merge5[10] path binds); RETURN *
        # covers every in-scope path column (Return7[1])
        pvars = [
            p.expr.parts[0] for p in returns
            if isinstance(p.expr, ast.Chain) and len(p.expr.parts) == 1
            and p.expr.parts[0] in df.columns
        ]
        if any(isinstance(p.expr, ast.Star) for p in returns):
            pvars += [
                c for c in df.columns if not c.startswith(("__", "@"))
            ]
        if pvars:
            df = enrich_path_columns(db, df, list(dict.fromkeys(pvars)))
    select = ast.SelectStmt(
        projections=tuple(returns),
        distinct=distinct,
        group_by=tuple(group_by),
        order_by=tuple(order_by),
        skip=skip,
        limit=limit,
    )
    markers: dict = {}
    marker_cols: list = []
    # group_by holds the ORIGINAL AST objects (projection exprs are
    # rebuilt by the collected-path rewrite above) — attach markers for
    # both so id-keyed precompiled lookups hit in the aggregate path
    attach_exprs = (
        [p.expr for p in select.projections]
        + [o.expr for o in select.order_by]
        + list(select.group_by)
    )
    df = attach_pattern_markers(
        db, df, attach_exprs, params, markers, marker_cols,
    )
    df = attach_entity_lookups(
        db, df, attach_exprs, params, markers,
    )
    tr = Translator(db, params)
    ctx = Ctx(cypher=True, db=db, params=params, columns=tuple(df.columns),
              frame_schema=df.schema, cypher_order=True,
              precompiled=markers)
    is_agg = any(_has_agg(p.expr) for p in select.projections) or bool(
        select.group_by
    )
    if is_agg:
        out = tr._translate_aggregate(df, select, ctx)
    else:
        out = tr._translate_plain(df, select, ctx)
    if select.skip is not None:
        out = out.offset(tr._int_of(select.skip, ctx))
    if select.limit is not None:
        out = out.limit(tr._int_of(select.limit, ctx))
    return out


def _check_order_scope(returns, order_by, frame_cols, distinct) -> None:
    """openCypher ORDER BY scoping (TCK WithOrderBy1[46]/3[8]/4[8],
    ReturnOrderBy2[13]):

    - an ORDER BY expression may reference the projection's OUTPUT names
      plus any variable still in the INPUT scope (non-projected variables
      of the incoming frame — dropped-in-this-stage is fine, dropped by an
      EARLIER stage is UndefinedVariable);
    - under DISTINCT the underlying variables are removed, so only output
      names (or the projected expressions themselves) may be referenced.
    """
    from arcadedb_spark.sql.translator import walk

    items = list(returns)
    if any(isinstance(p.expr, ast.Star) for p in items):
        return  # WITH * / RETURN * keeps every variable in scope
    out_names: set[str] = set()
    proj_exprs = []
    for p in items:
        proj_exprs.append(p.expr)
        if p.alias:
            out_names.add(p.alias)
        elif isinstance(p.expr, ast.Chain) and len(p.expr.parts) == 1:
            out_names.add(p.expr.parts[0])
    frame_vars = {
        c for c in frame_cols if not c.startswith(("__", "@"))
    }

    def _bound_vars(e) -> set[str]:
        b: set[str] = set()
        for n in walk(e):
            if isinstance(n, (ast.Quantifier, ast.ListComp)):
                b.add(n.var)
            elif isinstance(n, ast.ReduceExpr):
                b.add(n.var)
                b.add(n.acc)
        return b

    for oi in order_by:
        e = oi.expr if hasattr(oi, "expr") else oi
        bound = _bound_vars(e)
        for n in walk(e):
            if isinstance(n, ast.Chain):
                h = n.parts[0]
                if h not in out_names and h not in frame_vars and h not in bound:
                    raise TranslateError(
                        f"Variable `{h}` not defined in ORDER BY scope "
                        "(UndefinedVariable)"
                    )
        if distinct and not any(e == pe for pe in proj_exprs):
            for n in walk(e):
                if isinstance(n, ast.Chain):
                    h = n.parts[0]
                    if h not in out_names and h not in bound:
                        raise TranslateError(
                            f"Variable `{h}` removed by DISTINCT — ORDER BY "
                            "may only use the projected names "
                            "(UndefinedVariable)"
                        )


def translate_match(db, stmt: ast.MatchStmt, params: dict) -> DataFrame:
    if not stmt.paths:
        # standalone RETURN (TCK Return*.feature): one pattern-less row
        df = db.spark.range(1).select()
    else:
        df, _ = combine_paths(db, stmt.paths, stmt.where, params)
    if (
        len(stmt.returns) == 1
        and isinstance(stmt.returns[0].expr, ast.Var)
        and stmt.returns[0].expr.name.lower() in (
            "patterns", "paths", "elements", "pathelements",
        )
    ):
        # MATCH … RETURN $patterns/$paths/$elements/$pathElements
        # (MatchStatement.java context-variable returns): $patterns = one
        # row per match with every alias record; $elements = the distinct
        # matched records, one per row
        from pyspark.sql.types import StructType as _MS

        kind = stmt.returns[0].expr.name.lower()
        acols = [c for c in df.columns if not c.startswith(("__", "@"))]
        if kind in ("patterns", "paths"):
            out = df.select(*acols)
        else:
            parts = []
            for c in acols:
                dt = df.schema[c].dataType
                if isinstance(dt, _MS) and "vid" in dt.fieldNames():
                    parts.append(df.select(F.col(f"`{c}`.*")))
            if not parts:
                out = df.select(*acols)
            else:
                out = parts[0]
                for p_ in parts[1:]:
                    out = out.unionByName(p_, allowMissingColumns=True)
                out = out.dropDuplicates(["vid"]).drop("vid")
        if stmt.skip is not None:
            out = out.offset(int(stmt.skip.value))
        if stmt.limit is not None:
            out = out.limit(int(stmt.limit.value))
        return out
    return project_stage(
        db, df, stmt.returns, params,
        distinct=stmt.distinct, group_by=stmt.group_by,
        order_by=stmt.order_by, skip=stmt.skip, limit=stmt.limit,
        order_scope="strict" if stmt.distinct else None,
    )


def _has_agg(e: ast.Expr) -> bool:
    from arcadedb_spark.sql.translator import _contains_aggregate

    return _contains_aggregate(e)
