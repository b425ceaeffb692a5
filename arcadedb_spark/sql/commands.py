"""DML / DDL execution: catalog-mutating table rewrites.

Reference: query/sql/executor/{InsertExecutionPlanner.java:37,
UpdateExecutionPlanner.java:40, DeleteExecutionPlanner.java:38} and the
DDL statements (parser/Create*Statement.java).

Semantics on Spark (documented deviations, SURVEY.md §4.3): this is an
analytical engine — DML is a read-modify-write of the whole table
expression with **no transactions/WAL**; the new state replaces the
type's DataFrame in the catalog (and is cached, since the rewrite would
otherwise be recomputed by every later query).  At scale the same code
writes back to a table format with overwrite/merge semantics instead of
caching — the DataFrame program is identical.

Each command returns a small result DataFrame (`count` = affected rows),
mirroring the reference's update/delete result sets.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arcadedb_spark.session import local_df
from arcadedb_spark.sql import ast
from arcadedb_spark.sql.litreg import value_of
from arcadedb_spark.sql.translator import (
    Ctx, ExprCompiler, TranslateError, Translator, _py_spark_type,
    walk as _walk_t,
)


def _literal_value(db, e: ast.Expr, params: dict) -> Any:
    ctx = Ctx(db=db, params=params)
    col = ExprCompiler(ctx).compile(e)
    v = value_of(col)
    if v is None and not isinstance(e, ast.Lit):
        # constant expression (date('…'), concat(…), …) — evaluate on a
        # 1-row frame; one tiny local job, never per-row
        v = db.spark.range(1).select(col.alias("__v")).collect()[0][0]
    return v


def _result(db, n: int) -> DataFrame:
    return local_df(db.spark, [(n,)], "count long")


def _content_value(db, expr, params: dict):
    """CONTENT value: a MapLit → dict, a Param → its bound value (dict or
    list of dicts — UpdateContentArrayTest.java parameter shape)."""
    if isinstance(expr, ast.MapLit):
        return {k: _literal_value(db, v, params) for k, v in expr.entries}
    if isinstance(expr, ast.Param):
        v = (params or {}).get(expr.name)
        if v is None:
            raise TranslateError(f"Missing query parameter :{expr.name}")
        return v
    raise TranslateError("CONTENT requires a JSON object")


def _content_items(stmt, db, params) -> "list[dict] | None":
    """Array-CONTENT rows for UPDATE/INSERT, or None for the map form."""
    if stmt.content_rows is not None:
        return [
            {k: _literal_value(db, v, params) for k, v in m.entries}
            for m in stmt.content_rows.items
        ]
    if isinstance(stmt.content, ast.Param):
        v = _content_value(db, stmt.content, params)
        if isinstance(v, (list, tuple)):
            return [dict(r) for r in v]
    return None


def execute_command(db, stmt, params: dict) -> DataFrame:
    if isinstance(stmt, ast.InsertStmt):
        return _insert(db, stmt, params)
    if isinstance(stmt, ast.UpdateStmt):
        return _update(db, stmt, params)
    if isinstance(stmt, ast.DeleteStmt):
        return _delete(db, stmt, params)
    if isinstance(stmt, ast.CreateTypeStmt):
        return _create_type(db, stmt)
    if isinstance(stmt, ast.DropTypeStmt):
        return _drop_type(db, stmt)
    if isinstance(stmt, ast.CreatePropertyStmt):
        return _create_property(db, stmt)
    if isinstance(stmt, ast.AlterTypeStmt):
        return _alter_type(db, stmt)
    if isinstance(stmt, ast.AlterPropertyStmt):
        return _alter_property(db, stmt)
    if isinstance(stmt, ast.CreateEdgeStmt):
        return _create_edge(db, stmt, params)
    if isinstance(stmt, ast.ImportDatabaseStmt):
        return _import_database(db, stmt)
    if isinstance(stmt, ast.ExportDatabaseStmt):
        return _export_database(db, stmt)
    if isinstance(stmt, ast.CheckDatabaseStmt):
        return _check_database(db, stmt)
    if isinstance(stmt, ast.CreateIndexStmt):
        if stmt.type_name:
            name = f"{stmt.type_name}[{','.join(stmt.props)}]"
            db.schema.indexes[name] = {
                "type": stmt.type_name,
                "props": stmt.props,
                "kind": (stmt.index_kind or "").lower(),
            }
        return _result(db, 0)  # execution no-op: scan+pushdown replaces it
    if isinstance(stmt, ast.AlterDatabaseStmt):
        # recorded only: Spark has no page-size/WAL knobs (the reference
        # applies these to GlobalConfiguration)
        if not hasattr(db, "_db_settings"):
            db._db_settings = {}
        db._db_settings[stmt.key] = stmt.value
        return _result(db, 1)
    if isinstance(stmt, ast.DeleteFunctionStmt):
        reg = getattr(db, "_functions", None) or {}
        key = f"{stmt.lib}.{stmt.name}".lower()
        hit = next((k for k in reg if k.lower() == key), None)
        if hit is None:
            raise TranslateError(
                f"Function '{stmt.lib}.{stmt.name}' does not exist"
            )
        del reg[hit]
        return _result(db, 1)
    if isinstance(stmt, ast.DropPropertyStmt):
        if not db.schema.exists(stmt.type_name):
            if stmt.if_exists:
                return _result(db, 0)
            raise TranslateError(f"Type '{stmt.type_name}' does not exist")
        declared = db.schema.get(stmt.type_name).properties.get(
            "declared", {}
        )
        hit = next(
            (k for k in declared if k.lower() == stmt.prop.lower()), None
        )
        if hit is None:
            if stmt.if_exists:
                return _result(db, 0)
            raise TranslateError(
                f"Property '{stmt.type_name}.{stmt.prop}' does not exist"
            )
        del declared[hit]
        return _result(db, 1)
    if isinstance(stmt, ast.DropIndexStmt):
        hit = next(
            (k for k in db.schema.indexes
             if k.lower() == stmt.name.lower()), None,
        )
        if hit is None:
            if stmt.if_exists:
                return _result(db, 0)
            raise TranslateError(f"Index '{stmt.name}' does not exist")
        del db.schema.indexes[hit]
        return _result(db, 1)
    if isinstance(stmt, ast.TruncateRecordStmt):
        from arcadedb_spark.sql.translator import RID_COL

        n = 0
        for b, pos in stmt.rids:
            tdef = next(
                (t for t in db.schema._types.values()
                 if t.bucket_id == b), None,
            )
            if tdef is None:
                raise TranslateError(f"No bucket {b}")
            if tdef.live:
                m = local_df(db.spark, [(int(pos),)], "vid long")
                n += db.graph().remove_vertices_any(m)
            else:
                tab = db.schema.table(tdef.name, polymorphic=False)
                keep = tab.filter(F.col(RID_COL) != f"#{b}:{pos}")
                n += tab.count() - keep.count()
                _replace_df(
                    db, tdef.name,
                    keep.drop(RID_COL, "@type"),
                )
        return _result(db, n)
    if isinstance(stmt, ast.TruncateTypeStmt):
        return _truncate(db, stmt)
    if isinstance(stmt, ast.BackupDatabaseStmt):
        # BACKUP DATABASE ['<url>'] (BackupDatabaseStatement.java →
        # Backup.java): every type to <dir>/<name>.jsonl; a .zip/.tgz
        # url backs up to a DIRECTORY of that stem (archive framing has
        # no distributed writer — documented deviation)
        import time as _time

        url = stmt.url or f"backups/backup-{int(_time.time())}"
        path = _strip_url(str(url))
        for ext in (".zip", ".tgz", ".tar.gz"):
            if path.endswith(ext):
                path = path[: -len(ext)]
                break
        counts = db.backup(path, format="jsonl")
        return _op_result(db, operation="backup database", path=path,
                          types=len(counts), rows=sum(counts.values()))
    if isinstance(stmt, ast.CreateBucketStmt):
        if stmt.name.lower() in db.schema.named_buckets:
            if stmt.if_not_exists:
                return _result(db, 0)
            raise TranslateError(f"Bucket '{stmt.name}' already exists")
        db.schema.register_bucket(stmt.name)
        return _result(db, 1)
    if isinstance(stmt, ast.DropBucketStmt):
        meta = db.schema.named_buckets.pop(stmt.name.lower(), None)
        if meta is None:
            if stmt.if_exists:
                return _result(db, 0)
            raise TranslateError(f"Bucket '{stmt.name}' does not exist")
        owner = meta.get("owner")
        if owner and db.schema.exists(owner):
            props = db.schema.get(owner).properties
            props["extra_buckets"] = [
                b for b in props.get("extra_buckets", ())
                if b.lower() != stmt.name.lower()
            ]
        db._plan_cache.clear()
        return _result(db, 1)
    if isinstance(stmt, ast.TruncateBucketStmt):
        meta = db.schema.named_buckets.get(stmt.name.lower())
        if meta is None:
            raise TranslateError(f"Bucket '{stmt.name}' does not exist")
        n = meta["df"].count() if meta["df"] is not None else 0
        meta["df"] = None
        db._plan_cache.clear()
        return _result(db, n)
    if isinstance(stmt, ast.CreateMaterializedViewStmt):
        return _create_mv(db, stmt, params)
    if isinstance(stmt, ast.RefreshMaterializedViewStmt):
        return _refresh_mv(db, stmt, params)
    if isinstance(stmt, ast.DropMaterializedViewStmt):
        return _drop_mv(db, stmt)
    if isinstance(stmt, ast.CreateGavStmt):
        return _create_gav(db, stmt)
    if isinstance(stmt, ast.RebuildGavStmt):
        return _rebuild_gav(db, stmt)
    if isinstance(stmt, ast.DropGavStmt):
        return _drop_gav(db, stmt)
    if isinstance(stmt, ast.DefineFunctionStmt):
        return _define_function(db, stmt)
    if isinstance(stmt, ast.CreateTimeSeriesTypeStmt):
        return _create_timeseries_type(db, stmt)
    if isinstance(stmt, ast.AlterTimeSeriesTypeStmt):
        return _alter_timeseries_type(db, stmt)
    if isinstance(stmt, ast.CreateTriggerStmt):
        from arcadedb_spark.triggers import register_trigger

        if stmt.language.upper() != "SQL":
            raise TranslateError(
                "Only EXECUTE SQL triggers are supported (JAVASCRIPT/JAVA "
                "are JVM-host features; use db.register_trigger for Python)"
            )
        register_trigger(
            db, stmt.name, stmt.timing, stmt.event, stmt.type_name,
            sql=stmt.code, if_not_exists=stmt.if_not_exists,
        )
        return _result(db, 1)
    if isinstance(stmt, ast.DropTriggerStmt):
        from arcadedb_spark.triggers import drop_trigger

        dropped = drop_trigger(db, stmt.name, if_exists=stmt.if_exists)
        return _result(db, int(dropped))
    raise TranslateError(f"Unsupported command {type(stmt).__name__}")


_TS_SPARK_TYPES = {
    "STRING": "string", "INTEGER": "int", "INT": "int", "LONG": "long",
    "SHORT": "short", "BYTE": "tinyint", "FLOAT": "float",
    "DOUBLE": "double", "BOOLEAN": "boolean", "DECIMAL": "decimal(38,18)",
}


def _create_timeseries_type(db, stmt: ast.CreateTimeSeriesTypeStmt) -> DataFrame:
    """CREATE TIMESERIES TYPE → empty typed frame + catalog metadata
    (engine/timeseries/TimeSeriesEngine.java:52 — shards map to
    repartition count, tags are the dictionary-encoded group keys,
    retention/downsampling feed timeseries/downsample.py)."""
    if db.schema.exists(stmt.name):
        if stmt.if_not_exists:
            return _result(db, 0)
        raise TranslateError(f"Type '{stmt.name}' already exists")
    cols = [f"{stmt.timestamp_col} timestamp"]
    cols += [f"{n} {_TS_SPARK_TYPES.get(t, 'string')}" for n, t in stmt.tags]
    cols += [f"{n} {_TS_SPARK_TYPES.get(t, 'double')}" for n, t in stmt.fields]
    empty = local_df(db.spark, [], ", ".join(cols))
    tdef = db.schema.register(stmt.name, empty)
    tdef.properties["timeseries"] = {
        "timestamp": stmt.timestamp_col,
        "precision": stmt.precision,
        "tags": list(stmt.tags),
        "fields": list(stmt.fields),
        "shards": stmt.shards,
        "retention_ms": stmt.retention_ms,
        "downsampling": [],
    }
    return _result(db, 1)


def _alter_timeseries_type(db, stmt: ast.AlterTimeSeriesTypeStmt) -> DataFrame:
    tdef = db.schema.get(stmt.name)
    meta = tdef.properties.get("timeseries")
    if meta is None:
        raise TranslateError(f"'{stmt.name}' is not a TIMESERIES type")
    if stmt.drop_policy:
        meta["downsampling"] = []
        return _result(db, 1)
    meta["downsampling"] = list(stmt.add_tiers)
    return _result(db, len(stmt.add_tiers))


def _define_function(db, stmt: ast.DefineFunctionStmt) -> DataFrame:
    """DEFINE FUNCTION lib.name "expr" — SQL expression macros
    (parser/DefineFunctionStatement.java:22; the reference also accepts
    LANGUAGE js via GraalVM — we expose Python via
    Database.register_function instead, documented deviation)."""
    if stmt.language != "sql":
        raise TranslateError(
            f"LANGUAGE {stmt.language} not supported; use LANGUAGE sql or "
            "Database.register_function for Python"
        )
    from arcadedb_spark.sql.parser import Parser

    p = Parser(stmt.body)
    expr = p.parse_expr()
    if p.cur.kind != "EOF":
        raise TranslateError(f"Trailing input in function body: {stmt.body!r}")
    db._functions[f"{stmt.lib.lower()}.{stmt.name.lower()}"] = {
        "language": "sql",
        "params": tuple(x.lower() for x in stmt.parameters),
        "expr": expr,
    }
    return _result(db, 1)


# -- materialized views -----------------------------------------------------
# (schema/MaterializedViewRefreshMode.java:21-25; ContinuousAggregate
# shares the machinery — its streaming path is
# arcadedb_spark.streaming.ContinuousAggregate)


def _release_replaced(old) -> None:
    """Unpersist a replaced backing frame — ONLY safe when the replacement's
    lineage does not read ``old`` (MV full recomputes translate straight
    off the base tables).  Mutation swaps (_replace_df, insert unions)
    must NOT do this: each new state's lineage reads the previous one, so
    dropping un-superseded caches would make later materializations
    replay the whole mutation chain."""
    try:
        if old is not None and (
            old.storageLevel.useMemory or old.storageLevel.useDisk
        ):
            old.unpersist()
    except Exception:
        pass


def _recompute_mv(db, tdef, select, params: dict) -> int:
    """Full MV recompute: re-translate the view off the base tables, swap
    the fresh frame in, cache and materialize it.  The old cache is
    released first: with the base tables unchanged the new plan
    ``sameResult``s the old one, so ``.cache()`` would reuse the old
    entry and releasing ``old`` afterwards would drop the fresh cache."""
    df = Translator(db, params).translate(select)
    _release_replaced(tdef.df())
    tdef._df = df.cache()
    db._plan_cache.clear()
    return df.count()


def _create_mv(db, stmt: ast.CreateMaterializedViewStmt, params: dict) -> DataFrame:
    if db.schema.exists(stmt.name):
        if stmt.if_not_exists:
            return _result(db, 0)
        raise TranslateError(f"Type/view '{stmt.name}' already exists")
    df = Translator(db, params).translate(stmt.select).cache()
    tdef = db.schema.register(stmt.name, df, kind="view")
    tdef.properties["mv_select"] = stmt.select
    tdef.properties["mv_refresh"] = stmt.refresh_mode
    return _result(db, df.count())


def _refresh_mv(db, stmt: ast.RefreshMaterializedViewStmt, params: dict) -> DataFrame:
    tdef = db.schema.get(stmt.name)
    select = tdef.properties.get("mv_select")
    if select is None:
        raise TranslateError(f"'{stmt.name}' is not a materialized view")
    mode = (tdef.properties.get("mv_refresh") or "MANUAL").upper()
    if mode.startswith("INCREMENTAL"):
        return _result(db, _incremental_refresh(db, tdef, select, params))
    return _result(db, _recompute_mv(db, tdef, select, params))


def _incremental_refresh(db, tdef, select, params: dict) -> int:
    """Incremental MV maintenance (MaterializedViewRefresher.java's
    INCREMENTAL mode, re-expressed for Spark's recompute-friendly model):

    - append-only deltas + aggregate-free view → translate the view over
      ONLY the delta rows and union into the materialized frame (no
      rescan of the full source);
    - append-only deltas + GROUP BY view → bucket-level recompute: the
      delta rows determine the DIRTY group keys; the view re-aggregates
      only source rows in those buckets and splices them over the stored
      buckets (MaterializedViewRefresher.java's incremental aggregate
      maintenance).  At scale this reads one bucket's partition slice,
      not the whole source;
    - no changes at all → no-op (0 rows touched);
    - updates/deletes or non-bucketable aggregates (no GROUP BY, keys
      not projected) → full recompute (exact aggregation over mutating
      sources is the continuous-aggregate streaming path,
      streaming/continuous_aggregate.py, which maintains state exactly).
    """
    from arcadedb_spark.sql.translator import _contains_aggregate

    pending = tdef.properties.pop("mv_pending", [])
    dirty = tdef.properties.pop("mv_dirty", False)
    if not pending and not dirty:
        return 0
    src_name = None
    if isinstance(select.target, ast.TypeTarget):
        src_name = select.target.name
    aggregated = (
        bool(select.group_by)
        or any(_contains_aggregate(p.expr) for p in select.projections)
    )
    if (
        aggregated and not dirty and pending and src_name
        and not select.lets and select.group_by
        # order-dependent clauses: a LIMIT/SKIP applied only to the
        # recomputed dirty-bucket slice and then unioned with kept rows
        # would be wrong — fall back to full recompute
        and select.limit is None and select.skip is None
        and not select.order_by
    ):
        n = _bucket_refresh(db, tdef, select, params, pending, src_name)
        if n is not None:
            return n
    if dirty or aggregated or src_name is None or select.lets:
        return _recompute_mv(db, tdef, select, params)
    # delta-only path: run the view query against just the new rows
    src = db.schema.get(src_name)
    delta = pending[0]
    for d in pending[1:]:
        delta = delta.unionByName(d, allowMissingColumns=True)
    saved = src._df
    try:
        src._df = delta
        delta_view = Translator(db, params).translate(select)
    finally:
        src._df = saved
    merged = tdef.df().unionByName(delta_view, allowMissingColumns=True).cache()
    n = delta_view.count()
    tdef._df = merged
    db._plan_cache.clear()
    return n


def _bucket_refresh(db, tdef, select, params, pending, src_name):
    """GROUP BY view + append-only delta: re-aggregate only the DIRTY
    buckets.  Returns rows recomputed, or None when the view shape isn't
    bucketable (a group key isn't projected) — caller falls back to full
    recompute."""
    from pyspark.sql import functions as F

    from arcadedb_spark.sql.translator import Ctx, ExprCompiler

    # each group-by expr must surface as an output column to splice on
    out_names = []
    for g in select.group_by:
        name = None
        for p in select.projections:
            if p.expr == g:
                name = p.alias or getattr(p, "text", None)
                if name is None and isinstance(p.expr, ast.Chain):
                    name = p.expr.parts[-1]  # bare column projection
                break
        if name is None:
            return None
        out_names.append(name)

    src = db.schema.get(src_name)
    delta = pending[0]
    for d in pending[1:]:
        delta = delta.unionByName(d, allowMissingColumns=True)

    def _keys_of(frame):
        ctx = Ctx(db=db, params=params or {}, columns=tuple(frame.columns),
                  frame_schema=frame.schema)
        comp = ExprCompiler(ctx)
        return [comp.compile(g) for g in select.group_by]

    dirty_keys = delta.select(
        *[k.alias(f"__k{i}") for i, k in enumerate(_keys_of(delta))]
    ).distinct().cache()

    saved = src._df
    try:
        src_keys = _keys_of(saved)
        cond = None
        for i, k in enumerate(src_keys):
            c = k.eqNullSafe(F.col(f"__k{i}"))
            cond = c if cond is None else (cond & c)
        # dirty-bucket slice of the source (broadcast: the delta's
        # distinct keys are small by construction)
        src._df = saved.join(F.broadcast(dirty_keys), cond, "left_semi")
        part = Translator(db, params).translate(select)
    finally:
        src._df = saved
    old = tdef.df()
    anti = None
    for i, name in enumerate(out_names):
        c = F.col(name).eqNullSafe(F.col(f"__k{i}"))
        anti = c if anti is None else (anti & c)
    kept = old.join(F.broadcast(dirty_keys), anti, "left_anti")
    merged = kept.unionByName(part, allowMissingColumns=True).cache()
    n = part.count()
    tdef._df = merged
    db._plan_cache.clear()
    return n


def _create_gav(db, stmt: ast.CreateGavStmt) -> DataFrame:
    """CREATE GRAPH ANALYTICAL VIEW: build the sorted materialized edge
    representation immediately (the reference builds asynchronously; the
    Spark analog is one distributed sort+cache job, so it runs inline).
    Registered views surface in schema:graphAnalyticalViews."""
    from arcadedb_spark.graph.gav import GraphAnalyticalView

    gavs = db._gavs
    if stmt.name in gavs:
        if stmt.if_not_exists:
            return _result(db, 0)
        raise TranslateError(f"GAV '{stmt.name}' already exists")
    g = db.graph()
    for et in stmt.edge_types:
        if et not in g.edge_meta:
            raise TranslateError(f"Unknown edge type '{et}'")
    gav = GraphAnalyticalView(
        name=stmt.name, edge_types=stmt.edge_types,
        vertex_types=stmt.vertex_types, properties=stmt.properties,
        edge_properties=stmt.edge_properties,
        update_mode=stmt.update_mode,
        compaction_threshold=stmt.compaction_threshold,
    )
    n = gav.build(g)
    gavs[stmt.name] = gav
    return _result(db, n)


def _rebuild_gav(db, stmt: ast.RebuildGavStmt) -> DataFrame:
    gav = db._gavs.get(stmt.name)
    if gav is None:
        raise TranslateError(f"GAV '{stmt.name}' does not exist")
    return _result(db, gav.build(db.graph()))


def _drop_gav(db, stmt: ast.DropGavStmt) -> DataFrame:
    gav = db._gavs.pop(stmt.name, None)
    if gav is None:
        if stmt.if_exists:
            return _result(db, 0)
        raise TranslateError(f"GAV '{stmt.name}' does not exist")
    if gav._base is not None:
        gav._base.unpersist()
    return _result(db, 1)


def _drop_mv(db, stmt: ast.DropMaterializedViewStmt) -> DataFrame:
    if not db.schema.exists(stmt.name):
        if stmt.if_exists:
            return _result(db, 0)
        raise TranslateError(f"View '{stmt.name}' does not exist")
    db.schema.drop(stmt.name)
    db._plan_cache.clear()
    return _result(db, 1)


def _replace_df(db, name: str, df: DataFrame) -> None:
    """Swap the type's backing DataFrame (cached: later queries reuse the
    rewritten state instead of replaying the mutation lineage)."""
    tdef = db.schema.get(name)
    new_df = df.cache()
    tdef._df = new_df
    db._plan_cache.clear()


# -- INSERT -----------------------------------------------------------------


def _dml_return_frame(db, ret_df: DataFrame, expr, params) -> DataFrame:
    """Project a DML RETURN expression over the affected-rows frame
    (UpdateStatement.java returnBefore/After, InsertStatement RETURN).
    ``@this`` / ``*`` yield the full records."""
    if expr is None or isinstance(expr, ast.Star) or (
        isinstance(expr, ast.Chain) and expr.parts == ("@this",)
    ):
        return ret_df
    ctx = Ctx(db=db, params=params or {}, columns=tuple(ret_df.columns),
              frame_schema=ret_df.schema)
    col = ExprCompiler(ctx).compile(expr)
    out_name = expr.parts[-1] if isinstance(expr, ast.Chain) else "result"
    return ret_df.select(col.alias(out_name))


def _insert(db, stmt: ast.InsertStmt, params: dict) -> DataFrame:
    name = stmt.type_name
    if stmt.bucket_name is not None:
        return _insert_bucket(db, stmt, params)
    rows: list[dict] = []
    if stmt.values_rows:
        if not stmt.fields:
            raise TranslateError("INSERT VALUES requires a field list")
        for vr in stmt.values_rows:
            rows.append(
                {f: _literal_value(db, e, params) for f, e in zip(stmt.fields, vr)}
            )
    elif stmt.set_items:
        rows.append({f: _literal_value(db, e, params) for f, e in stmt.set_items})
    elif stmt.content is not None:
        cv = _content_value(db, stmt.content, params)
        if isinstance(cv, (list, tuple)):
            rows.extend(dict(r) for r in cv)
        else:
            rows.append(cv)
    elif stmt.content_rows is not None:
        # INSERT ... CONTENT [{...}, {...}] — one record per array
        # element (UpdateContentArrayTest.java insert shape)
        for m in stmt.content_rows.items:
            rows.append(
                {k: _literal_value(db, v, params) for k, v in m.entries}
            )

    if stmt.from_select is not None:
        new_df = Translator(db, params).translate(stmt.from_select)
    else:
        if not rows:
            # CREATE VERTEX V with no SET — one empty record
            # (CreateVertexStatementEmpty.java)
            rows = [{}]
        if db.schema.exists(name):
            rows = [_validate_row(db, name, r) for r in rows]
        if not any(rows[0]):
            # empty record: typed null row(s) against the existing
            # columns (zero-column frame when the type has none yet)
            new_df = db.spark.range(len(rows)).drop("id")
            if db.schema.exists(name):
                for f_ in db.schema.get(name).df().schema.fields:
                    new_df = new_df.withColumn(
                        f_.name, F.lit(None).cast(f_.dataType)
                    )
            rows = [{} for _ in rows]
        else:
            # null property values are not stored (reference semantics —
            # MutableDocument.set(null) removes); bare [] values default
            # to array<string> so inference can't fail
            rows = [
                {k: v for k, v in r.items() if v is not None} for r in rows
            ]
            keys: list[str] = []
            for r in rows:
                for k in r:
                    if k not in keys:
                        keys.append(k)
            if not keys:
                new_df = db.spark.range(len(rows)).drop("id")
                rows = [{} for _ in rows]
            else:
                new_df = local_df(
                    db.spark,
                    [tuple(r.get(k) for k in keys) for r in rows],
                    ", ".join(
                        f"`{k}` {_py_spark_type(next((r[k] for r in rows if r.get(k) not in (None, [], ())), None))}"
                        for k in keys
                    ),
                )

    trig_rows = _trigger_rows(db, "CREATE", name, new_df)
    if trig_rows is not None:
        from arcadedb_spark.triggers import fire

        fire(db, "BEFORE", "CREATE", name, trig_rows)
    tdef = db.schema.get(name) if db.schema.exists(name) else None
    if tdef is not None and tdef.live:
        # one-store write: vertex/edge-kind types persist in the GRAPH
        # (both surfaces read the same records; SQL SELECT re-reads the
        # live graph frame, so this INSERT is visible to Cypher MATCH and
        # vice versa).  No catalog-side copy exists to diverge.
        if tdef.kind == "edge":
            raise TranslateError(
                f"Cannot INSERT into edge type '{tdef.name}' — use "
                "CREATE EDGE ... FROM ... TO ... (edges need endpoints)"
            )
        g = db.graph()
        new_vids: list[int] | None = None
        base_vid = None
        if stmt.from_select is not None:
            # frame-wise append: mint a vid block and freeze the ids
            base_vid = g.mint_vid_block()
            store = new_df.withColumn(
                "vid", g.frame_vid_col(base_vid)
            ).truncate_plan()
            n = g.append_vertex_frame(tdef.name, store)
        else:
            new_vids = g.add_vertex_rows(tdef.name, rows)
            n = len(rows)
        _notify_mvs(db, name, delta=new_df)
        if trig_rows is not None:
            from arcadedb_spark.triggers import fire

            fire(db, "AFTER", "CREATE", name, trig_rows)
        if stmt.return_expr is not None:
            vdf = g.vertices(tdef.name)
            if new_vids is not None:
                vdf = vdf.filter(F.col("vid").isin(new_vids))
            else:
                vdf = vdf.filter(F.col("vid") >= F.lit(base_vid))
            ret = _with_rid(vdf, tdef).drop("vid")
            return _dml_return_frame(db, ret, stmt.return_expr, params)
        return _result(db, n)
    if tdef is not None and tdef._df is not None:
        base = tdef.df()
        merged = base.unionByName(new_df, allowMissingColumns=True)
    elif tdef is not None:
        merged = new_df
    else:
        db.schema.register(name, new_df)
        merged = new_df
    n = new_df.count()
    _replace_df(db, name, merged)
    _notify_mvs(db, name, delta=new_df)
    if (
        db.schema.exists(name) and db.schema.get(name).kind == "vertex"
        and stmt.from_select is None and rows
    ):
        # legacy mirror for NON-live vertex types (registered directly
        # with a DataFrame): keep INSERT-then-MATCH working
        db.graph().add_vertex_rows(db.schema.get(name).name, rows)
    if trig_rows is not None:
        from arcadedb_spark.triggers import fire

        fire(db, "AFTER", "CREATE", name, trig_rows)
    if stmt.return_expr is not None:
        tdef2 = db.schema.get(name)
        base_n = 0
        if tdef2.key is None:
            # positional rid offsets continue the pre-insert row count
            base_n = merged.count() - n
        rid = (
            F.concat(F.lit(f"#{tdef2.bucket_id}:"),
                     F.col(tdef2.key).cast("long").cast("string"))
            if tdef2.key is not None and tdef2.key in new_df.columns
            else F.concat(
                F.lit(f"#{tdef2.bucket_id}:"),
                (F.lit(base_n) + F.monotonically_increasing_id())
                .cast("string"),
            )
        )
        ret = new_df.withColumn("@rid", rid).withColumn(
            "@type", F.lit(tdef2.name)
        )
        return _dml_return_frame(db, ret, stmt.return_expr, params)
    return _result(db, n)


def _insert_bucket(db, stmt: ast.InsertStmt, params: dict) -> DataFrame:
    """INSERT INTO bucket:<name> — direct bucket insert
    (InsertStatement.java targetBucket / LocalBucket.java): rows land in
    the named bucket's slice; the owner type's scan unions them in."""
    bname = stmt.bucket_name
    if isinstance(bname, ast.Param):
        bname = str(_content_value(db, bname, params))
    meta = db.schema.named_buckets.get(bname.lower())
    if meta is None:
        raise TranslateError(f"Bucket '{bname}' does not exist")
    owner = meta.get("owner")
    if owner is None or not db.schema.exists(owner):
        raise TranslateError(
            f"Bucket '{bname}' is not associated with a type"
        )
    rows: list[dict] = []
    if stmt.values_rows:
        if not stmt.fields:
            raise TranslateError("INSERT VALUES requires a field list")
        for vr in stmt.values_rows:
            rows.append({
                f: _literal_value(db, e, params)
                for f, e in zip(stmt.fields, vr)
            })
    elif stmt.set_items:
        rows.append(
            {f: _literal_value(db, e, params) for f, e in stmt.set_items}
        )
    elif stmt.content is not None:
        rows.append(
            _content_value(db, stmt.content, params)
        )
    if not rows:
        raise TranslateError("bucket INSERT needs VALUES/SET/CONTENT")
    rows = [_validate_row(db, owner, r) for r in rows]
    new_df = local_df(db.spark, [tuple(r.values()) for r in rows], list(rows[0].keys()))
    if meta["df"] is None:
        meta["df"] = new_df
    else:
        meta["df"] = meta["df"].unionByName(
            new_df, allowMissingColumns=True
        ).cache()
    db._plan_cache.clear()
    _notify_mvs(db, owner, delta=new_df)
    return _result(db, len(rows))


def _notify_mvs(db, src_name: str, delta=None) -> None:
    """Record source-type changes for INCREMENTAL materialized views:
    inserts queue their delta frame; updates/deletes mark the view dirty
    (full recompute on next REFRESH)."""
    src_l = src_name.lower()
    for tname in db.schema.names():
        tdef = db.schema.get(tname)
        sel = tdef.properties.get("mv_select")
        mode = (tdef.properties.get("mv_refresh") or "").upper()
        if sel is None or not mode.startswith("INCREMENTAL"):
            continue
        tgt = sel.target
        if not (isinstance(tgt, ast.TypeTarget) and tgt.name.lower() == src_l):
            continue
        if delta is not None:
            tdef.properties.setdefault("mv_pending", []).append(delta)
        else:
            tdef.properties["mv_dirty"] = True


def _trigger_rows(db, event: str, type_name: str, df) -> "list[dict] | None":
    """Affected rows as dicts when any trigger matches, else None (no
    collect on the fast path)."""
    from arcadedb_spark.triggers import MAX_TRIGGER_ROWS, matching

    if not (matching(db, "BEFORE", event, type_name)
            or matching(db, "AFTER", event, type_name)):
        return None
    return [
        r.asDict(recursive=True)
        for r in df.limit(MAX_TRIGGER_ROWS + 1).collect()
    ]


# -- UPDATE -----------------------------------------------------------------


def _with_rid(frame, tdef):
    """Attach the surface @rid (derived from the graph vid — the same
    identity Catalog._with_metadata exposes to SELECT) so WHERE can
    address records by rid on the write path too."""
    if "@rid" in frame.columns or "vid" not in frame.columns:
        return frame
    return frame.withColumn(
        "@rid",
        F.concat(F.lit(f"#{tdef.bucket_id}:"), F.col("vid").cast("string")),
    )


def _graph_frames_for(db, tdef):
    """(key, frame) pairs of graph vertex frames carrying ``tdef``'s label
    (a multi-label node created as (:A:B) lives under the 'a:b' key but
    must answer SQL DML on type A)."""
    g = db.graph()
    g._flush_vertices()
    want = tdef.name.lower()
    return [
        (key, dict.get(g.vertex_dfs, key))
        for key in list(g.vertex_dfs)
        if want in set(key.split(":"))
    ]


def _update_live(db, tdef, stmt: ast.UpdateStmt, params: dict) -> DataFrame:
    """UPDATE on a graph-backed type: per-label-frame conditional rewrite
    through the graph layer (one store — the change is visible to Cypher
    MATCH immediately)."""
    g = db.graph()
    set_items = list(stmt.set_items)
    if stmt.content is not None:
        if isinstance(stmt.content, ast.MapLit):
            set_items += list(stmt.content.entries)
        else:
            cv = _content_value(db, stmt.content, params)
            set_items += [(k, ast.Lit(v)) for k, v in cv.items()]
    matched = 0
    before = None
    match_vids = None
    for key, frame in _graph_frames_for(db, tdef):
        cf = _with_rid(frame, tdef)
        ctx = Ctx(db=db, params=params, columns=tuple(cf.columns),
                  frame_schema=cf.schema)
        compiler = ExprCompiler(ctx)
        cond = (compiler.compile(stmt.where) if stmt.where is not None
                else F.lit(True))
        m = cf.filter(cond).select("vid")
        if stmt.return_mode == "before":
            # the pre-write frame object stays valid lazily
            b = cf.filter(cond)
            before = b if before is None else before.unionByName(
                b, allowMissingColumns=True
            )
        if stmt.return_mode is not None:
            match_vids = m if match_vids is None else match_vids.unionByName(m)
        actx = Ctx(db=db, params=params, columns=tuple(frame.columns),
                   frame_schema=frame.schema)
        acomp = ExprCompiler(actx)
        assignments = [
            (p, acomp.compile(e) if isinstance(e, ast.Expr) else F.lit(e))
            for p, e in set_items
        ]
        assignments += [
            (p, F.lit(None)) for p in stmt.remove_fields
            if p in frame.columns
        ]
        if stmt.apply_defaults:
            declared = tdef.properties.get("declared", {})
            for p, spec in declared.items():
                if isinstance(spec, dict) and "default" in spec:
                    prev = (F.col(p) if p in frame.columns
                            else F.lit(None))
                    over = dict(assignments).get(p)
                    cur = over if over is not None else prev
                    assignments = [a for a in assignments if a[0] != p]
                    assignments.append(
                        (p, F.coalesce(cur, F.lit(spec["default"])))
                    )
        matched += g.update_vertices(key, m, assignments)
    if matched == 0 and stmt.upsert:
        row = {p: _literal_value(db, e, params) for p, e in set_items}
        vids = g.add_vertex_rows(tdef.name, [row])
        matched = 1
        if stmt.return_mode == "after":
            vdf = g.vertices(tdef.name).filter(F.col("vid").isin(vids))
            ret = _with_rid(vdf, tdef).drop("vid")
            _notify_mvs(db, tdef.name)
            return _dml_return_frame(db, ret, stmt.return_expr, params)
    _notify_mvs(db, tdef.name)
    if stmt.return_mode == "before" and before is not None:
        return _dml_return_frame(
            db, before.drop("vid"), stmt.return_expr, params
        )
    if stmt.return_mode == "after" and match_vids is not None:
        vdf = g.vertices(tdef.name).join(match_vids, "vid", "left_semi")
        ret = _with_rid(vdf, tdef).drop("vid")
        return _dml_return_frame(db, ret, stmt.return_expr, params)
    return _result(db, matched)


def _resolve_dml_func_target(db, stmt, params):
    """UPDATE/DELETE cypherRID(:id) …: rewrite to the owning type with an
    injected @rid equality (SQLFunctionCypherRID.java target forms)."""
    import dataclasses

    from arcadedb_spark.sql.translator import eval_cypher_rid

    rid, label = eval_cypher_rid(db, stmt.type_name.call, params)
    if label is None:
        return None
    cond = ast.Bin("=", ast.Chain(("@rid",)), ast.Lit(rid))
    where = cond if stmt.where is None else ast.Bin("AND", stmt.where, cond)
    return dataclasses.replace(stmt, type_name=label, where=where)


def _update_content_array(db, tdef, stmt, rows: list, params) -> DataFrame:
    """UPDATE <t> CONTENT [<obj>, …]: the i-th MATCHED record (storage
    order) is REPLACED by the i-th array element; surplus matched records
    stay untouched (UpdateContentArrayTest.java).  One positional join —
    the single-partition ordering window is acceptable for the bounded
    literal array that drives it."""
    from pyspark.sql import Window

    base = tdef.df()
    ctx = Ctx(db=db, params=params, columns=tuple(base.columns),
              frame_schema=base.schema)
    cond = (ExprCompiler(ctx).compile(stmt.where)
            if stmt.where is not None else F.lit(True))
    keys: list[str] = []
    for r in rows:
        for k in r:
            if k not in keys:
                keys.append(k)
    content = local_df(
        db.spark,
        [tuple([i] + [r.get(k) for k in keys]) for i, r in enumerate(rows)],
        ", ".join(["__ci long"] + [
            f"`{k}` {_py_spark_type(next((r[k] for r in rows if r.get(k) is not None), None))}"
            for k in keys
        ]),
    ).select("__ci", *[F.col(k).alias(f"__nv_{k}") for k in keys])
    w = Window.partitionBy(F.lit(1)).orderBy(F.monotonically_increasing_id())
    marked = base.withColumn("__hit", cond).withColumn(
        "__rn",
        F.sum(F.when(F.col("__hit"), 1).otherwise(0)).over(w) - 1,
    )
    joined = marked.join(
        content,
        F.col("__hit") & (F.col("__rn") == F.col("__ci")),
        "left",
    )
    paired = F.col("__ci").isNotNull()
    out = joined
    for c in base.columns:
        if c in keys:
            out = out.withColumn(
                c, F.when(paired, F.col(f"__nv_{c}")).otherwise(F.col(c))
            )
        else:
            # CONTENT replaces the whole record: absent keys null out
            out = out.withColumn(
                c,
                F.when(paired, F.lit(None).cast(base.schema[c].dataType))
                .otherwise(F.col(c)),
            )
    for k in keys:
        if k not in base.columns:
            out = out.withColumn(k, F.when(paired, F.col(f"__nv_{k}")))
    after = out.filter(paired).drop(
        "__hit", "__rn", "__ci", *[f"__nv_{k}" for k in keys]
    )
    new_df = out.drop("__hit", "__rn", "__ci", *[f"__nv_{k}" for k in keys])
    n = after.count()
    _replace_df(db, tdef.name, new_df)
    _notify_mvs(db, tdef.name)
    if stmt.return_mode in ("after", "before"):
        if stmt.return_mode == "before":
            return _dml_return_frame(
                db, base.filter(cond), stmt.return_expr, params
            )
        return _dml_return_frame(db, after, stmt.return_expr, params)
    return _result(db, n)


def _resolve_dml_rid_target(db, stmt, params):
    """UPDATE/DELETE [#b:p, …]: rewrite to the owning type with an
    injected @rid-membership condition."""
    import dataclasses

    rids = stmt.type_name.rids
    b = rids[0].bucket
    tdef = next(
        (t for t in db.schema._types.values() if t.bucket_id == b), None
    )
    if tdef is None:
        raise TranslateError(f"No bucket {b}")
    items = tuple(
        ast.Lit(f"#{r.bucket}:{r.position}") for r in rids
    )
    cond = ast.In(needle=ast.Chain(("@rid",)), items=items)
    where = cond if stmt.where is None else ast.Bin("AND", stmt.where, cond)
    return dataclasses.replace(stmt, type_name=tdef.name, where=where)


def _update(db, stmt: ast.UpdateStmt, params: dict) -> DataFrame:
    if isinstance(stmt.type_name, ast.RidTarget):
        stmt = _resolve_dml_rid_target(db, stmt, params)
    if isinstance(stmt.type_name, ast.FuncTarget):
        stmt = _resolve_dml_func_target(db, stmt, params)
        if stmt is None:
            return _result(db, 0)
    name = stmt.type_name
    tdef = db.schema.get(name)
    arr = _content_items(stmt, db, params)
    if arr is not None:
        if tdef.live:
            raise TranslateError(
                "UPDATE ... CONTENT [array] is supported on document "
                "types (vertex/edge records are graph-backed)"
            )
        return _update_content_array(db, tdef, stmt, arr, params)
    if tdef.live and tdef.kind == "vertex":
        return _update_live(db, tdef, stmt, params)
    if tdef.live and tdef.kind == "edge":
        return _update_live_edges(db, tdef, stmt, params)
    base = tdef.df()
    had_rid = "@rid" in base.columns
    if not had_rid and stmt.where is not None and any(
        isinstance(n_, ast.Chain) and n_.parts
        and n_.parts[0].lower() == "@rid"
        for n_ in _walk_t(stmt.where)
    ):
        # WHERE references @rid: synthesize it the same way the type
        # scan does (positional rid — FetchFromRids parity)
        base = base.withColumn(
            "@rid",
            F.concat(
                F.lit(f"#{tdef.bucket_id}:"),
                F.monotonically_increasing_id().cast("string"),
            ),
        )
    ctx = Ctx(db=db, params=params, columns=tuple(base.columns),
              frame_schema=base.schema)
    compiler = ExprCompiler(ctx)
    cond = compiler.compile(stmt.where) if stmt.where is not None else F.lit(True)

    matched = base.filter(cond).count()
    set_items = list(stmt.set_items)
    if stmt.content is not None:
        if isinstance(stmt.content, ast.MapLit):
            set_items += list(stmt.content.entries)
        else:
            cv = _content_value(db, stmt.content, params)
            set_items += [(k, ast.Lit(v)) for k, v in cv.items()]

    # the match set is decided BEFORE assignments rewrite predicate
    # columns (UPDATE … SET title='Y' RETURN AFTER WHERE title='X' must
    # return the rewritten rows) — freeze it as a hidden column
    hit = F.col("__upd_hit")
    new_df = base.withColumn("__upd_hit", cond)
    for prop, e in set_items:
        val = compiler.compile(e) if isinstance(e, ast.Expr) else F.lit(e)
        if "." in prop and prop.split(".", 1)[0] in base.columns:
            # SET props.key = v — nested map/struct entry rewrite
            from pyspark.sql.types import MapType as _MT9, StructType as _ST9b

            root, key = prop.split(".", 1)
            dt = base.schema[root].dataType
            if isinstance(dt, _MT9):
                nv = F.map_concat(
                    F.map_filter(
                        F.col(root), lambda k, _v: k != F.lit(key)
                    ),
                    F.create_map(F.lit(key), val.cast(dt.valueType)),
                )
            elif isinstance(dt, _ST9b):
                nv = F.col(root).withField(key, val)
            else:
                raise TranslateError(
                    f"SET {prop}: '{root}' is not a map/embedded value"
                )
            new_df = new_df.withColumn(
                root, F.when(hit, nv).otherwise(F.col(root))
            )
            continue
        if prop in base.columns:
            new_df = new_df.withColumn(prop, F.when(hit, val).otherwise(F.col(prop)))
        else:
            new_df = new_df.withColumn(prop, F.when(hit, val))
    for prop in stmt.remove_fields:
        # REMOVE on a fixed schema nulls the property for matched rows
        if prop in base.columns:
            new_df = new_df.withColumn(
                prop, F.when(hit, F.lit(None)).otherwise(F.col(prop))
            )

    if stmt.content is not None and stmt.content_mode == "content":
        # CONTENT (vs MERGE) REPLACES the record: columns not present in
        # the content map null out for matched rows
        ckeys = {k.lower() for k, _ in set_items}
        for c_ in base.columns:
            if c_.lower() in ckeys or c_.startswith(("@", "__")):
                continue
            new_df = new_df.withColumn(
                c_,
                F.when(hit, F.lit(None).cast(base.schema[c_].dataType))
                .otherwise(F.col(c_)),
            )
    if stmt.apply_defaults:
        # APPLY DEFAULTS (issue #1814): null declared properties of the
        # matched rows reset to their schema default AFTER the rewrite
        declared = tdef.properties.get("declared", {})
        for prop, spec in declared.items():
            if isinstance(spec, dict) and "default" in spec:
                dv = F.lit(spec["default"])
                if prop in new_df.columns:
                    new_df = new_df.withColumn(
                        prop,
                        F.when(hit & F.col(prop).isNull(), dv)
                        .otherwise(F.col(prop)),
                    )
                else:
                    new_df = new_df.withColumn(prop, F.when(hit, dv))
    ret_after = new_df.filter(hit).drop("__upd_hit")
    new_df = new_df.drop("__upd_hit")
    if not had_rid:
        new_df = new_df.drop("@rid")
    if matched == 0 and stmt.upsert:
        # UPSERT: no match → insert one document from the SET items
        # (UpsertStep.java:37)
        row = {p: _literal_value(db, e, params) for p, e in set_items}
        ins = local_df(db.spark, [tuple(row.values())], list(row.keys()))
        new_df = base.unionByName(ins, allowMissingColumns=True)
        ret_after = ins
        matched = 1

    _notify_mvs(db, name)
    old_rows = _trigger_rows(db, "UPDATE", name, base.filter(cond))
    if old_rows is not None:
        from arcadedb_spark.triggers import fire

        new_rows = [
            r.asDict(recursive=True) for r in ret_after.collect()
        ]
        fire(db, "BEFORE", "UPDATE", name, new_rows, old_rows)
        _replace_df(db, name, new_df)
        fire(db, "AFTER", "UPDATE", name, new_rows, old_rows)
        return _result(db, matched)
    _replace_df(db, name, new_df)
    if stmt.return_mode in ("after", "before"):
        # BEFORE reads the pre-update rows (the old frame object stays
        # valid lazily); AFTER reads the frozen match set post-rewrite
        ret = base.filter(cond) if stmt.return_mode == "before" else ret_after
        return _dml_return_frame(db, ret, stmt.return_expr, params)
    return _result(db, matched)


# -- DELETE -----------------------------------------------------------------


def _update_live_edges(db, tdef, stmt: ast.UpdateStmt, params: dict) -> DataFrame:
    """UPDATE on a graph-backed edge type (SET r.p = v through SQL)."""
    g = db.graph()
    frame = g.edges(tdef.name)
    ctx = Ctx(db=db, params=params, columns=tuple(frame.columns),
              frame_schema=frame.schema)
    compiler = ExprCompiler(ctx)
    cond = (compiler.compile(stmt.where) if stmt.where is not None
            else F.lit(True))
    set_items = list(stmt.set_items)
    if stmt.content is not None:
        if isinstance(stmt.content, ast.MapLit):
            set_items += list(stmt.content.entries)
        else:
            cv = _content_value(db, stmt.content, params)
            set_items += [(k, ast.Lit(v)) for k, v in cv.items()]
    assignments = [
        (p, compiler.compile(e) if isinstance(e, ast.Expr) else F.lit(e))
        for p, e in set_items
    ]
    assignments += [
        (p, F.lit(None)) for p in stmt.remove_fields if p in frame.columns
    ]
    pairs = frame.filter(cond).select("src", "dst")
    before = frame.filter(cond) if stmt.return_mode == "before" else None
    n = g.update_edges(tdef.name, pairs, assignments)
    _notify_mvs(db, tdef.name)
    if stmt.return_mode == "before":
        return _dml_return_frame(db, before, stmt.return_expr, params)
    if stmt.return_mode == "after":
        ret = g.edges(tdef.name).join(
            pairs.distinct(), ["src", "dst"], "left_semi"
        )
        return _dml_return_frame(db, ret, stmt.return_expr, params)
    return _result(db, n)


def _delete_live(db, tdef, stmt: ast.DeleteStmt, params: dict) -> DataFrame:
    """DELETE on a graph-backed type: vertices detach their incident
    edges (reference vertex delete semantics); edges drop by (src, dst).
    One store — the deletion is visible to Cypher MATCH immediately."""
    g = db.graph()
    if tdef.kind == "edge":
        frame = g.edges(tdef.name)
        ctx = Ctx(db=db, params=params, columns=tuple(frame.columns),
                  frame_schema=frame.schema)
        cond = (ExprCompiler(ctx).compile(stmt.where)
                if stmt.where is not None else F.lit(True))
        pairs = frame.filter(cond).select("src", "dst")
        before = frame.filter(cond) if stmt.return_mode == "before" else None
        n = g.remove_edges(tdef.name, pairs)
        _notify_mvs(db, tdef.name)
        if stmt.return_mode == "before":
            # the pre-delete frame object stays valid lazily
            return _dml_return_frame(db, before, stmt.return_expr, params)
        return _result(db, n)
    matched = None
    before = None
    for _key, frame in _graph_frames_for(db, tdef):
        cf = _with_rid(frame, tdef)
        ctx = Ctx(db=db, params=params, columns=tuple(cf.columns),
                  frame_schema=cf.schema)
        cond = (ExprCompiler(ctx).compile(stmt.where)
                if stmt.where is not None else F.lit(True))
        m = cf.filter(cond).select("vid")
        matched = m if matched is None else matched.unionByName(m)
        if stmt.return_mode == "before":
            b = cf.filter(cond)
            before = b if before is None else before.unionByName(
                b, allowMissingColumns=True
            )
    n = g.remove_vertices_any(matched) if matched is not None else 0
    _notify_mvs(db, tdef.name)
    if stmt.return_mode == "before" and before is not None:
        return _dml_return_frame(
            db, before.drop("vid"), stmt.return_expr, params
        )
    return _result(db, n)


def _delete(db, stmt: ast.DeleteStmt, params: dict) -> DataFrame:
    if isinstance(stmt.type_name, ast.RidTarget):
        stmt = _resolve_dml_rid_target(db, stmt, params)
    if isinstance(stmt.type_name, ast.FuncTarget):
        stmt = _resolve_dml_func_target(db, stmt, params)
        if stmt is None:
            return _result(db, 0)
    name = stmt.type_name
    tdef = db.schema.get(name)
    if tdef.live:
        return _delete_live(db, tdef, stmt, params)
    base = tdef.df()
    if stmt.where is None:
        n = base.count()
        _notify_mvs(db, name)
        del_rows = _trigger_rows(db, "DELETE", name, base)
        if del_rows is not None:
            from arcadedb_spark.triggers import fire

            fire(db, "BEFORE", "DELETE", name, del_rows)
        _replace_df(db, name, base.limit(0))
        if del_rows is not None:
            from arcadedb_spark.triggers import fire

            fire(db, "AFTER", "DELETE", name, del_rows)
        return _result(db, n)
    ctx = Ctx(db=db, params=params, columns=tuple(base.columns),
              frame_schema=base.schema)
    cond = ExprCompiler(ctx).compile(stmt.where)
    n = base.filter(cond).count()
    _notify_mvs(db, name)
    del_rows = _trigger_rows(db, "DELETE", name, base.filter(cond))
    if del_rows is not None:
        from arcadedb_spark.triggers import fire

        fire(db, "BEFORE", "DELETE", name, del_rows)
    _replace_df(db, name, base.filter(~cond | cond.isNull()))
    if del_rows is not None:
        from arcadedb_spark.triggers import fire

        fire(db, "AFTER", "DELETE", name, del_rows)
    if stmt.return_mode == "before":
        # the pre-delete frame object stays valid lazily
        return _dml_return_frame(
            db, base.filter(cond), stmt.return_expr, params
        )
    return _result(db, n)


# -- DDL --------------------------------------------------------------------


def _create_type(db, stmt: ast.CreateTypeStmt) -> DataFrame:
    if db.schema.exists(stmt.name):
        if stmt.if_not_exists:
            return _result(db, 0)
        raise TranslateError(f"Type '{stmt.name}' already exists")
    parents = (stmt.extends,) if stmt.extends else ()

    def _store_custom(tdef):
        # CUSTOM k = v metadata (CreateTypeAbstractStatement custom map,
        # readable back through schema:types / getCustom)
        if stmt.custom:
            tdef.properties["custom"] = {
                k: _literal_value(db, e, {}) for k, e in stmt.custom
            }

    if stmt.kind in ("vertex", "edge"):
        # vertex/edge types are LIVE graph-backed: one record store under
        # both the SQL and Cypher surfaces (QueryEngineManager.java:60) —
        # SQL DML delegates to the graph layer, SQL SELECT re-reads the
        # graph frame, so writes on either surface see each other.
        tdef = db.register_graph_type(stmt.name, kind=stmt.kind)
        tdef.parents = parents
        _attach_named_buckets(db, tdef, stmt.bucket_names)
        _store_custom(tdef)
        return _result(db, 1)
    tdef = db.schema.register(
        stmt.name,
        loader=lambda: local_df(db.spark, [], "dummy string").limit(0).drop("dummy"),
        kind=stmt.kind,
        parents=parents,
    )
    tdef._df = None
    _attach_named_buckets(db, tdef, stmt.bucket_names)
    _store_custom(tdef)
    return _result(db, 1)


def _attach_named_buckets(db, tdef, bucket_names) -> None:
    """CREATE TYPE … BUCKET b1,b2: associate (and create if needed) the
    named buckets; the type's scan unions their slices."""
    if not bucket_names:
        return
    tdef.properties["extra_buckets"] = list(bucket_names)
    for b in bucket_names:
        db.schema.register_bucket(b, owner=tdef.name)


def _drop_type(db, stmt: ast.DropTypeStmt) -> DataFrame:
    if not db.schema.exists(stmt.name):
        if stmt.if_exists:
            return _result(db, 0)
        raise TranslateError(f"Type '{stmt.name}' does not exist")
    tdef = db.schema.get(stmt.name)
    if tdef.live:
        # graph-backed type: dropping the type drops its records from the
        # shared store (reference DROP TYPE deletes the type's buckets)
        g = db._graph
        if g is not None:
            key = tdef.name.lower()
            if tdef.kind == "edge":
                g._pending_e = [
                    p for p in g._pending_e if p[0] != tdef.name
                ]
                g._edge_dfs = [
                    e.filter(F.col("etype") != F.lit(tdef.name))
                    for e in g._edge_dfs
                ]
                g.edge_meta.pop(tdef.name, None)
                g._edges = None
                g._edges_by_src = None
            else:
                g._pending_v.pop(key, None)
                if dict.__contains__(g.vertex_dfs, key):
                    dict.__delitem__(g.vertex_dfs, key)
                g.label_display.pop(key, None)
                g._invalidate_vertex_unions()
    db.schema.drop(stmt.name)
    db._plan_cache.clear()
    return _result(db, 1)


def _create_property(db, stmt: ast.CreatePropertyStmt) -> DataFrame:
    if not db.schema.exists(stmt.type_name):
        # a label created by Cypher CREATE lives in the graph, not the
        # catalog — register it as a vertex type so declared-property
        # constraints attach (the reference's schema is one registry)
        g = db._graph
        if g is not None and stmt.type_name.lower() in getattr(
            g, "label_display", {}
        ):
            db.schema.register(
                stmt.type_name,
                loader=lambda: local_df(
                    db.spark, [], "dummy string"
                ).limit(0).drop("dummy"),
                kind="vertex",
            )
        else:
            raise TranslateError(f"Type not found: {stmt.type_name}")
    tdef = db.schema.get(stmt.type_name)
    declared = tdef.properties.setdefault("declared", {})
    if stmt.prop in declared and stmt.if_not_exists:
        return _result(db, 0)
    declared[stmt.prop] = {
        "type": stmt.dtype.lower(),
        **{k: v for k, v in stmt.constraints},
    }
    return _result(db, 1)


def _endpoint_vids(db, ep, params: dict, side: str) -> list[int]:
    """Resolve a CREATE EDGE endpoint to graph vids.

    (SELECT FROM Type WHERE …) applies the predicate against the GRAPH
    vertex frame for the type (Cypher-created and SQL-mirrored vertices
    both live there); RID literals address bucket vids."""
    g = db.graph()
    if isinstance(ep, ast.Param):
        # bound endpoint: a rid string or a collection of them
        v = (params or {}).get(ep.name)
        if v is None:
            raise TranslateError(f"Missing query parameter :{ep.name}")
        vals = v if isinstance(v, (list, tuple, set)) else [v]
        out = []
        for r in vals:
            b, pos = str(r).lstrip("#").split(":")
            out.append(_rid_vid(ast.RidLit(int(b), int(pos))))
        return out
    if isinstance(ep, ast.RidLit):
        return [_rid_vid(ep)]
    if isinstance(ep, tuple):
        return [_rid_vid(r) for r in ep]
    if isinstance(ep, ast.SelectStmt):
        tgt = ep.target
        tname = getattr(tgt, "name", None)
        if tname is None:
            raise TranslateError(
                f"CREATE EDGE {side} subquery must select FROM a type"
            )
        vdf = g.vertices(tname)
        if "vid" not in vdf.columns:
            raise TranslateError(
                f"Type '{tname}' has no graph vertices to link"
            )
        if ep.where is not None:
            ctx = Ctx(db=db, params=params or {},
                      columns=tuple(vdf.columns), frame_schema=vdf.schema)
            vdf = vdf.filter(ExprCompiler(ctx).compile(ep.where))
        rows = vdf.select("vid").limit(10_001).collect()
        if len(rows) > 10_000:
            raise TranslateError(
                "CREATE EDGE endpoint matches > 10000 vertices — use a "
                "MATCH … CREATE edge write for bulk linking"
            )
        return [r["vid"] for r in rows]
    raise TranslateError(f"Unsupported CREATE EDGE endpoint: {ep!r}")


def _rid_vid(r: ast.RidLit) -> int:
    from arcadedb_spark.graph.model import _VID_SHIFT

    return (r.bucket << _VID_SHIFT) + r.position


def _create_edge(db, stmt: ast.CreateEdgeStmt, params: dict) -> DataFrame:
    """CREATE EDGE <type> FROM <ep> TO <ep> [SET …]
    (parser/CreateEdgeStatement.java): one edge per (src, dst) pair of
    the endpoint cartesian (reference semantics), properties from the
    literal SET items."""
    src = _endpoint_vids(db, stmt.src, params, "FROM")
    dst = _endpoint_vids(db, stmt.dst, params, "TO")
    props = {p: _literal_value(db, e, params) for p, e in stmt.sets}
    pairs = [(s, d) for s in src for d in dst]
    n = db.graph().add_edge_rows(stmt.etype, pairs, props or None)
    return _result(db, n)


def _strip_url(url: str) -> str:
    for pfx in ("file://", "file:"):
        if url.startswith(pfx):
            return url[len(pfx):]
    return url


def _import_database(db, stmt: ast.ImportDatabaseStmt) -> DataFrame:
    """IMPORT DATABASE (ImportDatabaseStatement.java → integration
    importer formats): the format comes from WITH fileType/type or the
    file extension; the file registers as a queryable type (WITH
    typeName/name overrides the stem).  Spark reads the file directly —
    csv/json go through spark.read (distributed, schema-inferred), the
    specialty formats through arcadedb_spark.sources.readers."""
    import os as _os

    opts = {k.lower(): v for k, v in stmt.options}
    url = stmt.url or opts.get("url") or opts.get("vertices")
    if not url:
        raise TranslateError("IMPORT DATABASE needs a URL")
    if str(url).startswith(("http://", "https://")):
        raise TranslateError(
            "http(s) import is not supported here — download the file "
            "and import via file:// (network fetch belongs to the "
            "ingestion layer, not the query engine)"
        )
    path = _strip_url(str(url))
    if not _os.path.exists(path):
        raise TranslateError(f"IMPORT DATABASE: file not found: {path}")
    fmt = str(
        opts.get("filetype") or opts.get("format") or opts.get("type")
        or _os.path.splitext(path)[1].lstrip(".")
    ).lower()
    name = str(
        opts.get("typename") or opts.get("name")
        or _os.path.splitext(_os.path.basename(path))[0]
    )
    spark = db.spark
    if fmt == "csv":
        df = spark.read.csv(
            path, header=bool(opts.get("header", True)),
            inferSchema=True,
            sep=str(opts.get("delimiter", ",")),
        )
    elif fmt in ("json", "jsonl"):
        df = spark.read.json(path)
    elif fmt == "xml":
        from arcadedb_spark.sources.readers import read_xml

        df = read_xml(spark, path, row_tag=str(opts.get("rowtag", "row")))
    elif fmt == "glove":
        from arcadedb_spark.sources.readers import read_glove

        df = read_glove(spark, path)
    elif fmt == "word2vec":
        from arcadedb_spark.sources.readers import read_word2vec

        df = read_word2vec(spark, path)
    elif fmt in ("rdf", "ntriples", "nt"):
        from arcadedb_spark.sources.readers import read_ntriples

        df = read_ntriples(spark, path)
    elif fmt == "neo4j":
        from arcadedb_spark.sources.readers import import_neo4j_graph

        counts = import_neo4j_graph(db, path)
        return _op_result(db, operation="import database", format="neo4j",
                          result=str(counts))
    elif fmt in ("orientdb", "orient"):
        from arcadedb_spark.sources.readers import read_orientdb_export

        df = read_orientdb_export(spark, path)
    elif fmt == "parquet":
        df = spark.read.parquet(path)
    else:
        raise TranslateError(
            f"IMPORT DATABASE: unsupported format '{fmt}' (csv, json, "
            "jsonl, xml, glove, word2vec, rdf, neo4j, orientdb, parquet)"
        )
    db.schema.register(name, df, kind=str(opts.get("kind", "document")))
    return _op_result(db, operation="import database", format=fmt,
                      type=name, rows=df.count())


def _export_database(db, stmt: ast.ExportDatabaseStmt) -> DataFrame:
    """EXPORT DATABASE (ExportDatabaseStatement.java): every type to
    <url>/<name>.jsonl|.parquet via Database.backup."""
    opts = {k.lower(): v for k, v in stmt.options}
    fmt = str(opts.get("format", "jsonl")).lower()
    if fmt.startswith("graphson") or fmt.startswith("graphml"):
        raise TranslateError(
            f"EXPORT DATABASE format '{fmt}' is not supported — use "
            "jsonl or parquet"
        )
    counts = db.backup(_strip_url(str(stmt.url)),
                       format="parquet" if fmt == "parquet" else "jsonl")
    return _op_result(db, operation="export database", format=fmt,
                      types=len(counts), rows=sum(counts.values()))


def _check_database(db, stmt: ast.CheckDatabaseStmt) -> DataFrame:
    """CHECK DATABASE (CheckDatabaseStatement.java / integrity check):
    one row per type with row counts; edge types additionally count
    dangling endpoints (src/dst not present in the vertex universe) —
    the Spark analog of the reference's broken-edge scan.  FIX is not
    supported (storage here is immutable parquet)."""
    if stmt.fix:
        raise TranslateError(
            "CHECK DATABASE FIX is not supported — storage is immutable "
            "parquet; re-import or rewrite the affected type instead"
        )
    names = list(stmt.types) or list(db.schema.names())
    rows = []
    g = None
    vids = None
    for name in names:
        tdef = db.schema.get(name)
        n = tdef.df().count()
        dangling = None
        if tdef.kind == "edge":
            if vids is None:
                g = db.graph()
                av = g.all_vertices()
                vids = av.select(F.col("vid")).distinct() \
                    if av is not None else None
            if vids is not None:
                e = tdef.df()
                if "src" in e.columns and "dst" in e.columns:
                    dangling = (
                        e.join(vids.withColumnRenamed("vid", "src"),
                               "src", "left_anti").count()
                        + e.join(vids.withColumnRenamed("vid", "dst"),
                                 "dst", "left_anti").count()
                    )
        rows.append((name, tdef.kind, n,
                     None if dangling is None else int(dangling)))
    return local_df(
        db.spark, rows, "type string, kind string, rows long, dangling_edges long"
    )


def _op_result(db, **cols) -> DataFrame:
    """One-row result frame mirroring the reference's ALTER result shape
    (operation/oldValue/newValue properties on a ResultInternal)."""
    vals = tuple(None if v is None else str(v) for v in cols.values())
    schema = ", ".join(f"`{k}` string" for k in cols)
    return local_df(db.spark, [vals], schema)


def _alter_type(db, stmt: ast.AlterTypeStmt) -> DataFrame:
    """ALTER TYPE (AlterTypeStatement.java:115): NAME renames the type in
    the catalog (subtype parent links follow), SUPERTYPE/BUCKET apply
    ±lists, BUCKETSELECTIONSTRATEGY and CUSTOM are catalog metadata."""
    if not db.schema.exists(stmt.name):
        raise TranslateError(f"Type not found: {stmt.name}")
    tdef = db.schema.get(stmt.name)
    if stmt.custom_key is not None:
        tdef.properties.setdefault("custom", {})[stmt.custom_key] = \
            stmt.custom_value
        return _op_result(db, operation="alter type custom",
                          custom=f"{stmt.custom_key}={stmt.custom_value}")
    if stmt.attr == "name":
        new = stmt.value
        if db.schema.exists(new):
            raise TranslateError(f"Type '{new}' already exists")
        old = tdef.name
        db.schema._types.pop(old.lower(), None)
        tdef.name = new
        db.schema._types[new.lower()] = tdef
        # subtype parent links follow the rename
        for t in db.schema._types.values():
            if any(p.lower() == old.lower() for p in t.parents):
                t.parents = tuple(
                    new if p.lower() == old.lower() else p
                    for p in t.parents
                )
        db._plan_cache.clear()
        return _op_result(db, operation="alter type name",
                          oldValue=old, newValue=new)
    if stmt.attr == "supertype":
        parents = list(tdef.parents)
        for add, ident in stmt.add_remove:
            if add:
                if not db.schema.exists(ident):
                    raise TranslateError(f"Type not found: {ident}")
                if ident not in parents:
                    parents.append(ident)
            else:
                parents = [p for p in parents
                           if p.lower() != ident.lower()]
        tdef.parents = tuple(parents)
        db._plan_cache.clear()
        return _op_result(db, operation="alter type supertype",
                          supertype=",".join(parents))
    if stmt.attr == "bucket":
        buckets = list(tdef.properties.get("extra_buckets", ()))
        for add, ident in stmt.add_remove:
            if add:
                if ident not in buckets:
                    buckets.append(ident)
                db.schema.register_bucket(ident, owner=tdef.name)
            else:
                buckets = [b for b in buckets if b != ident]
                meta = db.schema.named_buckets.get(str(ident).lower())
                if meta is not None and meta.get("owner") == tdef.name:
                    meta["owner"] = None
        tdef.properties["extra_buckets"] = buckets
        return _op_result(db, operation="alter type bucket",
                          buckets=",".join(buckets))
    if stmt.attr == "bucketselectionstrategy":
        old = tdef.properties.get("bucket_selection_strategy")
        tdef.properties["bucket_selection_strategy"] = stmt.value
        return _op_result(db, operation="alter type bucketselectionstrategy",
                          oldValue=old, newValue=stmt.value)
    raise TranslateError(
        f"Error on alter type: property '{stmt.attr}' not valid"
    )


def _alter_property(db, stmt: ast.AlterPropertyStmt) -> DataFrame:
    """ALTER PROPERTY (AlterPropertyStatement.java:49-140): updates the
    declared-property constraint map; the next INSERT/UPDATE re-validates
    through _validate_row against the new constraints."""
    if not db.schema.exists(stmt.type_name):
        raise TranslateError(f"Type not found: {stmt.type_name}")
    tdef = db.schema.get(stmt.type_name)
    declared = tdef.properties.setdefault("declared", {})
    spec = declared.get(stmt.prop)
    if spec is None:
        raise TranslateError(
            f"Property '{stmt.prop}' not found on type {stmt.type_name}"
        )
    if stmt.custom_key is not None:
        old = spec.setdefault("custom", {}).get(stmt.custom_key)
        spec["custom"][stmt.custom_key] = stmt.custom_value
        return _op_result(
            db, type=stmt.type_name, property=stmt.prop,
            operation="alter property custom",
            customAttribute=stmt.custom_key, oldValue=old,
            newValue=stmt.custom_value,
        )
    if stmt.setting == "name":
        # rename the property (AlterPropertyStatement NAME attribute)
        new_name = str(stmt.value)
        declared[new_name] = declared.pop(stmt.prop)
        if tdef._df is not None and stmt.prop in tdef._df.columns:
            tdef._df = tdef._df.withColumnRenamed(stmt.prop, new_name)
            db._plan_cache.clear()
        return _op_result(
            db, type=stmt.type_name, property=stmt.prop,
            operation="alter property", attribute="name",
            oldValue=stmt.prop, newValue=new_name,
        )
    old = spec.get(stmt.setting)
    if stmt.value is None and stmt.setting in ("min", "max", "default",
                                               "regexp"):
        spec.pop(stmt.setting, None)  # NULL clears the constraint
    else:
        spec[stmt.setting] = stmt.value
    return _op_result(
        db, type=stmt.type_name, property=stmt.prop,
        operation="alter property", attribute=stmt.setting,
        oldValue=old, newValue=stmt.value,
    )


def _validate_row(db, type_name: str, row: dict) -> dict:
    """Apply declared defaults and constraints to one document
    (DocumentValidator.java + ApplyDefaultsStep.java:35 semantics)."""
    tdef = db.schema.get(type_name)
    declared = tdef.properties.get("declared", {})
    for prop, spec in declared.items():
        if not isinstance(spec, dict):
            continue
        if prop not in row or row[prop] is None:
            if "default" in spec and prop not in row:
                row[prop] = spec["default"]
        val = row.get(prop)
        if spec.get("mandatory") and prop not in row:
            raise TranslateError(f"Property '{prop}' is mandatory")
        if spec.get("notnull") and prop in row and val is None:
            raise TranslateError(f"Property '{prop}' cannot be null")
        if val is not None:
            if "min" in spec and val < spec["min"]:
                raise TranslateError(
                    f"Property '{prop}' value {val} below minimum {spec['min']}"
                )
            if "max" in spec and val > spec["max"]:
                raise TranslateError(
                    f"Property '{prop}' value {val} above maximum {spec['max']}"
                )
            if "regexp" in spec:
                import re

                if not re.fullmatch(str(spec["regexp"]), str(val)):
                    raise TranslateError(
                        f"Property '{prop}' value {val!r} does not match "
                        f"{spec['regexp']!r}"
                    )
    return row


def _truncate(db, stmt: ast.TruncateTypeStmt) -> DataFrame:
    tdef = db.schema.get(stmt.name)
    if tdef.live:
        g = db.graph()
        if tdef.kind == "edge":
            e = g.edges(tdef.name)
            n = g.remove_edges(tdef.name, e.select("src", "dst"))
            return _result(db, n)
        matched = None
        for _key, frame in _graph_frames_for(db, tdef):
            m = frame.select("vid")
            matched = m if matched is None else matched.unionByName(m)
        n = g.remove_vertices_any(matched) if matched is not None else 0
        return _result(db, n)
    base = tdef.df()
    n = base.count()
    _replace_df(db, stmt.name, base.limit(0))
    return _result(db, n)
