"""Database facade: session + catalog + query engines.

Mirrors ``database/LocalDatabase.java:186`` (a database owns the schema and
dispatches queries per language via ``query/QueryEngineManager.java:60``)
without any of its storage concerns — storage is parquet, transactions are
out of scope (analytical engine), and the statement cache
(``query/sql/parser/StatementCache.java:59``) becomes a bounded LRU of
parsed statements keyed by query text.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession

from arcadedb_spark.catalog import OFFSET_COL, Catalog
from arcadedb_spark.session import local_df

# Natural keys for the driver testdata tables (TESTDATA.md) — used for
# deterministic RID offsets (database/RID.java:40-47).
_TESTDATA_KEYS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": None,  # composite key; synthetic offset is fine
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

# LINK columns (foreign keys) of the testdata star schema.  The reference's
# LINK type (schema/Type.java:82) dereferences via dot navigation
# (`customer.c_nationkey.n_name`); we declare the link graph so the
# translator can expand chains into broadcast-able equi-joins.
_TESTDATA_LINKS = {
    "nation": {"n_regionkey": "region"},
    "customer": {"c_nationkey": "nation"},
    "supplier": {"s_nationkey": "nation"},
    "orders": {"o_custkey": "customer"},
    "lineitem": {
        "l_orderkey": "orders",
        "l_partkey": "part",
        "l_suppkey": "supplier",
    },
    "events": {"user_id": "customer"},
}


def _nanos_timestamp_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark has no nanos
    type (reference DATETIME_NANOS, schema/Type.java:96), so the session
    reads them as long and the loader converts to micros (documented
    precision loss, SURVEY.md §1.2)."""
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa

        schema = pq.read_schema(path)
        return tuple(
            f.name
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        )
    except Exception:
        return ()


def _load_parquet(spark: SparkSession, path: str, nanos_cols: tuple[str, ...]) -> DataFrame:
    """Dtype-driven load: never trust session configs we don't own.

    TIMESTAMP(NANOS) parquet columns surface differently per Spark build:
    - as TIMESTAMP_NTZ (pyspark 4.x default) -> cast to TIMESTAMP (session
      TZ is UTC, so the cast is exact);
    - as BIGINT nanos (when spark.sql.legacy.parquet.nanosAsLong is
      honoured) -> convert via timestamp_micros.
    Any other TIMESTAMP_NTZ column (regardless of parquet unit) also gets
    the cast so downstream unix_millis()/withWatermark always see TIMESTAMP.
    """
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    for name, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(name, F.col(name).cast("timestamp"))
        elif name in nanos_cols and dtype == "bigint":
            df = df.withColumn(name, F.timestamp_micros((F.col(name) / 1000).cast("long")))
    return df


# parsed SQL statements Database.query keeps: parsing reads no state and
# every AST node is frozen, so no write invalidates one
_PARSED_STATEMENTS = 512


@functools.lru_cache(maxsize=_PARSED_STATEMENTS)
def _parsed(text: str):
    from arcadedb_spark.sql import parser

    return parser.parse(text)


class Database:
    """One analytical database = SparkSession + type catalog."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.schema = Catalog(spark)
        self._graph = None
        import threading

        self._graph_build_lock = threading.Lock()
        # user functions: DEFINE FUNCTION macros + registered Python UDFs
        self._functions: dict[str, dict] = {}
        # user-registered CALL procedures backed by a fixed result table
        # (reference function/procedure/ProcedureRegistry.java user slots;
        # also the openCypher-TCK "there exists a procedure" fixture shape)
        self._table_procedures: dict[str, dict] = {}
        # named Graph Analytical Views (graph/gav.py — CSR-analog
        # materialized edge frames with delta overlay)
        self._gavs: dict[str, object] = {}

    def register_table_procedure(
        self,
        name: str,
        in_cols: list[tuple[str, str]],
        out_cols: list[tuple[str, str]],
        rows: list[dict],
    ) -> None:
        """Register ``CALL name(args…)`` backed by a lookup table:
        invocation filters ``rows`` on the input columns matching the
        literal arguments and yields the output columns.  ``in_cols`` /
        ``out_cols``: (column, cypher-type) pairs (STRING/INTEGER/FLOAT/
        NUMBER/BOOLEAN/ANY…)."""
        self._table_procedures[name.lower()] = {
            "in": list(in_cols),
            "out": list(out_cols),
            "rows": list(rows),
        }

    def register_function(self, name: str, fn, return_type: str = "string") -> None:
        """Register a Python UDF callable from queries as ``name(args…)``
        (Python replaces the reference's GraalVM-JS function surface,
        function/polyglot/JavascriptFunctionDefinition.java)."""
        from pyspark.sql import functions as F

        self._functions[name.lower()] = {
            "language": "python",
            "udf": F.udf(fn, return_type),
        }

    def register_trigger(
        self, name: str, timing: str, event: str, type_name: str, fn,
    ) -> None:
        """Register a Python trigger callable(record, old_record) →
        bool|None; returning False from a BEFORE trigger vetoes the
        statement (schema/trigger/TriggerExecutor.java semantics; Python
        replaces the reference's JAVASCRIPT/JAVA executors)."""
        from arcadedb_spark.triggers import register_trigger

        register_trigger(self, name, timing, event, type_name, fn=fn)

    def start_mv_refresher(self, view_name: str, interval_s: float):
        """PERIODIC materialized-view refresh
        (schema/MaterializedViewRefreshMode.java PERIODIC): a daemon
        timer re-runs REFRESH every ``interval_s`` seconds.  Returns a
        handle with ``.stop()``."""
        import threading

        stop = threading.Event()

        def loop():
            while not stop.wait(interval_s):
                try:
                    self.command(f"REFRESH MATERIALIZED VIEW {view_name}")
                except Exception:  # noqa: BLE001 — keep the timer alive
                    pass

        t = threading.Thread(target=loop, daemon=True)
        t.start()

        class _Handle:
            def stop(self_inner):
                stop.set()
                t.join(timeout=5)

        return _Handle()

    # -- construction -----------------------------------------------------
    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "Database":
        """Open a directory of parquet files as document types.

        Every ``<name>.parquet`` file (or directory) becomes a type named
        ``<name>`` — the analog of opening an ArcadeDB database directory
        (``database/DatabaseFactory.java``).
        """
        db = cls(spark)
        for entry in sorted(os.listdir(path)):
            if not entry.endswith(".parquet"):
                continue
            name = entry[: -len(".parquet")]
            full = os.path.join(path, entry)
            nanos_cols = _nanos_timestamp_columns(full)
            tdef = db.schema.register(
                name,
                loader=lambda full=full, nc=nanos_cols: _load_parquet(spark, full, nc),
                key=_TESTDATA_KEYS.get(name),
            )
            if name in _TESTDATA_LINKS:
                tdef.properties["links"] = _TESTDATA_LINKS[name]
        # Warm the graph view off the critical path: build the property
        # graph (driver-side plan construction) and fill its derived
        # INTERACTED edge cache (a global window over events) in a daemon
        # thread so the first graph query finds them ready.  Spark
        # schedules jobs from concurrent threads, so this overlaps
        # whatever relational queries run first.
        if "customer" in db.schema.names() and (
            str(spark.conf.get("arcadedb.graph.prewarm", "true")).lower()
            == "true"
        ):
            import threading

            def _warm_graph(d=db):
                try:
                    d.graph().edges("INTERACTED", with_identity=False).count()
                except Exception:
                    pass  # first real graph() call rebuilds and surfaces

            def _warm_tables(d=db):
                # First touch of a type pays parquet footer reads + the
                # @eid metadata column wiring (catalog._with_metadata) —
                # ~0.1 s of driver-side JVM round trips per table.  Warm
                # every registered type's cached DataFrame off the
                # critical path; TypeDef.df() memoizes so the first real
                # query finds it ready.  A small pool: the py4j calls
                # block on the JVM with the GIL released, so four tables
                # warm concurrently (serial: ~1 s; pooled: ~0.3 s).
                from concurrent.futures import ThreadPoolExecutor

                def _one(nm):
                    try:
                        d.schema.get(nm).df()
                    except Exception:
                        pass

                with ThreadPoolExecutor(max_workers=4) as pool:
                    list(pool.map(_one, list(d.schema.names())))

            threading.Thread(
                target=_warm_tables, name="arcadedb-prewarm-tables",
                daemon=True,
            ).start()
            threading.Thread(
                target=_warm_graph, name="arcadedb-prewarm-graph", daemon=True
            ).start()
        return db

    def register_type(
        self,
        name: str,
        df: DataFrame,
        kind: str = "document",
        key: str | None = None,
        parents: tuple[str, ...] = (),
    ) -> None:
        self.schema.register(name, df, kind=kind, key=key, parents=parents)

    def register_graph_type(self, name: str, kind: str = "vertex"):
        """Register a LIVE graph-backed type: both SQL and Cypher read and
        write the same graph store (one record store under every query
        language — QueryEngineManager.java:60).  SQL SELECT re-reads the
        graph frame on every query, so Cypher writes are immediately
        visible, and SQL DML delegates to the graph layer (commands.py).
        """
        if self.schema.exists(name):
            return self.schema.get(name)
        if kind == "edge":
            loader = lambda db=self, n=name: db.graph().edges(n)  # noqa: E731
        else:
            g = self.graph()
            g.label_display.setdefault(name.lower(), name)
            loader = lambda db=self, n=name: db.graph().vertices(n)  # noqa: E731
        tdef = self.schema.register(name, loader=loader, kind=kind)
        tdef.live = True
        return tdef

    def backup(self, path: str, format: str = "parquet") -> dict[str, int]:
        """Write every type to ``path/<name>.parquet`` (or ``.jsonl``) —
        integration/…/exporter + Backup.java analog.  A parquet backup
        directory re-opens with :meth:`open` (restore = open).  Returns
        {type: row_count}."""
        import json as _json

        os.makedirs(path, exist_ok=True)
        counts: dict[str, int] = {}
        for name in list(self.schema.names()):
            tdef = self.schema.get(name)
            df = tdef.df().drop(OFFSET_COL)
            target = os.path.join(path, f"{name}.{'parquet' if format == 'parquet' else 'jsonl'}")
            if format == "parquet":
                df.write.mode("overwrite").parquet(target)
            else:
                from arcadedb_spark.sources.readers import export_jsonl

                export_jsonl(df, target)
            counts[name] = df.count()
        with open(os.path.join(path, "backup_manifest.json"), "w") as fh:
            _json.dump({"format": format, "types": counts}, fh)
        return counts

    def kv(self, type_name: str = "kv_store"):
        """Redis-style key/value surface over a (key, value) type
        (redisw module analog; GET/SET/DEL/EXISTS/KEYS/MGET/INCR).
        Writes are batch table rewrites — documented non-transactional
        semantics, same as all DML here."""
        from arcadedb_spark.kv import KeyValueStore

        return KeyValueStore(self, type_name)

    # -- query entry points ----------------------------------------------
    def table(self, name: str) -> DataFrame:
        return self.schema.table(name)

    def query(self, text: str, language: str = "sql", **params) -> DataFrame:
        """Query entry point with language dispatch
        (query/QueryEngineManager.java:60): 'sql' (default), 'cypher',
        or 'gremlin'.

        Pipeline analog of SQLQueryEngine.java:85: parse (cached) →
        translate to a DataFrame program → Catalyst plans/executes.
        """
        head = text.lstrip()
        kw = head[:8].upper()
        if kw.startswith("EXPLAIN") and (len(head) == 7 or head[7].isspace()):
            return self._explain(head[7:].lstrip(), language, params,
                                 profile=False)
        if kw.startswith("PROFILE") and (len(head) == 7 or head[7].isspace()):
            return self._explain(head[7:].lstrip(), language, params,
                                 profile=True)
        if language.lower() in ("cypher", "opencypher"):
            from arcadedb_spark.graph.cypher import cypher_query

            return cypher_query(self, text, params)
        if language.lower() == "gremlin":
            from arcadedb_spark.graph.gremlin import gremlin_query

            return gremlin_query(self, text)
        if language.lower() in ("mongo", "mongodb"):
            from arcadedb_spark.sql.mongo import mongo_query

            return mongo_query(self, text)
        if language.lower() == "graphql":
            from arcadedb_spark.graphql.engine import graphql_query

            return graphql_query(self, text)
        from arcadedb_spark.sql.translator import Translator

        return Translator(self, params=params).translate(_parsed(text))

    _WRITE_HEADS = (
        "INSERT", "UPDATE", "DELETE", "CREATE", "MERGE", "DROP", "ALTER",
        "TRUNCATE", "BACKUP", "IMPORT", "EXPORT", "DEFINE", "REMOVE",
        "FOREACH", "DETACH", "REBUILD", "CHECK",
    )

    def _explain(self, inner: str, language: str, params: dict,
                 profile: bool) -> DataFrame:
        """EXPLAIN/PROFILE <statement> (parser/ExplainStatement.java,
        ProfileStatement.java, ExplainResultSet.java): one row with the
        physical plan Catalyst chose.  EXPLAIN never runs a job — the
        plan comes from analysis only; PROFILE executes once and attaches
        the row count and wall time (ProfileStatement returns the plan
        annotated with execution stats)."""
        import contextlib
        import io
        import time as _t

        if not inner:
            raise ValueError("EXPLAIN/PROFILE requires a statement")
        head = inner.split(None, 1)[0].upper()
        if head in self._WRITE_HEADS:
            if profile:
                # PROFILE executes the write once and reports its result
                t0w = _t.perf_counter()
                wdf = self.command(inner, language=language, **params)
                nw = wdf.count()
                ew = (_t.perf_counter() - t0w) * 1000.0
                return local_df(
                    self.spark,
                    [(inner, language, "write (executed eagerly)", nw,
                      float(ew))],
                    "statement string, language string, plan string, "
                    "rows bigint, elapsed_ms double",
                )
            # EXPLAIN of a write: parse/validate only, report the
            # statement shape WITHOUT executing (ExplainStatement.java
            # never mutates)
            from arcadedb_spark.sql.parser import parse as _parse

            stmt_w = _parse(inner)
            return local_df(
                self.spark,
                [(inner, language,
                  f"write statement {type(stmt_w).__name__} "
                  "(executes eagerly; no cost-based plan)")],
                "statement string, language string, plan string",
            )
        df = self.query(inner, language=language, **params)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        if not profile:
            return local_df(
                self.spark,
                [(inner, language, plan)],
                "statement string, language string, plan string",
            )
        t0 = _t.perf_counter()
        n = df.count()
        elapsed_ms = (_t.perf_counter() - t0) * 1000.0
        return local_df(
            self.spark,
            [(inner, language, plan, n, float(elapsed_ms))],
            "statement string, language string, plan string, "
            "rows bigint, elapsed_ms double",
        )

    def command(self, text: str, language: str = "sql", **params) -> DataFrame:
        """DML/DDL entry point (LocalDatabase.command :1738).

        SELECT/MATCH/TRAVERSE are also accepted (dispatch parity with the
        reference, which routes idempotent statements through query()).
        ``language='graphql'`` registers an SDL schema
        (GraphQLBasicTest: command('graphql', typeDefs)).
        """
        if language.lower() == "graphql":
            from arcadedb_spark.graphql.engine import graphql_command

            return graphql_command(self, text)
        from arcadedb_spark.sql import ast as _ast
        from arcadedb_spark.sql.commands import execute_command
        from arcadedb_spark.sql.parser import parse

        head = text.lstrip()
        kw = head[:8].upper()
        if kw.startswith("EXPLAIN") and (len(head) == 7 or head[7].isspace()):
            return self._explain(head[7:].lstrip(), language, params,
                                 profile=False)
        if kw.startswith("PROFILE") and (len(head) == 7 or head[7].isspace()):
            return self._explain(head[7:].lstrip(), language, params,
                                 profile=True)
        stmt = parse(text)
        if isinstance(stmt, (_ast.SelectStmt, _ast.MatchStmt, _ast.TraverseStmt)):
            from arcadedb_spark.sql.translator import Translator

            return Translator(self, params=params).translate(stmt)
        return execute_command(self, stmt, params)

    def g(self):
        """Gremlin-style traversal source (gremlin module analog)."""
        from arcadedb_spark.graph.gremlin import GraphTraversalSource

        return GraphTraversalSource(self)

    def script(self, text: str, **params):
        """SQL-script execution (SQLScriptQueryEngine.java analog):
        multi-statement scripts with LET/IF/WHILE/FOREACH/RETURN."""
        from arcadedb_spark.sql.script import run_script

        return run_script(self, text, params)

    def select(self, type_name: str | None = None):
        """Fluent native query API (query/select/Select.java:78)."""
        from arcadedb_spark.select.builder import SelectBuilder

        return SelectBuilder(self, type_name)

    # -- promql ------------------------------------------------------------
    def register_metrics(self, metric: str, df) -> None:
        """Register a metric series for :meth:`promql` — ``df`` needs
        (labels map<string,string>, ts_millis long, value double); the
        reference maps each TimeSeries type to a metric name
        (SQLFunctionPromQL.java:54, promql(<expr>[, <evalTimeMs>]))."""
        if not hasattr(self, "_metrics"):
            self._metrics = {}
        self._metrics[metric] = df

    def promql(self, query: str, time_ms: int | None = None, *,
               start_ms: int | None = None, end_ms: int | None = None,
               step_ms: int | None = None):
        """Evaluate PromQL over the registered metric frames
        (engine/timeseries/promql/PromQLEvaluator.java analog)."""
        from pyspark.sql import functions as F

        from arcadedb_spark.timeseries.promql import (
            promql_instant, promql_range,
        )

        frames = getattr(self, "_metrics", {})
        if not frames:
            raise ValueError(
                "No metrics registered — call register_metrics(name, df)"
            )
        union = None
        for name, df in frames.items():
            part = df.select(
                F.lit(name).alias("metric"), "labels", "ts_millis", "value"
            )
            union = part if union is None else union.unionByName(part)
        if start_ms is not None:
            return promql_range(union, query, start_ms, end_ms, step_ms)
        if time_ms is None:
            time_ms = union.agg(F.max("ts_millis")).collect()[0][0]
        return promql_instant(union, query, time_ms)

    # -- graph ------------------------------------------------------------
    def graph(self):
        """Property-graph view over registered vertex/edge types.

        For the driver testdata, builds the FIXTURES.md §B2 social-style
        graph lazily on first use.
        """
        if self._graph is None:
            from arcadedb_spark.graph.model import GraphModel

            with self._graph_build_lock:
                if self._graph is None:  # double-checked: prewarm thread
                    g = GraphModel.from_database(self)
                    # one-store wiring: graph writes auto-register their
                    # labels as live catalog types (Cypher CREATE rows
                    # become visible to SQL SELECT)
                    g._db_ref = self
                    # `select from schema:graphAnalyticalViews` edge types
                    self.schema._graph_ref = g
                    self.schema._gavs_ref = self._gavs
                    self._graph = g
        return self._graph
