"""Op executors (engine side) and result checks (DuckDB and model side).

Every op is driven through the engine's public entry points:
``db.query``/``db.command`` in all five languages, ``db.kv``,
``graph.traverse.traverse``, ``graph.algorithms.pagerank`` and the
dedup/text/vector/timeseries operators.  ``Engine.build`` returns the
op's DataFrame (the caller runs the action) or an ``Eager`` result for
calls that execute immediately (kv).
"""

from __future__ import annotations

import datetime as dt
import decimal
import json

from workloads import KV_KEYS, NGRAM_LOW, SCRATCH_SLICE, Op

# the module the build step of each op kind calls into: the trace names
# the op's build span after it
BUILD_LAYER = {
    "sql_scan": "database.query", "sql_in": "database.query",
    "sql_link": "database.query", "sql_match": "database.query",
    "cypher": "database.query", "gremlin": "database.query",
    "mongo": "database.query", "graphql": "database.query",
    "traverse": "graph.traverse",
    "tpch_q1": "database.query", "match_3hop": "database.query",
    "bm25": "text", "minhash": "dedup", "ngram": "dedup", "knn": "vector",
    "time_bucket": "timeseries", "sessionize": "timeseries",
    "pagerank": "graph.algorithms",
    "doc_insert": "database.command", "doc_update": "database.command",
    "doc_delete": "database.command", "mv_refresh": "database.command",
    "doc_read": "database.query", "mv_read": "database.query",
    "kv_set": "kv", "kv_incr": "kv", "kv_get": "kv",
}

GRAPHQL_SDL = """
type Query { topCustomers(where: String): [Customer] }
type Customer {
  c_custkey: Int
  c_name: String
  orders: [Order] @relationship(type: "PLACED", direction: OUT)
}
type Order { o_orderkey: Int }
"""

TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity.convert('decimal(25,6)')).asDouble() AS sum_qty,
       sum(l_extendedprice.convert('decimal(25,6)')).asDouble() AS sum_base_price,
       sum((l_extendedprice * (1 - l_discount)).convert('decimal(25,6)')).asDouble() AS sum_disc_price,
       sum((l_extendedprice * (1 - l_discount) * (1 + l_tax)).convert('decimal(25,6)')).asDouble() AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= date('{date}')
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

MV_SQL = (
    "CREATE MATERIALIZED VIEW PbTotals AS SELECT o_orderstatus, count(*) AS n, "
    "max(o_orderkey) AS mk FROM PbOrder GROUP BY o_orderstatus REFRESH INCREMENTAL"
)


def q1_date(day: int) -> str:
    return (dt.date(1995, 3, 1) + dt.timedelta(days=day)).isoformat()


def mongo_doc(a: dict) -> str:
    return json.dumps({
        "collection": "customer",
        "query": {
            "c_mktsegment": a["seg"],
            "c_acctbal": {"$gt": a["lo"], "$lte": a["lo"] + 1500},
            "$orderby": {"c_acctbal": -1, "c_name": 1},
        },
        "projection": {"c_name": 1, "c_acctbal": 1},
        "numberToReturn": 10,
    })


class Eager:
    """Result of a call that executed immediately (no action left)."""

    def __init__(self, rows: list) -> None:
        self.rows = rows


class Engine:
    def __init__(self, db, workload: str) -> None:
        from pyspark.sql import functions as F

        self.db = db
        self.spark = db.spark
        self.F = F
        self.workload = workload
        self.kv = None
        self.base = db.schema.get("customer").bucket_id << 40

    def prepare(self) -> None:
        """Untimed per-workload state: the GraphQL schema, and the
        writer's scratch type, its MV and the kv store."""
        db = self.db
        if self.workload == "interactive":
            db.graph()
            db.command(GRAPHQL_SDL, language="graphql")
            db.command("CREATE DOCUMENT TYPE PbOrder")
            db.command(
                "INSERT INTO PbOrder (SELECT o_orderkey, o_custkey, o_totalprice, "
                f"o_orderstatus FROM orders WHERE o_orderkey < {SCRATCH_SLICE})"
            )
            db.command(MV_SQL)
            self.kv = db.kv("pb_kv")

    def build(self, op: Op):
        return getattr(self, "_" + op.kind)(op.a)

    # -- interactive ---------------------------------------------------------
    def _sql_scan(self, a):
        return self.db.query(
            "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem "
            f"WHERE l_orderkey >= {a['lo']} AND l_orderkey < {a['lo'] + 25} "
            f"AND l_quantity > {a['q']}"
        )

    def _sql_in(self, a):
        return self.db.query(
            "SELECT count(*) AS n FROM customer WHERE c_custkey IN "
            f"(SELECT o_custkey FROM orders WHERE o_totalprice > {a['p']})"
        )

    def _sql_link(self, a):
        chain = "c_nationkey.n_name" if a["hops"] == 2 else "c_nationkey.n_regionkey.r_name"
        return self.db.query(
            f"SELECT c_custkey, {chain} AS place FROM customer WHERE c_custkey = {a['k']}"
        )

    def _sql_match(self, a):
        return self.db.query(
            f"MATCH {{type: Customer, as: c, where: (c_custkey = {a['k']})}}"
            ".out('PLACED'){as: o} RETURN count(*) AS n"
        )

    def _cypher(self, a):
        return self.db.query(
            f"MATCH (c:Customer {{c_custkey: {a['k']}}})-[:PLACED]->(o:`Order`) "
            f"WHERE o.o_totalprice > {a['p']} RETURN count(*) AS n",
            language="cypher",
        )

    def _gremlin(self, a):
        return self.db.query(
            f"g.V('Customer').has('c_custkey', {a['k']}).out('PLACED').count()",
            language="gremlin",
        )

    def _mongo(self, a):
        return self.db.query(mongo_doc(a), language="mongo")

    def _graphql(self, a):
        F = self.F
        out = self.db.query(
            f'{{ topCustomers(where: "c_custkey = {a["k"]}") '
            "{ c_custkey orders { o_orderkey } } }",
            language="graphql",
        )
        return out.select(
            "c_custkey", F.coalesce(F.size("orders"), F.lit(0)).cast("long").alias("n")
        )

    def _traverse(self, a):
        from arcadedb_spark.graph.model import local_df
        from arcadedb_spark.graph.traverse import traverse

        F = self.F
        g = self.db.graph()
        types = ["PLACED", "CONTAINS"] + (["SUPPLIED_BY"] if a["depth"] == 3 else [])
        edges = g.edges(*types, with_identity=False).select(
            F.col("src").alias("__from"), F.col("dst").alias("__to")
        )
        roots = local_df(self.spark, [(self.base + a["k"],)], "struct<vid:bigint>")
        visited = traverse(self.db, roots, edges, max_depth=a["depth"])
        return visited.groupBy("depth").agg(F.count(F.lit(1)).alias("n"))

    # -- pipelines -----------------------------------------------------------
    def _tpch_q1(self, a):
        return self.db.query(TPCH_Q1.format(date=q1_date(a["day"])))

    def _match_3hop(self, a):
        return self.db.query(
            "MATCH {type: Customer, as: c}.out('PLACED'){as: o}"
            f".out('CONTAINS'){{as: p, where: (p_size > {a['lo']} AND p_size <= {a['hi']})}} "
            "RETURN c.c_mktsegment AS seg, count(*) AS n GROUP BY seg"
        )

    def _bm25(self, a):
        from arcadedb_spark.text.fulltext import bm25_search

        F = self.F
        docs = self.db.table("documents")
        out = bm25_search(docs, "doc_id", "text", a["terms"])
        return (
            out.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
            .select("doc_id", F.round("score", 4).alias("score"))
        )

    def _minhash(self, a):
        from arcadedb_spark.dedup import minhash_duplicate_pairs

        F = self.F
        docs = self.db.table("documents")
        return minhash_duplicate_pairs(
            docs, "doc_id", "text", threshold=a["t"], verify="exact"
        ).select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))

    def _ngram(self, a):
        from arcadedb_spark.dedup import ngram_jaccard_pairs

        F = self.F
        docs = self.db.table("documents")
        pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=a["t"])
        return pairs.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))

    def _knn(self, a):
        from arcadedb_spark.vector import cosine_similarity

        F = self.F
        emb = self.db.table("embeddings")
        q = F.broadcast(
            emb.filter(F.col("vec_id") == a["vec"])
            .select(F.col("embedding").cast("array<double>").alias("__qv"))
            .limit(1)
        )
        return (
            emb.crossJoin(q)
            .select("vec_id", cosine_similarity(
                F.col("embedding").cast("array<double>"), F.col("__qv")
            ).alias("score"))
            .orderBy(F.desc("score"), F.asc("vec_id")).limit(10)
            .select("vec_id", F.round("score", 6).alias("score"))
        )

    def _time_bucket(self, a):
        from arcadedb_spark.timeseries import time_bucket

        F = self.F
        ms = a["minutes"] * 60_000
        ev = self.db.table("events")
        return ev.groupBy(
            F.unix_millis(time_bucket("ts", ms)).alias("bucket_ms"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("total"),
        )

    def _sessionize(self, a):
        from arcadedb_spark.timeseries.functions import sessionize

        F = self.F
        ev = self.db.table("events")
        s = sessionize(ev, "ts", "user_id", gap_ms=a["gap_min"] * 60_000)
        return s.groupBy("user_id").agg(
            F.max("session_id").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )

    def _pagerank(self, a):
        from arcadedb_spark.graph.algorithms import pagerank

        F = self.F
        b = self.base
        e = self.db.graph().edges("INTERACTED")
        e = e.filter(((F.col("src") - b) + 3 * (F.col("dst") - b)) % a["mod"] != a["rem"])
        pr = pagerank(e, iterations=a["iters"])
        return (
            pr.select((F.col("vid") - b).alias("user_id"), F.round("rank", 4).alias("rank"))
            .orderBy(F.desc("rank"), F.asc("user_id")).limit(10)
        )

    # -- writer --------------------------------------------------------------
    def _doc_insert(self, a):
        return self.db.command(
            "INSERT INTO PbOrder (o_orderkey, o_custkey, o_totalprice, o_orderstatus) "
            f"VALUES ({a['k']}, {a['cust']}, {a['price']}, '{a['status']}')"
        )

    def _doc_update(self, a):
        return self.db.command(
            f"UPDATE PbOrder SET o_totalprice = {a['price']} WHERE o_orderkey = {a['k']}"
        )

    def _doc_delete(self, a):
        return self.db.command(f"DELETE FROM PbOrder WHERE o_orderkey = {a['k']}")

    def _doc_read(self, a):
        return self.db.query(
            "SELECT count(*) AS n, max(o_orderkey) AS mk, sum(o_totalprice) AS s FROM PbOrder"
        )

    def _mv_refresh(self, a):
        return self.db.command("REFRESH MATERIALIZED VIEW PbTotals")

    def _mv_read(self, a):
        return self.db.query("SELECT o_orderstatus, n, mk FROM PbTotals")

    def _kv_set(self, a):
        self.kv.set(a["key"], a["value"])
        return Eager([])

    def _kv_incr(self, a):
        return Eager([(self.kv.incr(a["key"], a["by"]),)])

    def _kv_get(self, a):
        return Eager([(self.kv.get(a["key"]),)])


# ---------------------------------------------------------------------------
# checking
# ---------------------------------------------------------------------------

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
# results whose Jaccard lies this close to the drawn threshold are not
# compared: the engine filters on the unrounded value, the oracle rows
# carry the rounded one
JACCARD_BAND = 2e-4


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _num(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _sort_key(row):
    return tuple(
        (0, round(float(x), 3), "") if _num(x) else (1, 0.0, str(x)) for x in row
    )


def same_rows(got, want, ordered: bool = False, tol: float = 1e-6) -> bool:
    g = [tuple(_norm(x) for x in r) for r in got]
    w = [tuple(_norm(x) for x in r) for r in want]
    if len(g) != len(w):
        return False
    if not ordered:
        g.sort(key=_sort_key)
        w.sort(key=_sort_key)
    for a, b in zip(g, w):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if _num(x) and _num(y):
                if abs(x - y) > tol * max(1.0, abs(x), abs(y)):
                    return False
            elif x != y:
                return False
    return True


def same_ranking(got, want, tol: float = 1e-3) -> bool:
    """Top-k rows of (id, score): ``got`` is ordered by score, descending,
    and holds the same rows as ``want``.  Near-equal scores may come in
    either order, and rows tied with the lowest score may differ (which of
    them makes the cut depends on the last bits of the score)."""
    if len(got) != len(want):
        return False
    if any(a[1] < b[1] - tol for a, b in zip(got, got[1:])):
        return False
    if not want:
        return True
    cut = min(float(r[1]) for r in want) + tol
    return same_rows([r for r in got if float(r[1]) > cut],
                     [r for r in want if float(r[1]) > cut], tol=tol)


class Checker:
    """Expected results: DuckDB over the same parquet files for reads
    (the engine's own ``driver_queries.ORACLES`` SQL where a template
    exists, filled with the op's drawn parameters), a replayed model of
    the scratch state for the writer's ops."""

    def __init__(self, data_dir: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        self._cache: dict = {}

    def _rows(self, sql: str) -> list:
        if sql not in self._cache:
            self._cache[sql] = self.con.execute(sql).fetchall()
        return self._cache[sql]

    @staticmethod
    def _fill(template: str, old: str, new: str) -> str:
        """The oracle SQL with the drawn parameter in place of its fixed one."""
        if old not in template:
            raise ValueError(f"oracle template lacks {old!r}")
        return template.replace(old, new)

    def check_read(self, op: Op, rows: list) -> tuple:
        """(ok, expected rows) for ``rows``, the engine's result of a read op."""
        from arcadedb_spark.driver_queries import ORACLES, _pagerank_oracle

        a = op.a
        k = a.get("k")
        ordered = ranked = False
        if op.kind == "sql_scan":
            sql = ("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem "
                   f"WHERE l_orderkey >= {a['lo']} AND l_orderkey < {a['lo'] + 25} "
                   f"AND l_quantity > {a['q']}")
        elif op.kind == "sql_in":
            sql = self._fill(ORACLES["q_in_subquery"], "> 200000", f"> {a['p']}")
        elif op.kind == "sql_link":
            sql = ("SELECT c.c_custkey, n.n_name FROM customer c JOIN nation n "
                   f"ON c.c_nationkey = n.n_nationkey WHERE c.c_custkey = {k}")
            if a["hops"] == 3:
                sql = ("SELECT c.c_custkey, r.r_name FROM customer c JOIN nation n "
                       "ON c.c_nationkey = n.n_nationkey JOIN region r "
                       f"ON n.n_regionkey = r.r_regionkey WHERE c.c_custkey = {k}")
        elif op.kind in ("sql_match", "gremlin"):
            sql = f"SELECT count(*) FROM orders WHERE o_custkey = {k}"
        elif op.kind == "cypher":
            sql = (f"SELECT count(*) FROM orders WHERE o_custkey = {k} "
                   f"AND o_totalprice > {a['p']}")
        elif op.kind == "mongo":
            ordered = True
            sql = ("SELECT c_name, c_acctbal FROM customer "
                   f"WHERE c_mktsegment = '{a['seg']}' AND c_acctbal > {a['lo']} "
                   f"AND c_acctbal <= {a['lo'] + 1500} "
                   "ORDER BY c_acctbal DESC, c_name LIMIT 10")
        elif op.kind == "graphql":
            sql = ("SELECT c.c_custkey, count(o.o_orderkey) FROM customer c "
                   "LEFT JOIN orders o ON o.o_custkey = c.c_custkey "
                   f"WHERE c.c_custkey = {k} GROUP BY 1")
        elif op.kind == "traverse":
            d3 = (", d3 AS (SELECT DISTINCT l_suppkey FROM lineitem "
                  "WHERE l_partkey IN (SELECT l_partkey FROM d2))")
            sql = (
                f"WITH d1 AS (SELECT DISTINCT o_orderkey FROM orders WHERE o_custkey = {k}), "
                "d2 AS (SELECT DISTINCT l_partkey FROM lineitem "
                "WHERE l_orderkey IN (SELECT o_orderkey FROM d1))"
                + (d3 if a["depth"] == 3 else "")
                + " SELECT * FROM (SELECT 0 AS depth, 1 AS n "
                "UNION ALL SELECT 1, count(*) FROM d1 UNION ALL SELECT 2, count(*) FROM d2"
                + (" UNION ALL SELECT 3, count(*) FROM d3" if a["depth"] == 3 else "")
                + ") WHERE n > 0"
            )
        elif op.kind == "tpch_q1":
            sql = self._fill(ORACLES["q_tpch_q1"], "1998-09-02", q1_date(a["day"]))
        elif op.kind == "match_3hop":
            sql = self._fill(ORACLES["q_match_3hop"], "WHERE p.p_size > 40",
                             f"WHERE p.p_size > {a['lo']} AND p.p_size <= {a['hi']}")
        elif op.kind == "bm25":
            terms = ", ".join(f"'{t}'" for t in a["terms"].split())
            sql = self._fill(ORACLES["q_bm25"], "['fast', 'join', 'stream']", f"[{terms}]")
            ranked = True
        elif op.kind in ("minhash", "ngram"):
            # one superset query per run (the lowest threshold of the
            # pool), then the drawn threshold filters it.  MinHash is
            # checked against the exact n-gram oracle too: with 500
            # documents no gram reaches max_df, so its rare-gram Jaccard is
            # the all-pairs 3-shingle Jaccard of q_minhash_dedup's oracle
            # (which takes ~15 s here).
            sql = self._fill(ORACLES["q_ngram_jaccard"], ">= 0.3", f">= {min(NGRAM_LOW)}")
            t = a["t"]
            keep = lambda rs: [r for r in rs if abs(float(r[2]) - t) > JACCARD_BAND]  # noqa: E731
            want = [r for r in self._rows(sql) if float(r[2]) >= t]
            return same_rows(keep(rows), keep(want), tol=1e-3), want
        elif op.kind == "knn":
            sql = self._fill(ORACLES["q_knn_cosine"], "vec_id = 0", f"vec_id = {a['vec']}")
            ranked = True
        elif op.kind == "time_bucket":
            sql = self._fill(ORACLES["q_time_bucket"], "3600000", str(a["minutes"] * 60_000))
        elif op.kind == "sessionize":
            sql = self._fill(ORACLES["q_sessionize"], "1800000", str(a["gap_min"] * 60_000))
        elif op.kind == "pagerank":
            sql = self._fill(
                _pagerank_oracle(a["iters"]), "WHERE d IS NOT NULL AND s <> d",
                f"WHERE d IS NOT NULL AND s <> d AND (s + 3 * d) % {a['mod']} <> {a['rem']}",
            )
            ranked = True
        else:
            raise KeyError(op.kind)
        want = self._rows(sql)
        if ranked:
            return same_ranking(rows, want), want
        return same_rows(rows, want, ordered=ordered, tol=1e-3), want


class WriteModel:
    """Harness-side model of the writer's scratch state: PbOrder rows
    and the kv store.  ``apply`` replays one op and
    returns whether the engine's result agrees with the model."""

    def __init__(self, checker: Checker) -> None:
        rows = checker.con.execute(
            "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders "
            f"WHERE o_orderkey < {SCRATCH_SLICE}"
        ).fetchall()
        self.docs = {r[0]: (r[2], r[3]) for r in rows}  # key -> (price, status)
        self.kv = {k: None for k in KV_KEYS}
        self.mv: dict | None = None

    def _totals(self) -> dict:
        out: dict = {}
        for k, (_, st) in self.docs.items():
            n, mk = out.get(st, (0, k))
            out[st] = (n + 1, max(mk, k))
        return out

    def apply(self, op: Op, rows: list) -> tuple:
        want = self._apply(op)
        return (True if want is None else same_rows(rows, want, tol=1e-9)), want

    def _apply(self, op: Op):
        """Replay ``op`` on the model; the rows it should return, or None
        for a write whose result is not compared."""
        a = op.a
        if op.kind == "doc_insert":
            self.docs[a["k"]] = (a["price"], a["status"])
        elif op.kind == "doc_update":
            if a["k"] in self.docs:
                self.docs[a["k"]] = (a["price"], self.docs[a["k"]][1])
        elif op.kind == "doc_delete":
            self.docs.pop(a["k"], None)
        elif op.kind == "mv_refresh":
            self.mv = self._totals()
        elif op.kind == "kv_set":
            self.kv[a["key"]] = a["value"]
        elif op.kind == "kv_incr":
            self.kv[a["key"]] = int(self.kv[a["key"]] or 0) + a["by"]
            return [(self.kv[a["key"]],)]
        elif op.kind == "doc_read":
            return [(len(self.docs), max(self.docs), sum(p for p, _ in self.docs.values()))]
        elif op.kind == "mv_read":
            return [(st, n, mk) for st, (n, mk) in (self.mv or {}).items()]
        elif op.kind == "kv_get":
            v = self.kv[a["key"]]
            return [(None if v is None else str(v),)]
        else:
            raise KeyError(op.kind)
        return None
