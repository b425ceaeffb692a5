"""Gremlin-flavored fluent traversal API.

Reference: the gremlin/ module wraps TinkerPop 3.7 around the same engine
(gremlin/src/main/java/com/arcadedb/gremlin/query/GremlinQueryEngine.java:33).
A full TinkerPop runtime is out of scope; this is the traversal-builder
surface compiled to the same DataFrame joins the MATCH translator uses —
each step is lazy, so Catalyst still plans the whole chain.

Step surface: V/E, hasLabel, has, where, out/in/both, repeat(...).times(n)
/ .until(...) / .emit(), path(), as_('a') + select('a','b'),
coalesce(sub1, sub2), union(sub1, sub2), valueMap(), order().by,
groupCount().by, dedup, limit, count, values.

Sub-traversals (repeat/coalesce/union bodies, until conditions) are
Python callables ``lambda t: t.out('E')`` in the fluent API and anonymous
chains (``repeat(out('E')).times(2)``) in the string front end — both
compile to the same DataFrame program.

Example
-------
>>> g = db.g()
>>> g.V().hasLabel("Customer").has("c_mktsegment", "BUILDING") \
...   .out("PLACED").count()
>>> g.V("Customer").repeat(lambda t: t.out("INTERACTED"), times=2).count()
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arcadedb_spark.graph.superstep import Supersteps

_REPEAT_CAP = 100


def _carry_cols(df: DataFrame) -> list[str]:
    """Traversal-internal state columns (path history, as-labels, markers)
    — NOT arbitrary __-prefixed data columns the vertex frames may carry."""
    return [
        c for c in df.columns
        if c in ("__path", "__coal", "__wsrc", "__usrc", "__psrc",
                 "__sack", "__esrc")
        or c.startswith("__as_")
    ]


class P:
    """TinkerPop predicate argument (``has('p', gt(5))``, ``within(…)``).

    Reference: org.apache.tinkerpop.gremlin.process.traversal.P — the
    embedded TinkerPop accepts these in has()/is()/where() steps
    (GremlinQueryEngine.java:33).  Compiled to a Column condition."""

    def __init__(self, op: str, *vals) -> None:
        self.op = op
        self.vals = vals

    def cond(self, col) -> F.Column:
        c = F.col(col) if isinstance(col, str) else col
        v = self.vals
        if self.op == "eq":
            return c == F.lit(v[0])
        if self.op == "neq":
            return c != F.lit(v[0])
        if self.op == "gt":
            return c > F.lit(v[0])
        if self.op == "gte":
            return c >= F.lit(v[0])
        if self.op == "lt":
            return c < F.lit(v[0])
        if self.op == "lte":
            return c <= F.lit(v[0])
        if self.op == "within":
            return c.isin(list(v))
        if self.op == "without":
            return ~c.isin(list(v))
        if self.op == "between":  # [a, b) — TinkerPop P.between
            return (c >= F.lit(v[0])) & (c < F.lit(v[1]))
        if self.op == "inside":  # (a, b) exclusive
            return (c > F.lit(v[0])) & (c < F.lit(v[1]))
        if self.op == "outside":
            return (c < F.lit(v[0])) | (c > F.lit(v[1]))
        raise ValueError(f"Unsupported predicate P.{self.op}")


def gt(v) -> P: return P("gt", v)          # noqa: E704
def gte(v) -> P: return P("gte", v)        # noqa: E704
def lt(v) -> P: return P("lt", v)          # noqa: E704
def lte(v) -> P: return P("lte", v)        # noqa: E704
def eq(v) -> P: return P("eq", v)          # noqa: E704
def neq(v) -> P: return P("neq", v)        # noqa: E704
def within(*v) -> P: return P("within", *v)    # noqa: E704
def without(*v) -> P: return P("without", *v)  # noqa: E704
def between(a, b) -> P: return P("between", a, b)  # noqa: E704
def inside(a, b) -> P: return P("inside", a, b)    # noqa: E704
def outside(a, b) -> P: return P("outside", a, b)  # noqa: E704


class GraphTraversal:
    def __init__(
        self,
        db,
        df: DataFrame,
        label: str | None,
        track_path: bool = False,
        edge_state: bool = False,
    ) -> None:
        self.db = db
        self._label = label  # current vertex label when known (full props)
        self._track_path = track_path
        self._edge = edge_state  # traversers are edge rows (after outE/…)
        if track_path and not edge_state and "__path" not in df.columns:
            df = df.withColumn("__path", F.array(F.col("vid")))
        self._df = df

    def _wrap(self, df: DataFrame, label=None, edge=None) -> "GraphTraversal":
        return GraphTraversal(
            self.db, df, label, self._track_path,
            self._edge if edge is None else edge,
        )

    # -- filters -----------------------------------------------------------
    def hasLabel(self, label: str) -> "GraphTraversal":
        g = self.db.graph()
        if self._label is not None:
            if self._label.lower() == label.lower():
                return self
            return self._wrap(self._df.limit(0), self._label)
        verts = g.vertices(label)
        carry = _carry_cols(self._df)
        df = self._df.select("vid", *carry).join(
            verts.drop(*[c for c in carry if c in verts.columns]),
            "vid", "inner",
        )
        return self._wrap(df, label)

    has_label = hasLabel

    def has(self, prop: str, value: Any = None) -> "GraphTraversal":
        if value is None:
            return self._wrap(
                self._df.filter(F.col(prop).isNotNull()), self._label
            )
        if isinstance(value, P):
            return self._wrap(
                self._df.filter(value.cond(prop)), self._label
            )
        return self._wrap(
            self._df.filter(F.col(prop) == F.lit(value)), self._label
        )

    def where(self, cond) -> "GraphTraversal":
        """``where(Column)`` filter, or ``where(sub-traversal)`` existence
        filter: keep traversers for which the sub yields ≥ 1 result
        (TinkerPop where(traversal)) — one tagged sub-evaluation + a
        semi-join, never per-traverser execution."""
        from pyspark.sql import Column

        if callable(cond) and not isinstance(cond, Column):
            tagged = self._wrap(
                self._df.withColumn("__wsrc", F.col("vid")), self._label
            )
            sub_out = cond(tagged)
            sub_df = (
                sub_out._df if isinstance(sub_out, GraphTraversal)
                else sub_out
            )
            produced = sub_df.select(F.col("__wsrc").alias("vid")).distinct()
            return self._wrap(
                self._df.join(produced, "vid", "left_semi"), self._label
            )
        return self._wrap(self._df.filter(cond), self._label)

    # -- traversal ---------------------------------------------------------
    def _hop(self, direction: str, etypes: tuple[str, ...]) -> "GraphTraversal":
        g = self.db.graph()
        e = g.edges(*etypes) if etypes else g.edges()
        frames = []
        if direction in ("out", "both"):
            frames.append(
                e.select(F.col("src").alias("__f"), F.col("dst").alias("__t"))
            )
        if direction in ("in", "both"):
            frames.append(
                e.select(F.col("dst").alias("__f"), F.col("src").alias("__t"))
            )
        edge = frames[0]
        for fr in frames[1:]:
            edge = edge.unionByName(fr)
        carry = _carry_cols(self._df)
        hop = (
            self._df.select("vid", *carry)
            .join(edge, F.col("vid") == edge["__f"])
            .drop("vid", "__f")
            .withColumnRenamed("__t", "vid")
        )
        if self._track_path:
            hop = hop.withColumn(
                "__path", F.concat(F.col("__path"), F.array(F.col("vid")))
            )
        # resolve target label for full-property access when unambiguous
        target_label = None
        if len(etypes) == 1 and etypes[0] in g.edge_meta:
            meta = g.edge_meta[etypes[0]]
            target_label = meta[1] if direction == "out" else (
                meta[0] if direction == "in" else None
            )
        if target_label is not None:
            vt = g.vertices(target_label)
            df = hop.join(
                vt.drop(*[c for c in carry if c in vt.columns]),
                "vid", "inner",
            )
        else:
            # heterogeneous/unknown target: the FULL property union so
            # later has()/values() steps still see vertex properties
            # (column pruning drops the unused ones); `label` keeps the
            # lowercase label-key surface of the minimal union
            av = g.all_vertices_full()
            if av is None:
                av = g.all_vertices()
            elif "label" not in av.columns and "@type" in av.columns:
                av = av.withColumn("label", F.lower(F.col("@type")))
            df = hop.join(
                av.drop(*[c for c in carry if c in av.columns]),
                "vid", "inner",
            )
        return self._wrap(df, target_label)

    def out(self, *etypes: str) -> "GraphTraversal":
        return self._hop("out", etypes)

    def in_(self, *etypes: str) -> "GraphTraversal":
        return self._hop("in", etypes)

    def both(self, *etypes: str) -> "GraphTraversal":
        return self._hop("both", etypes)

    # -- edge-state steps ----------------------------------------------------
    def _edge_hop(self, direction: str, etypes: tuple) -> "GraphTraversal":
        """outE/inE/bothE: traversers become incident-edge rows.  Each
        orientation is its own equi-join (an OR-join would degrade to a
        broadcast nested loop at scale); ``__esrc`` remembers which
        endpoint we arrived from so otherV() can leave via the other."""
        g = self.db.graph()
        e = g.edges(*etypes) if etypes else g.edges()
        carry = _carry_cols(self._df)
        trav = self._df.select(F.col("vid").alias("__esrc"), *carry)
        e = e.drop(*[c for c in carry + ["__esrc"] if c in e.columns])
        frames = []
        if direction in ("out", "both"):
            frames.append(trav.join(e, trav["__esrc"] == e["src"]))
        if direction in ("in", "both"):
            frames.append(trav.join(e, trav["__esrc"] == e["dst"]))
        df = frames[0]
        for fr in frames[1:]:
            df = df.unionByName(fr)
        t = self._wrap(df, None, edge=True)
        t._edge_types = etypes
        return t

    def outE(self, *etypes: str) -> "GraphTraversal":
        return self._edge_hop("out", etypes)

    def inE(self, *etypes: str) -> "GraphTraversal":
        return self._edge_hop("in", etypes)

    def bothE(self, *etypes: str) -> "GraphTraversal":
        return self._edge_hop("both", etypes)

    out_e, in_e, both_e = outE, inE, bothE

    def _edge_to_vertex(self, vid_expr) -> "GraphTraversal":
        if not self._edge:
            raise ValueError("inV()/outV()/otherV() need an edge step first")
        g = self.db.graph()
        carry = [c for c in _carry_cols(self._df) if c != "__esrc"]
        hop = self._df.select(vid_expr.alias("vid"), *carry)
        if self._track_path:
            hop = hop.withColumn(
                "__path", F.concat(F.col("__path"), F.array(F.col("vid")))
            )
        av = g.all_vertices_full()
        if av is None:
            av = g.all_vertices()
        elif "label" not in av.columns and "@type" in av.columns:
            av = av.withColumn("label", F.lower(F.col("@type")))
        df = hop.join(
            av.drop(*[c for c in carry if c in av.columns]), "vid", "inner"
        )
        return self._wrap(df, None, edge=False)

    def inV(self) -> "GraphTraversal":
        return self._edge_to_vertex(F.col("dst"))

    def outV(self) -> "GraphTraversal":
        return self._edge_to_vertex(F.col("src"))

    def otherV(self) -> "GraphTraversal":
        if "__esrc" not in self._df.columns:
            raise ValueError("otherV() needs an incident-edge step (outE/…)")
        return self._edge_to_vertex(
            F.when(F.col("src") == F.col("__esrc"), F.col("dst"))
            .otherwise(F.col("src"))
        )

    in_v, out_v, other_v = inV, outV, otherV

    # -- branching / looping -------------------------------------------------
    def repeat(
        self,
        sub: Callable[["GraphTraversal"], "GraphTraversal"],
        times: int | None = None,
        until: Callable[["GraphTraversal"], "GraphTraversal"] | None = None,
        emit: bool = False,
    ) -> "GraphTraversal":
        """``repeat(sub).times(n)`` / ``.until(cond)`` / ``.emit()``.

        ``until`` is a filtering sub-traversal evaluated AFTER each
        iteration (TinkerPop post-loop until): traversers it keeps stop,
        the rest loop.  ``emit`` collects every intermediate frontier.
        Distributed form: each ``until`` iteration is one join superstep
        on the shared superstep driver (``graph/superstep.py``)."""
        out_frames: list[DataFrame] = []
        cur = self
        if emit:
            out_frames.append(cur._df)
        if times is not None:
            for i in range(times):
                cur = sub(cur)
                if emit and i < times - 1:
                    out_frames.append(cur._df)
            out_frames.append(cur._df)
        else:
            if until is None:
                raise ValueError("repeat() needs times= or until=")
            with Supersteps(level="__it") as ss:
                hops = None  # every iteration's flagged traversers, tagged __it
                for i in range(_REPEAT_CAP):
                    hopped = sub(cur)
                    # TinkerPop until(pred): a traverser STOPS when the
                    # predicate traversal yields anything for it — existence
                    # keyed by source vid for every sub shape (a filter sub
                    # passes ⇔ it yields the traverser itself; a moving sub's
                    # hopped frame must never be emitted as the stopped
                    # traversers, and a column-set heuristic would misfire on
                    # same-schema hops like a Customer→Customer edge)
                    tagged = hopped._wrap(
                        hopped._df.withColumn("__usrc", F.col("vid")),
                        hopped._label,
                    )
                    u2 = until(tagged)
                    u2df = u2._df if isinstance(u2, GraphTraversal) else u2
                    produced = (
                        u2df.select(F.col("__usrc").alias("vid"))
                        .distinct()
                        .withColumn("__stop", F.lit(True))
                    )
                    # a left join to the distinct stop keys keeps bag
                    # multiplicity; the stop decision is per vertex, so
                    # duplicates stop together
                    flagged = hopped._df.join(produced, "vid", "left").select(
                        *[F.col(f"`{c}`") for c in hopped._df.columns],
                        F.col("__stop").isNotNull().alias("__stop"),
                        F.lit(i).alias("__it"),
                    )
                    live = ss.step(flagged, F.count(F.when(~F.col("__stop"), 1)))[0]
                    hops = ss.carry(flagged if hops is None else hops.unionByName(
                        flagged, allowMissingColumns=True
                    ))
                    continuing = ss.frontier.filter(~F.col("__stop")).drop("__stop", "__it")
                    cur = hopped._wrap(continuing, hopped._label)
                    if not live:
                        break
                else:
                    raise ValueError(
                        f"repeat().until() exceeded {_REPEAT_CAP} iterations"
                    )
                hops = ss.finish(hops)
                if not emit:
                    hops = hops.filter(F.col("__stop"))
                out_frames.append(hops.drop("__stop", "__it"))
        res = out_frames[0]
        for fr in out_frames[1:]:
            res = res.unionByName(fr, allowMissingColumns=True)
        return self._wrap(res, cur._label if not emit else None)

    def coalesce(self, *subs) -> "GraphTraversal":
        """First sub-traversal that yields results PER TRAVERSER
        (TinkerPop coalesce): keyed by the incoming element."""
        base = self._df
        remaining = base
        out = None
        for sub in subs:
            if remaining.isEmpty():
                break
            r = sub(self._wrap(remaining, self._label))._df
            out = r if out is None else out.unionByName(
                r, allowMissingColumns=True
            )
            # traversers whose sub yielded nothing fall through.  The sub
            # rewrites vid, so track source identity via __coal marker
            produced = sub(
                self._wrap(
                    remaining.withColumn("__coal", F.col("vid")),
                    self._label,
                )
            )._df.select(F.col("__coal").alias("vid")).distinct()
            remaining = remaining.join(produced, "vid", "left_anti")
        return self._wrap(
            out if out is not None else base.limit(0), None
        )

    def union(self, *subs) -> "GraphTraversal":
        out = None
        for sub in subs:
            r = sub(self)._df
            out = r if out is None else out.unionByName(
                r, allowMissingColumns=True
            )
        return self._wrap(out if out is not None else self._df.limit(0), None)

    # -- labels / path -------------------------------------------------------
    def as_(self, name: str) -> "GraphTraversal":
        return self._wrap(
            self._df.withColumn(f"__as_{name}", F.col("vid")), self._label
        )

    def select(self, *names: str) -> DataFrame:
        cols = []
        for n in names:
            c = f"__as_{n}"
            if c not in self._df.columns:
                raise ValueError(f"select('{n}'): no as('{n}') step upstream")
            cols.append(F.col(c).alias(n))
        return self._df.select(*cols)

    def path(self) -> DataFrame:
        """(path array<long>) — the visited-vid history per traverser.
        Requires the traversal source to track paths (``g.V(path=True)``
        or any string query containing ``path()``)."""
        if "__path" not in self._df.columns:
            raise ValueError(
                "path() needs path tracking — start with g.V(track_path=True)"
            )
        return self._df.select(F.col("__path").alias("path"))

    # -- terminals ---------------------------------------------------------
    def values(self, *props: str) -> DataFrame:
        return self._df.select(*props)

    def valueMap(self, *props: str) -> DataFrame:
        """(vid, value_map map<string,string>) — TinkerPop valueMap with
        values rendered to strings (one uniform map type; the reference
        returns heterogeneous maps, which Spark's map type cannot)."""
        cols = list(props) if props else [
            c for c in self._df.columns
            if not c.startswith(("__", "@")) and c != "vid"
        ]
        pairs = []
        for c in cols:
            pairs.append(F.lit(c))
            pairs.append(F.col(c).cast("string"))
        return self._df.select(
            "vid", F.create_map(*pairs).alias("value_map")
        )

    value_map = valueMap

    def count(self) -> int:
        return self._df.count()

    def limit(self, n: int) -> "GraphTraversal":
        return self._wrap(self._df.limit(n), self._label)

    def dedup(self) -> "GraphTraversal":
        if "vid" not in self._df.columns:  # edge state
            # identity excludes traversal-internal state (__esrc/__path/
            # __sack): bothE() yields each edge once per arrival
            # endpoint and dedup must collapse those to one
            ident = [
                c for c in self._df.columns
                if c not in _carry_cols(self._df)
            ]
            return self._wrap(self._df.dropDuplicates(ident), self._label)
        return self._wrap(self._df.dropDuplicates(["vid"]), self._label)

    def simplePath(self) -> "GraphTraversal":
        """Keep only traversers whose path has no repeated vertex
        (TinkerPop SimplePathStep) — a pure Column filter on the path
        history, no extra join."""
        if "__path" not in self._df.columns:
            raise ValueError(
                "simplePath() needs path tracking — g.V(track_path=True)"
            )
        return self._wrap(
            self._df.filter(
                F.size("__path") == F.size(F.array_distinct("__path"))
            ),
            self._label,
        )

    simple_path = simplePath

    def fold(self) -> "GraphTraversal":
        """Collect the traverser stream into ONE list-valued traverser
        (vids for vertex state).  Map-side combine via collect_list."""
        key = "vid" if "vid" in self._df.columns else self._df.columns[0]
        return self._wrap(
            self._df.agg(F.array_sort(F.collect_list(key)).alias("folded")),
            None,
        )

    def unfold(self) -> "GraphTraversal":
        if "folded" not in self._df.columns:
            raise ValueError("unfold() needs a fold() upstream")
        g = self.db.graph()
        ex = self._df.select(F.explode("folded").alias("vid"))
        av = g.all_vertices_full() or g.all_vertices()
        return self._wrap(ex.join(av, "vid", "inner"), None)

    def sack(self, op: str | None = None):
        """``sack()`` terminal -> sack values; ``sack(op).by(prop)``
        folds a property into the per-traverser sack (TinkerPop
        SackStep; ops: sum/minus/mult/div/min/max/assign).  The sack is
        a plain column, so every update stays whole-stage codegen."""
        if op is None:
            if "__sack" not in self._df.columns:
                raise ValueError("sack() needs g.withSack(initial)")
            return self._df.select(F.col("__sack").alias("sack"))
        return _SackMod(self, op)

    def sum_(self, prop: str) -> DataFrame:
        return self._df.agg(F.sum(prop).alias("sum"))

    def mean_(self, prop: str) -> DataFrame:
        return self._df.agg(F.avg(prop).alias("mean"))

    def max_(self, prop: str) -> DataFrame:
        return self._df.agg(F.max(prop).alias("max"))

    def min_(self, prop: str) -> DataFrame:
        return self._df.agg(F.min(prop).alias("min"))

    def order(self) -> "_Ordered":
        return _Ordered(self)

    def groupCount(self) -> "_GroupCount":
        return _GroupCount(self)

    group_count = groupCount

    def group(self) -> "_Group":
        return _Group(self)

    def choose(self, pred_sub, true_sub, false_sub) -> "GraphTraversal":
        """``choose(filterSub, trueSub, falseSub)`` — traversers passing
        the filter flow through trueSub, the rest through falseSub
        (TinkerPop branch step).  One filter + exceptAll split, two sub
        evaluations — multiplicities preserved."""
        # TinkerPop predicate semantics: a traverser takes the TRUE
        # branch when the predicate traversal yields anything for it —
        # existence keyed by source vid for every sub shape (a filter
        # sub passes ⇔ it yields the traverser itself; a column-set
        # heuristic would misfire on same-schema hops like a
        # Customer→Customer edge)
        tagged = self._wrap(
            self._df.withColumn("__wsrc", F.col("vid")), self._label
        )
        p_out = pred_sub(tagged)
        p_df = p_out._df if isinstance(p_out, GraphTraversal) else p_out
        produced = p_df.select(F.col("__wsrc").alias("vid")).distinct()
        matched = self._df.join(produced, "vid", "left_semi")
        unmatched = self._df.join(produced, "vid", "left_anti")
        t = true_sub(self._wrap(matched, self._label))
        f_ = false_sub(self._wrap(unmatched, self._label))
        t_term = not isinstance(t, GraphTraversal)
        f_term = not isinstance(f_, GraphTraversal)
        t_df = t if t_term else t._df
        f_df = f_ if f_term else f_._df
        merged = t_df.unionByName(f_df, allowMissingColumns=True)
        if t_term or f_term:
            return merged  # terminal subs (values/count/…) end the chain
        return self._wrap(merged, None)

    def project(self, *names: str) -> "_Project":
        return _Project(self, names)

    def toDF(self) -> DataFrame:
        return self._df

    def toList(self) -> list:
        return self._df.collect()


class _SackMod:
    """``.sack('sum').by(prop)`` modulator — updates the __sack column."""

    _OPS = ("sum", "minus", "mult", "div", "min", "max", "assign")

    def __init__(self, t: GraphTraversal, op: str) -> None:
        if op not in self._OPS:
            raise ValueError(f"sack(): unsupported operator {op!r}")
        self._t = t
        self._op = op

    def by(self, prop: str) -> GraphTraversal:
        t = self._t
        if "__sack" not in t._df.columns:
            raise ValueError("sack(op) needs g.withSack(initial)")
        s, c = F.col("__sack"), F.col(prop)
        expr = {
            "sum": s + c, "minus": s - c, "mult": s * c,
            "div": F.try_divide(s, c),  # zero divisor -> null, not ANSI abort
            "min": F.least(s, c), "max": F.greatest(s, c), "assign": c,
        }[self._op]
        return t._wrap(t._df.withColumn("__sack", expr), t._label)


class _Ordered:
    """``.order().by(prop[, 'desc'])`` modulator."""

    def __init__(self, t: GraphTraversal) -> None:
        self._t = t

    def by(self, prop: str, direction: str = "asc") -> GraphTraversal:
        col = F.desc(prop) if direction.lower() in ("desc", "decr") else F.asc(prop)
        return self._t._wrap(self._t._df.orderBy(col), self._t._label)


class _GroupCount:
    """``.groupCount().by(prop)`` — histogram DataFrame (key, count)."""

    def __init__(self, t: GraphTraversal) -> None:
        self._t = t

    def by(self, prop: str) -> DataFrame:
        return (
            self._t._df.groupBy(F.col(prop).alias("key"))
            .agg(F.count(F.lit(1)).alias("count"))
            .orderBy(F.desc("count"), F.asc("key"))
        )


class _Group:
    """``.group().by(key[, 'desc']).by(value)`` — TinkerPop group step
    rendered as one (key, values sorted array) row per group; without a
    second by() the grouped elements' vids are collected."""

    def __init__(self, t: GraphTraversal) -> None:
        self._t = t
        self._key: str | None = None

    def by(self, col: str) -> "_Group | DataFrame":
        if self._key is None:
            self._key = col
            return self
        return (
            self._t._df.groupBy(F.col(self._key).alias("key"))
            .agg(F.array_sort(F.collect_list(F.col(col))).alias("values"))
            .orderBy(F.asc("key"))
        )

    def toDF(self) -> DataFrame:
        if self._key is None:
            raise ValueError("group() needs .by(key)")
        return (
            self._t._df.groupBy(F.col(self._key).alias("key"))
            .agg(F.array_sort(F.collect_list(F.col("vid"))).alias("values"))
            .orderBy(F.asc("key"))
        )


class _Project:
    """``.project('a','b').by(x).by(y)`` — one output column per name;
    each by() is a property name or a sub-traversal ending in count()
    (computed as a grouped count joined back — never per-traverser)."""

    def __init__(self, t: GraphTraversal, names: tuple) -> None:
        self._t = t
        self._names = list(names)
        self._bys: list = []

    def by(self, spec) -> "_Project | DataFrame":
        self._bys.append(spec)
        if len(self._bys) < len(self._names):
            return self
        return self._finish()

    def _finish(self) -> DataFrame:
        t = self._t
        df = t._df
        out_cols = []
        for name, spec in zip(self._names, self._bys):
            if isinstance(spec, str):
                out_cols.append(F.col(spec).alias(name))
                continue
            # sub-traversal by(): per-source count via one grouped join.
            # Sources dedupe on vid FIRST — duplicate traversers of the
            # same vertex must each see the per-vertex count, not a
            # dup-multiplied sum (TinkerPop ProjectStep is per traverser)
            tagged = t._wrap(
                df.dropDuplicates(["vid"]).withColumn(
                    "__psrc", F.col("vid")
                ),
                t._label,
            )
            sub_out = spec(tagged)
            sub_df = (
                sub_out._df if isinstance(sub_out, GraphTraversal)
                else sub_out
            )
            counts = sub_df.groupBy(F.col("__psrc").alias("vid")).agg(
                F.count(F.lit(1)).alias(f"__pv_{name}")
            )
            df = df.join(counts, "vid", "left").withColumn(
                f"__pv_{name}",
                F.coalesce(F.col(f"__pv_{name}"), F.lit(0)),
            )
            out_cols.append(F.col(f"__pv_{name}").alias(name))
        return df.select(*out_cols)


class GraphTraversalSource:
    """``g`` — entry point (TinkerPop GraphTraversalSource analog)."""

    def __init__(self, db, sack_init=None) -> None:
        self.db = db
        self._sack_init = sack_init

    def withSack(self, initial) -> "GraphTraversalSource":
        """``g.withSack(0)`` — every traverser starts with this sack
        value (a plain __sack column on the frame)."""
        return GraphTraversalSource(self.db, initial)

    with_sack = withSack

    def V(
        self, label: str | None = None, track_path: bool = False
    ) -> GraphTraversal:
        g = self.db.graph()
        df = g.vertices(label) if label is not None else g.all_vertices()
        if self._sack_init is not None:
            df = df.withColumn("__sack", F.lit(self._sack_init))
        return GraphTraversal(self.db, df, label, track_path)

    def E(self, *etypes: str) -> DataFrame:
        return self.db.graph().edges(*etypes)


# ---------------------------------------------------------------------------
# Gremlin string front end (GremlinQueryEngine.java:33 — the reference
# accepts Gremlin text through the same query() dispatch; here a recursive
# chain grammar over the fluent builder above, so the DataFrame program is
# identical to hand-written fluent calls).  Nested anonymous traversals
# (repeat(out('E')), coalesce(out('A'), out('B')), until(has('p', v)))
# parse recursively.
# ---------------------------------------------------------------------------

import re as _re

_TOKEN_RE = _re.compile(
    r"\s*(?:(?P<name>__|[A-Za-z_][A-Za-z0-9_]*)"
    r"|(?P<str>'[^']*'|\"[^\"]*\")"
    r"|(?P<num>-?\d+\.\d+|-?\d+)"
    r"|(?P<punct>[().,]))"
)


def _tokenize(s: str) -> list[tuple[str, str]]:
    toks, pos = [], 0
    while pos < len(s):
        m = _TOKEN_RE.match(s, pos)
        if not m:
            raise ValueError(f"Bad Gremlin syntax near: {s[pos:pos+20]!r}")
        if m.group("name") is not None:
            toks.append(("name", m.group("name")))
        elif m.group("str") is not None:
            toks.append(("lit", m.group("str")[1:-1]))
        elif m.group("num") is not None:
            n = m.group("num")
            toks.append(("lit", float(n) if "." in n else int(n)))
        else:
            toks.append(("punct", m.group("punct")))
        pos = m.end()
    return toks


class _ChainParser:
    def __init__(self, toks: list) -> None:
        self.toks = toks
        self.i = 0

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else ("eof", "")

    def eat(self, kind, val=None):
        k, v = self.peek()
        if k != kind or (val is not None and v != val):
            raise ValueError(f"Expected {val or kind}, got {v!r}")
        self.i += 1
        return v

    def parse_chain(self) -> list[tuple[str, list]]:
        """name(args) ('.' name(args))* — args are literals or nested
        chains."""
        calls = []
        while True:
            k, v = self.peek()
            if k == "name" and v == "__":
                # anonymous-traversal prefix: __.out('E')
                self.eat("name", "__")
                self.eat("punct", ".")
                continue
            if k != "name":
                break
            name = self.eat("name")
            self.eat("punct", "(")
            args = []
            while self.peek() != ("punct", ")"):
                k2, v2 = self.peek()
                if k2 == "lit":
                    self.i += 1
                    args.append(("lit", v2))
                elif k2 == "name" and v2 in ("true", "false"):
                    self.i += 1
                    args.append(("lit", v2 == "true"))
                elif k2 == "name":
                    args.append(("chain", self.parse_chain()))
                else:
                    raise ValueError(f"Bad Gremlin argument near {v2!r}")
                if self.peek() == ("punct", ","):
                    self.i += 1
            self.eat("punct", ")")
            calls.append((name, args))
            if self.peek() == ("punct", "."):
                self.i += 1
                continue
            break
        return calls


def _sub_of(chain: list) -> Callable[[GraphTraversal], GraphTraversal]:
    """Compile an anonymous chain into a traversal→traversal function."""

    def _apply(t: GraphTraversal) -> GraphTraversal:
        return _run_calls(t, chain)

    return _apply


_PRED_NAMES = (
    "gt", "gte", "lt", "lte", "eq", "neq", "within", "without",
    "between", "inside", "outside",
)


def _maybe_pred(arg) -> "P | None":
    """``gt(5)`` / ``within('a','b')`` argument → predicate object."""
    if (
        arg[0] == "chain" and len(arg[1]) == 1
        and arg[1][0][0] in _PRED_NAMES
        and all(k == "lit" for k, _ in arg[1][0][1])
    ):
        nm, pargs = arg[1][0]
        return P(nm, *[v for _, v in pargs])
    return None


def _arg_values(args: list) -> list:
    out = []
    for arg in args:
        kind, v = arg
        if kind == "lit":
            out.append(v)
            continue
        p = _maybe_pred(arg)
        if p is not None:
            out.append(p)
            continue
        raise ValueError("literal argument expected")
    return out


def _run_calls(cur, calls: list):
    i = 0
    while i < len(calls):
        name, args = calls[i]
        nxt = calls[i + 1] if i + 1 < len(calls) else None
        if name == "in":
            name = "in_"
        if name == "as":
            name = "as_"
        if name == "count":
            # lazy: the one `count long` row, also for an empty traversal
            return cur._df.groupBy().count()
        if name == "values":
            vals = _arg_values(args)
            vdf = cur.values(*vals)
            if nxt is not None and nxt[0] in ("sum", "mean", "max", "min"):
                if i + 2 < len(calls):
                    raise ValueError(
                        f"steps after values().{nxt[0]}() are not supported"
                    )
                fn = {"sum": F.sum, "mean": F.avg,
                      "max": F.max, "min": F.min}[nxt[0]]
                return vdf.agg(fn(vals[0]).alias(nxt[0]))
            if i + 1 < len(calls):
                raise ValueError(
                    f"steps after values(…) are not supported: "
                    f"{calls[i + 1][0]}()"
                )
            return vdf
        if name == "sack" and not args:
            if i + 1 < len(calls):
                raise ValueError("steps after terminal sack() not supported")
            return cur.sack()
        if name == "sack":
            if nxt is None or nxt[0] != "by":
                raise ValueError("sack(op) needs .by(prop)")
            cur = cur.sack(*_arg_values(args)).by(*_arg_values(nxt[1]))
            i += 2
            continue
        if name in ("valueMap", "value_map"):
            return cur.valueMap(*_arg_values(args))
        if name == "path":
            return cur.path()
        if name == "select":
            return cur.select(*_arg_values(args))
        if name == "repeat":
            if not args or args[0][0] != "chain":
                raise ValueError("repeat() needs a sub-traversal")
            sub = _sub_of(args[0][1])
            times = until = None
            emit = False
            # modulators follow: .times(n) / .until(...) / .emit()
            j = i + 1
            while j < len(calls) and calls[j][0] in ("times", "until", "emit"):
                mname, margs = calls[j]
                if mname == "times":
                    times = _arg_values(margs)[0]
                elif mname == "until":
                    if not margs or margs[0][0] != "chain":
                        raise ValueError("until() needs a sub-traversal")
                    until = _sub_of(margs[0][1])
                else:
                    emit = True
                j += 1
            cur = cur.repeat(sub, times=times, until=until, emit=emit)
            i = j
            continue
        if name in ("coalesce", "union"):
            subs = [
                _sub_of(a[1]) for a in args if a[0] == "chain"
            ]
            if len(subs) != len(args):
                raise ValueError(f"{name}() takes sub-traversals")
            cur = getattr(cur, name)(*subs)
            i += 1
            continue
        if name == "order":
            # order().by(prop[, dir])
            if nxt is None or nxt[0] != "by":
                raise ValueError("order() needs .by(prop)")
            cur = cur.order().by(*_arg_values(nxt[1]))
            i += 2
            continue
        if name in ("groupCount", "group_count"):
            if nxt is None or nxt[0] != "by":
                raise ValueError("groupCount() needs .by(prop)")
            return cur.groupCount().by(*_arg_values(nxt[1]))
        if name == "group":
            # group().by(key)[.by(value)] — terminal: trailing steps
            # would be silently dropped, so reject them loudly
            grp = cur.group()
            j = i + 1
            while j < len(calls) and calls[j][0] == "by":
                grp = grp.by(*_arg_values(calls[j][1]))
                j += 1
                if isinstance(grp, DataFrame):
                    break
            if j < len(calls):
                raise ValueError(
                    f"steps after group().by(…) are not supported: "
                    f"{calls[j][0]}()"
                )
            return grp.toDF() if isinstance(grp, _Group) else grp
        if name == "project":
            prj = cur.project(*_arg_values(args))
            j = i + 1
            while j < len(calls) and calls[j][0] == "by":
                barg = calls[j][1][0]
                spec = (
                    barg[1] if barg[0] == "lit" else _sub_of(barg[1])
                )
                prj = prj.by(spec)
                j += 1
                if isinstance(prj, DataFrame):
                    break
            if not isinstance(prj, DataFrame):
                raise ValueError("project() needs one .by(…) per name")
            if j < len(calls):
                raise ValueError(
                    f"steps after project().by(…) are not supported: "
                    f"{calls[j][0]}()"
                )
            return prj
        if name == "choose":
            subs = [_sub_of(a[1]) for a in args if a[0] == "chain"]
            if len(subs) != 3 or len(args) != 3:
                raise ValueError(
                    "choose() takes (predicate, trueSub, falseSub)"
                )
            res = cur.choose(*subs)
            if isinstance(res, DataFrame):
                return res  # terminal branch subs
            cur = res
            i += 1
            continue
        if name == "where" and args and args[0][0] == "chain" and (
            _maybe_pred(args[0]) is None
        ):
            cur = cur.where(_sub_of(args[0][1]))
            i += 1
            continue
        step = getattr(cur, name, None)
        if step is None:
            raise ValueError(f"Unsupported Gremlin step: {name}()")
        cur = step(*_arg_values(args))
        i += 1
    return cur


def gremlin_query(db, text: str) -> DataFrame:
    """``g.V().hasLabel('X').has('p', v).out('E')…`` string → DataFrame.

    Terminal steps: values(...) → projection, count() → 1-row count,
    groupCount().by(p) → histogram, path()/select(...)/valueMap() →
    their frames; otherwise the vertex frame.
    """
    s = text.strip()
    if not s.startswith("g."):
        raise ValueError("Gremlin query must start with 'g.'")
    toks = _tokenize(s[2:])
    parser = _ChainParser(toks)
    calls = parser.parse_chain()
    if parser.i != len(toks):
        raise ValueError(
            f"Trailing Gremlin input near token {parser.i}"
        )
    src = GraphTraversalSource(db)
    if calls and calls[0][0] in ("withSack", "with_sack"):
        src = src.withSack(*_arg_values(calls[0][1]))
        calls = calls[1:]
    if not calls or calls[0][0] not in ("V", "E"):
        raise ValueError("Gremlin chain must start with g.V() or g.E()")

    head, head_args = calls[0]
    if head == "E":
        df = src.E(*_arg_values(head_args))
        if len(calls) == 1:
            return df
        # edge-state chain: g.E('T').has(...).count() / .inV()…
        t = GraphTraversal(db, df, None, False, edge_state=True)
        t._edge_types = tuple(_arg_values(head_args))
        out = _run_calls(t, calls[1:])
        return out._df if isinstance(out, GraphTraversal) else out
    needs_path = any(c[0] == "path" for c in calls) or any(
        c[0] in ("as", "as_", "select", "simplePath", "simple_path")
        for c in calls
    )
    cur: object = src.V(*_arg_values(head_args), track_path=needs_path)
    out = _run_calls(cur, calls[1:])
    return out.toDF() if isinstance(out, GraphTraversal) else out
