"""AST → DataFrame translator.

This is the Spark replacement for the reference's planner + step executor
(query/sql/executor/SelectExecutionPlanner.java:217 builds a chain of
pull-based ExecutionSteps; we emit one declarative DataFrame program and
let Catalyst plan it).  Mapping per SURVEY.md §2/§4:

- scan           → parquet scan (predicate/column pushdown is Catalyst's)
- FilterStep     → df.filter(Column)
- Projection     → df.select(aliased Columns)
- AggregateProjectionCalculationStep → df.groupBy().agg() (Tungsten spills;
  the reference's maxGroupsAllowed heap cap is intentionally NOT replicated)
- OrderByStep / Skip / Limit → orderBy / offset / limit
  (LIMIT+ORDER BY becomes TakeOrderedAndProject automatically)
- DistinctExecutionStep → df.distinct()
- UnwindStep     → explode_outer
- LET split (SelectExecutionPlanner.java:745) → global LETs evaluated once
  (subquery → DataFrame, constant → literal), per-record LETs → withColumn
- IN (subquery)  → left_semi / left_anti join
- LINK dot-navigation → equi-join on the catalog's declared links
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NullType as _NullType

from arcadedb_spark.catalog import RID_COL, TYPE_COL
from arcadedb_spark.session import local_df
from arcadedb_spark.sql import ast
from arcadedb_spark.sql.functions import (
    AGGREGATES,
    SCALARS,
    TS_WINDOW,
    is_aggregate,
)
from arcadedb_spark.sql.litreg import register as _reg_lit
from arcadedb_spark.sql.litreg import value_of
from arcadedb_spark.sql.methods import METHODS


class TranslateError(ValueError):
    pass


# TCK error taxonomy (reference TCKResultMatcher.java asserts these
# classes): specific subclasses let the TCK runner distinguish
# ProcedureError / ParameterMissing from plain SyntaxError-class
# rejections without string matching.
class ProcedureError(TranslateError):
    """Unknown procedure / procedure invocation failure."""


class ParameterMissing(TranslateError):
    """A referenced query parameter was not supplied."""


@dataclass
class VarBinding:
    kind: str  # 'col' | 'df' | 'value'
    col: Optional[Column] = None
    df: Optional[DataFrame] = None
    value: Any = None


@dataclass
class Ctx:
    """Compilation context for one statement."""

    db: Any
    params: dict[str, Any] = field(default_factory=dict)
    vars: dict[str, VarBinding] = field(default_factory=dict)
    colmap: dict[tuple[str, ...], str] = field(default_factory=dict)  # link path → qualified col
    columns: tuple[str, ...] = ()
    # FROM type name (search_class index resolution)
    type_name: "str | None" = None
    # ts.* window functions: partition keys (GROUP BY doubles as
    # PARTITION BY for windowed ts functions, per the reference's
    # GroupedDelta semantics)
    ts_partition: list = field(default_factory=list)
    # aggregation state
    agg_mode: bool = False
    group_map: dict[ast.Expr, str] = field(default_factory=dict)
    agg_cols: list[Column] = field(default_factory=list)
    agg_names: dict[ast.Expr, str] = field(default_factory=dict)
    # static result dtypes of aggregate placeholders (collect(p) →
    # array<struct<…>>) so comprehensions over aggregates type-resolve
    agg_types: dict[int, Any] = field(default_factory=dict)
    # pyspark StructType of the frame being compiled against (when known):
    # lets chain compilation resolve alias.prop against actual struct
    # fields so missing properties read as null (Cypher semantics) instead
    # of failing analysis
    frame_schema: Any = None
    # AST nodes pre-compiled to Columns by the translator (keyed by id()) —
    # used for OR/NOT-nested IN-subqueries rewritten to left joins so the
    # expression compiler never materializes subquery values driver-side
    precompiled: dict[int, Column] = field(default_factory=dict)
    # Cypher dialect: ORDER BY on string-typed keys adds a temporal
    # instant sort key (stored temporal values render to strings)
    cypher_order: bool = False
    # Cypher dialect: referencing a variable that is not in scope is a
    # SyntaxError (UndefinedVariable) — the SQL dialect reads missing
    # schemaless columns as null instead
    cypher: bool = False


def _lit(v: Any) -> Column:
    return _reg_lit(_pylit(v), v)


def _void_like(dt) -> bool:
    """NULL-typed values (null, [], [null], …) coerce with any sibling
    type — they never force a heterogeneous (variant) representation."""
    from pyspark.sql.types import ArrayType

    if isinstance(dt, _NullType):
        return True
    if isinstance(dt, ArrayType):
        return _void_like(dt.elementType)
    return False


def _type_family(dt) -> "str | None":
    """Cypher comparison family of a static Spark dtype (None = unknown /
    handled elsewhere): numbers N, strings S, booleans B, lists L,
    maps/structs M, date/time T."""
    from pyspark.sql.types import (
        ArrayType, BooleanType, DateType, MapType, NumericType, StringType,
        StructType, TimestampNTZType, TimestampType,
    )

    if isinstance(dt, NumericType):
        return "N"
    if isinstance(dt, StringType):
        return "S"
    if isinstance(dt, BooleanType):
        return "B"
    if isinstance(dt, ArrayType):
        return "L"
    if isinstance(dt, (MapType, StructType)):
        return "M"
    if isinstance(dt, (DateType, TimestampType, TimestampNTZType)):
        return "T"
    return None


def _py_spark_type(v) -> str:
    """Spark DDL type of a python literal (literal expand()/INSERT rows)."""
    import datetime as _dt

    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "bigint"
    if isinstance(v, float):
        return "double"
    if isinstance(v, _dt.datetime):
        return "timestamp"
    if isinstance(v, _dt.date):
        return "date"
    if isinstance(v, (bytes, bytearray)):
        return "binary"
    import decimal as _dec

    if isinstance(v, _dec.Decimal):
        return "decimal(38,10)"
    if hasattr(v, "__fields__") and isinstance(v, tuple):
        # pyspark Row (an embedded document literal)
        return "struct<" + ",".join(
            f"`{k}`:{_py_spark_type(x)}" for k, x in zip(v.__fields__, v)
        ) + ">"
    if isinstance(v, (list, tuple)):
        inner = next((x for x in v if x is not None), None)
        return f"array<{_py_spark_type(inner)}>"
    if isinstance(v, dict):
        inner = next((x for x in v.values() if x is not None), None)
        return f"map<string,{_py_spark_type(inner)}>"
    return "string"


def _safe_distinct(df: DataFrame) -> DataFrame:
    """DISTINCT that tolerates map/variant-typed columns (Spark set
    operations reject MAP): dedupe on a canonical JSON key instead."""
    from pyspark.sql.types import (
        ArrayType, MapType, StructType, VariantType,
    )

    def has_map(dt) -> bool:
        if isinstance(dt, (MapType, VariantType)):
            return True
        if isinstance(dt, StructType):
            return any(has_map(f.dataType) for f in dt.fields)
        if isinstance(dt, ArrayType):
            return has_map(dt.elementType)
        return False

    if any(has_map(f.dataType) for f in df.schema.fields):
        k = "__dk"
        return (
            df.withColumn(
                k, F.to_json(F.struct(*[F.col(c) for c in df.columns]))
            )
            .dropDuplicates([k])
            .drop(k)
        )
    return df.distinct()


def _variant_elems(col: Column, elem_dt) -> Column:
    """array<T> → array<variant> (complex T needs to_variant_object)."""
    from pyspark.sql.types import ArrayType, MapType, StructType, VariantType

    if isinstance(elem_dt, VariantType):
        return col
    if isinstance(elem_dt, (ArrayType, MapType, StructType)):
        return F.transform(col, lambda x: F.to_variant_object(x))
    return col.cast("array<variant>")


def _pylit(v: Any) -> Column:
    """Structure-aware literal: ``F.lit`` cannot express python dicts
    (UNSUPPORTED_FEATURE.LITERAL_TYPE) — mirror the MapLit compilation:
    homogeneous-scalar dict → MAP, otherwise STRUCT of named fields."""
    if isinstance(v, dict):
        if not v:
            return F.create_map().cast("map<string,string>")
        nested = any(isinstance(x, (dict, list, tuple)) for x in v.values())
        kinds = {type(x) for x in v.values() if x is not None}
        if not nested and len(kinds) <= 1:
            pairs: list[Column] = []
            for k, x in v.items():
                pairs.append(F.lit(k))
                pairs.append(F.lit(x))
            return F.create_map(*pairs)
        return F.struct(*[_pylit(x).alias(str(k)) for k, x in v.items()])
    if isinstance(v, (list, tuple)):
        if any(isinstance(x, (dict, list, tuple)) for x in v):
            return F.array(*[_pylit(x) for x in v])
        return F.lit(list(v))
    return F.lit(v)


# ---------------------------------------------------------------------------
# Expression compiler
# ---------------------------------------------------------------------------


_MISSING = object()

# temporal components extractable from a stored canonical temporal string
# (runtime accessor path — values stored by the write path render to
# canonical strings, so `n.date.year` parses per row)
_TEMPORAL_COMPONENTS = {
    "year", "quarter", "month", "week", "weekyear", "day", "ordinalday",
    "dayofweek", "weekday", "dayofquarter", "hour", "minute", "second",
    "millisecond", "microsecond", "nanosecond", "epochseconds",
    "epochmillis", "years", "months", "monthsofyear", "quarters",
    "quartersofyear", "monthsofquarter", "weeks", "days", "daysofweek",
    "hours", "minutes", "minutesofhour", "seconds", "secondsofminute",
    "milliseconds", "millisecondsofsecond", "microseconds",
    "microsecondsofsecond", "nanoseconds", "nanosecondsofsecond",
    "offsetminutes", "offsetseconds",
}
_TEMPORAL_STR_COMPONENTS = {"timezone", "offset"}

_temporal_udfs: dict = {}


def _pandas_map_udf(fn, rettype):
    """Arrow-batched pandas_udf applying a scalar Python kernel per
    element.  Row-at-a-time ``F.udf`` pickles every row through the
    Python worker; the pandas form moves whole Arrow batches — same
    kernels, ~10-100× less transfer overhead on wide scans.  (No type
    hints on the batch fn: pd.Series annotations break when pandas is
    imported locally — see NOTES.md.)"""
    import pandas as pd

    def _batch(s):
        return pd.Series([fn(v) for v in s], index=s.index, dtype=object)

    return F.pandas_udf(_batch, rettype)


def _pandas_map2_udf(fn, rettype):
    import pandas as pd

    def _batch(x, y):
        return pd.Series(
            [fn(a, b) for a, b in zip(x, y)], index=x.index, dtype=object
        )

    return F.pandas_udf(_batch, rettype)


def _temporal_component_col(col: Column, name: str) -> Column:
    """Runtime temporal accessor over a stored canonical string column."""
    # weekDay is the accessor spelling of the dayOfWeek component
    comp = {"weekday": "dayofweek"}.get(name.lower(), name.lower())
    is_str = name.lower() in _TEMPORAL_STR_COMPONENTS
    key = ("comp", comp, is_str)
    if key not in _temporal_udfs:
        from arcadedb_spark.sql.temporal import component_of_string

        if is_str:
            def _extract(s, _c=comp):
                v = component_of_string(s, _c)
                return str(v) if v is not None else None

            _temporal_udfs[key] = _pandas_map_udf(_extract, "string")
        else:
            def _extract(s, _c=comp):
                v = component_of_string(s, _c)
                return int(v) if v is not None else None

            _temporal_udfs[key] = _pandas_map_udf(_extract, "long")
    return _temporal_udfs[key](col)


def _temporal_add_col(a: Column, b: Column, sign: int) -> Column:
    """Runtime temporal ± duration over canonical strings."""
    key = ("add", sign)
    if key not in _temporal_udfs:
        from arcadedb_spark.sql.temporal import add_strings

        _temporal_udfs[key] = _pandas_map2_udf(
            lambda x, y, _s=sign: add_strings(x, y, _s), "string"
        )
    return _temporal_udfs[key](a, b)


def _temporal_addconcat_col(a: Column, b: Column, sign: int) -> Column:
    """'+'/'-' over two string columns: runtime duration-vs-concat."""
    key = ("addconcat", sign)
    if key not in _temporal_udfs:
        from arcadedb_spark.sql.temporal import add_or_concat_strings

        _temporal_udfs[key] = _pandas_map2_udf(
            lambda x, y, _s=sign: add_or_concat_strings(x, y, _s), "string"
        )
    return _temporal_udfs[key](a, b)


def _temporal_sort_key_col(col: Column) -> Column:
    """Instant sort key for a canonical temporal string column."""
    if "sortkey" not in _temporal_udfs:
        from decimal import Decimal

        from arcadedb_spark.sql.temporal import sort_key_of_string

        def _key(s):
            v = sort_key_of_string(s)
            return Decimal(v) if v is not None else None

        # decimal(38,0): UTC-nanos keys overflow long beyond ~2262 AD
        _temporal_udfs["sortkey"] = _pandas_map_udf(_key, "decimal(38,0)")
    return _temporal_udfs["sortkey"](col)


def _temporal_instant_key_sql(col: Column) -> Column:
    """Pure-Column UTC-nanos instant key for canonical temporal strings —
    usable INSIDE higher-order lambdas, where Python UDFs are forbidden
    (Spark UNSUPPORTED_FEATURE.LAMBDA_FUNCTION_WITH_PYTHON_UDF).

    Handles the canonical renderings the static evaluator produces:
    date, localtime, time+offset, localdatetime, datetime+offset[zone].
    Non-parsing strings key to null (cross-type order is null anyway).
    Nanosecond fractions are preserved exactly (decimal(38,0) key)."""
    s = F.regexp_replace(col, r"\[[^\]]*\]$", "")  # drop [Zone/Name]
    off = F.regexp_extract(s, r"(Z|[+-]\d{2}:\d{2}(:\d{2})?)$", 1)
    body = F.when(
        off != "", F.substring(s, F.lit(1), F.length(s) - F.length(off))
    ).otherwise(s)
    has_date = body.rlike(r"^\d{4}-\d{2}-\d{2}")
    date_part = F.when(has_date, F.substring(body, 1, 10))
    time_part = F.when(
        has_date & body.contains("T"), F.substr(body, F.lit(12))
    ).otherwise(F.when(~has_date, body).otherwise(F.lit("")))
    days = F.when(
        has_date, F.datediff(F.to_date(date_part), F.lit("1970-01-01"))
    ).otherwise(F.lit(0)).cast("decimal(38,0)")
    def _num(c: Column) -> Column:
        # '' from a non-matching regexp must yield 0, not an ANSI cast error
        return F.coalesce(F.nullif(c, F.lit("")).cast("long"), F.lit(0))

    hh = _num(F.regexp_extract(time_part, r"^(\d{2})", 1))
    mm = _num(F.regexp_extract(time_part, r"^\d{2}:(\d{2})", 1))
    ss = _num(F.regexp_extract(time_part, r"^\d{2}:\d{2}:(\d{2})", 1))
    frac = F.regexp_extract(time_part, r"\.(\d+)", 1)
    nanos = _num(
        F.when(frac != "", F.rpad(frac, 9, "0")).otherwise(F.lit("0"))
    )
    off_sign = F.when(F.substring(off, 1, 1) == "-", F.lit(-1)).otherwise(
        F.lit(1)
    )
    off_secs = F.when(
        (off == "") | (off == "Z"), F.lit(0)
    ).otherwise(
        off_sign * (
            _num(F.regexp_extract(off, r"(\d{2}):", 1)) * 3600
            + _num(F.regexp_extract(off, r":(\d{2})", 1)) * 60
        )
    )
    secs = (
        days * F.lit(86400)
        + (hh * 3600 + mm * 60 + ss - off_secs).cast("decimal(38,0)")
    )
    key = secs * F.lit(1000000000).cast("decimal(38,0)") + nanos
    # a temporal string always starts with a digit and contains ':' or '-'
    looks_temporal = col.rlike(r"^\d")
    return F.when(col.isNotNull() & looks_temporal, key)


def _variant_sort_key_col(col: Column) -> Column:
    """openCypher global-order sort key for heterogeneous values
    (CIP comparability-orderability: MAP < NODE < REL < LIST < PATH <
    STRING < BOOLEAN < NUMBER < NULL ascending).  Works on the JSON
    rendering of a variant / list-of-variant column; numbers are
    shift-encoded so lexicographic order equals numeric order."""
    if "vsortkey" not in _temporal_udfs:
        import json

        SHIFT = float(2 ** 53)

        def _key(v) -> str:
            if v is None:
                return "9"
            if isinstance(v, bool):
                return "6" + ("1" if v else "0")
            if isinstance(v, str):
                return "5" + v
            if isinstance(v, (int, float)):
                if isinstance(v, float) and v != v:
                    return "7\x7f"  # NaN: largest NUMBER, before null
                return "7" + format(float(v) + SHIFT, "040.9f")
            if isinstance(v, (list, tuple)):
                return "4" + "\x1f".join(_key(x) for x in v)
            if isinstance(v, dict):
                # entity dicts rank per CIP comparability-orderability:
                # MAP < NODE < REL < LIST < PATH < STRING …  Paths encode
                # as "4\x7f…" — after every list key ("4" + item keys,
                # whose first byte is ≤ "9" < \x7f) but before "5" strings.
                ks = set(v)
                mapkey = "\x1f".join(
                    f"{k}\x1e{_key(x)}" for k, x in sorted(v.items())
                )
                if {"vids", "n_rels"} <= ks:
                    return "4\x7f" + mapkey
                if "vid" in ks and "@type" in ks:
                    return "2" + mapkey
                if {"etype", "src", "dst"} <= ks:
                    return "3" + mapkey
                return "1" + mapkey
            return "8" + str(v)

        def _of_json(s):
            if s is None:
                return "9"
            if s == '"NaN"':
                # variant doubles render NaN as the QUOTED string "NaN"
                # (JSON has no NaN) — rank it as the largest number.
                # Ambiguity with a genuine 'NaN' string is accepted.
                return "7\x7f"
            try:
                return _key(json.loads(s))
            except (ValueError, TypeError):
                return "5" + s

        _temporal_udfs["vsortkey"] = _pandas_map_udf(_of_json, "string")
    return _temporal_udfs["vsortkey"](F.to_json(col))


def _temporal_scale_col(s: Column, factor: Column, divide: bool) -> Column:
    """duration-string × / ÷ number at runtime."""
    key = ("scale", bool(divide))
    if key not in _temporal_udfs:
        from arcadedb_spark.sql.temporal import scale_string

        _temporal_udfs[key] = _pandas_map2_udf(
            lambda x, f, _d=bool(divide): scale_string(x, f, _d), "string"
        )
    return _temporal_udfs[key](s, factor)


def eval_cypher_rid(db, call: ast.FuncCall, params) -> tuple:
    """``cypherRID(<id>)`` → ``(rid_string, owning_label)`` — the inverse
    of Cypher ``id()`` (SQLFunctionCypherRID.java:44, issue #4282).

    Our Cypher ids ARE the graph vids, so the decode is a point lookup of
    the vid in the vertex store to recover the owning type (whose bucket
    id composes the ``#bucket:vid`` rid).  Returns (None, None) when the
    id resolves to no vertex."""
    if call.name.lower() != "cypherrid":
        raise TranslateError(
            f"Unsupported function target '{call.name}()'"
        )
    if len(call.args) != 1:
        raise TranslateError(
            "cypherRID() requires exactly one argument: the numeric "
            "Cypher id"
        )
    from arcadedb_spark.sql.litreg import value_of

    arg = call.args[0]
    col = ExprCompiler(Ctx(db=db, params=params or {})).compile(arg)
    v = value_of(col)
    if v is None and not (isinstance(arg, ast.Lit) and arg.value is None):
        v = db.spark.range(1).select(col.alias("__v")).collect()[0][0]
    if v is None:
        return None, None
    try:
        encoded = int(v)
    except (TypeError, ValueError):
        raise TranslateError(
            f"cypherRID() requires a numeric Cypher id, but got: {v!r}"
        )
    if encoded < 0:
        raise TranslateError(
            f"cypherRID() received a negative id ({encoded}): a valid "
            "Cypher id is never negative"
        )
    g = db.graph()
    av = g.all_vertices()
    rows = (
        av.filter(F.col("vid") == encoded).limit(1).collect()
        if av is not None else []
    )
    if not rows:
        return None, None
    label = str(rows[0]["label"]).split(":")[0]
    if not db.schema.exists(label):
        return None, None
    tdef = db.schema.get(label)
    return f"#{tdef.bucket_id}:{encoded}", tdef.name


class ExprCompiler:
    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        # lambda-bound variables (Cypher quantifiers / comprehensions /
        # reduce): name → element Column, innermost binding wins
        self._bound: dict[str, Column] = {}
        # static dtypes for lambda-bound variables (drives size()/length()
        # string-vs-array dispatch and variant comparisons)
        self._bound_types: dict = {}

    def compile(self, e: ast.Expr) -> Column:
        ctx = self.ctx
        if ctx.agg_mode and e in ctx.group_map:
            return F.col(ctx.group_map[e])
        if ctx.agg_mode and e in ctx.agg_names:
            return F.col(ctx.agg_names[e])
        if isinstance(e, (ast.FuncCall, ast.Method, ast.Bin, ast.Index,
                          ast.Unary, ast.Chain)):
            # Cypher temporal expressions are compile-time constants:
            # evaluate once on the driver, inject the rendered literal
            from arcadedb_spark.sql.temporal_eval import try_eval

            ok, v = try_eval(e, ctx.params)
            if ok:
                if isinstance(v, dict):
                    return F.struct(
                        *[_lit(x).alias(k) for k, x in v.items()]
                    )
                return _lit(v)
        m = getattr(self, f"_c_{type(e).__name__.lower()}", None)
        if m is None:
            raise TranslateError(f"Cannot compile {type(e).__name__}")
        return m(e)

    # -- leaves -----------------------------------------------------------
    def _c_longlit(self, e: "ast.LongLit") -> Column:
        # Java long suffix (1000000000L): force a 64-bit column so the
        # surrounding arithmetic is long math
        return F.lit(e.value).cast("long")

    def _c_lit(self, e: ast.Lit) -> Column:
        v = e.value
        if (
            isinstance(v, int) and not isinstance(v, bool)
            and not (-(1 << 63) <= v < (1 << 63))
        ):
            raise TranslateError(
                f"Integer literal {v} out of 64-bit range (IntegerOverflow)"
            )
        return _lit(e.value)

    def _c_star(self, e: ast.Star) -> Column:
        return F.lit(1)  # only meaningful inside count(*)

    def _c_param(self, e: ast.Param) -> Column:
        if e.name not in self.ctx.params:
            raise ParameterMissing(f"Missing query parameter :{e.name}")
        return _lit(self.ctx.params[e.name])

    def _c_var(self, e: ast.Var) -> Column:
        b = self.ctx.vars.get(e.name)
        if b is None:
            # Cypher query parameters use $name (openCypher §parameters);
            # LET/context variables take precedence, then parameters
            if self.ctx.params and e.name in self.ctx.params:
                return _lit(self.ctx.params[e.name])
            raise TranslateError(f"Unknown variable ${e.name}")
        if b.kind == "col":
            return b.col
        if b.kind == "value":
            return _lit(b.value)
        raise TranslateError(
            f"Variable ${e.name} holds a result set; only IN / FROM usage is supported"
        )

    def _c_ridlit(self, e: ast.RidLit) -> Column:
        return _lit(f"#{e.bucket}:{e.position}")

    def _c_chain(self, e: ast.Chain) -> Column:
        parts = e.parts
        if parts[0] in self._bound:  # lambda variable shadows everything
            col = self._bound[parts[0]]
            bt0 = self._bound_types.get(parts[0])
            from pyspark.sql.types import (
                StructType as _CSt, VariantType as _CVt,
            )

            if isinstance(bt0, _NullType) and len(parts) > 1:
                return _lit(None)  # void element: any field is null
            if isinstance(bt0, _CVt) and len(parts) > 1:
                # variant element (heterogeneous list of maps/nodes):
                # per-row field probe (TCK Quantifier1-4 [7,8])
                for p in parts[1:]:
                    col = F.try_variant_get(col, f"$.{p}", "variant")
                return col
            if isinstance(bt0, _CSt):
                dt0 = bt0
                for p in parts[1:]:
                    if not isinstance(dt0, _CSt):
                        col = col.getField(p)
                        dt0 = None
                        continue
                    sub0 = next(
                        (f for f in dt0.fields if f.name == p), None
                    )
                    if sub0 is None:
                        return _lit(None)  # missing property → null
                    col = col.getField(p)
                    dt0 = sub0.dataType
                return col
            for p in parts[1:]:
                col = col.getField(p)
            return col
        # longest link-path prefix resolved by the join planner
        for k in range(len(parts), 1, -1):
            prefix = tuple(p.lower() for p in parts[:k])
            if prefix in self.ctx.colmap:
                col = F.col(self.ctx.colmap[prefix])
                for p in parts[k:]:
                    col = col.getField(p)
                return col
        head = parts[0]
        if head in ("$parent", "$current", "@this"):
            raise TranslateError(f"Context variable {head} not supported here")
        if self.ctx.frame_schema is not None and len(parts) > 1:
            # schema-aware struct access: a missing property is null
            # (Cypher semantics), not an analysis error
            from pyspark.sql.types import StringType, StructType

            field = next(
                (f for f in self.ctx.frame_schema.fields if f.name == head),
                None,
            )
            if (
                field is not None
                and isinstance(field.dataType, StringType)
                and len(parts) == 2
                and (
                    parts[1].lower() in _TEMPORAL_COMPONENTS
                    or parts[1].lower() in _TEMPORAL_STR_COMPONENTS
                )
            ):
                # component access on a string column holding a stored
                # canonical temporal value (WITH n.date AS d … d.year)
                return _temporal_component_col(F.col(head), parts[1])
            from pyspark.sql.types import NullType as _NT

            if field is not None and isinstance(field.dataType, _NT):
                # null-typed column (WITH null AS m … m.name): any field
                # access yields null (TCK Map1[2])
                return _lit(None)
            if field is not None and isinstance(field.dataType, StructType):
                dt = field.dataType
                col = F.col(head)
                for p in parts[1:]:
                    if not isinstance(dt, StructType):
                        from pyspark.sql.types import StringType

                        if isinstance(dt, StringType) and (
                            p.lower() in _TEMPORAL_COMPONENTS
                            or p.lower() in _TEMPORAL_STR_COMPONENTS
                        ):
                            # stored temporal string: runtime accessor
                            # (TCK Temporal5 — values round-trip through
                            # canonical strings)
                            col = _temporal_component_col(col, p)
                            dt = None
                            continue
                        col = col.getField(p)
                        dt = None
                        continue
                    sub = next(
                        (f for f in dt.fields if f.name == p), None
                    )
                    if sub is None:
                        if self.ctx.cypher and {"vids", "n_rels"} <= set(
                            dt.names
                        ):
                            # property access on a PATH value is a type
                            # error, not a missing property (TCK
                            # MatchWhere1[14])
                            raise TranslateError(
                                "Paths have no properties "
                                "(InvalidArgumentType)"
                            )
                        return _lit(None)
                    col = col.getField(p)
                    dt = sub.dataType
                return col
        if (
            self.ctx.frame_schema is not None
            and head not in self.ctx.columns
            and all(f.name != head for f in self.ctx.frame_schema.fields)
        ):
            if self.ctx.cypher and not (
                self.ctx.params and head in self.ctx.params
            ):
                # Cypher: an unknown name is an undefined VARIABLE, not a
                # missing property (TCK Return1[2], Literals8[22])
                raise TranslateError(
                    f"Variable `{head}` not defined (UndefinedVariable)"
                )
            # schema is known and the head column doesn't exist: a missing
            # property reads as null (SQL schemaless semantics)
            return _lit(None)
        col = F.col(head)
        for p in parts[1:]:
            col = col.getField(p)
        return col

    def _static_dtype(self, e: ast.Expr):
        """Best-effort static Spark dtype of an expression (None =
        unknown).  Memoized per AST node: callers re-ask for child types
        (set-building then next()-extraction), which is exponential on
        deeply nested map/list literals (TCK Literals8 40-deep maps)."""
        cache = getattr(self, "_sdt_cache", None)
        if cache is None:
            cache = self._sdt_cache = {}
        # lambda-bound variable types change the answer for the same node:
        # key on the current binding env too (tiny; id-stable per scope)
        key = (id(e), tuple(sorted(
            (k, id(v)) for k, v in self._bound_types.items()
        )))
        if key in cache:
            return cache[key]
        dt = self._static_dtype_uncached(e)
        cache[key] = dt
        return dt

    def _static_dtype_uncached(self, e: ast.Expr):
        """See :meth:`_static_dtype` (this is the uncached body)."""
        if self.ctx.agg_mode and id(e) in self.ctx.agg_types:
            return self.ctx.agg_types[id(e)]
        if isinstance(e, (ast.In, ast.IsNull, ast.Like, ast.Contains,
                          ast.Matches, ast.Quantifier, ast.LabelPred,
                          ast.Between)) or (
            isinstance(e, ast.Bin)
            and e.op in ("=", "!=", "<", "<=", ">", ">=", "<=>",
                         "AND", "OR", "XOR")
        ) or (isinstance(e, ast.Unary) and e.op == "NOT"):
            from pyspark.sql.types import BooleanType as _BT

            return _BT()
        from pyspark.sql.types import (
            ArrayType, BooleanType, DoubleType, LongType, StringType,
            StructType, VariantType,
        )

        if isinstance(e, ast.Lit):
            v = e.value
            if isinstance(v, bool):
                return BooleanType()
            if isinstance(v, int):
                return LongType()
            if isinstance(v, float):
                return DoubleType()
            if isinstance(v, str):
                return StringType()
            return None
        if isinstance(e, ast.ArrayLit):
            from pyspark.sql.types import VariantType

            elem = None
            for item in e.items:
                t = self._static_dtype(item)
                if t is None or _void_like(t):
                    continue  # nulls/[] coerce with any sibling type
                if elem is None:
                    elem = t
                elif elem.simpleString() != t.simpleString():
                    # heterogeneous literal list compiles to variant
                    # elements (_c_arraylit)
                    return ArrayType(VariantType())
            if not e.items:
                return ArrayType(_NullType())  # [] — void elements
            return ArrayType(elem) if elem is not None else None
        if isinstance(e, ast.ListComp) and e.proj is None:
            return self._static_dtype(e.source)
        if isinstance(e, ast.MapLit):
            from pyspark.sql.types import MapType, StructType as _ST

            known = {
                self._static_dtype(v).simpleString()
                for _, v in e.entries
                if self._static_dtype(v) is not None
            }
            if len(known) > 1:
                return None  # compiles to struct (_c_maplit)
            if not e.entries:
                return MapType(StringType(), StringType())
            if len(known) == 1:
                vt = next(
                    self._static_dtype(v)
                    for _, v in e.entries
                    if self._static_dtype(v) is not None
                )
                return MapType(StringType(), vt)
            return None
        if isinstance(e, ast.Index):
            st = self._static_dtype(e.base)
            if isinstance(st, ArrayType):
                return st.elementType
            return None
        if isinstance(e, ast.Slice):
            return self._static_dtype(e.base)
        if isinstance(e, ast.Bin) and e.op in ("+", "-", "*", "/", "%"):
            from pyspark.sql.types import IntegralType

            lt = self._static_dtype(e.left)
            rt = self._static_dtype(e.right)
            if e.op == "+" and (
                isinstance(lt, ArrayType) or isinstance(rt, ArrayType)
                or self._is_listy(e.left) or self._is_listy(e.right)
            ):
                # list concat/append — mirrors the compile-time element
                # unification: mismatched element types become variants
                lt_e = lt.elementType if isinstance(lt, ArrayType) else lt
                rt_e = rt.elementType if isinstance(rt, ArrayType) else rt
                if (
                    lt_e is None or rt_e is None
                    or lt_e.simpleString() != rt_e.simpleString()
                ):
                    return ArrayType(VariantType())
                return ArrayType(lt_e)
            if e.op == "+" and (
                isinstance(lt, StringType) or isinstance(rt, StringType)
            ):
                # string '+' propagates: (a.title + ' ') + a.name
                return StringType()
            if isinstance(lt, IntegralType) and isinstance(rt, IntegralType):
                # integer arithmetic stays integral (incl. Cypher integer
                # division — nested (2 + 3) keeps 4 / (2 + 3) integral)
                if e.op == "/" and not self.ctx.cypher_order:
                    return DoubleType()
                return LongType()
            if isinstance(lt, (DoubleType, IntegralType)) and isinstance(
                rt, (DoubleType, IntegralType)
            ):
                return DoubleType()
            return None
        if isinstance(e, ast.FuncCall):
            # known-return-type functions (drives Cypher integer-division
            # and NaN dispatch: count(n) / 60 / 60 stays integral)
            n = e.name.lower()
            if n in ("count", "tointeger", "toint", "size", "length",
                     "id", "timestamp", "sign"):
                return LongType()
            if n in ("tofloat", "avg", "stdev", "stddev", "sqrt", "exp",
                     "log", "log10", "sin", "cos", "tan", "atan", "acos",
                     "asin", "rand", "e", "pi", "degrees", "radians"):
                return DoubleType()
            if n in ("tostring", "tostringornull", "left", "right",
                     "trim", "ltrim", "rtrim", "tolower", "toupper",
                     "replace", "substring"):
                return StringType()
            return None
        if not isinstance(e, ast.Chain):
            return None
        if e.parts[0] in self._bound:
            bt9 = self._bound_types.get(e.parts[0])
            if len(e.parts) == 1:
                return bt9
            from pyspark.sql.types import (
                StructType as _S9, VariantType as _V9,
            )

            if isinstance(bt9, _V9):
                return _V9()  # variant field probes stay variant
            if isinstance(bt9, _S9):
                dt9 = bt9
                for p in e.parts[1:]:
                    if not isinstance(dt9, _S9):
                        return None
                    sub9 = next(
                        (f for f in dt9.fields if f.name == p), None
                    )
                    if sub9 is None:
                        return None
                    dt9 = sub9.dataType
                return dt9
            return None
        if self.ctx.frame_schema is None:
            return None
        field = next(
            (f for f in self.ctx.frame_schema.fields if f.name == e.parts[0]),
            None,
        )
        if field is None:
            return None
        dt = field.dataType
        for p in e.parts[1:]:
            if not isinstance(dt, StructType):
                return None
            sub = next((f for f in dt.fields if f.name == p), None)
            if sub is None:
                return None
            dt = sub.dataType
        return dt

    _NUM_VARIANT_TYPES = ["TINYINT", "SMALLINT", "INT", "BIGINT",
                          "FLOAT", "DOUBLE"]

    def _cmp_sides(self, col: Column, e: ast.Expr):
        """(family, str_val, num_val, bool_val) for one comparison side.
        family: 'S'tring / 'N'umeric / 'B'oolean / 'Z' (variant null) /
        'O'ther — a VARIANT side resolves its family per row."""
        from pyspark.sql.types import (
            BooleanType, NumericType, StringType, VariantType,
        )

        nul = F.lit(None)
        dt = self._static_dtype(e)
        if isinstance(dt, VariantType):
            sch = F.schema_of_variant(col)
            fam = (
                F.when(sch == "STRING", "S")
                .when(
                    sch.isin(self._NUM_VARIANT_TYPES)
                    | sch.startswith("DECIMAL"),
                    "N",
                )
                .when(sch == "BOOLEAN", "B")
                .when(sch == "VOID", "Z")
                .otherwise("O")
            )
            return (
                fam,
                F.try_variant_get(col, "$", "string"),
                F.try_variant_get(col, "$", "double"),
                F.try_variant_get(col, "$", "boolean"),
            )
        if isinstance(e, ast.Lit):
            v = e.value
            if isinstance(v, bool):
                fam = "B"
            elif isinstance(v, (int, float)):
                fam = "N"
            elif isinstance(v, str):
                fam = "S"
            else:
                fam = "O"
        elif isinstance(dt, StringType):
            fam = "S"
        elif isinstance(dt, BooleanType):
            fam = "B"
        elif isinstance(dt, NumericType):
            fam = "N"
        else:
            fam = "O"
        return (
            F.lit(fam),
            col.cast("string") if fam == "S" else nul.cast("string"),
            col.cast("double") if fam == "N" else nul.cast("double"),
            col.cast("boolean") if fam == "B" else nul.cast("boolean"),
        )

    @staticmethod
    def _pure_literal(e: ast.Expr, params):
        """Python value of a pure-literal AST; raises ValueError else."""
        if isinstance(e, ast.Lit):
            return e.value
        if isinstance(e, ast.Param):
            if params and e.name in params:
                return params[e.name]
            raise ValueError("unbound parameter")
        if isinstance(e, ast.ArrayLit):
            return [ExprCompiler._pure_literal(x, params) for x in e.items]
        if isinstance(e, ast.MapLit):
            return {
                k: ExprCompiler._pure_literal(v, params)
                for k, v in e.entries
            }
        if isinstance(e, ast.Unary) and e.op == "-":
            return -ExprCompiler._pure_literal(e.operand, params)
        raise ValueError("not a literal")

    def _pure_value(self, e: ast.Expr):
        """Like :meth:`_pure_literal`, but also resolves Cypher ``$param``
        references (ast.Var) that are not shadowed by context variables."""
        if isinstance(e, ast.Var):
            if self.ctx.vars.get(e.name) is not None:
                raise ValueError("bound variable")
            if self.ctx.params and e.name in self.ctx.params:
                return self.ctx.params[e.name]
            raise ValueError("unbound parameter")
        if isinstance(e, ast.ArrayLit):
            return [self._pure_value(x) for x in e.items]
        if isinstance(e, ast.MapLit):
            return {k: self._pure_value(v) for k, v in e.entries}
        if isinstance(e, ast.Unary) and e.op == "-":
            return -self._pure_value(e.operand)
        return ExprCompiler._pure_literal(e, self.ctx.params)

    @staticmethod
    def _cy_eq(a, b):
        """openCypher equality: null-propagating, elementwise on lists and
        maps, cross-type-category false (TCK Comparison1)."""
        if a is None or b is None:
            return None
        if isinstance(a, bool) or isinstance(b, bool):
            return a == b if isinstance(a, bool) and isinstance(b, bool) \
                else False
        if isinstance(a, (int, float)) and isinstance(b, (int, float)):
            return a == b
        if isinstance(a, str) and isinstance(b, str):
            return a == b
        if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
            if len(a) != len(b):
                return False
            acc = True
            for x, y in zip(a, b):
                r = ExprCompiler._cy_eq(x, y)
                if r is False:
                    return False
                if r is None:
                    acc = None
            return acc
        if isinstance(a, dict) and isinstance(b, dict):
            if set(a) != set(b):
                return False
            acc = True
            for k in a:
                r = ExprCompiler._cy_eq(a[k], b[k])
                if r is False:
                    return False
                if r is None:
                    acc = None
            return acc
        return False

    @staticmethod
    def _cy_ord(op, a, b):
        """openCypher ordering: same-family compares, else null."""
        if a is None or b is None:
            return None
        import operator

        fn = {"<": operator.lt, "<=": operator.le,
              ">": operator.gt, ">=": operator.ge}[op]
        num = lambda v: isinstance(v, (int, float)) and not isinstance(v, bool)
        if num(a) and num(b):
            return fn(a, b)
        if isinstance(a, str) and isinstance(b, str):
            return fn(a, b)
        if isinstance(a, bool) and isinstance(b, bool):
            return fn(a, b)
        if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
            # lexicographic with ternary logic (TCK Comparison2 [4]):
            # the first non-equal pair decides; a null/incomparable pair
            # in the deciding position yields null; an equal common
            # prefix falls back to length comparison
            for x, y in zip(a, b):
                eq = ExprCompiler._cy_eq(x, y)
                if eq is True:
                    continue
                if eq is None:
                    return None
                return ExprCompiler._cy_ord(op, x, y)
            return fn(len(a), len(b))
        return None

    def _literal_cmp_fold(self, op: str, le: ast.Expr, ri: ast.Expr):
        """Constant-fold a comparison of two pure literals with full
        Cypher semantics (heterogeneous lists/maps included) — Spark's
        ANSI analyzer would reject e.g. ['a'] = [1] outright."""
        try:
            a = self._pure_literal(le, self.ctx.params)
            b = self._pure_literal(ri, self.ctx.params)
        except ValueError:
            return None
        if op in ("=", "!=", "<=>"):
            r = self._cy_eq(a, b)
            if op == "!=":
                r = (not r) if r is not None else None
            if op == "<=>":
                r = bool(r) if r is not None else (a is None and b is None)
        else:
            r = self._cy_ord(op, a, b)
        return F.lit(r).cast("boolean")

    def _variant_cmp(self, op: str, l: Column, r: Column,
                     le: ast.Expr, ri: ast.Expr):
        """Cypher comparison semantics when either side is VARIANT
        (heterogeneous property): same-family values compare normally;
        cross-family ordering is null, cross-family equality is false;
        null operands propagate null.  Returns None when neither side is
        variant (caller falls through to the plain Spark operator)."""
        from pyspark.sql.types import VariantType

        from pyspark.sql.types import ArrayType

        lt = self._static_dtype(le)
        rt = self._static_dtype(ri)
        lv = isinstance(lt, VariantType)
        rv = isinstance(rt, VariantType)
        if not (lv or rv):
            return None
        if op in ("=", "!="):
            # variant vs typed LIST: extract as the typed side's array
            # type — failure means a different element family (false)
            base = other = btype = None
            if lv and isinstance(rt, ArrayType) and not isinstance(
                rt.elementType, VariantType
            ):
                base, other, btype = l, r, rt
            elif rv and isinstance(lt, ArrayType) and not isinstance(
                lt.elementType, VariantType
            ):
                base, other, btype = r, l, lt
            if base is not None:
                ext = F.try_variant_get(base, "$", btype.simpleString())
                eq = (
                    F.when(
                        F.schema_of_variant(base) == "VOID",
                        F.lit(None).cast("boolean"),
                    )
                    .when(ext.isNotNull(), ext == other)
                    .otherwise(F.lit(False))
                )
                return eq if op == "=" else ~eq
        lf, ls, ln, lb = self._cmp_sides(l, le)
        rf, rs, rn, rb = self._cmp_sides(r, ri)
        ops = {
            "=": lambda a, b: a == b,
            "!=": lambda a, b: a != b,
            "<": lambda a, b: a < b,
            "<=": lambda a, b: a <= b,
            ">": lambda a, b: a > b,
            ">=": lambda a, b: a >= b,
        }
        fn = ops[op]
        nul = F.lit(None).cast("boolean")
        cross = nul if op in ("<", "<=", ">", ">=") else F.lit(op == "!=")
        return (
            F.when((lf == "Z") | (rf == "Z"), nul)
            .when((lf == "S") & (rf == "S"), fn(ls, rs))
            .when((lf == "N") & (rf == "N"), fn(ln, rn))
            .when((lf == "B") & (rf == "B"), fn(lb, rb))
            .otherwise(cross)
        )

    @staticmethod
    def _is_listy(e: ast.Expr) -> bool:
        """Statically list-valued AST (drives Cypher's '+' list-concat
        overload; chains/columns stay ambiguous and default to +)."""
        if isinstance(e, (ast.ArrayLit, ast.ListComp, ast.PatternComp)):
            return True
        if isinstance(e, ast.Case):
            return any(
                ExprCompiler._is_listy(v) for _, v in e.whens
            ) or (e.else_ is not None and ExprCompiler._is_listy(e.else_))
        if isinstance(e, ast.Bin) and e.op == "+":
            return ExprCompiler._is_listy(e.left) or ExprCompiler._is_listy(e.right)
        if isinstance(e, ast.FuncCall) and e.name.lower() in (
            "range", "tail", "collect", "reverse", "list.tail"
        ):
            return True
        if isinstance(e, ast.Slice):
            return True
        return False

    # -- composites -------------------------------------------------------
    def _c_bin(self, e: ast.Bin) -> Column:
        op = e.op
        le, ri = e.left, e.right
        # null-literal comparisons follow SQL 3-valued logic naturally
        l = self.compile(le)
        r = self.compile(ri)
        if op in ("AND", "OR", "XOR") and (
            self.ctx.cypher or self.ctx.cypher_order
        ):
            for side in (le, ri):
                fam = self._expr_family(side)
                if fam and fam != "B":
                    raise TranslateError(
                        f"{op} requires boolean operands "
                        f"(InvalidArgumentType)"
                    )
        if op == "AND":
            return l & r
        if op == "OR":
            return l | r
        if op == "XOR":
            # Cypher ternary XOR: null operand → null (the boolean-algebra
            # expansion propagates nulls correctly)
            return (l & ~r) | (~l & r)
        if op in ("=", "!=", "<", "<=", ">", ">=", "<=>"):
            fold = self._literal_cmp_fold(op, le, ri)
            if fold is not None:
                return fold
        if op in ("=", "!=", "<", "<=", ">", ">="):
            vc = self._variant_cmp(op, l, r, le, ri)
            if vc is not None:
                return vc
        if self.ctx.cypher_order and op in (
            "=", "!=", "<", "<=", ">", ">="
        ):
            from pyspark.sql.types import (
                DoubleType as _DT, FloatType as _FT, NumericType as _NT,
            )

            ldt, rdt = self._static_dtype(le), self._static_dtype(ri)
            if (
                isinstance(ldt, _NT) and isinstance(rdt, _NT)
                and (isinstance(ldt, (_FT, _DT))
                     or isinstance(rdt, (_FT, _DT)))
            ):
                # openCypher NaN semantics: every comparison involving NaN
                # is false except <>, which is true (Spark orders NaN as
                # the greatest double and NaN = NaN as true) — TCK
                # Comparison1 [8] / Comparison2 [5]
                nan_parts = []
                if isinstance(ldt, (_FT, _DT)):
                    nan_parts.append(F.isnan(l))
                if isinstance(rdt, (_FT, _DT)):
                    nan_parts.append(F.isnan(r))
                anynan = nan_parts[0]
                for p in nan_parts[1:]:
                    anynan = anynan | p
                # null propagation beats NaN dispatch (null = NaN is null)
                anynan = l.isNotNull() & r.isNotNull() & anynan
                base = {
                    "=": lambda: l == r, "!=": lambda: l != r,
                    "<": lambda: l < r, "<=": lambda: l <= r,
                    ">": lambda: l > r, ">=": lambda: l >= r,
                }[op]()
                return F.when(anynan, F.lit(op == "!=")).otherwise(base)
        if (self.ctx.cypher or self.ctx.cypher_order) and op in (
            "=", "!=", "<", "<=", ">", ">="
        ):
            lf = _type_family(self._static_dtype(le))
            rf = _type_family(self._static_dtype(ri))
            if lf and rf and lf != rf:
                # cross-family: ordering is null; equality false (null
                # operands still propagate) — TCK Comparison2[3]
                nul = F.lit(None).cast("boolean")
                if op in ("<", "<=", ">", ">="):
                    return nul
                return F.when(l.isNull() | r.isNull(), nul).otherwise(
                    F.lit(op == "!=")
                )
        if (self.ctx.cypher or self.ctx.cypher_order) and op in (
            "<", "<=", ">", ">="
        ) and (self._is_temporal_operand(le) or self._is_temporal_operand(ri)):
            # instant comparison for canonical temporal strings: zoned
            # values with different offsets order by INSTANT, matching
            # the ORDER BY sort key (TCK WithOrderBy1[45]).  Pure-Column
            # kernel — this path runs inside list-comprehension lambdas
            # where Python UDFs are not allowed.
            lk = _temporal_instant_key_sql(l)
            rk = _temporal_instant_key_sql(r)
            return {
                "<": lambda: lk < rk, "<=": lambda: lk <= rk,
                ">": lambda: lk > rk, ">=": lambda: lk >= rk,
            }[op]()
        if op in ("=", "!="):
            from pyspark.sql.types import MapType

            if isinstance(self._static_dtype(le), MapType) and isinstance(
                self._static_dtype(ri), MapType
            ):
                # Spark '=' cannot order MAP — compare canonical JSON of
                # key-sorted entries (also bridges int vs string value maps)
                def _canon(c: Column) -> Column:
                    return F.to_json(
                        F.map_from_entries(F.sort_array(F.map_entries(c)))
                    )

                eq = _canon(l) == _canon(r)
                return eq if op == "=" else ~eq
        if op == "=":
            return l == r
        if op == "!=":
            return l != r
        if op == "<":
            return l < r
        if op == "<=":
            return l <= r
        if op == ">":
            return l > r
        if op == ">=":
            return l >= r
        if op == "<=>":
            return l.eqNullSafe(r)
        if op in ("+", "-"):
            # runtime temporal arithmetic: one side is a static temporal
            # value, the other a stored canonical string column
            # (TCK Temporal8 — date('1984-10-11') + d.dur)
            from arcadedb_spark.sql import temporal as _T
            from arcadedb_spark.sql.temporal_eval import static_value

            oka, va = static_value(le, self.ctx.params)
            okb, vb = static_value(ri, self.ctx.params)
            sign = 1 if op == "+" else -1
            if (
                oka and isinstance(va, _T.TEMPORAL_TYPES) and not okb
            ):
                return _temporal_add_col(F.lit(str(va)), r, sign)
            if (
                okb and isinstance(vb, _T.CyDuration) and not oka
            ):
                return _temporal_add_col(l, F.lit(str(vb)), sign)
            if not oka and not okb:
                from pyspark.sql.types import StringType

                if isinstance(
                    self._static_dtype(le), StringType
                ) and isinstance(self._static_dtype(ri), StringType):
                    # two stored string columns: duration arithmetic when
                    # both look like durations (JVM regex guard), plain
                    # JVM concat otherwise (Temporal8 [6] + WithOrderBy2)
                    if op == "-":
                        return _temporal_addconcat_col(l, r, sign)
                    both_dur = l.rlike(r"^[+-]?P") & r.rlike(r"^[+-]?P")
                    return F.when(
                        both_dur, _temporal_addconcat_col(l, r, 1)
                    ).otherwise(F.concat(l, r))
        if op in ("*", "/"):
            from pyspark.sql.types import StringType

            from arcadedb_spark.sql.temporal_eval import static_value

            def _num(v):
                return isinstance(v, (int, float)) and not isinstance(v, bool)

            oka, va = static_value(le, self.ctx.params)
            okb, vb = static_value(ri, self.ctx.params)
            if (
                okb and _num(vb) and not oka
                and isinstance(self._static_dtype(le), StringType)
            ):
                # stored duration string × / ÷ number (Temporal8 [7])
                return _temporal_scale_col(l, F.lit(vb), op == "/")
            if (
                op == "*" and oka and _num(va) and not okb
                and isinstance(self._static_dtype(ri), StringType)
            ):
                return _temporal_scale_col(r, F.lit(va), False)
        if op == "+":
            # Cypher/SQL '+' overloads: list concat when either side is
            # statically list-valued, string concat when either side is a
            # string literal; numeric addition otherwise
            from pyspark.sql.types import ArrayType as _AT

            if (
                self._is_listy(le) or self._is_listy(ri)
                or isinstance(self._static_dtype(le), _AT)
                or isinstance(self._static_dtype(ri), _AT)
            ):
                def wrap(c, x):
                    if self._is_listy(x):
                        return c
                    from pyspark.sql.types import (
                        ArrayType, VariantType as _WVt,
                    )

                    dt = self._static_dtype(x)
                    if isinstance(dt, _WVt):
                        # variant side: list variants CONCAT their
                        # elements, scalars append (TCK Precedence3[2])
                        return F.when(
                            F.schema_of_variant(c).startswith("ARRAY"),
                            F.try_variant_get(c, "$", "array<variant>"),
                        ).otherwise(F.array(c.cast("variant")))
                    if dt is not None and not isinstance(dt, ArrayType):
                        return F.array(c)  # known scalar appends
                    if isinstance(x, ast.Lit) and not isinstance(
                        x.value, (list, tuple)
                    ):
                        return F.array(c)  # scalar literal appends
                    return c  # unknown: assume list-valued (n.prop + [..])

                def wrapped_elem_dt(x):
                    dt = self._static_dtype(x)
                    if isinstance(dt, _AT):
                        return dt.elementType
                    return dt  # scalar appends as a 1-elem array

                led, red = wrapped_elem_dt(le), wrapped_elem_dt(ri)
                wl, wr = wrap(l, le), wrap(r, ri)
                if (
                    led is not None and red is not None
                    and led.simpleString() != red.simpleString()
                ):
                    # mismatched element types concat as variant elements
                    # (Cypher lists are untyped — TCK Precedence3)
                    wl = _variant_elems(wl, led)
                    wr = _variant_elems(wr, red)
                return F.concat(wl, wr)
            if isinstance(le, ast.Lit) and isinstance(le.value, str):
                return F.concat(l, r.cast("string"))
            if isinstance(ri, ast.Lit) and isinstance(ri.value, str):
                return F.concat(l.cast("string"), r)
            from pyspark.sql.types import StringType

            if isinstance(self._static_dtype(le), StringType) or isinstance(
                self._static_dtype(ri), StringType
            ):
                # one side statically string-typed: Cypher '+' is concat
                return F.concat(l.cast("string"), r.cast("string"))
            return l + r
        if op == "-":
            return l - r
        if op == "*":
            return l * r
        if op == "/":
            from pyspark.sql.types import DoubleType, FloatType, IntegralType

            if (
                (self.ctx.cypher_order or self.ctx.cypher)  # Cypher only
                and isinstance(self._static_dtype(le), IntegralType)
                and isinstance(self._static_dtype(ri), IntegralType)
            ):
                # Cypher integer division truncates toward zero
                # (Spark's / is always float — TCK Precedence2; the SQL
                # dialect keeps float semantics its oracles assume)
                return ((l - (l % r)) / r).cast("long")
            if (self.ctx.cypher_order or self.ctx.cypher) and (
                isinstance(self._static_dtype(le), (FloatType, DoubleType))
                or isinstance(self._static_dtype(ri), (FloatType, DoubleType))
            ):
                # Cypher float division by zero is IEEE ±Inf / NaN, not an
                # error (ANSI Spark raises DIVIDE_BY_ZERO) — TCK
                # Comparison1 [8].  CASE branches evaluate lazily, so the
                # ANSI division never sees a zero divisor.
                lz, rz = l.cast("double"), r.cast("double")
                return F.when(
                    rz == 0.0,
                    F.when(lz.isNull(), F.lit(None).cast("double"))
                    .when(F.isnan(lz) | (lz == 0.0), F.lit(float("nan")))
                    .when(lz > 0, F.lit(float("inf")))
                    .otherwise(F.lit(float("-inf"))),
                ).otherwise(lz / rz)
            return l / r
        if op == "%":
            return l % r
        if op == "^":
            return F.pow(l, r)
        if op == "??":
            return F.coalesce(l, r)
        if op == "||":
            return F.concat(l, r)
        raise TranslateError(f"Unknown operator {op}")

    def _c_unary(self, e: ast.Unary) -> Column:
        c = self.compile(e.operand)
        if e.op == "-":
            return -c
        if e.op == "+":
            return c
        if e.op == "NOT":
            if self.ctx.cypher or self.ctx.cypher_order:
                fam = self._expr_family(e.operand)
                if fam and fam != "B":
                    raise TranslateError(
                        "NOT requires a boolean operand (InvalidArgumentType)"
                    )
            return ~c
        raise TranslateError(f"Unknown unary {e.op}")

    def _c_patternexpr(self, e) -> Column:
        """Pattern predicate in boolean position: at least one match.
        The count marker is pre-joined by attach_pattern_markers.
        COUNT { … } reads the marker as its value, COLLECT { … } reads
        the collected list (Cypher-25 subquery expressions)."""
        pre = self.ctx.precompiled.get(id(e))
        if pre is None:
            raise TranslateError(
                "pattern expressions are supported in MATCH/WITH/RETURN "
                "contexts only"
            )
        mode = getattr(e, "mode", "exists")
        if mode == "count":
            return pre.cast("long")
        if mode == "collect":
            return pre
        return pre > 0

    def _c_patterncomp(self, e) -> Column:
        """Pattern comprehension value: the collected projection list.
        Pre-joined by attach_pattern_markers as a collect_list marker.
        A deferred lambda marker resolves per element: the pattern's
        per-vertex count map is read at the lambda variable's vid."""
        pre = self.ctx.precompiled.get(id(e))
        if (
            isinstance(pre, tuple) and len(pre) == 4
            and pre[0] == "__lam_pat__"
        ):
            _tag, mapname, root, proj_val = pre
            elem = self._bound.get(root)
            if elem is None:
                raise TranslateError(
                    f"pattern comprehension root '{root}' is not in scope"
                )
            cnt = F.coalesce(
                F.try_element_at(F.col(mapname), elem.getField("vid")),
                F.lit(0),
            )
            return F.array_repeat(F.lit(proj_val), cnt.cast("int"))
        if pre is None:
            raise TranslateError(
                "pattern comprehensions are supported in MATCH/WITH/RETURN "
                "contexts only"
            )
        return pre

    def _c_in(self, e: ast.In) -> Column:
        pre = self.ctx.precompiled.get(id(e))
        if pre is not None:
            return pre
        # pure-literal IN folds with openCypher ternary semantics: true if
        # any element equals, null if none equal but a comparison was
        # null, false otherwise (TCK List5 — 1 IN ['1'] is false, not a
        # coercion match)
        try:
            nv = self._pure_value(e.needle)
            src = None
            if e.items is not None:
                src = [self._pure_value(i) for i in e.items]
            elif e.collection is not None:
                src = self._pure_value(e.collection)
                if src is not None and not isinstance(src, (list, tuple)):
                    raise ValueError("not a list")
        except ValueError:
            src = False  # sentinel: not foldable
        if src is None:
            return F.lit(None).cast("boolean")
        if src is not False:
            acc: "bool | None" = False
            for x in src:
                r = self._cy_eq(nv, x)
                if r is True:
                    acc = True
                    break
                if r is None:
                    acc = None
            res = F.lit(acc).cast("boolean")
            return ~res if e.negated else res
        needle = self.compile(e.needle)
        if (self.ctx.cypher or self.ctx.cypher_order) and (
            isinstance(self._static_dtype(e.needle), _NullType)
            or (isinstance(e.needle, ast.Lit) and e.needle.value is None)
        ):
            # null IN [] is false, null IN [x, …] is null (TCK Null3)
            if e.items is not None:
                res = F.lit(None if e.items else False).cast("boolean")
                return ~res if e.negated else res
            if e.collection is not None:
                coll = self.compile(e.collection)
                res = F.when(
                    F.size(coll) == 0, F.lit(False)
                ).otherwise(F.lit(None).cast("boolean"))
                return ~res if e.negated else res
        if e.items is not None:
            vals = [self.compile(i) for i in e.items]
            lit_vals = [value_of(v) for v in vals]
            needle_listy = self._is_listy(e.needle) or (
                isinstance(e.needle, ast.Lit)
                and isinstance(e.needle.value, (list, tuple))
            )
            if all(v is not None for v in lit_vals) and not needle_listy:
                cond = needle.isin(lit_vals)
            else:
                # Cypher IN over heterogeneous list literals: equality
                # between statically-incompatible shapes (list vs scalar)
                # is false, not a type error
                def compat(item: ast.Expr) -> bool:
                    nf_ = self._expr_family(e.needle)
                    if_ = self._expr_family(item)
                    if nf_ and if_ and nf_ != if_:
                        return False  # cross-family equality is false
                    n_listy = self._is_listy(e.needle) or (
                        isinstance(e.needle, ast.Lit)
                        and isinstance(e.needle.value, (list, tuple))
                    )
                    i_listy = self._is_listy(item) or (
                        isinstance(item, ast.Lit)
                        and isinstance(item.value, (list, tuple))
                    )
                    if isinstance(e.needle, (ast.ArrayLit,)) or n_listy:
                        return i_listy or not isinstance(item, ast.Lit)
                    if isinstance(e.needle, ast.Lit) and i_listy:
                        return False
                    return True

                cond = F.lit(False)
                for item, v in zip(e.items, vals):
                    if not compat(item):
                        continue
                    cond = cond | (needle == v)
            return ~cond if e.negated else cond
        if e.collection is not None:
            coll = e.collection
            if isinstance(coll, ast.Var):
                b = self.ctx.vars.get(coll.name)
                if b is not None and b.kind == "df":
                    # DataFrame-bound LET vars are rewritten to joins by the
                    # translator (_prejoin_nested_in) before expression
                    # compilation; reaching here means the rewrite was
                    # skipped (e.g. expression compiled outside a WHERE).
                    raise TranslateError(
                        f"IN over DataFrame variable ${coll.name} is only "
                        "supported in WHERE clauses"
                    )
            ccol = self.compile(coll)
            if self.ctx.cypher or self.ctx.cypher_order:
                from pyspark.sql.types import ArrayType as _cAT

                cdt = self._static_dtype(coll)
                nf = self._expr_family(e.needle)
                ef = _type_family(
                    cdt.elementType if isinstance(cdt, _cAT) else None
                )
                if nf and ef and nf != ef:
                    # value/element families differ: every element
                    # comparison is false (null elements make it null) —
                    # TCK Precedence3[4]
                    cond = (
                        F.when(ccol.isNull() | needle.isNull(),
                               F.lit(None).cast("boolean"))
                        .when(F.exists(ccol, lambda x: x.isNull()),
                              F.lit(None).cast("boolean"))
                        .otherwise(F.lit(False))
                    )
                    return ~cond if e.negated else cond
            cond = F.array_contains(ccol, needle)
            return ~cond if e.negated else cond
        if e.subquery is not None:
            # IN-subqueries are always rewritten to joins by the translator
            # (conjunct-level → semi/anti join; OR/NOT-nested → left-join
            # marker column via _prejoin_nested_in).  Never materialized
            # driver-side — that shape doesn't survive 100 TB.
            raise TranslateError(
                "IN (subquery) is only supported in WHERE clauses"
            )
        raise TranslateError("Malformed IN")

    def _c_between(self, e: ast.Between) -> Column:
        c = self.compile(e.operand).between(self.compile(e.low), self.compile(e.high))
        return ~c if e.negated else c

    def _c_like(self, e: ast.Like) -> Column:
        operand = self.compile(e.operand)
        pat = value_of(self.compile(e.pattern))
        if pat is None:
            raise TranslateError("LIKE pattern must be a literal")
        c = operand.ilike(pat) if e.case_insensitive else operand.like(pat)
        return ~c if e.negated else c

    def _c_isnull(self, e: ast.IsNull) -> Column:
        c = self.compile(e.operand)
        return c.isNotNull() if e.negated else c.isNull()

    def _c_isdefined(self, e: ast.IsDefined) -> Column:
        # With a fixed schema, "defined" = the property exists in the schema
        # (DocumentType declared or present in the DataFrame).
        if isinstance(e.operand, ast.Chain):
            defined = e.operand.parts[0] in self.ctx.columns
            return F.lit(not defined if e.negated else defined)
        return F.lit(not e.negated)

    @staticmethod
    def _is_condition(x: ast.Expr) -> bool:
        """Predicate-shaped expression — the CONTAINS condition-form RHS
        (ContainsCondition.java: ``coll CONTAINS (<cond>)`` evaluates the
        condition per element)."""
        if isinstance(x, (ast.Like, ast.IsNull, ast.IsDefined, ast.Between,
                          ast.Contains, ast.Matches, ast.In)):
            return True
        if isinstance(x, ast.Unary) and x.op == "NOT":
            return True
        if isinstance(x, ast.Bin) and x.op in (
            "=", "==", "!=", "<>", "<", "<=", ">", ">=", "AND", "OR",
        ):
            return True
        return False

    def _c_contains(self, e: ast.Contains) -> Column:
        operand = self.compile(e.operand)
        if e.mode == "contains" and self._is_condition(e.rhs):
            # condition-form: evaluate the predicate per element with
            # @this bound to the element and bare fields resolving into
            # struct elements (QueryTest.java:615-630)
            return F.exists(
                operand,
                lambda x: _ElementCompiler(self.ctx, x)
                .compile(e.rhs).cast("boolean"),
            )
        if e.mode in ("contains", "any", "all", "key", "value", "text") \
                and not (self.ctx.cypher or self.ctx.cypher_order):
            # a missing/NULL-typed list property never matches instead of
            # failing the whole query at the Spark type checker
            # (issue #1898, QueryTest.java:862-899)
            missing = _void_like(self._static_dtype(e.operand)) or (
                isinstance(e.operand, ast.Chain)
                and self.ctx.columns is not None
                and e.operand.parts[0] not in self.ctx.columns
                and e.operand.parts[0].lower() not in (
                    c.lower() for c in self.ctx.columns
                )
            )
            if missing:
                return F.lit(False)
        rhs = self.compile(e.rhs)
        if e.mode in ("any", "all"):
            from pyspark.sql.types import ArrayType as _AT7

            rdt = self._static_dtype(e.rhs)
            if rdt is not None and not isinstance(rdt, _AT7):
                # scalar RHS coerces to a 1-element list (issue #3581:
                # txt.split(' ') CONTAINSANY 'te')
                rhs = F.array(rhs)
        if e.mode in ("substr", "startswith", "endswith") and (
            self.ctx.cypher or self.ctx.cypher_order
        ):
            # openCypher string predicates: a non-string operand makes the
            # predicate null, not a coerced match (TCK Precedence4)
            from pyspark.sql.types import VariantType as _VT4

            for side in (e.operand, e.rhs):
                fam = _type_family(self._static_dtype(side))
                if fam and fam != "S":
                    return F.lit(None).cast("boolean")
            lv = isinstance(self._static_dtype(e.operand), _VT4)
            rv = isinstance(self._static_dtype(e.rhs), _VT4)
            if lv or rv:
                # variant operand (heterogeneous property): dispatch the
                # string-ness per row (TCK String8-10 [8])
                lc = (
                    F.try_variant_get(operand, "$", "string") if lv
                    else operand
                )
                rc = F.try_variant_get(rhs, "$", "string") if rv else rhs
                nonstr = F.lit(False)
                if lv:
                    nonstr = nonstr | (F.schema_of_variant(operand) != "STRING")
                if rv:
                    nonstr = nonstr | (F.schema_of_variant(rhs) != "STRING")
                op_ = {
                    "substr": lambda: lc.contains(rc),
                    "startswith": lambda: lc.startswith(rc),
                    "endswith": lambda: lc.endswith(rc),
                }[e.mode]()
                return F.when(nonstr, F.lit(None).cast("boolean")).otherwise(
                    op_
                )
        if e.mode == "contains":
            return F.array_contains(operand, rhs)
        if e.mode == "any":
            return F.arrays_overlap(operand, rhs)
        if e.mode == "all":
            return F.size(F.array_except(rhs, operand)) == 0
        if e.mode == "key":
            return F.map_contains_key(operand, rhs)
        if e.mode == "value":
            return F.array_contains(F.map_values(operand), rhs)
        if e.mode == "text":
            return F.instr(F.lower(operand), F.lower(rhs)) > 0
        if e.mode == "substr":  # Cypher CONTAINS: case-sensitive substring
            return operand.contains(rhs)
        if e.mode == "startswith":  # Cypher STARTS WITH
            return operand.startswith(rhs)
        if e.mode == "endswith":  # Cypher ENDS WITH
            return operand.endswith(rhs)
        raise TranslateError(f"Unknown CONTAINS mode {e.mode}")

    def _c_matches(self, e: ast.Matches) -> Column:
        return F.regexp_like(self.compile(e.operand), self.compile(e.pattern))

    def _c_instanceof(self, e: ast.InstanceOf) -> Column:
        names = [e.type_name]
        try:
            names += [t.name for t in self.ctx.db.schema.subtypes(e.type_name)]
        except Exception:
            pass
        return F.col(TYPE_COL).isin(names)

    def _c_case(self, e: ast.Case) -> Column:
        out = None
        for cond, then in e.whens:
            if e.operand is not None:
                # simple CASE compares with full Cypher equality semantics
                # (cross-family false, not a coerced match — Conditional2)
                c = self._c_bin(ast.Bin("=", e.operand, cond))
            else:
                c = self.compile(cond)
            out = F.when(c, self.compile(then)) if out is None else out.when(c, self.compile(then))
        if e.else_ is not None:
            out = out.otherwise(self.compile(e.else_))
        return out

    def _c_arraylit(self, e: ast.ArrayLit) -> Column:
        # heterogeneous literal lists carry per-element VARIANT values
        # (Cypher lists are untyped; Spark arrays need one element type)
        known = {
            dt.simpleString()
            for dt in (self._static_dtype(i) for i in e.items)
            if dt is not None and not _void_like(dt)
        }
        if len(known) > 1:
            def _to_v(item: ast.Expr) -> Column:
                # pure literals (arbitrarily nested) become variants via
                # canonical JSON — handles VOID leaves ([null], [[{b:
                # [null]}]]) that neither CAST nor to_variant_object
                # accepts
                try:
                    v = self._pure_literal(item, self.ctx.params)
                    import json

                    return F.parse_json(F.lit(json.dumps(v)))
                except (ValueError, TypeError):
                    pass
                c = self.compile(item)
                if isinstance(item, (ast.MapLit, ast.ArrayLit)):
                    return F.to_variant_object(c)
                from pyspark.sql.types import (
                    ArrayType as _A2, MapType as _M2, StructType as _S2,
                )

                idt = self._static_dtype(item)
                if isinstance(idt, (_S2, _M2)) or (
                    isinstance(idt, _A2)
                    and isinstance(idt.elementType, (_S2, _M2))
                ):
                    # struct/map-typed columns (bound nodes/rels/paths)
                    # need to_variant_object — CAST to variant rejects them
                    return F.to_variant_object(c)
                return c.cast("variant")

            return F.array(*[_to_v(i) for i in e.items])
        return F.array(*[self.compile(i) for i in e.items])

    def _c_maplit(self, e: ast.MapLit) -> Column:
        # Cypher maps are heterogeneous records; when the static value
        # types differ, a STRUCT of named fields represents them exactly
        # (create_map requires one uniform value type)
        dts = [self._static_dtype(v) for _, v in e.entries]
        known = {dt.simpleString() for dt in dts if dt is not None}
        # a MAP needs ONE value type: only safe when every entry's static
        # type is known and identical — unknown types (expressions over
        # frame columns, aggregates) go to STRUCT (TCK Return6[6])
        if len(known) > 1 or (e.entries and any(dt is None for dt in dts)):
            def _fld(k: str, v: ast.Expr) -> Column:
                c = self.compile(v)
                if isinstance(v, ast.Lit) and v.value is None:
                    # VOID-typed fields break variant conversion later
                    c = c.cast("string")
                return c.alias(k)

            return F.struct(*[_fld(k, v) for k, v in e.entries])
        if not e.entries:
            # typed empty map (bare map() is MAP<VOID,VOID>, which cannot
            # convert to variant or compare)
            return F.create_map().cast("map<string,string>")
        cols: list[Column] = []
        for k, v in e.entries:
            cols.append(F.lit(k))
            cols.append(self.compile(v))
        return F.create_map(*cols)

    def _c_index(self, e: ast.Index) -> Column:
        from pyspark.sql.types import StructType

        base = self.compile(e.base)
        idx = self.compile(e.index)
        bt = self._static_dtype(e.base)
        if isinstance(bt, StructType):
            sv = value_of(idx)
            if isinstance(sv, str):
                # static key: typed field access (missing → null)
                if any(f_.name == sv for f_ in bt.fields):
                    return base.getField(sv)
                return _lit(None)
            # dynamic property access on an entity struct: n[key] builds
            # a name→value map over the struct's property fields
            # (TCK Graph7; values stringified — heterogeneous map values
            # have no common Spark type)
            pairs = []
            for f_ in bt.fields:
                if f_.name in ("vid", "@type", "etype", "src", "dst", "@eid"):
                    continue
                pairs.append(F.lit(f_.name))
                pairs.append(base.getField(f_.name).cast("string"))
            if not pairs:
                return _lit(None)
            return F.element_at(F.create_map(*pairs), idx.cast("string"))
        from pyspark.sql.types import (
            MapType, NullType, StringType as _StrT, VariantType as _VarT,
        )

        if isinstance(bt, NullType):
            return _lit(None)  # null[k] → null (TCK Map2)
        if isinstance(bt, _VarT):
            sv = value_of(idx)
            if isinstance(sv, str):
                # field access on a variant (heterogeneous-list element)
                return F.try_variant_get(base, f"$.{sv}", "variant")
        if isinstance(bt, MapType):
            it = self._static_dtype(e.index)
            if it is not None and not isinstance(it, (_StrT, NullType)):
                raise TranslateError(
                    "Map access requires a string key "
                    f"(got {it.simpleString()}) — InvalidArgumentType"
                )
            return F.element_at(base, idx.cast(bt.keyType))
        bv = value_of(base)
        if isinstance(bv, dict):
            # parameter map with no frame type info: key access
            return F.element_at(base, idx.cast("string"))
        from pyspark.sql.types import ArrayType as _ArrT, IntegralType as _IT

        if isinstance(bt, _ArrT):
            it = self._static_dtype(e.index)
            if it is not None and not isinstance(it, (_IT, NullType)):
                raise TranslateError(
                    "List index must be an integer "
                    f"(got {it.simpleString()}) — InvalidArgumentType"
                )
        v = value_of(idx)
        if isinstance(v, int) and not isinstance(v, bool):
            from pyspark.sql.types import StructType as _StT

            if isinstance(bt, _StT):
                # positional field access on a struct — try_element_at
                # fails analysis on structs; getItem resolves the 0-based
                # ordinal via GetStructField
                return base.getItem(v) if 0 <= v < len(bt.fields) \
                    else _lit(None)
            # negative indices count from the end, out-of-range -> null
            # (openCypher list access; reference Issue5476 $list[-1])
            ordinal = v if v < 0 else v + 1
            return F.try_element_at(base, F.lit(ordinal).cast("int"))
        if v is not None:
            return base.getItem(v)  # key access for maps/structs
        # element_at requires an INT ordinal (a long index analysis-fails);
        # negative dynamic indices pass through (element_at is end-relative
        # for negatives), non-negative shift to the 1-based ordinal
        ordinal = F.when(idx < 0, idx).otherwise(idx + 1)
        return F.try_element_at(base, ordinal.cast("int"))

    def _c_slice(self, e: ast.Slice) -> Column:
        # openCypher list slicing: negative indices count from the end,
        # out-of-range bounds clamp, inverted ranges are empty
        # (TCK List2)
        base = self.compile(e.base)
        n = F.size(base)
        low = self.compile(e.low) if e.low is not None else F.lit(0)
        high = self.compile(e.high) if e.high is not None else n
        lo = F.when(low < 0, F.greatest(n + low, F.lit(0))).otherwise(
            F.least(low, n)
        )
        hi = F.when(high < 0, F.greatest(n + high, F.lit(0))).otherwise(
            F.least(high, n)
        )
        # a null bound nulls the whole slice (openCypher null propagation)
        return F.when(
            low.isNull() | high.isNull(), F.lit(None)
        ).otherwise(F.slice(base, lo + 1, F.greatest(hi - lo, F.lit(0))))

    def _c_cypher_point(self, e) -> Column:
        """Cypher ``point({latitude, longitude} | {x, y[, srid]})`` — a
        typed struct value (field access .x/.y/.srid/.crs works through
        the normal struct path; reference Issue4305Test,
        CypherFunctionArgumentValidationIssue5794/5910Test)."""
        arg = e.args[0]
        if not isinstance(arg, ast.MapLit):
            raise TranslateError(
                "point() takes a map like {latitude, longitude} or "
                "{x, y} (InvalidArgumentValue)"
            )
        keys = {k.lower(): v for k, v in arg.entries}
        geo = {"latitude", "longitude"} <= set(keys)
        cart = {"x", "y"} <= set(keys)
        if not geo and not cart:
            raise TranslateError(
                "point() map needs latitude/longitude or x/y keys "
                "(InvalidArgumentValue)"
            )
        def num(k):
            c = self.compile(keys[k])
            return c.cast("double")
        if geo:
            x, y = num("longitude"), num("latitude")
            srid = F.lit(4326)
            crs = "wgs-84"
        else:
            x, y = num("x"), num("y")
            srid = (
                self.compile(keys["srid"]).cast("int")
                if "srid" in keys else F.lit(7203)
            )
            crs = "cartesian"
        st = F.struct(
            x.alias("x"), y.alias("y"), srid.alias("srid"),
            F.lit(crs).alias("crs"),
        )
        # a null coordinate nulls the whole point (reference
        # CypherOptionalArgumentNullIssue5629Test)
        return F.when(x.isNull() | y.isNull(), F.lit(None)).otherwise(st)

    def _is_point_struct(self, a) -> bool:
        from pyspark.sql.types import StructType

        if (
            isinstance(a, ast.FuncCall) and a.name.lower() == "point"
            and len(a.args) == 1 and isinstance(a.args[0], ast.MapLit)
        ):
            return True
        dt = self._static_dtype(a)
        return isinstance(dt, StructType) and {"x", "y", "srid"} <= set(
            dt.names
        )

    def _c_point_distance(self, e) -> Column:
        """distance(point, point) — haversine meters for geographic
        points, euclidean for cartesian (reference
        CypherFunctionArityRegistryTest)."""
        if len(e.args) != 2 or not self._is_point_struct(e.args[1]):
            raise TranslateError(
                "distance() takes exactly two points "
                "(InvalidArgumentValue)"
            )
        p1 = self.compile(e.args[0])
        p2 = self.compile(e.args[1])
        lon1, lat1 = p1.getField("x"), p1.getField("y")
        lon2, lat2 = p2.getField("x"), p2.getField("y")
        dlat = F.radians(lat2 - lat1) / 2
        dlon = F.radians(lon2 - lon1) / 2
        h = (
            F.sin(dlat) * F.sin(dlat)
            + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2))
            * F.sin(dlon) * F.sin(dlon)
        )
        geo_m = F.lit(2 * 6371000.0) * F.asin(F.sqrt(h))
        eucl = F.sqrt(
            (lon2 - lon1) * (lon2 - lon1) + (lat2 - lat1) * (lat2 - lat1)
        )
        return F.when(
            p1.isNull() | p2.isNull(), F.lit(None).cast("double")
        ).otherwise(
            F.when(p1.getField("srid") == 4326, geo_m).otherwise(eucl)
        )

    def _c_mapprojection(self, e) -> Column:
        """``n{.name, key: expr, var, .*}`` — one struct per row, field
        order as written (reference OpenCypherExpressionTest map
        projections).  Property selectors compile through the normal
        chain path, so schema-missing properties surface as null."""
        base = self.compile(e.base)
        base_var = (
            e.base.parts[0]
            if isinstance(e.base, ast.Chain) and len(e.base.parts) == 1
            else None
        )
        fields = self._struct_fields_of(e.base)
        out: dict[str, Column] = {}
        for item in e.items:
            kind = item[0]
            if kind == "prop":
                name = item[1]
                if base_var is not None:
                    out[name] = self.compile(ast.Chain((base_var, name)))
                elif fields is not None and any(
                    f.name == name for f in fields
                ):
                    out[name] = base.getField(name)
                else:
                    out[name] = F.lit(None)
            elif kind == "entry":
                out[item[1]] = self.compile(item[2])
            elif kind == "var":
                out[item[1]] = self.compile(ast.Chain((item[1],)))
            else:  # star: every stored property of the entity
                if fields is None:
                    raise TranslateError(
                        "map projection .* needs a node/relationship "
                        "with a known schema"
                    )
                for f_ in fields:
                    if f_.name.startswith(("__", "@")) or f_.name in (
                        "vid", "src", "dst", "etype",
                    ):
                        continue
                    out[f_.name] = base.getField(f_.name)
        st = F.struct(*[c.alias(k) for k, c in out.items()])
        return F.when(base.isNull(), F.lit(None)).otherwise(st)

    _TYPE_PRED_SETS = {
        "INTEGER": ("tinyint", "smallint", "int", "bigint"),
        "INT": ("tinyint", "smallint", "int", "bigint"),
        "SIGNED INTEGER": ("tinyint", "smallint", "int", "bigint"),
        "FLOAT": ("float", "double"),
        "STRING": ("string",),
        "VARCHAR": ("string",),
        "BOOLEAN": ("boolean",),
        "BOOL": ("boolean",),
        "NULL": (),  # handled by the null branch
    }

    def _c_typepred(self, e) -> Column:
        """``x IS [NOT] :: TYPE`` (Cypher-25/GQL type predicate;
        reference CypherFollowUpsIssue5602Test.java:105).  The engine's
        columns are statically typed, so typeof() resolves at codegen —
        no per-row reflection.  null conforms to every type (nullable
        value types; Neo4j/GQL semantics): null IS :: T is true."""
        base = self.compile(e.base)
        t = F.call_function("typeof", base)
        name = e.type_name
        not_null = False
        if name.endswith(" NOT NULL"):
            # GQL: null does not conform to a NOT NULL type
            not_null = True
            name = name[: -len(" NOT NULL")].strip()
        if name in ("ANY", "ANY VALUE"):
            cond = F.lit(True)
        elif name == "NULL":
            cond = base.isNull()
        elif name in ("LIST", "ARRAY", "LIST ANY", "LIST<ANY>"):
            cond = t.startswith("array")
        elif name.startswith(("LIST<", "ARRAY<")) and name.endswith(">"):
            # parameterized list type (issue #3365): the static element
            # type must be in the inner type's Spark-name set
            inner = name[name.index("<") + 1:-1].strip()
            if inner in ("ANY", "ANY VALUE"):
                cond = t.startswith("array")
            elif inner in self._TYPE_PRED_SETS:
                cond = t.isin(
                    *[f"array<{el}>" for el in self._TYPE_PRED_SETS[inner]]
                )
            elif inner in ("NUMBER", "NUMERIC"):
                cond = t.isin(*[
                    f"array<{el}>" for el in (
                        "tinyint", "smallint", "int", "bigint", "float",
                        "double",
                    )
                ])
            else:
                raise TranslateError(
                    f"Unsupported element type in LIST<…> predicate: "
                    f"{inner}"
                )
        elif name == "MAP":
            cond = t.startswith("map") | t.startswith("struct")
        elif name in ("NUMBER", "NUMERIC"):
            cond = t.isin(
                "tinyint", "smallint", "int", "bigint", "float", "double",
            ) | t.startswith("decimal")
        elif name in self._TYPE_PRED_SETS:
            cond = t.isin(*self._TYPE_PRED_SETS[name])
        else:
            raise TranslateError(
                f"Unsupported type name in IS :: predicate: {name}"
            )
        if name != "NULL":
            # null is a member of every (nullable) value type — unless
            # the type carries the NOT NULL suffix
            cond = F.when(
                base.isNull(), F.lit(not not_null)
            ).otherwise(cond)
        return ~cond if e.negated else cond

    def _c_labelpred(self, e: ast.LabelPred) -> Column:
        """``n:Label`` — label-set membership on the vertex struct's
        colon-joined @type (multiple predicate labels AND together;
        the internal "_" unlabeled bucket matches nothing).  On a
        RELATIONSHIP struct the label expression checks the edge type
        (openCypher label expressions on relationships, TCK Graph5[2])."""
        base = self.compile(e.base)
        fields = self._struct_fields_of(e.base)
        if fields is not None and any(f.name == "etype" for f in fields) \
                and not any(f.name == "@type" for f in fields):
            out = None
            for lbl in e.labels:
                # r:A|B — any listed type matches (reference issue #4108)
                c = base.getField("etype").isin(*lbl.split("|"))
                out = c if out is None else (out & c)
            return out
        lset = F.split(base.getField("@type"), ":")
        out = None
        for lbl in e.labels:
            # n:A|B disjunction within one predicate; multiple predicate
            # labels (n:A:B spelling) still AND together
            alt = None
            for one in lbl.split("|"):
                c1 = F.array_contains(lset, one)
                alt = c1 if alt is None else (alt | c1)
            c = alt & (base.getField("@type") != F.lit("_"))
            out = c if out is None else (out & c)
        return out

    def _is_temporal_operand(self, e: ast.Expr) -> bool:
        """True when ``e`` is a KNOWN temporal value rendered to a
        canonical string: a statically-evaluated temporal literal, a
        frame column tagged ``cy_temporal`` (UNWIND over a temporal
        list), or a lambda variable bound from such a source."""
        if isinstance(e, ast.Chain) and len(e.parts) == 1:
            name = e.parts[0]
            if name in getattr(self, "_bound_temporal", ()):
                return True
            if name not in self._bound and self.ctx.frame_schema is not None:
                f_ = next(
                    (f for f in self.ctx.frame_schema.fields
                     if f.name == name), None,
                )
                if f_ is not None and f_.metadata.get("cy_temporal"):
                    return True
            return False
        from arcadedb_spark.sql import temporal as _T
        from arcadedb_spark.sql.temporal_eval import static_value

        try:
            ok, v = static_value(e, self.ctx.params)
        except Exception:
            return False
        return ok and isinstance(
            v,
            (_T.CyDate, _T.CyLocalTime, _T.CyTime, _T.CyLocalDateTime,
             _T.CyDateTime),
        )

    def _with_bound(self, name: str, expr: ast.Expr, elem_type=None):
        """Build a higher-order-function lambda body compiler: returns a
        fn(Column) → Column that compiles ``expr`` with ``name`` bound to
        the lambda element (restoring any shadowed outer binding).
        ``elem_type`` records the element's static dtype for the body."""

        def body(x: Column) -> Column:
            prev = self._bound.get(name, _MISSING)
            prev_t = self._bound_types.get(name, _MISSING)
            self._bound[name] = x
            if elem_type is not None:
                self._bound_types[name] = elem_type
            try:
                return self.compile(expr)
            finally:
                if prev is _MISSING:
                    del self._bound[name]
                else:
                    self._bound[name] = prev
                if prev_t is _MISSING:
                    self._bound_types.pop(name, None)
                else:
                    self._bound_types[name] = prev_t

        return body

    def _expr_family(self, x: ast.Expr) -> "str | None":
        fam = _type_family(self._static_dtype(x))
        if fam is None and self._is_listy(x):
            return "L"
        return fam

    def _elem_type(self, source: ast.Expr):
        from pyspark.sql.types import ArrayType

        if self.ctx.agg_mode and id(source) in self.ctx.agg_types:
            dt = self.ctx.agg_types[id(source)]  # fresh (bypasses memo)
        else:
            dt = self._static_dtype(source)
        return dt.elementType if isinstance(dt, ArrayType) else None

    def _c_quantifier(self, e: ast.Quantifier) -> Column:
        """all/any/none/single(x IN src WHERE p) — Cypher 3-valued
        semantics; Spark's exists/forall already follow ternary logic
        over the element predicate."""
        src = self.compile(e.source)
        pred = self._with_bound(e.var, e.pred, self._elem_type(e.source))
        if e.kind == "all":
            return F.forall(src, pred)
        if e.kind == "any":
            return F.exists(src, pred)
        if e.kind == "none":
            return ~F.exists(src, pred)
        # single: t = provably-true count, n = unknown count; true iff
        # t==1 ∧ n==0, false iff t>1 ∨ (t==0 ∧ n==0), else null
        t = F.size(F.filter(src, lambda x: pred(x).isNotNull() & pred(x)))
        n = F.size(F.filter(src, lambda x: pred(x).isNull()))
        return (
            F.when(src.isNull(), F.lit(None).cast("boolean"))
            .when(t > 1, F.lit(False))
            .when(n == 0, t == 1)
            .otherwise(F.lit(None).cast("boolean"))
        )

    def _c_listcomp(self, e: ast.ListComp) -> Column:
        if (e.pred is not None and _contains_aggregate(e.pred)) or (
            e.proj is not None and _contains_aggregate(e.proj)
        ):
            raise TranslateError(
                "Aggregation inside a list comprehension body is not "
                "allowed (InvalidAggregation)"
            )
        from pyspark.sql.types import NullType as _LCNT

        st = self._static_dtype(e.source)
        if (st is not None and isinstance(st, _LCNT)) or (
            isinstance(e.source, ast.Lit) and e.source.value is None
        ):
            # comprehension over a null list → null (Cypher null
            # propagation); a raw NULL source would fail Catalyst's
            # transform/filter type check (empty-graph nodes(p))
            return F.lit(None)
        src = self.compile(e.source)
        try:
            if src._jc.toString() == "NULL":
                # precompiled null marker (nodes(p)/relationships(p) on a
                # graph with no vertex universe): comprehension over null
                # is null, and a raw NULL would fail transform's typecheck
                return F.lit(None)
        except Exception:
            pass
        et = self._elem_type(e.source)
        out = src
        if e.pred is not None:
            out = F.filter(out, self._with_bound(e.var, e.pred, et))
        if e.proj is not None:
            out = F.transform(out, self._with_bound(e.var, e.proj, et))
        return out

    def _c_reduceexpr(self, e: ast.ReduceExpr) -> Column:
        from pyspark.sql.types import NullType as _RNT

        st = self._static_dtype(e.source)
        if (st is not None and isinstance(st, _RNT)) or (
            isinstance(e.source, ast.Lit) and e.source.value is None
        ):
            return F.lit(None)  # reduce over null list → null (Cypher)
        src = self.compile(e.source)
        init = self.compile(e.init)

        elem_t = self._elem_type(e.source)

        def merge(acc: Column, x: Column) -> Column:
            prev_a = self._bound.get(e.acc, _MISSING)
            prev_x = self._bound.get(e.var, _MISSING)
            prev_xt = self._bound_types.get(e.var, _MISSING)
            self._bound[e.acc] = acc
            self._bound[e.var] = x
            if elem_t is not None:
                self._bound_types[e.var] = elem_t
            try:
                return self.compile(e.body)
            finally:
                for name, prev in ((e.acc, prev_a), (e.var, prev_x)):
                    if prev is _MISSING:
                        del self._bound[name]
                    else:
                        self._bound[name] = prev
                if prev_xt is _MISSING:
                    self._bound_types.pop(e.var, None)
                else:
                    self._bound_types[e.var] = prev_xt

        return F.aggregate(src, init, merge)

    def _c_allreduceexpr(self, e: ast.AllReduceExpr) -> Column:
        """Cypher-25 allReduce (AllReduceExpression.java:66): the struct
        accumulator carries {acc, ok}; each step updates acc via the
        reduce body, then ANDs the predicate evaluated with the NEW
        accumulator and the element bound.  Null/empty list → true; a
        null predicate result counts as failure (only Boolean.TRUE
        passes)."""
        from pyspark.sql.types import NullType as _NT

        st = self._static_dtype(e.source)
        if (st is not None and isinstance(st, _NT)) or (
            isinstance(e.source, ast.Lit) and e.source.value is None
        ):
            return F.lit(True)  # null list → vacuous truth
        src = self.compile(e.source)
        init = self.compile(e.init)
        elem_t = self._elem_type(e.source)

        def _with_bound(names_vals, fn):
            prevs = [
                (n, self._bound.get(n, _MISSING)) for n, _ in names_vals
            ]
            for n, v in names_vals:
                self._bound[n] = v
            try:
                return fn()
            finally:
                for n, prev in prevs:
                    if prev is _MISSING:
                        del self._bound[n]
                    else:
                        self._bound[n] = prev

        def merge(s: Column, x: Column) -> Column:
            prev_xt = self._bound_types.get(e.var, _MISSING)
            if elem_t is not None:
                self._bound_types[e.var] = elem_t
            try:
                new_acc = _with_bound(
                    [(e.acc, s.getField("acc")), (e.var, x)],
                    lambda: self.compile(e.body),
                )
                ok_p = _with_bound(
                    [(e.acc, new_acc), (e.var, x)],
                    lambda: self.compile(e.pred),
                )
            finally:
                if prev_xt is _MISSING:
                    self._bound_types.pop(e.var, None)
                else:
                    self._bound_types[e.var] = prev_xt
            return F.struct(
                new_acc.alias("acc"),
                (s.getField("ok") & F.coalesce(ok_p, F.lit(False)))
                .alias("ok"),
            )

        agg = F.aggregate(
            src,
            F.struct(init.alias("acc"), F.lit(True).alias("ok")),
            merge,
            lambda s: s.getField("ok"),
        )
        return F.when(src.isNull(), F.lit(True)).otherwise(agg)

    def _c_arrayfilter(self, e: ast.ArrayFilter) -> Column:
        """``base[cond]`` → F.filter with the condition compiled against
        the array element (arrayConditionSelector; the reference iterates
        the collection per row — here it stays one codegen expression)."""
        if not (self.ctx.cypher or self.ctx.cypher_order) and (
            _void_like(self._static_dtype(e.base)) or (
                isinstance(e.base, ast.Chain)
                and self.ctx.columns is not None
                and e.base.parts[0] not in getattr(self, "_bound", {})
                and e.base.parts[0].lower() not in (
                    c.lower() for c in self.ctx.columns
                )
            )
        ):
            # missing / NULL-typed collection: selector yields null, not
            # an analysis error (same rule as CONTAINS, issue #1898)
            return F.lit(None).cast("array<string>")
        base = self.compile(e.base)

        def cond_fn(x: Column) -> Column:
            return _ElementCompiler(self.ctx, x).compile(e.cond)

        return F.filter(base, cond_fn)

    def _c_nestedproj(self, e: ast.NestedProj) -> Column:
        """``expr:{a,b}`` / ``expr:{*, !x}`` → struct rebuild
        (parser/NestedProjection.java semantics on embedded documents).
        Over a LIST base the projection maps per element
        (ArrayConcatNestedProjectionTest: list({'x':1}):{x})."""
        from pyspark.sql.types import ArrayType as _NA

        base = self.compile(e.base)

        def _rebuild(col, proj):
            def field(x, item):
                if isinstance(item, tuple):
                    nm, sub = item
                    return _rebuild(x[nm], sub).alias(nm)
                return x[item].alias(item)

            if "*" in proj.include or (proj.exclude and not proj.include):
                out = col
                for name in proj.exclude:
                    out = out.dropFields(name)
                return out
            return F.struct(*[field(col, it) for it in proj.include])

        if isinstance(self._static_dtype(e.base), _NA):
            return F.transform(base, lambda x: _rebuild(x, e))
        return _rebuild(base, e)

    def _c_subquery(self, e: ast.Subquery) -> Column:
        # Scalar subquery: evaluated once, driver-side (global-LET semantics).
        from arcadedb_spark.sql.translator import Translator

        sub = Translator(self.ctx.db, params=self.ctx.params).translate(e.stmt)
        rows = sub.limit(2).collect()
        if len(sub.columns) != 1 or len(rows) > 1:
            raise TranslateError("Scalar subquery must return one column, ≤1 row")
        return _lit(rows[0][0] if rows else None)

    def _struct_fields_of(self, e: ast.Expr):
        """Field list when ``e`` statically resolves to a struct column of
        the current frame (via frame_schema), else None."""
        if not isinstance(e, ast.Chain):
            return None
        from pyspark.sql.types import StructField, StructType

        field = None
        bt = self._bound_types.get(e.parts[0])
        if bt is not None and isinstance(bt, StructType):
            # lambda-bound variable with a known struct element type
            # ([x IN collect(p) | nodes(x)], TCK List12)
            field = StructField(e.parts[0], bt)
        elif self.ctx.frame_schema is not None:
            field = next(
                (f for f in self.ctx.frame_schema.fields
                 if f.name == e.parts[0]),
                None,
            )
        if field is None or not isinstance(field.dataType, StructType):
            return None
        dt = field.dataType
        for p in e.parts[1:]:
            sub = next((f for f in dt.fields if f.name == p), None)
            if sub is None or not isinstance(sub.dataType, StructType):
                return None
            dt = sub.dataType
        return dt.fields

    def _c_funccall(self, e: ast.FuncCall) -> Column:
        pre = self.ctx.precompiled.get(id(e))
        if pre is not None:
            # pre-joined column (startNode/endNode vertex lookups —
            # attach_entity_lookups)
            return pre
        name = e.name.lower()
        if name == "arrayremoveitem" and len(e.args) == 2 and not (
            self.ctx.cypher or self.ctx.cypher_order
        ):
            dt0 = self._static_dtype(e.args[0])
            if _void_like(dt0) or (
                isinstance(e.args[0], ast.Chain)
                and self.ctx.columns is not None
                and e.args[0].parts[0].lower() not in (
                    c.lower() for c in self.ctx.columns
                )
            ):
                # REMOVE coll = v on a missing collection: no-op null
                return F.lit(None).cast("array<string>")
        if name == "mapput" and len(e.args) == 3:
            # UPDATE ... PUT map = k, v (UpdateItem.java PUT operator):
            # insert/overwrite one entry; a missing property starts a
            # fresh single-entry map
            from pyspark.sql.types import MapType as _MT10

            tgt, k_e, v_e = e.args
            dt = self._static_dtype(tgt)
            k_c = self.compile(k_e).cast("string")
            v_c = self.compile(v_e)
            missing = _void_like(dt) or (
                isinstance(tgt, ast.Chain)
                and self.ctx.columns is not None
                and tgt.parts[0].lower() not in (
                    c.lower() for c in self.ctx.columns
                )
            )
            if missing:
                return F.create_map(k_c, v_c)
            cur = self.compile(tgt)
            if isinstance(dt, _MT10):
                return F.map_concat(
                    F.map_filter(cur, lambda k, _v: k != k_c),
                    F.create_map(k_c, v_c.cast(dt.valueType)),
                )
            if isinstance(k_e, ast.Lit):
                return cur.withField(str(k_e.value), v_c)
            raise TranslateError("PUT requires a map property")
        if name in ("plusassign", "minusassign") and len(e.args) == 2:
            # SET col += v / -= v (UpdateItem.java): collection append /
            # element remove, string concat, or numeric add/sub —
            # dispatched on the target column's static type
            from pyspark.sql.types import ArrayType as _PA, StringType as _PS

            tgt, val = e.args
            dt = self._static_dtype(tgt)
            if not (self.ctx.cypher or self.ctx.cypher_order) and (
                _void_like(dt) or (
                    isinstance(tgt, ast.Chain)
                    and self.ctx.columns is not None
                    and tgt.parts[0].lower() not in (
                        c.lower() for c in self.ctx.columns
                    )
                )
            ):
                # ADD/+= on a missing property starts a new collection;
                # -= on nothing stays null
                v0 = self.compile(val)
                if name == "plusassign":
                    return F.array(v0)
                return F.lit(None).cast("array<string>")
            cur = self.compile(tgt)
            v = self.compile(val)
            if isinstance(dt, _PA):
                vdt = self._static_dtype(val)
                item = v if isinstance(vdt, _PA) else F.array(v)
                if name == "plusassign":
                    return F.concat(cur, item)
                return F.array_remove(cur, v)
            if isinstance(dt, _PS):
                if name == "plusassign":
                    return F.concat(cur, v.cast("string"))
                raise TranslateError("-= is not defined on strings")
            return cur + v if name == "plusassign" else cur - v
        if name == "cypherrid" and self.ctx.db is not None:
            # SELECT cypherRID(:id) — inverse of Cypher id(); resolved at
            # translate time (literal/param arg → one point lookup)
            rid, _lbl = eval_cypher_rid(self.ctx.db, e, self.ctx.params)
            return _lit(rid)
        if name in ("file", "linenumber") and not e.args:
            # LOAD CSV context functions (LoadCSVStep.java hidden
            # __loadCSV_* row properties; functions/
            # OpenCypherLoadCsvFunctionsComprehensiveTest.java): null
            # when no LOAD CSV clause is in scope
            hidden = "__loadCSV_file" if name == "file" \
                else "__loadCSV_linenumber"
            if hidden in (self.ctx.columns or ()):
                return F.col(hidden)
            return _lit(None)
        if (
            len(e.args) == 1
            and name in ("labels", "type", "id", "startnode", "endnode",
                         "elementid", "keys", "properties", "size",
                         "length", "nodes", "relationships")
            and (
                (isinstance(e.args[0], ast.Lit) and e.args[0].value is None)
                or isinstance(self._static_dtype(e.args[0]), _NullType)
            )
        ):
            # entity functions null-propagate (labels(null) → null) —
            # including null-TYPED columns (WITH null AS n, TCK Graph9)
            return _lit(None)
        if name in ("labels", "type") and e.args and (
            self.ctx.cypher or self.ctx.cypher_order
        ):
            from pyspark.sql.types import MapType as _MT5, StructType as _ST5

            adt = self._static_dtype(e.args[0])
            fam5 = self._expr_family(e.args[0])
            bad = fam5 in ("N", "S", "B", "L", "T") or isinstance(adt, _MT5)
            if isinstance(adt, _ST5):
                need = "vid" if name == "labels" else "etype"
                bad = bad or all(f.name != need for f in adt.fields)
            if bad:
                raise TranslateError(
                    f"{e.name}() requires a "
                    f"{'node' if name == 'labels' else 'relationship'} "
                    "(InvalidArgumentValue)"
                )
        if name in ("labels", "type", "id", "elementid") and e.args:
            from pyspark.sql.types import VariantType as _VT2

            if isinstance(self._static_dtype(e.args[0]), _VT2):
                # entity functions on a variant (heterogeneous-list
                # element holding a node/rel object — TCK Graph3[6])
                c = self.compile(e.args[0])
                invalid = F.raise_error(F.lit(
                    f"{e.name}() on a non-entity value "
                    "(InvalidArgumentValue)"
                ))
                nul6 = c.isNull() | (F.schema_of_variant(c) == "VOID")
                if name == "labels":
                    t = F.try_variant_get(c, "$['@type']", "string")
                    return (
                        F.when(nul6, F.lit(None).cast("array<string>"))
                        .when(t.isNull(), invalid.cast("array<string>"))
                        .when(t == "_", F.array().cast("array<string>"))
                        .otherwise(F.split(t, ":"))
                    )
                if name == "type":
                    et = F.try_variant_get(c, "$.etype", "string")
                    return (
                        F.when(nul6, F.lit(None).cast("string"))
                        .when(et.isNull(), invalid.cast("string"))
                        .otherwise(et)
                    )
                vid = F.try_variant_get(c, "$.vid", "long")
                out6 = (
                    F.when(nul6, F.lit(None).cast("long"))
                    .when(vid.isNull(), invalid.cast("long"))
                    .otherwise(vid)
                )
                return out6.cast("string") if name == "elementid" else out6
        if name == "size" and e.args:
            # Cypher size() overloads: character count for strings,
            # element count for lists, match count for patterns
            from pyspark.sql.types import StringType

            if isinstance(e.args[0], ast.PatternExpr):
                raise TranslateError(
                    "size() on a pattern is not allowed — use a pattern "
                    "comprehension: size([pattern | 1])"
                )
            if isinstance(self._static_dtype(e.args[0]), StringType):
                return F.length(self.compile(e.args[0]))
            from pyspark.sql.types import VariantType

            if isinstance(self._static_dtype(e.args[0]), VariantType):
                # element of a heterogeneous list: string → char count,
                # list → element count, else null
                c = self.compile(e.args[0])
                sch = F.schema_of_variant(c)
                return (
                    F.when(
                        sch == "STRING",
                        F.length(F.try_variant_get(c, "$", "string")),
                    )
                    .when(
                        sch.startswith("ARRAY"),
                        F.size(
                            F.try_variant_get(c, "$", "array<variant>")
                        ),
                    )
                    .otherwise(F.lit(None))
                )
        if name == "isempty" and e.args:
            # isEmpty(string|list|map) — static-type dispatch like size()
            # (Cypher-25; CypherMissingFunctionsTest.isEmpty)
            from pyspark.sql.types import ArrayType, MapType, StringType

            c = self.compile(e.args[0])
            dt = self._static_dtype(e.args[0])
            if isinstance(dt, StringType):
                inner_e = F.length(c) == 0
            elif isinstance(dt, (ArrayType, MapType)):
                inner_e = F.size(c) == 0
            else:
                inner_e = F.length(c.cast("string")) == 0
            return F.when(c.isNull(), F.lit(None).cast("boolean")).otherwise(
                inner_e
            )
        if (
            name == "exists"
            and e.args
            and isinstance(e.args[0], ast.PatternExpr)
        ):
            pre = self.ctx.precompiled.get(id(e.args[0]))
            if pre is not None:
                return pre > 0
        if name == "length" and e.args:
            # length(path) → relationship count of the bound path struct
            fields = self._struct_fields_of(e.args[0])
            if fields is not None and any(f.name == "n_rels" for f in fields):
                return self.compile(e.args[0]).getField("n_rels")
        if name == "relationships" and e.args:
            # vid-level paths carry no relationship structs; the null-path
            # case is well-defined (TCK Path2[3]), the value case raises
            # at runtime
            fields = self._struct_fields_of(e.args[0])
            if fields is not None and any(f.name == "vids" for f in fields):
                c = self.compile(e.args[0])
                return F.when(
                    c.isNull() | c.getField("vids").isNull(),
                    F.lit(None).cast("array<string>"),
                ).otherwise(F.raise_error(F.lit(
                    "relationships() on a materialized path is not "
                    "supported (vid-level paths)"
                )).cast("array<string>"))
        if name == "nodes" and e.args:
            # nodes(path) → the path's vid array (vid-level paths; full
            # node entities in paths are out of scope)
            fields = self._struct_fields_of(e.args[0])
            if fields is not None and any(f.name == "vids" for f in fields):
                return self.compile(e.args[0]).getField("vids")
        if name in ("keys", "properties") and e.args:
            # keys(entity)/properties(entity) over a bound node/rel
            # struct: resolve the field list from the frame schema
            # (Cypher keys = property names with non-null values)
            arg0 = e.args[0]
            if isinstance(arg0, ast.MapLit):
                # literal map (struct-compiled when heterogeneous): the
                # key list is static (TCK Map3)
                if name == "keys":
                    return F.array(*[F.lit(k) for k, _ in arg0.entries])
                return self.compile(arg0)
            if (
                isinstance(arg0, (ast.Param, ast.Var))
                and not (isinstance(arg0, ast.Var)
                         and self.ctx.vars.get(arg0.name) is not None)
                and isinstance(self.ctx.params.get(arg0.name), dict)
            ):
                if name == "keys":
                    return F.array(*[
                        F.lit(k) for k in self.ctx.params[arg0.name]
                    ])
                return self.compile(arg0)
            fields = self._struct_fields_of(e.args[0])
            if fields is not None:
                base = self.compile(e.args[0])
                names = [
                    f.name for f in fields
                    if f.name not in ("vid", "@type", "etype", "src", "dst", "@eid")
                ]
                if not names:
                    # property-less entity struct: {} when bound, null
                    # when the optional match missed (TCK Graph9[3])
                    if name == "properties":
                        return F.when(
                            base.isNull(),
                            F.lit(None).cast("map<string,string>"),
                        ).otherwise(
                            F.create_map().cast("map<string,string>")
                        )
                    return F.when(
                        base.isNull(), F.lit(None).cast("array<string>")
                    ).otherwise(F.array().cast("array<string>"))
                if name == "properties":
                    out = base
                    for internal in ("vid", "@type", "etype", "src", "dst", "@eid"):
                        out = out.dropFields(f"`{internal}`")
                    return F.when(base.isNull(), F.lit(None)).otherwise(out)
                is_entity = any(
                    f.name in ("vid", "etype") for f in fields
                )
                if not is_entity:
                    # plain map (struct-compiled record): null-valued
                    # keys still EXIST (TCK Map3[5]) — only entity
                    # properties equate null with absent
                    return F.array(*[F.lit(n) for n in names])
                return F.array_compact(F.array(*[
                    F.when(base.getField(n).isNotNull(), F.lit(n))
                    for n in names
                ]))
        if name in ("tointeger", "tofloat", "toboolean", "tostring") and (
            len(e.args) == 1 and (self.ctx.cypher or self.ctx.cypher_order)
        ):
            from pyspark.sql.types import VariantType as _VT3

            fam = self._expr_family(e.args[0])
            if fam in ("L", "M"):
                raise TranslateError(
                    f"{e.name}() on a list/map/entity is invalid "
                    "(InvalidArgumentValue)"
                )
            adt = self._static_dtype(e.args[0])
            if isinstance(adt, _VT3):
                # variant (heterogeneous-list element): scalars convert,
                # objects/arrays raise at runtime (TCK TypeConversion2-4)
                c = self.compile(e.args[0])
                sch = F.schema_of_variant(c)
                bad = sch.startswith("ARRAY") | sch.startswith("OBJECT")
                if name == "tofloat":
                    bad = bad | (sch == "BOOLEAN")  # TCK TypeConversion3
                if name == "toboolean":
                    # floats don't coerce to booleans (TypeConversion1)
                    bad = bad | (sch == "DOUBLE") | (sch == "FLOAT") | (
                        sch.startswith("DECIMAL")
                    )
                s = F.try_variant_get(c, "$", "string")
                val = {
                    "tostring": lambda: s,
                    "tointeger": lambda: s.try_cast("double").cast("long"),
                    "tofloat": lambda: s.try_cast("double"),
                    "toboolean": lambda: F.when(
                        F.lower(s) == "true", F.lit(True)
                    ).when(F.lower(s) == "false", F.lit(False)),
                }[name]()
                return F.when(
                    bad,
                    F.raise_error(F.lit(
                        f"{e.name}() on a list/map/entity is invalid "
                        "(InvalidArgumentValue)"
                    )),
                ).otherwise(val)
        if name == "point" and self.ctx.cypher and len(e.args) == 1 and (
            isinstance(e.args[0], ast.MapLit) or not isinstance(
                e.args[0], ast.Lit
            )
        ):
            return self._c_cypher_point(e)
        if name == "distance" and self.ctx.cypher and e.args and (
            self._is_point_struct(e.args[0])
        ):
            return self._c_point_distance(e)
        if name == "vector" and len(e.args) > 1:
            # vector(list, dimension, FLOAT32) — reference 3-arg ctor;
            # the element type is a bare identifier
            elem = "float"
            if len(e.args) > 2 and isinstance(e.args[2], ast.Chain):
                elem = {
                    "FLOAT32": "float", "FLOAT64": "double",
                    "INT8": "tinyint", "INT32": "int",
                }.get(str(e.args[2].parts[0]).upper(), "float")
            arr = self.compile(e.args[0])
            return F.transform(arr, lambda x: x.cast(elem))
        if name == "vector_norm" and e.args:
            # vector_norm(v[, EUCLIDEAN|MANHATTAN]) — bare-identifier
            # metric (CypherFunctionFactory.java:359 vector.norm bridge)
            metric = "EUCLIDEAN"
            if len(e.args) > 1:
                m = e.args[1]
                if isinstance(m, ast.Chain) and len(m.parts) == 1:
                    metric = str(m.parts[0]).upper()
                elif isinstance(m, ast.Lit):
                    metric = str(m.value).upper()
            v = self.compile(e.args[0])
            if metric == "MANHATTAN":
                return F.aggregate(
                    v, F.lit(0.0),
                    lambda acc, x: acc + F.abs(x.cast("double")),
                )
            return F.sqrt(F.aggregate(
                v, F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            ))
        if name == "vector_distance" and len(e.args) >= 2:
            # vector_distance(v1, v2[, EUCLIDEAN|COSINE|DOT]) — the
            # metric is a bare identifier in the reference dialect
            metric = "EUCLIDEAN"
            if len(e.args) > 2:
                m = e.args[2]
                if isinstance(m, ast.Chain) and len(m.parts) == 1:
                    metric = str(m.parts[0]).upper()
                elif isinstance(m, ast.Lit):
                    metric = str(m.value).upper()
            v1, v2 = self.compile(e.args[0]), self.compile(e.args[1])
            fn = SCALARS[
                "vector.cosinesimilarity" if metric == "COSINE"
                else "vector.distance"
            ]
            if metric == "DOT":
                return F.aggregate(
                    F.zip_with(
                        v1, v2,
                        lambda a, b: a.cast("double") * b.cast("double"),
                    ),
                    F.lit(0.0), lambda acc, x: acc + x,
                )
            out = fn([v1, v2])
            return (1.0 - out) if metric == "COSINE" else out
        if is_aggregate(name, len(e.args)):
            return self._compile_aggregate(e)
        if name in SCALARS:
            args = [self.compile(a) for a in e.args]
            try:
                return SCALARS[name](args)
            except (IndexError, TypeError) as ex:
                # wrong arity/shape must surface as a typed dialect
                # error, not a Python crash (reference
                # CypherNumericFunctionArgumentIssue5484Test)
                raise TranslateError(
                    f"Invalid arguments to {e.name}() "
                    f"(InvalidArgumentValue): {ex}"
                ) from None
        custom = self._custom_fn(name)
        if custom is not None:
            return self._compile_custom(custom, e.args)
        raise TranslateError(f"Unknown function '{e.name}'")

    def _custom_fn(self, qual_name: str):
        fns = getattr(self.ctx.db, "_functions", None)
        return fns.get(qual_name) if fns else None

    def _compile_custom(self, spec: dict, args: tuple) -> Column:
        if spec["language"] == "python":
            return spec["udf"](*[self.compile(a) for a in args])
        # SQL macro: substitute parameter names with argument ASTs
        mapping = {p: a for p, a in zip(spec["params"], args)}
        return self.compile(_substitute_ast(spec["expr"], mapping))

    def _compile_aggregate(self, e: ast.FuncCall) -> Column:
        ctx = self.ctx
        if not ctx.agg_mode:
            raise TranslateError(
                f"Aggregate {e.name}() outside aggregation context"
            )
        if e.args and not isinstance(e.args[0], ast.Star):
            # Aggregate args are compiled against the pre-agg frame: no
            # group placeholders inside.
            inner = ExprCompiler(
                Ctx(
                    db=ctx.db,
                    params=ctx.params,
                    vars=ctx.vars,
                    colmap=ctx.colmap,
                    columns=ctx.columns,
                    frame_schema=ctx.frame_schema,
                    precompiled=ctx.precompiled,
                    cypher=ctx.cypher,
                    cypher_order=ctx.cypher_order,
                )
            )
            args = [inner.compile(a) for a in e.args]
        else:
            args = []
        agg_col = None
        if (
            e.name.lower() in ("collect", "collect_list", "set", "count")
            and e.distinct and args
        ):
            from pyspark.sql.types import (
                ArrayType as _AD, MapType as _MD, StructType as _SD,
                VariantType as _VD,
            )

            def _has_map(dt) -> bool:
                if isinstance(dt, (_MD, _VD)):
                    return True
                if isinstance(dt, _SD):
                    return any(_has_map(f.dataType) for f in dt.fields)
                if isinstance(dt, _AD):
                    return _has_map(dt.elementType)
                return False

            adt8 = inner._static_dtype(e.args[0])
            if (
                e.name.lower() == "count"
                and adt8 is not None and _has_map(adt8)
            ):
                # count(DISTINCT <map/variant value>): hash by canonical
                # JSON (variant values are unhashable — TCK Return5[4])
                agg_col = F.count_distinct(F.to_json(args[0]))
            elif adt8 is not None and _has_map(adt8):
                # collect(DISTINCT <map-bearing value>): Spark set ops
                # reject MAP — dedupe by canonical JSON in a fold
                # (TCK Return5[4])
                c8 = args[0]
                lst = F.collect_list(
                    F.struct(F.to_json(c8).alias("k"), c8.alias("v"))
                )
                dedup = F.aggregate(
                    lst,
                    F.slice(lst, 1, 0),  # typed empty accumulator
                    lambda acc, x: F.when(
                        F.exists(acc, lambda y: y["k"] == x["k"]), acc
                    ).otherwise(F.array_append(acc, x)),
                )
                agg_col = F.transform(dedup, lambda x: x["v"])
        if e.name.lower() in ("min", "max") and args:
            from pyspark.sql.types import VariantType as _VT6

            if isinstance(inner._static_dtype(e.args[0]), _VT6):
                # min/max over mixed (variant) values order by Cypher
                # type rank: numbers > strings > booleans > lists
                # (TCK Aggregation2 [5,6,11,12])
                c = args[0]
                sch = F.schema_of_variant(c)
                rank = (
                    F.when(
                        sch.isin(self._NUM_VARIANT_TYPES)
                        | sch.startswith("DECIMAL"), F.lit(3)
                    )
                    .when(sch == "STRING", F.lit(2))
                    .when(sch == "BOOLEAN", F.lit(1))
                    .when(sch.startswith("ARRAY"), F.lit(0))
                    .when(sch == "VOID", F.lit(None))
                    .otherwise(F.lit(-1))
                )
                key = F.when(rank.isNull(), F.lit(None)).otherwise(
                    F.struct(
                        rank.alias("r"),
                        F.try_variant_get(c, "$", "double").alias("n"),
                        F.try_variant_get(c, "$", "string").alias("s"),
                    )
                )
                fn6 = F.max_by if e.name.lower() == "max" else F.min_by
                agg_col = fn6(c, key)
        if agg_col is None:
            if (
                e.name.lower() in ("collect", "list", "collect_list")
                and not e.distinct and args
                and "__row_order" in (ctx.columns or ())
            ):
                # the incoming frame was ORDER BY-ed (WITH … ORDER BY
                # carries __row_order): collect in that order — Spark's
                # collect_list is otherwise shuffle-order-dependent
                # (TCK WithOrderBy1[45])
                agg_col = F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("__row_order").alias("o"),
                                args[0].alias("v"),
                            )
                        ),
                        # compare on the carried position only — the
                        # value may be map-typed (not orderable)
                        lambda l, r: F.when(l["o"] < r["o"], -1)
                        .when(l["o"] > r["o"], 1)
                        .otherwise(0),
                    ),
                    lambda s: s["v"],
                )
            else:
                agg_col = AGGREGATES[e.name.lower()](args, e.distinct)
        name = f"__agg{len(ctx.agg_cols)}"
        ctx.agg_cols.append(agg_col.alias(name))
        ctx.agg_names[e] = name
        if e.name.lower() in ("collect", "collect_list", "list") and e.args:
            from pyspark.sql.types import ArrayType

            argdt = inner._static_dtype(e.args[0])
            if argdt is not None:
                ctx.agg_types[id(e)] = ArrayType(argdt)
        return F.col(name)

    def _c_method(self, e: ast.Method) -> Column:
        pre = self.ctx.precompiled.get(id(e))
        if pre is not None:
            # pre-joined nav-chain marker (out('A').in('B') — see
            # _attach_nav_markers)
            return pre
        # Namespaced function call: ts.lag(...) / vector.cosine(...) parse as
        # Method(base=Chain(('ts',)), name='lag').
        if isinstance(e.base, ast.Chain) and len(e.base.parts) <= 2 and all(
            isinstance(p, str) for p in e.base.parts
        ) and not (
            # a bound column named like a namespace keeps its METHOD
            # meaning when the name IS a method: WITH [3,1] AS coll
            # RETURN coll.sort() is a list sort on the variable, not
            # SCALARS['coll.sort'].  ts.timeBucket(...) still resolves
            # as the namespace even next to a 'ts' column — timeBucket
            # is not a value method.
            e.name.lower() in METHODS
            and (
                e.base.parts[0] in (self.ctx.columns or ())
                or e.base.parts[0] in getattr(self, "_bound", {})
            )
        ):
            ns = ".".join(p.lower() for p in e.base.parts)
            qual = f"{ns}.{e.name.lower()}"
            if qual in TS_WINDOW:
                args = [self.compile(a) for a in e.args]
                return TS_WINDOW[qual](args, self.ctx.ts_partition)
            if qual in SCALARS:
                args = [self.compile(a) for a in e.args]
                try:
                    return SCALARS[qual](args)
                except (IndexError, TypeError) as ex:
                    raise TranslateError(
                        f"Invalid arguments to {qual}() "
                        f"(InvalidArgumentValue): {ex}"
                    ) from None
            if is_aggregate(qual):
                return self._compile_aggregate(
                    ast.FuncCall(qual, e.args, False)
                )
        if isinstance(e.base, ast.Chain) and len(e.base.parts) == 1:
            # user-defined lib.name macro / UDF
            qual = f"{e.base.parts[0].lower()}.{e.name.lower()}"
            custom = self._custom_fn(qual)
            if custom is not None:
                return self._compile_custom(custom, e.args)
        name = e.name.lower()
        if name in METHODS:
            base = self.compile(e.base)
            args = [self.compile(a) for a in e.args]
            return METHODS[name](base, args)
        raise TranslateError(f"Unknown method '.{e.name}()'")


class _ElementCompiler(ExprCompiler):
    """Compiles an array-selector condition against a lambda element.

    Bare chains resolve to struct fields of the element; the pseudo-chain
    ``@value`` (also ``$value``) is the element itself — the scalar form
    used by ``[> 5]`` / ``[LIKE 'x%']`` selectors.
    """

    def __init__(self, ctx: Ctx, elem: Column) -> None:
        super().__init__(ctx)
        self.elem = elem

    def _c_chain(self, e: ast.Chain) -> Column:
        if e.parts[0] in self._bound:
            col = self._bound[e.parts[0]]
            for p in e.parts[1:]:
                col = col.getField(p)
            return col
        head = e.parts[0].lower()
        if head in ("@value", "$value", "@this"):
            col = self.elem
            rest = e.parts[1:]
        else:
            col = self.elem[e.parts[0]]
            rest = e.parts[1:]
        for p in rest:
            col = col.getField(p)
        return col


# ---------------------------------------------------------------------------
# AST walking helpers
# ---------------------------------------------------------------------------


def _substitute_ast(e: Any, mapping: dict[str, ast.Expr]) -> Any:
    """Replace single-part Chains matching macro parameter names with the
    call-site argument ASTs (DEFINE FUNCTION expansion)."""
    if isinstance(e, ast.Chain) and len(e.parts) == 1 and e.parts[0].lower() in mapping:
        return mapping[e.parts[0].lower()]
    if isinstance(e, ast.Expr):
        kwargs = {}
        for f_ in e.__dataclass_fields__:
            kwargs[f_] = _substitute_ast(getattr(e, f_), mapping)
        return type(e)(**kwargs)
    if isinstance(e, tuple):
        return tuple(_substitute_ast(x, mapping) for x in e)
    return e


def _subst_alias_refs(e: Any, alias_map: dict[str, ast.Expr]) -> Any:
    """Case-sensitively replace single-part Chains naming a projection
    alias with that projection's defining expression (ORDER BY scope in
    aggregating statements)."""
    if isinstance(e, ast.Chain) and e.parts[0] in alias_map:
        mapped = alias_map[e.parts[0]]
        rest = e.parts[1:]
        if not rest:
            return mapped
        # ORDER BY rel.id where rel aliases a projected expression: chase
        # the property path on the substituted expression (TCK With3[1])
        if isinstance(mapped, ast.Chain):
            return ast.Chain(parts=mapped.parts + rest)
        out: ast.Expr = mapped
        for p in rest:
            out = ast.Index(base=out, index=ast.Lit(p))
        return out
    if isinstance(e, ast.Expr):
        kwargs = {
            f_: _subst_alias_refs(getattr(e, f_), alias_map)
            for f_ in e.__dataclass_fields__
        }
        return type(e)(**kwargs)
    if isinstance(e, tuple):
        return tuple(_subst_alias_refs(x, alias_map) for x in e)
    return e


def _child_exprs(e: ast.Expr):
    for f_ in getattr(e, "__dataclass_fields__", {}):
        v = getattr(e, f_)
        if isinstance(v, ast.Expr):
            yield v
        elif isinstance(v, (tuple, list)):
            stack = list(v)
            while stack:
                x = stack.pop()
                if isinstance(x, ast.Expr):
                    yield x
                elif isinstance(x, (tuple, list)):
                    stack.extend(x)


def _validate_agg_mixed(e: ast.Expr, stmt: ast.SelectStmt) -> None:
    """openCypher: inside an expression that contains an aggregate, every
    non-aggregate variable-rooted subtree must be a projected alias or a
    projected simple grouping key — anything else is
    AmbiguousAggregationExpression / UndefinedVariable."""
    aliases = {p.alias for p in stmt.projections if p.alias}
    keys = [
        p.expr
        for p in stmt.projections
        if not _contains_aggregate(p.expr)
    ] + list(stmt.group_by or ())

    def ok(node: ast.Expr, bound: frozenset = frozenset()) -> bool:
        if isinstance(node, ast.FuncCall) and is_aggregate(
            node.name, len(node.args)
        ):
            return True
        if (
            isinstance(node, ast.Method)
            and isinstance(node.base, ast.Chain)
            and len(node.base.parts) == 1
            and is_aggregate(
                f"{node.base.parts[0].lower()}.{node.name.lower()}"
            )
        ):
            return True
        if isinstance(node, ast.Chain):
            if node.parts[0] in aliases or node.parts[0] in bound:
                return True
            return any(node == k for k in keys)
        if isinstance(node, (ast.ListComp, ast.Quantifier)):
            # the lambda variable is locally bound — [x IN collect(p) | x]
            # is a legal aggregate consumer (TCK List12)
            b2 = bound | {node.var}
            parts = [node.source]
            if getattr(node, "pred", None) is not None:
                parts.append(node.pred)
            if getattr(node, "proj", None) is not None:
                parts.append(node.proj)
            return all(
                ok(p, b2 if p is not node.source else bound) for p in parts
            )
        if isinstance(node, ast.ReduceExpr):
            b2 = bound | {node.var, node.acc}
            return (
                ok(node.init, bound) and ok(node.source, bound)
                and ok(node.body, b2)
            )
        return all(ok(c, bound) for c in _child_exprs(node))

    if not ok(e):
        raise TranslateError(
            "AmbiguousAggregationExpression: non-aggregate parts of an"
            " aggregating expression must be projected grouping keys"
        )


def walk(e: Any):
    """Yield every Expr node reachable from e (statements not descended)."""
    if isinstance(e, ast.Expr):
        yield e
        for f_ in getattr(e, "__dataclass_fields__", {}):
            yield from walk(getattr(e, f_))
    elif isinstance(e, (tuple, list)):
        for item in e:
            yield from walk(item)


def _contains_aggregate(e: ast.Expr) -> bool:
    for node in walk(e):
        if isinstance(node, ast.FuncCall) and is_aggregate(
            node.name, len(node.args)
        ):
            return True
        if (
            isinstance(node, ast.Method)
            and isinstance(node.base, ast.Chain)
            and len(node.base.parts) == 1
            and is_aggregate(f"{node.base.parts[0].lower()}.{node.name.lower()}")
        ):
            return True
    return False


def _head_names(e: ast.Expr) -> set[str]:
    return {n.parts[0] for n in walk(e) if isinstance(n, ast.Chain)}


def _split_conjuncts(e: ast.Expr) -> list[ast.Expr]:
    if isinstance(e, ast.Bin) and e.op == "AND":
        return _split_conjuncts(e.left) + _split_conjuncts(e.right)
    return [e]


# ---------------------------------------------------------------------------
# Translator
# ---------------------------------------------------------------------------


class Translator:
    def __init__(self, db, params: dict | None = None) -> None:
        self.db = db
        self.params = params or {}
        self._uid = itertools.count()

    def translate(self, stmt: ast.Statement) -> DataFrame:
        if isinstance(stmt, ast.SelectStmt):
            return self.translate_select(stmt)
        if isinstance(stmt, ast.MatchStmt):
            from arcadedb_spark.graph.match import translate_match

            return translate_match(self.db, stmt, self.params)
        if isinstance(stmt, ast.TraverseStmt):
            from arcadedb_spark.graph.traverse import translate_traverse

            return translate_traverse(self.db, stmt, self.params)
        raise TranslateError(f"Unsupported statement {type(stmt).__name__}")

    def _asc_of(self, oi: ast.OrderItem) -> bool:
        """ORDER BY direction, resolving a :param direction at run time
        ('ASC'/'DESC'/boolean — TestOrderParam)."""
        a = oi.ascending
        if isinstance(a, ast.Param):
            v = (self.params or {}).get(a.name)
            if v is None:
                raise ParameterMissing(f"Missing query parameter :{a.name}")
            if isinstance(v, bool):
                return v
            return str(v).strip().upper() != "DESC"
        return bool(a)

    # -- target resolution -------------------------------------------------
    def _resolve_target(self, target: ast.Target) -> tuple[DataFrame, Optional[str]]:
        """Returns (df, type_name-or-None)."""
        if target is None:
            return self.db.spark.range(1).select(F.lit(1).alias("__one")), None
        if isinstance(target, ast.TypeTarget):
            return self.db.schema.table(target.name), target.name
        if isinstance(target, ast.ParamTarget):
            # bound RID / RID-collection target (Issue #5505): the param
            # holds one rid string or a collection of them
            v = (self.params or {}).get(target.name)
            if v is None:
                raise ParameterMissing(
                    f"Missing query parameter :{target.name}"
                )
            vals = v if isinstance(v, (list, tuple, set)) else [v]
            rids = []
            for r in vals:
                s = str(r).lstrip("#")
                b, p = s.split(":")
                rids.append(ast.RidLit(int(b), int(p)))
            return self._resolve_target(ast.RidTarget(tuple(rids)))
        if isinstance(target, ast.BucketTarget):
            bname = target.name
            if isinstance(bname, tuple):
                # bucket:[a, b] — union the slices
                frames = [
                    self._resolve_target(ast.BucketTarget(b))[0]
                    for b in bname
                ]
                out_b = frames[0]
                for fr in frames[1:]:
                    out_b = out_b.unionByName(fr, allowMissingColumns=True)
                return out_b, None
            if isinstance(bname, str) and bname.isdigit():
                tdef_b = next(
                    (t for t in self.db.schema._types.values()
                     if t.bucket_id == int(bname)), None,
                )
                if tdef_b is None:
                    raise TranslateError(f"No bucket {bname}")
                return (
                    self.db.schema.table(tdef_b.name, polymorphic=False),
                    tdef_b.name,
                )
            if isinstance(bname, ast.Param):
                bv = (self.params or {}).get(bname.name)
                if bv is None:
                    raise ParameterMissing(
                        f"Missing query parameter :{bname.name}"
                    )
                target = ast.BucketTarget(str(bv))
            meta = self.db.schema.named_buckets.get(target.name.lower())
            if meta is not None:
                # named bucket (CREATE BUCKET): scan only that slice
                owner = meta.get("owner")
                if owner is None or not self.db.schema.exists(owner):
                    raise TranslateError(
                        f"Bucket '{target.name}' is not associated with "
                        "a type"
                    )
                tdef = self.db.schema.get(owner)
                bdf = self.db.schema._bucket_frame(target.name, tdef)
                if bdf is None:
                    bdf = self.db.schema.table(
                        owner, polymorphic=False
                    ).limit(0)
                return bdf, owner
            return self.db.schema.table(target.name, polymorphic=False), target.name
        if isinstance(target, ast.SchemaTarget):
            return self.db.schema.table(f"schema:{target.name}"), None
        if isinstance(target, ast.RidTarget):
            # Point lookups by RID (FetchFromRidsStep.java:32): group by
            # bucket, filter each type's table on the rid column.
            by_bucket: dict[int, list[str]] = {}
            for r in target.rids:
                by_bucket.setdefault(r.bucket, []).append(f"#{r.bucket}:{r.position}")
            dfs = []
            for bucket_id, rids in by_bucket.items():
                tdef = next(
                    (t for t in self.db.schema._types.values() if t.bucket_id == bucket_id),
                    None,
                )
                if tdef is None:
                    raise TranslateError(f"No bucket {bucket_id}")
                dfs.append(
                    self.db.schema.table(tdef.name, polymorphic=False).filter(
                        F.col(RID_COL).isin(rids)
                    )
                )
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d, allowMissingColumns=True)
            return out, None
        if isinstance(target, ast.IndexTarget):
            # SELECT FROM index:<name> — (key, rid) entries scanned off
            # the indexed type (the LSM index itself is replaced by
            # scan-time pushdown)
            idx = None
            for k, meta in self.db.schema.indexes.items():
                if k.lower() == target.name.lower():
                    idx = meta
                    break
            if idx is None:
                raise TranslateError(f"Unknown index '{target.name}'")
            tab = self.db.schema.table(idx["type"], polymorphic=False)
            props = list(idx["props"])
            key_col = (
                F.col(props[0]) if len(props) == 1
                else F.array(*[F.col(p_).cast("string") for p_ in props])
            )
            return (
                tab.select(
                    key_col.alias("key"), F.col(RID_COL).alias("rid")
                ),
                None,
            )
        if isinstance(target, ast.SubqueryTarget):
            return self.translate(target.stmt), None
        if isinstance(target, ast.FuncTarget):
            # SELECT FROM cypherRID(:id) — the function resolves to a
            # record identity, scanned as a point lookup
            # (SQLFunctionCypherRID.java, SelectExecutionPlanner.java)
            rid, label = eval_cypher_rid(self.db, target.call, self.params)
            if label is None:
                return (
                    self.db.spark.range(0).select(
                        F.lit(None).cast("string").alias(RID_COL)
                    ),
                    None,
                )
            return (
                self.db.schema.table(label).filter(F.col(RID_COL) == rid),
                label,
            )
        raise TranslateError(f"Unsupported FROM target {target}")

    # -- link joins ---------------------------------------------------------
    def _link_paths(self, stmt: ast.SelectStmt, type_name: Optional[str]) -> list[tuple[str, ...]]:
        """Collect all dot-chains that traverse declared LINK columns."""
        if type_name is None or not self.db.schema.exists(type_name):
            return []
        links = self.db.schema.get(type_name).properties.get("links", {})
        if not links:
            return []
        paths: set[tuple[str, ...]] = set()
        exprs: list[ast.Expr] = [p.expr for p in stmt.projections]
        if stmt.where is not None:
            exprs.append(stmt.where)
        exprs += list(stmt.group_by)
        exprs += [o.expr for o in stmt.order_by]
        exprs += [let.expr for let in stmt.lets if let.expr is not None]
        for e in exprs:
            for node in walk(e):
                if isinstance(node, ast.Chain) and len(node.parts) > 1:
                    path = self._resolve_link_path(type_name, node.parts)
                    if path:
                        paths.add(path)
        return sorted(paths, key=len)

    def _resolve_link_path(self, type_name: str, parts: tuple[str, ...]) -> Optional[tuple[str, ...]]:
        """Longest prefix of ``parts`` that walks LINK columns."""
        cur_type = type_name
        path: list[str] = []
        for p in parts[:-1]:
            links = self.db.schema.get(cur_type).properties.get("links", {})
            hit = next((k for k in links if k.lower() == p.lower()), None)
            if hit is None:
                break
            path.append(p.lower())
            cur_type = links[hit]
        return tuple(path) if path else None

    def _apply_link_joins(
        self, df: DataFrame, stmt: ast.SelectStmt, type_name: Optional[str], ctx: Ctx
    ) -> DataFrame:
        paths = self._link_paths(stmt, type_name)
        if not paths:
            return df
        # every prefix of a multi-hop path needs its own join
        paths = sorted(
            {p[:k] for p in paths for k in range(1, len(p) + 1)}, key=len
        )
        base_alias = "__t0"
        df = df.alias(base_alias)
        alias_of: dict[tuple[str, ...], str] = {(): base_alias}
        type_of: dict[tuple[str, ...], str] = {(): type_name}
        for path in paths:
            parent = path[:-1]
            if path in alias_of:
                continue
            parent_alias = alias_of[parent]
            parent_type = type_of[parent]
            links = self.db.schema.get(parent_type).properties.get("links", {})
            link_col = next(k for k in links if k.lower() == path[-1])
            child_type = links[link_col]
            child_tdef = self.db.schema.get(child_type)
            child_key = child_tdef.key
            if child_key is None:
                raise TranslateError(f"Link target {child_type} has no key")
            a = f"__l{next(self._uid)}"
            child_df = self.db.schema.table(child_type).alias(a)
            df = df.join(
                child_df,
                F.col(f"{parent_alias}.{link_col}") == F.col(f"{a}.{child_key}"),
                "left",
            )
            alias_of[path] = a
            type_of[path] = child_type
        # chain prefix → qualified column resolution map
        for path, a in alias_of.items():
            if not path:
                continue
            t = type_of[path]
            for c in self.db.schema.get(t).df().columns:
                ctx.colmap[path + (c.lower(),)] = f"{a}.{c}"
        return df

    # -- SELECT -------------------------------------------------------------
    def _try_expand(self, stmt: ast.SelectStmt) -> Optional[DataFrame]:
        """``SELECT expand(out('E')) FROM V [WHERE …]`` — replace each row
        with the records its edges point to (ExpandStep.java:36).  One row
        per traversed edge (duplicates preserved, like the reference)."""
        if len(stmt.projections) != 1:
            return None
        e = stmt.projections[0].expr
        nested = None
        if isinstance(e, ast.NestedProj):
            nested, e = e, e.base
        if not (isinstance(e, ast.FuncCall) and e.name.lower() == "expand" and e.args):
            return None
        inner = e.args[0]
        if stmt.target is None and isinstance(inner, (ast.Lit, ast.ArrayLit)):
            # SELECT expand(1) / expand([1,2,3]) — non-map scalars land
            # in a 'value' column, one row per element (ExpandStep.java
            # scalar passthrough)
            if isinstance(inner, ast.Lit):
                vals = [inner.value]
            elif all(isinstance(i, ast.Lit) for i in inner.items):
                vals = [i.value for i in inner.items]
            else:
                vals = None
            if vals is not None and not any(isinstance(v, dict) for v in vals):
                nn = next((v for v in vals if v is not None), None)
                return local_df(
                    self.db.spark, [(v,) for v in vals],
                    f"value {_py_spark_type(nn)}",
                )
        if stmt.target is None and isinstance(inner, ast.ArrayLit):
            # SELECT expand([{…}, …])[:{a,b}] — expand a literal list of
            # maps into rows (ExpandParseTest.java literal forms)
            rows = []
            keys: list[str] = []
            for item in inner.items:
                if not isinstance(item, ast.MapLit):
                    raise TranslateError(
                        "expand() over a literal list needs map elements"
                    )
                row = {}
                for k, v in item.entries:
                    if not isinstance(v, ast.Lit):
                        return None
                    row[k] = v.value
                    if k not in keys:
                        keys.append(k)
                rows.append(row)
            if not rows:
                return None
            if nested is not None:
                if nested.include != ("*",):
                    keys = [k for k in keys if k in nested.include]
                keys = [k for k in keys if k not in nested.exclude]

            out = local_df(
                self.db.spark,
                [tuple(r.get(k) for k in keys) for r in rows],
                ", ".join(f"`{k}` {_py_spark_type(r_v)}" for k, r_v in (
                    (k, next((r[k] for r in rows if r.get(k) is not None),
                             None)) for k in keys
                )),
            )
            return out
        if isinstance(inner, ast.Chain) and len(inner.parts) == 1 \
                and isinstance(stmt.target, (ast.SubqueryTarget,
                                             ast.TypeTarget)):
            # SELECT expand(col) FROM (subquery) — flatten a struct /
            # array column back into records (ExpandStep.java over a
            # projected field)
            from pyspark.sql.types import ArrayType as _EA, StructType as _ES

            if isinstance(stmt.target, ast.TypeTarget):
                df, _tn = self._resolve_target(stmt.target)
            else:
                df = self.translate(stmt.target.stmt)
            match_c = next(
                (c for c in df.columns
                 if c.lower() == inner.parts[0].lower()), None,
            )
            if match_c is None:
                return None
            if stmt.where is not None:
                ctx = Ctx(db=self.db, params=self.params,
                          columns=tuple(df.columns),
                          frame_schema=df.schema)
                df = df.filter(ExprCompiler(ctx).compile(stmt.where))
            dt = df.schema[match_c].dataType

            def _fields(st):
                return [
                    f.name for f in st.fields
                    if not f.name.startswith("__") and f.name != "vid"
                ]

            if isinstance(dt, _EA):
                ex = df.select(F.explode(F.col(match_c)).alias("__x"))
                el = dt.elementType
                if isinstance(el, _ES):
                    return ex.select(*[
                        F.col("__x").getField(n).alias(n)
                        for n in _fields(el)
                    ])
                return ex.select(F.col("__x").alias("value"))
            if isinstance(dt, _ES):
                return df.select(*[
                    F.col(match_c).getField(n).alias(n)
                    for n in _fields(dt)
                ])
            # scalar column: one row per value (ExpandStep passthrough)
            return df.select(F.col(match_c).alias("value"))
        if not isinstance(stmt.target, ast.TypeTarget):
            return None
        if not (
            isinstance(inner, ast.FuncCall)
            and inner.name.lower() in ("out", "in", "both")
        ):
            return None
        g = self.db.graph()
        label = stmt.target.name.lower()
        if label not in g.vertex_dfs:
            raise TranslateError(f"expand(): '{stmt.target.name}' is not a vertex type")
        etypes = tuple(
            a.value for a in inner.args if isinstance(a, ast.Lit)
        )
        src = g.vertices(label)
        if stmt.where is not None:
            ctx = Ctx(db=self.db, params=self.params, columns=tuple(src.columns))
            src = src.filter(ExprCompiler(ctx).compile(stmt.where))
        edges = g.edges(*etypes) if etypes else g.edges()
        direction = inner.name.lower()
        frames = []
        if direction in ("out", "both"):
            frames.append(
                edges.select(F.col("src").alias("__f"), F.col("dst").alias("__t"))
            )
        if direction in ("in", "both"):
            frames.append(
                edges.select(F.col("dst").alias("__f"), F.col("src").alias("__t"))
            )
        edge = frames[0]
        for fr in frames[1:]:
            edge = edge.unionByName(fr)
        # infer the target label for full-row output
        target_label = None
        if len(etypes) == 1 and etypes[0] in g.edge_meta:
            meta = g.edge_meta[etypes[0]]
            target_label = meta[1] if direction == "out" else meta[0]
        hop = src.select("vid").join(edge, src["vid"] == edge["__f"]).select("__t")
        if target_label is not None:
            tgt = g.vertices(target_label)
        else:
            tgt = g.all_vertices()
        out = hop.join(tgt, hop["__t"] == tgt["vid"]).drop("__t", "vid")
        # graph-internal columns stay internal ("@type" rides on vertex
        # frames for Cypher labels(); expand() emits the bare record)
        out = out.drop("@type", *[c for c in out.columns if c.startswith("__")])
        if stmt.skip is not None:
            out = out.offset(self._int_of(stmt.skip, Ctx(db=self.db, params=self.params)))
        if stmt.limit is not None:
            out = out.limit(self._int_of(stmt.limit, Ctx(db=self.db, params=self.params)))
        return out

    _NAV_FNS = {
        "out": ("out", "v"), "in": ("in", "v"), "both": ("both", "v"),
        "oute": ("out", "e"), "ine": ("in", "e"), "bothe": ("both", "e"),
    }

    @classmethod
    def _nav_chain(cls, node) -> "list[tuple[str, tuple]] | None":
        """``out('A').in('B')`` → [('out', ('A',)), ('in', ('B',))];
        None when ``node`` isn't a literal-arg navigation chain."""
        if isinstance(node, ast.FuncCall) \
                and node.name.lower() in cls._NAV_FNS \
                and all(isinstance(a, ast.Lit) for a in node.args):
            return [(node.name.lower(), tuple(a.value for a in node.args))]
        if isinstance(node, ast.Method) \
                and node.name.lower() in cls._NAV_FNS \
                and all(isinstance(a, ast.Lit) for a in node.args):
            base = cls._nav_chain(node.base)
            if base is None:
                return None
            return base + [
                (node.name.lower(), tuple(a.value for a in node.args))
            ]
        return None

    def _attach_nav_markers(self, df: DataFrame, stmt: ast.SelectStmt,
                            type_name: Optional[str], ctx: Ctx) -> DataFrame:
        """SQL graph-navigation functions over a vertex scan
        (function/sql/graph/SQLFunction{Out,In,Both,OutE,InE,BothE}.java):
        ``SELECT out('E').name, inE()[0].@rid FROM V``.

        Each distinct call becomes ONE grouped equi-join producing an
        array<struct> marker column (collect_list of neighbor/edge
        records keyed by the row's graph vid) — per-row navigation with
        no per-row lookups; downstream ``.field`` / ``[i]`` access rides
        Spark's native array-struct extraction."""
        if type_name is None or not self.db.schema.exists(type_name):
            return df
        exprs: list = [p.expr for p in stmt.projections]
        if stmt.where is not None:
            exprs.append(stmt.where)
        exprs += [o.expr for o in stmt.order_by] + list(stmt.group_by)
        df = self._attach_edge_endpoint_markers(df, exprs, type_name, ctx)
        targets = []
        for e in exprs:
            for node in walk(e):
                if (
                    self._nav_chain(node) is not None
                    and id(node) not in ctx.precompiled
                    and all(node is not t for t in targets)
                ):
                    targets.append(node)
        # keep only MAXIMAL chains: out('A').in('B') registers once, not
        # also for its out('A') prefix
        bases = set()
        for t in targets:
            b = t
            while isinstance(b, ast.Method):
                b = b.base
                bases.add(id(b))
        targets = [t for t in targets if id(t) not in bases]
        if not targets:
            return df
        g = self.db.graph()
        tdef = self.db.schema.get(type_name)
        if type_name.lower() not in g.vertex_dfs \
                and tdef.kind != "vertex":
            raise TranslateError(
                f"graph navigation from '{type_name}' needs a vertex type"
            )
        if RID_COL not in df.columns:
            return df
        # reconstruct the graph vid from @rid: live types store the vid
        # as the rid offset; catalog types use (bucket_id << 40) | key
        offset = F.split(F.col(RID_COL), ":").getItem(1).cast("long")
        vid_col = offset if tdef.live else (
            F.lit(tdef.bucket_id * (1 << 40)) + offset
        )
        av = None

        def _hop_pairs(name: str, etypes):
            direction, _k = self._NAV_FNS[name]
            e = g.edges(*etypes) if etypes else g.edges()
            frames = []
            if direction in ("out", "both"):
                frames.append(e.withColumn("__nk", F.col("src"))
                              .withColumn("__nv", F.col("dst")))
            if direction in ("in", "both"):
                frames.append(e.withColumn("__nk", F.col("dst"))
                              .withColumn("__nv", F.col("src")))
            p_ = frames[0]
            for fr in frames[1:]:
                p_ = p_.unionByName(fr)
            return p_

        for i, t in enumerate(targets):
            chain = self._nav_chain(t)
            kind = self._NAV_FNS[chain[-1][0]][1]
            pairs = _hop_pairs(*chain[0])
            if len(chain) > 1:
                # multi-hop chain (out('A').in('B')…): walk hop by hop,
                # keeping the ORIGINAL source key — one equi-join per hop
                if self._NAV_FNS[chain[0][0]][1] != "v":
                    raise TranslateError(
                        "edge-valued navigation can only end a chain"
                    )
                cur = pairs.select(
                    F.col("__nk").alias("__k0"),
                    F.col("__nv").alias("__cur"),
                )
                for name_h, etypes_h in chain[1:-1]:
                    if self._NAV_FNS[name_h][1] != "v":
                        raise TranslateError(
                            "edge-valued navigation can only end a chain"
                        )
                    nh = _hop_pairs(name_h, etypes_h).select(
                        F.col("__nk").alias("__hk"),
                        F.col("__nv").alias("__hv"),
                    )
                    cur = cur.join(
                        nh, F.col("__cur") == F.col("__hk")
                    ).select("__k0", F.col("__hv").alias("__cur"))
                last = _hop_pairs(*chain[-1])
                pairs = cur.join(
                    last.withColumnRenamed("__nk", "__lk"),
                    F.col("__cur") == F.col("__lk"),
                ).drop("__cur", "__lk").withColumnRenamed("__k0", "__nk")
            kname, cname = f"__navk{i}", f"__nav{i}"
            if kind == "v":
                if av is None:
                    av = g.all_vertices_full()
                if av is None:  # empty graph: typed empty frame
                    av = local_df(self.db.spark, [], "vid long, `@type` string")
                ent = F.struct(*[
                    F.col(c) for c in av.columns if not c.startswith("__")
                ])
                nbrs = (
                    pairs.select("__nk", "__nv")
                    .join(av, F.col("__nv") == av["vid"])
                    .groupBy(F.col("__nk").alias(kname))
                    .agg(F.collect_list(ent).alias(cname))
                )
            else:
                ecols = [
                    F.col(c) for c in pairs.columns
                    if not c.startswith(("__", "@"))
                ]
                # edge records carry @rid/@in/@out identity strings
                # (RID-shaped; the hidden @eid provides uniqueness)
                rid_src = F.col("@eid") if "@eid" in pairs.columns else \
                    F.xxhash64("etype", "src", "dst")
                ent = F.struct(
                    *ecols,
                    F.concat(F.lit("#e:"), rid_src.cast("string"))
                    .alias("@rid"),
                    F.concat(F.lit("#g:"), F.col("dst").cast("string"))
                    .alias("@in"),
                    F.concat(F.lit("#g:"), F.col("src").cast("string"))
                    .alias("@out"),
                    # metadata spellings (issue #3571): inE()[0].@type is
                    # the edge type name, @cat is 'e' for edges
                    F.col("etype").alias("@type"),
                    F.lit("e").alias("@cat"),
                )
                nbrs = (
                    pairs.groupBy(F.col("__nk").alias(kname))
                    .agg(F.collect_list(ent).alias(cname))
                )
            empty = F.array().cast(nbrs.schema[cname].dataType)
            df = df.join(
                nbrs, vid_col == F.col(kname), "left"
            ).drop(kname)
            ctx.precompiled[id(t)] = F.coalesce(F.col(cname), empty)
        ctx.columns = tuple(df.columns)
        ctx.frame_schema = df.schema
        return df

    def _attach_edge_endpoint_markers(self, df: DataFrame, exprs,
                                      type_name: str, ctx: Ctx) -> DataFrame:
        """outV()/inV()/bothV() over an EDGE scan
        (function/sql/graph/SQLFunction{OutV,InV,BothV}.java): the
        edge's endpoint vertex record(s) via one equi-join per call."""
        if "src" not in df.columns or "dst" not in df.columns:
            return df
        targets = []
        for e in exprs:
            for node in walk(e):
                if (
                    isinstance(node, ast.FuncCall)
                    and node.name.lower() in ("outv", "inv", "bothv")
                    and not node.args
                    and id(node) not in ctx.precompiled
                    and all(node is not t for t in targets)
                ):
                    targets.append(node)
        if not targets:
            return df
        g = self.db.graph()
        av = g.all_vertices_full()
        if av is None:
            return df
        ent = F.struct(*[
            F.col(c) for c in av.columns if not c.startswith("__")
        ])
        for i, t in enumerate(targets):
            which = t.name.lower()
            kname, cname = f"__epk{i}", f"__ep{i}"
            lk = av.select(F.col("vid").alias(kname), ent.alias(cname))
            if which == "outv":
                df = df.join(lk, df["src"] == F.col(kname), "left")
                ctx.precompiled[id(t)] = F.col(cname)
            elif which == "inv":
                df = df.join(lk, df["dst"] == F.col(kname), "left")
                ctx.precompiled[id(t)] = F.col(cname)
            else:  # bothV: [outV, inV]
                lk2 = av.select(
                    F.col("vid").alias(kname + "b"),
                    ent.alias(cname + "b"),
                )
                df = df.join(lk, df["src"] == F.col(kname), "left").join(
                    lk2, df["dst"] == F.col(kname + "b"), "left"
                ).drop(kname + "b")
                ctx.precompiled[id(t)] = F.array(
                    F.col(cname), F.col(cname + "b")
                )
            df = df.drop(kname)
        ctx.columns = tuple(df.columns)
        ctx.frame_schema = df.schema
        return df

    def translate_select(self, stmt: ast.SelectStmt) -> DataFrame:
        expanded = self._try_expand(stmt)
        if expanded is not None:
            return expanded
        df, type_name = self._resolve_target(stmt.target)
        ctx = Ctx(db=self.db, params=self.params)
        ctx.columns = tuple(df.columns)
        # schemaless reads: a property absent from the scan schema is
        # null, not an analysis error (matters for freshly-created /
        # truncated types whose frame has no data columns yet)
        ctx.frame_schema = df.schema
        ctx.type_name = type_name

        df = self._apply_link_joins(df, stmt, type_name, ctx)
        df = self._attach_nav_markers(df, stmt, type_name, ctx)

        # LET split: global vs per-record (SelectExecutionPlanner.java:745)
        for let in stmt.lets:
            if let.subquery is not None:
                sub = Translator(self.db, self.params).translate(let.subquery)
                ctx.vars[let.name] = VarBinding("df", df=sub)
            else:
                refs = _head_names(let.expr)
                col_refs = refs & set(ctx.columns)
                compiler = ExprCompiler(ctx)
                c = compiler.compile(let.expr)
                if col_refs:
                    internal = f"__let_{let.name}"
                    df = df.withColumn(internal, c)
                    ctx.columns = tuple(df.columns)
                    ctx.vars[let.name] = VarBinding("col", col=F.col(internal))
                else:
                    ctx.vars[let.name] = VarBinding("col", col=c)

        # WHERE — conjunct-level IN-subquery → semi/anti join
        if stmt.where is not None:
            residual: list[ast.Expr] = []
            for conj in _split_conjuncts(stmt.where):
                df, handled = self._try_semi_join(df, conj, ctx)
                if not handled:
                    residual.append(conj)
            if residual:
                df, in_helpers = self._prejoin_nested_in(df, residual, ctx)
                compiler = ExprCompiler(ctx)
                cond = compiler.compile(residual[0])
                for c in residual[1:]:
                    cond = cond & compiler.compile(c)
                df = df.filter(cond)
                if in_helpers:
                    df = df.drop(*in_helpers)

        # ts.* window functions make this a per-row query; GROUP BY keys
        # become the Window partition instead of aggregation keys
        has_ts_window = any(
            isinstance(n, ast.Method)
            and isinstance(n.base, ast.Chain)
            and len(n.base.parts) == 1
            and f"{n.base.parts[0].lower()}.{n.name.lower()}" in TS_WINDOW
            for p in stmt.projections
            for n in walk(p.expr)
        )
        if has_ts_window:
            key_compiler = ExprCompiler(ctx)
            ctx.ts_partition = [key_compiler.compile(g) for g in stmt.group_by]

        # Aggregate?
        is_agg = not has_ts_window and (
            any(_contains_aggregate(p.expr) for p in stmt.projections)
            or bool(stmt.group_by)
            or getattr(stmt, "having", None) is not None
        )
        if is_agg:
            df = self._translate_aggregate(df, stmt, ctx)
        else:
            df = self._translate_plain(df, stmt, ctx)

        # UNWIND
        for uw in stmt.unwind:
            name = uw.alias
            if name is None and isinstance(uw.expr, ast.Chain):
                name = uw.expr.parts[-1]
            if name is None:
                name = f"unwind{next(self._uid)}"
            col = ExprCompiler(Ctx(db=self.db, params=self.params, columns=tuple(df.columns))).compile(uw.expr)
            df = df.withColumn(name, F.explode_outer(col))

        if stmt.skip is not None:
            df = df.offset(self._int_of(stmt.skip, ctx))
        if stmt.limit is not None:
            df = df.limit(self._int_of(stmt.limit, ctx))
        return df

    def _int_of(self, e: ast.Expr, ctx: Ctx) -> int:
        col = ExprCompiler(ctx).compile(e)
        v = value_of(col)
        if v is None:
            # constant expression that isn't a plain literal (e.g.
            # SKIP toInteger(rand()*9)): evaluate once on a 1-row plan.
            # Expressions over frame variables are rejected by compile()
            # above (no columns resolve), so this stays constant-only.
            try:
                v = self.db.spark.range(1).select(
                    col.alias("v")
                ).head()[0]
            except Exception:
                raise TranslateError("SKIP/LIMIT must be a constant")
        if isinstance(v, float) or isinstance(e, ast.Lit) and isinstance(
            e.value, float
        ):
            raise TranslateError(
                "InvalidArgumentType: SKIP/LIMIT must be an integer"
            )
        try:
            return int(v)
        except (TypeError, ValueError):
            # non-numeric constant (e.g. SKIP over a frame variable that
            # compiled to a non-constant) — NonConstantExpression
            raise TranslateError(
                "SKIP/LIMIT must be a constant non-negative integer "
                f"(got {type(v).__name__}) — NonConstantExpression"
            ) from None

    def _try_semi_join(
        self, df: DataFrame, conj: ast.Expr, ctx: Ctx
    ) -> tuple[DataFrame, bool]:
        """IN (subquery) / IN $letvar at conjunct level → semi/anti join.

        At 100 TB this is the only scalable form — the fallback in
        ExprCompiler._c_in materializes values driver-side.
        """
        e = conj
        negated = False
        if isinstance(e, ast.Unary) and e.op == "NOT":
            e = e.operand
            negated = True
        # full-text predicates: WHERE search_fields(['f'], 'q') /
        # search_index('Type[f]', 'q')  (SQLFunctionSearchIndex.java)
        if isinstance(e, ast.FuncCall) and e.name.lower() in (
            "search_fields", "search_index", "search_class",
        ):
            return self._fulltext_filter(df, e, negated, ctx), True
        if not isinstance(e, ast.In):
            return df, False
        negated = negated != e.negated
        sub_df = None
        if e.subquery is not None:
            sub_df = Translator(self.db, self.params).translate(e.subquery)
        elif e.collection is not None and isinstance(e.collection, ast.Var):
            b = ctx.vars.get(e.collection.name)
            if b is not None and b.kind == "df":
                sub_df = b.df
        if sub_df is None:
            return df, False
        if len(sub_df.columns) != 1:
            raise TranslateError("IN subquery must project exactly one column")
        needle = ExprCompiler(ctx).compile(e.needle)
        sub_alias = f"__in{next(self._uid)}"
        # Rename the subquery's single output column to the generated alias
        # BEFORE the semi-join: an outer column with the same name (the
        # default `x IN (SELECT x ...)` shape — InConditionSubqueryTest.java
        # :74-120) would otherwise make the join condition ambiguous.
        sub_df = sub_df.select(F.col(sub_df.columns[0]).alias(sub_alias))
        how = "left_anti" if negated else "left_semi"
        return df.join(sub_df, needle == F.col(sub_alias), how), True

    def _prejoin_nested_in(
        self, df: DataFrame, residual: list[ast.Expr], ctx: Ctx
    ) -> tuple[DataFrame, list[str]]:
        """Rewrite OR/NOT-nested ``x IN (subquery)`` / ``x IN $dfvar`` to
        left-join marker columns (never a driver-side ``collect``).

        For each nested IN node: the distinct non-null subquery values are
        left-joined on the needle expression; a broadcast 1-row aggregate
        carries (row count, null count) so the marker reproduces exact
        three-valued IN semantics:

            matched                         → TRUE
            empty subquery                  → FALSE
            null needle / nulls in subquery → NULL  (filters ⊥ under NOT)
            otherwise                       → FALSE

        Conjunct-level IN-subqueries never reach this path — they become
        semi/anti joins in _try_semi_join.  Returns (joined df, helper
        column names to drop after the filter).
        """
        helpers: list[str] = []
        for conj in residual:
            for node in walk(conj):
                if not isinstance(node, ast.In) or id(node) in ctx.precompiled:
                    continue
                sub_df = None
                if node.subquery is not None:
                    sub_df = Translator(self.db, self.params).translate(node.subquery)
                elif node.collection is not None and isinstance(node.collection, ast.Var):
                    b = ctx.vars.get(node.collection.name)
                    if b is not None and b.kind == "df":
                        sub_df = b.df
                if sub_df is None:
                    continue
                if len(sub_df.columns) != 1:
                    raise TranslateError("IN subquery must project exactly one column")
                uid = next(self._uid)
                ncol, vcol, fcol = f"__in_n{uid}", f"__in_v{uid}", f"__in_f{uid}"
                ccol, nullcol = f"__in_c{uid}", f"__in_z{uid}"
                needle = ExprCompiler(ctx).compile(node.needle)
                key = F.col(sub_df.columns[0])
                stats = sub_df.select(
                    F.count(F.lit(1)).alias(ccol),
                    F.count_if(key.isNull()).alias(nullcol),
                )
                matches = (
                    sub_df.filter(key.isNotNull())
                    .select(key.alias(vcol))
                    .distinct()
                    .withColumn(fcol, F.lit(True))
                )
                df = (
                    df.withColumn(ncol, needle)
                    .crossJoin(F.broadcast(stats))
                    .join(matches, F.col(ncol) == F.col(vcol), "left")
                )
                cond = (
                    F.when(F.col(fcol).isNotNull(), F.lit(True))
                    .when(F.col(ccol) == 0, F.lit(False))
                    .when(
                        F.col(ncol).isNull() | (F.col(nullcol) > 0),
                        F.lit(None).cast("boolean"),
                    )
                    .otherwise(F.lit(False))
                )
                ctx.precompiled[id(node)] = ~cond if node.negated else cond
                helpers += [ncol, vcol, fcol, ccol, nullcol]
        return df, helpers

    def _fulltext_filter(
        self, df: DataFrame, e: ast.FuncCall, negated: bool, ctx: Ctx
    ) -> DataFrame:
        """BM25 full-text predicate → semi/anti join on matching rows.

        The inverted-index build + scoring is the DataFrame pipeline of
        text/fulltext.py; "the index" is virtual (index/fulltext/
        LSMTreeFullTextIndex.java is replaced by scan-time scoring — at
        100 TB the postings frame would be persisted and reused).
        """
        from arcadedb_spark.text.fulltext import bm25_search

        name = e.name.lower()
        if name == "search_class":
            # search_class(query): use the target type's full-text index
            # (SQLFunctionSearchClass semantics)
            idx = next(
                (
                    m for m in self.db.schema.indexes.values()
                    if ctx.type_name
                    and m["type"].lower() == ctx.type_name.lower()
                    and m.get("kind") in ("full_text", "fulltext")
                ),
                None,
            )
            if idx is None:
                raise TranslateError(
                    f"No full-text index registered for type {ctx.type_name!r}"
                )
            fields = list(idx["props"])
            query_arg = e.args[0]
        elif name == "search_index":
            if len(e.args) < 2 or not isinstance(e.args[0], ast.Lit):
                raise TranslateError("search_index(indexName, query) expected")
            idx = self.db.schema.indexes.get(str(e.args[0].value))
            if idx is None:
                raise TranslateError(f"Unknown index '{e.args[0].value}'")
            fields = list(idx["props"])
            query_arg = e.args[1]
        else:
            if len(e.args) < 2 or not isinstance(e.args[0], ast.ArrayLit):
                raise TranslateError("search_fields(['f'], query) expected")
            fields = [
                a.value for a in e.args[0].items if isinstance(a, ast.Lit)
            ]
            query_arg = e.args[1]
        if not isinstance(query_arg, ast.Lit):
            raise TranslateError("full-text query must be a literal string")
        text_col = (
            F.col(fields[0])
            if len(fields) == 1
            else F.concat_ws(" ", *[F.col(f_) for f_ in fields])
        )
        base = df.withColumn("__ft_text", text_col)
        hits = bm25_search(base, RID_COL, "__ft_text", str(query_arg.value))
        hit_ids = hits.select(F.col("doc_id").alias("__ft_rid"))
        how = "left_anti" if negated else "left_semi"
        return df.join(hit_ids, F.col(RID_COL) == F.col("__ft_rid"), how)

    # -- plain (non-aggregate) projection -----------------------------------
    def _proj_name(self, item: ast.ProjItem, i: int) -> str:
        if item.alias:
            return item.alias
        if item.text:
            # Cypher: unaliased result columns are named by the verbatim
            # expression text (openCypher TCK result-table headers)
            return item.text
        e = item.expr
        if isinstance(e, ast.Chain):
            return e.parts[-1]
        if isinstance(e, ast.FuncCall):
            return e.name
        if isinstance(e, ast.Method):
            return e.name
        return f"_expr{i}"

    def _translate_plain(self, df: DataFrame, stmt: ast.SelectStmt, ctx: Ctx) -> DataFrame:
        projections = list(stmt.projections)
        excluded = {
            p.expr.operand.parts[0].lower()
            for p in projections
            if isinstance(p.expr, ast.Unary) and p.expr.op == "EXCLUDE"
        }
        if excluded:
            # SELECT *, !secret — drop the excluded columns from the
            # star expansion (metadata spellings like !@rid are already
            # hidden by the star rule)
            projections = [
                p for p in projections
                if not (isinstance(p.expr, ast.Unary)
                        and p.expr.op == "EXCLUDE")
            ]
            df = df.drop(*[
                c for c in df.columns if c.lower() in excluded
            ])
            ctx.columns = tuple(df.columns)
            ctx.frame_schema = df.schema
        star_only = not projections or (
            len(projections) == 1 and isinstance(projections[0].expr, ast.Star)
        )
        compiler = ExprCompiler(ctx)

        if star_only:
            # `SELECT *` / `SELECT FROM t`: all data columns, metadata hidden
            out_cols = [c for c in df.columns if not c.startswith(("__", "@"))]
            proj_cols = [F.col(c) for c in out_cols]
            out_names = out_cols
        else:
            proj_cols = []
            out_names = []
            for i, p in enumerate(projections):
                if isinstance(p.expr, ast.Star):
                    for c in df.columns:
                        if not c.startswith(("__", "@")):
                            proj_cols.append(F.col(c))
                            out_names.append(c)
                    continue
                name = self._proj_name(p, i)
                proj_cols.append(compiler.compile(p.expr).alias(name))
                out_names.append(name)

        # ORDER BY: sort on projected names when possible, else hidden cols
        # (the reference adds "hidden projections" the same way,
        # SelectExecutionPlanner.java:799)
        hidden: list[Column] = []
        hidden_names: list[str] = []
        sort_cols: list[Column] = []

        def _cy_temporal_field(name: str) -> bool:
            fs = ctx.frame_schema
            if fs is None:
                return False
            f_ = next((f for f in fs.fields if f.name == name), None)
            return bool(f_ is not None and f_.metadata.get("cy_temporal"))

        proj_exprs = {
            (p.alias or getattr(p, "text", None)): p.expr
            for p in stmt.projections
        }
        hidden_exprs: list[ast.Expr] = []
        # sort plan: (projected name | hidden name, ascending, temporal)
        sort_plan: list[tuple[str, bool, bool]] = []
        for oi in stmt.order_by:
            expr = oi.expr
            temporal = False
            name = None
            if (
                isinstance(expr, ast.Chain)
                and len(expr.parts) == 1
                and expr.parts[0] in out_names
            ):
                name = expr.parts[0]
            else:
                # ORDER BY the defining expression of a projected alias
                # (WITH DISTINCT a.name AS name ORDER BY a.name) — AST
                # nodes are frozen dataclasses, structural equality
                for n, src in proj_exprs.items():
                    if n in out_names and src == expr:
                        name = n
                        break
            if name is not None:
                temporal = _cy_temporal_field(name)
                if not temporal and ctx.cypher_order:
                    from pyspark.sql.types import StringType

                    src = proj_exprs.get(name)
                    if src is not None and isinstance(
                        compiler._static_dtype(src), StringType
                    ):
                        # stored temporal values are strings: add an
                        # instant key, tie-broken by the string itself
                        temporal = True
                sort_plan.append((name, self._asc_of(oi), temporal))
            else:
                if ctx.cypher_order:
                    # ORDER BY rel.id where rel is a RETURN alias:
                    # substitute output aliases with their defining
                    # expressions (the sort compiles against the
                    # pre-projection frame — TCK With3[1])
                    alias_map9 = {
                        p.alias: p.expr for p in stmt.projections
                        if p.alias and not isinstance(p.expr, ast.Star)
                        and p.alias not in ctx.columns
                    }
                    if alias_map9:
                        expr = _subst_alias_refs(expr, alias_map9)
                hname = f"__ord{next(self._uid)}"
                hidden.append(compiler.compile(expr).alias(hname))
                hidden_exprs.append(expr)
                hidden_names.append(hname)
                if ctx.cypher_order:
                    from pyspark.sql.types import StringType

                    temporal = isinstance(
                        compiler._static_dtype(expr), StringType
                    )
                sort_plan.append((hname, self._asc_of(oi), temporal))

        if hidden and stmt.distinct:
            # Cypher: DISTINCT then ORDER BY over expressions of the
            # projected columns only — dedupe first, recompile the sort
            # expressions against the distinct frame
            df = _safe_distinct(df.select(*proj_cols))
            ctx2 = Ctx(
                db=ctx.db, params=ctx.params,
                columns=tuple(df.columns), frame_schema=df.schema,
                cypher_order=ctx.cypher_order,
            )
            c2 = ExprCompiler(ctx2)
            try:
                hidden2 = [
                    c2.compile(e).alias(h)
                    for e, h in zip(hidden_exprs, hidden_names)
                ]
                df = df.select("*", *hidden2)
            except Exception:
                raise TranslateError(
                    "ORDER BY with DISTINCT may only reference projected"
                    " columns"
                )
        elif hidden and ctx.cypher_order:
            # Cypher ORDER BY scope: projection aliases shadow the match
            # variables (RETURN n.num AS n ORDER BY n + 2 sorts on the
            # number).  Compile sort expressions against a frame where the
            # aliases overlay the non-shadowed input columns; fall back to
            # the input frame when they reference dropped variables only.
            keep = [c for c in df.columns if c not in out_names]
            base = df.select(*[F.col(c) for c in keep], *proj_cols)
            ctx2 = Ctx(
                db=ctx.db, params=ctx.params,
                columns=tuple(base.columns), frame_schema=base.schema,
                cypher_order=True,
            )
            c2 = ExprCompiler(ctx2)
            try:
                hidden2 = [
                    c2.compile(e).alias(h)
                    for e, h in zip(hidden_exprs, hidden_names)
                ]
                df = base.select(*[F.col(n) for n in out_names], *hidden2)
            except Exception:
                df = df.select(*proj_cols, *hidden)
        else:
            df = df.select(*proj_cols, *hidden)
            if stmt.distinct:
                df = _safe_distinct(df)
        for name, ascending, temporal in sort_plan:
            # exact-name resolution: an unaliased projection is NAMED by
            # its verbatim text ("p.name"), and a bare F.col would parse
            # the dot as struct navigation — against an empty-label match
            # frame the struct lacks the field and analysis fails
            c = F.col(f"`{name}`") if "." in name else F.col(name)
            if ctx.cypher_order:
                from pyspark.sql.types import ArrayType as _AT
                from pyspark.sql.types import VariantType as _VT

                f_ = next(
                    (f for f in df.schema.fields if f.name == name), None
                )
                if f_ is not None and (
                    isinstance(f_.dataType, _VT)
                    or (
                        isinstance(f_.dataType, _AT)
                        and isinstance(f_.dataType.elementType, _VT)
                    )
                ):
                    # heterogeneous values: openCypher global sort order
                    c = _variant_sort_key_col(c)
            if temporal:
                # canonical temporal strings order by instant (sort-key
                # kernel), tie-broken by the rendered string
                key = _temporal_sort_key_col(c)
                sort_cols.append(key.asc() if ascending else key.desc())
            sort_cols.append(c.asc() if ascending else c.desc())
        if sort_cols:
            df = df.orderBy(*sort_cols)
        if hidden:
            df = df.drop(*hidden_names)
        return df

    # -- aggregate projection ------------------------------------------------
    def _translate_aggregate(self, df: DataFrame, stmt: ast.SelectStmt, ctx: Ctx) -> DataFrame:
        compiler = ExprCompiler(ctx)
        # GROUP BY may reference a projection alias (GROUP BY name where
        # `c.c_name AS name` is projected) — substitute the defining expr.
        alias_map = {
            p.alias: p.expr for p in stmt.projections if p.alias is not None
        }
        # 1) group keys compiled pre-agg
        key_cols: list[Column] = []
        for i, g in enumerate(stmt.group_by):
            name = f"__gk{i}"
            resolved = g
            if (
                isinstance(g, ast.Chain)
                and len(g.parts) == 1
                and g.parts[0] not in ctx.columns
                and g.parts[0] in alias_map
            ):
                resolved = alias_map[g.parts[0]]
                ctx.group_map[resolved] = name
            key_cols.append(compiler.compile(resolved).alias(name))
            ctx.group_map[g] = name
        # 2) compile projections in agg mode: aggregates become __aggN refs
        ctx.agg_mode = True
        post_exprs: list[Column] = []  # aliased, for the final select
        bare_exprs: list[Column] = []  # unaliased copies, usable in orderBy
        out_names: list[str] = []
        for i, p in enumerate(stmt.projections):
            name = self._proj_name(p, i)
            if ctx.cypher_order and _contains_aggregate(p.expr):
                _validate_agg_mixed(p.expr, stmt)
            bare = compiler.compile(p.expr)
            bare_exprs.append(bare)
            post_exprs.append(bare.alias(name))
            out_names.append(name)

        having_col = None
        if getattr(stmt, "having", None) is not None:
            # HAVING compiles in agg mode AFTER the projections so its
            # aggregates land in ctx.agg_cols; alias references resolve
            # to their defining expressions (HAVING avg_price > 100)
            having_col = compiler.compile(
                _subst_alias_refs(stmt.having, alias_map)
            )

        if key_cols:
            grouped = df.groupBy(*key_cols)
        else:
            grouped = df.groupBy()
        if not ctx.agg_cols:
            # GROUP BY without aggregates == DISTINCT on keys
            agged = grouped.agg(F.count(F.lit(1)).alias("__cnt"))
        else:
            agged = grouped.agg(*ctx.agg_cols)
        if having_col is not None:
            agged = agged.filter(having_col)

        # ORDER BY over the agged frame (where __gk/__agg live).  An alias
        # reference sorts by that projection's defining expression.
        sort_cols: list[Column] = []
        for oi in stmt.order_by:
            expr = oi.expr
            if (
                isinstance(expr, ast.Chain)
                and len(expr.parts) == 1
                and expr.parts[0] in out_names
            ):
                c = bare_exprs[out_names.index(expr.parts[0])]
            else:
                if ctx.cypher_order and _contains_aggregate(expr):
                    # ORDER BY age + count(you.age): substitute projected
                    # aliases with their defining expressions so group-key
                    # lookup resolves, then reject references that aren't
                    # projected grouping keys (openCypher
                    # AmbiguousAggregationExpression / UndefinedVariable)
                    expr = _subst_alias_refs(expr, alias_map)
                    _validate_agg_mixed(expr, stmt)
                c = compiler.compile(expr)  # agg-mode: resolves via maps
            sort_cols.append(c.asc() if self._asc_of(oi) else c.desc())

        if sort_cols:
            agged = agged.orderBy(*sort_cols)
        out = agged.select(*post_exprs)
        if stmt.distinct:
            out = _safe_distinct(out)
        return out


def translate(db, stmt: ast.Statement, params: dict | None = None) -> DataFrame:
    return Translator(db, params).translate(stmt)
