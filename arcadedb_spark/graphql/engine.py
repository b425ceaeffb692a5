"""GraphQL query-language skin.

Parity: graphql/src/main/java/com/arcadedb/graphql/query/
GraphQLQueryEngine.java and the behaviors pinned by
graphql/src/test/java/com/arcadedb/graphql/GraphQLBasicTest.java:
- ``command('graphql', typeDefs)`` registers an SDL schema: a
  ``type Query`` whose fields declare entry points (argument equality
  lookups, or a ``@sql(statement: "…")`` directive with ``:param``
  binding), and object types whose fields may carry
  ``@relationship(type: "EDGE", direction: IN|OUT|BOTH)``.
- ``query('graphql', '{ field(args) { selection } }')`` resolves the
  entry point; no selection set → every scalar field of the type;
  nested relationship selections resolve through the graph's edge
  frames; undeclared argument names raise (bookByNameWrongParams).
- a ``where: "<sql expr>"`` argument filters with the SQL dialect's
  expression compiler.

Spark shape: the entry point is a filtered scan of the type's
DataFrame; each nested relationship selection is ONE edge join + ONE
groupBy/collect_list (not a per-row lookup), so N-row results resolve
relationships in two shuffles regardless of N.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arcadedb_spark.session import local_df


@dataclass
class GQLField:
    name: str
    type_name: str
    is_list: bool = False
    args: tuple = ()  # declared argument names
    rel_type: str | None = None  # @relationship
    rel_direction: str = "OUT"
    sql: str | None = None  # @sql(statement: …)


@dataclass
class GQLType:
    name: str
    fields: dict = field(default_factory=dict)


_TYPE_RE = re.compile(r"type\s+(\w+)\s*\{([^}]*)\}", re.DOTALL)
_FIELD_RE = re.compile(
    r"(\w+)\s*(?:\(([^)]*)\))?\s*:\s*(\[?)\s*(\w+)\s*!?\s*\]?\s*!?\s*"
    r"((?:@\w+\s*(?:\([^)]*\))?\s*)*)"
)
_DIRECTIVE_RE = re.compile(r"@(\w+)\s*(?:\(([^)]*)\))?")


def parse_typedefs(text: str) -> dict[str, GQLType]:
    """SDL subset → type registry (GraphQLParserSchemaTest shapes)."""
    types: dict[str, GQLType] = {}
    for m in _TYPE_RE.finditer(text):
        t = GQLType(m.group(1))
        for fm in _FIELD_RE.finditer(m.group(2)):
            name, rawargs, bracket, ftype, directives = fm.groups()
            f = GQLField(
                name=name, type_name=ftype, is_list=bracket == "[",
                args=tuple(
                    a.split(":")[0].strip()
                    for a in (rawargs or "").split(",") if a.strip()
                ),
            )
            for dm in _DIRECTIVE_RE.finditer(directives or ""):
                dname, dargs = dm.group(1), dm.group(2) or ""
                kv = dict(
                    (p.split(":", 1)[0].strip(),
                     p.split(":", 1)[1].strip().strip('"'))
                    for p in _split_args(dargs) if ":" in p
                )
                if dname == "relationship":
                    f.rel_type = kv.get("type")
                    f.rel_direction = kv.get("direction", "OUT").upper()
                elif dname == "sql":
                    f.sql = kv.get("statement")
            t.fields[name] = f
        types[t.name] = t
    return types


def _split_args(s: str) -> list[str]:
    """Split on commas outside quotes."""
    out, cur, q = [], [], False
    for c in s:
        if c == '"':
            q = not q
            cur.append(c)
        elif c == "," and not q:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    if cur:
        out.append("".join(cur))
    return out


# -- query document ----------------------------------------------------------


_QFIELD_RE = re.compile(r"(\w+)\s*(?:\(([^)]*)\))?")


def _parse_selection(text: str, pos: int) -> tuple[list, int]:
    """Parse `{ field [args] [subselection] … }` starting at `{`."""
    assert text[pos] == "{"
    pos += 1
    out = []
    while True:
        while pos < len(text) and text[pos] in " \t\r\n,":
            pos += 1
        if pos >= len(text):
            raise ValueError("Unterminated selection set")
        if text[pos] == "}":
            return out, pos + 1
        m = _QFIELD_RE.match(text, pos)
        if not m:
            raise ValueError(f"Bad GraphQL at: {text[pos:pos+20]!r}")
        name, rawargs = m.group(1), m.group(2)
        pos = m.end()
        while pos < len(text) and text[pos] in " \t\r\n":
            pos += 1
        # skip field directives like @rid
        while pos < len(text) and text[pos] == "@":
            dm = _DIRECTIVE_RE.match(text, pos)
            pos = dm.end()
            while pos < len(text) and text[pos] in " \t\r\n":
                pos += 1
        sub = None
        if pos < len(text) and text[pos] == "{":
            sub, pos = _parse_selection(text, pos)
        out.append({"name": name, "args": _parse_arg_values(rawargs), "sel": sub})


def _parse_arg_values(raw: str | None) -> dict:
    if not raw:
        return {}
    vals = {}
    for part in _split_args(raw):
        if ":" not in part:
            raise ValueError(f"Bad GraphQL argument: {part!r}")
        k, v = part.split(":", 1)
        v = v.strip()
        if v.startswith('"') and v.endswith('"'):
            vals[k.strip()] = v[1:-1]
        elif v in ("true", "false"):
            vals[k.strip()] = v == "true"
        elif re.fullmatch(r"-?\d+", v):
            vals[k.strip()] = int(v)
        elif re.fullmatch(r"-?\d+\.\d+", v):
            vals[k.strip()] = float(v)
        else:
            vals[k.strip()] = v
    return vals


# -- execution ---------------------------------------------------------------


def graphql_command(db, typedefs: str) -> DataFrame:
    """Register the SDL schema (GraphQLBasicTest: command('graphql', …))."""
    types = parse_typedefs(typedefs)
    if "Query" not in types:
        raise ValueError("GraphQL schema needs a 'type Query'")
    db._graphql_types = types
    return local_df(db.spark, [(len(types),)], "types long")


def _scalar_fields(db, t: GQLType) -> list[str]:
    return [f.name for f in t.fields.values() if f.rel_type is None]


def _resolve_relationship(db, base: DataFrame, fld: GQLField, sel, types) -> DataFrame:
    """One edge join + one collect_list groupBy — attaches an array-of-
    structs column ``fld.name`` to ``base`` (keyed by vid)."""
    g = db.graph()
    e = g.edges(fld.rel_type)
    if fld.rel_direction == "IN":
        edge = e.select(F.col("dst").alias("__b"), F.col("src").alias("__t"))
    elif fld.rel_direction == "BOTH":
        edge = e.select(F.col("src").alias("__b"), F.col("dst").alias("__t")).unionByName(
            e.select(F.col("dst").alias("__b"), F.col("src").alias("__t"))
        )
    else:
        edge = e.select(F.col("src").alias("__b"), F.col("dst").alias("__t"))
    target_type = types.get(fld.type_name)
    target = g.vertices(fld.type_name)
    cols = (
        [s["name"] for s in sel] if sel else _scalar_fields(db, target_type)
        if target_type else [c for c in target.columns if c != "vid"]
    )
    related = (
        edge.join(target, edge["__t"] == target["vid"], "inner")
        .groupBy("__b")
        .agg(F.collect_list(F.struct(*[F.col(c) for c in cols])).alias(fld.name))
    )
    return base.join(related, base["vid"] == related["__b"], "left").drop("__b")


def graphql_query(db, text: str) -> DataFrame:
    """Execute a GraphQL query document → DataFrame."""
    types = getattr(db, "_graphql_types", None)
    if types is None:
        raise ValueError(
            "No GraphQL schema registered — run command(typedefs, language='graphql')"
        )
    s = text.strip()
    if s.startswith("query"):
        s = s[s.index("{"):]
    sel, _ = _parse_selection(s, s.index("{"))
    if len(sel) != 1:
        raise ValueError("Exactly one root field per GraphQL query")
    root = sel[0]
    qtype = types["Query"]
    fld = qtype.fields.get(root["name"])
    if fld is None:
        raise ValueError(f"Unknown Query field '{root['name']}'")
    for arg in root["args"]:
        if arg not in fld.args:
            raise ValueError(
                f"Argument '{arg}' not declared on {root['name']}"
            )
    if fld.sql is not None:
        df = db.query(fld.sql, **root["args"])
    else:
        g = db.graph()
        if fld.type_name.lower() in g.vertex_dfs:
            df = g.vertices(fld.type_name)  # carries vid for @relationship
        else:
            df = db.schema.table(fld.type_name)
        for k, v in root["args"].items():
            if k == "where":
                from arcadedb_spark.sql.parser import parse_expression
                from arcadedb_spark.sql.translator import Ctx, ExprCompiler

                ctx = Ctx(db=db, params={}, columns=tuple(df.columns))
                df = df.filter(
                    ExprCompiler(ctx).compile(parse_expression(str(v)))
                )
            else:
                df = df.filter(F.col(k) == F.lit(v))
    ttype = types.get(fld.type_name)
    selection = root["sel"]
    if selection is None:
        # no selection set → all scalar fields (allBooks shape)
        if ttype is not None:
            return df.select(*_scalar_fields(db, ttype))
        return df
    rel_fields = []
    plain = []
    for item in selection:
        f = ttype.fields.get(item["name"]) if ttype else None
        if f is not None and f.rel_type is not None:
            rel_fields.append((f, item["sel"]))
        elif item["name"] == "rid":
            plain.append("@rid") if "@rid" in df.columns else plain.append("vid")
        else:
            plain.append(item["name"])
    if rel_fields and "vid" not in df.columns:
        raise ValueError("@relationship fields need a graph-registered type")
    for f, sub in rel_fields:
        df = _resolve_relationship(db, df, f, sub, types)
    return df.select(*plain, *[f.name for f, _ in rel_fields])
