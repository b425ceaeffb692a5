"""Type catalog: the Spark analog of the reference schema layer.

Reference mapping (paths under /root/reference/engine/src/main/java/com/arcadedb/):
- ``schema/LocalSchema.java`` / ``schema/DocumentType.java`` — a *type* owns
  buckets and may inherit from supertypes.  Here a type is a named, lazily
  loaded DataFrame; inheritance is a union of the subtype DataFrames.
- ``database/RID.java:40-47`` — record identity ``#bucketId:offset``.  We
  synthesize a deterministic ``@rid`` from a per-type bucket id plus a
  natural-key offset (stable across rewrites, unlike file offsets).
- ``engine/LocalBucket.java:75`` — physical row pages.  Our "bucket" is the
  set of parquet files backing the type; ``bucket_id`` is a virtual column.

Scale note: ``@rid`` / ``@type`` are computed expressions, not materialized
columns — Catalyst's column pruning removes them from the parquet scan when
a query does not reference them, so metadata costs nothing at 100 TB.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arcadedb_spark.session import local_df

RID_COL = "@rid"
TYPE_COL = "@type"


@dataclass
class TypeDef:
    """Schema entry for one document/vertex/edge type."""

    name: str
    kind: str  # 'document' | 'vertex' | 'edge'
    bucket_id: int
    loader: Callable[[], DataFrame]
    key: str | None = None  # natural-key column used for the RID offset
    parents: tuple[str, ...] = ()
    properties: dict[str, str] = field(default_factory=dict)  # declared props
    _df: DataFrame | None = None
    # live types delegate storage to the property graph (one record store
    # under both the SQL and Cypher surfaces — QueryEngineManager.java:60):
    # df() re-reads the graph frame every call so writes from EITHER
    # surface are immediately visible to the other.
    live: bool = False

    def df(self) -> DataFrame:
        if self.live:
            return self.loader()
        if self._df is None:
            self._df = self.loader()
        return self._df


class Catalog:
    """Registry of types; resolves a type name to its DataFrame.

    Mirrors ``schema/LocalSchema.java`` (type registry + inheritance) and the
    virtual ``schema:`` targets of
    ``query/sql/executor/FetchFromSchemaTypesStep.java:48``.
    """

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self._types: dict[str, TypeDef] = {}
        self._next_bucket = 1
        # index registry: name → {type, props, kind}.  Indexes are
        # execution no-ops on Spark (scan+pushdown replaces them) but
        # full-text entries resolve search_index() to their fields.
        self.indexes: dict[str, dict] = {}
        # named buckets (engine/LocalBucket.java; CREATE BUCKET /
        # CREATE TYPE … BUCKET b1,b2): name → {owner: type-name|None,
        # bucket_id, df: DataFrame|None}.  A bucket is a named
        # horizontal slice of its owner type — at scale it maps to a
        # partition directory; here to a per-bucket frame unioned into
        # the type scan.
        self.named_buckets: dict[str, dict] = {}

    def register_bucket(self, name: str, owner: str | None = None) -> dict:
        meta = self.named_buckets.get(name.lower())
        if meta is None:
            meta = {"name": name, "owner": owner, "bucket_id": self._next_bucket,
                    "df": None}
            self._next_bucket += 1
            self.named_buckets[name.lower()] = meta
        elif owner is not None:
            meta["owner"] = owner
        return meta

    def _bucket_frame(self, bname: str, tdef: TypeDef) -> DataFrame | None:
        meta = self.named_buckets.get(bname.lower())
        if meta is None or meta["df"] is None:
            return None
        rid = F.concat(
            F.lit(f"#{meta['bucket_id']}:"),
            F.monotonically_increasing_id().cast("string"),
        )
        return meta["df"].withColumn(RID_COL, rid).withColumn(
            TYPE_COL, F.lit(tdef.name)
        )

    # -- registration -----------------------------------------------------
    def register(
        self,
        name: str,
        loader: Callable[[], DataFrame] | DataFrame,
        kind: str = "document",
        key: str | None = None,
        parents: tuple[str, ...] = (),
    ) -> TypeDef:
        if isinstance(loader, DataFrame):
            df = loader
            loader = lambda df=df: df  # noqa: E731
        tdef = TypeDef(
            name=name,
            kind=kind,
            bucket_id=self._next_bucket,
            loader=loader,
            key=key,
            parents=parents,
        )
        self._next_bucket += 1
        self._types[name.lower()] = tdef
        return tdef

    def drop(self, name: str) -> None:
        self._types.pop(name.lower(), None)

    def get(self, name: str) -> TypeDef:
        try:
            return self._types[name.lower()]
        except KeyError:
            raise KeyError(f"Type '{name}' not found in schema") from None

    def exists(self, name: str) -> bool:
        return name.lower() in self._types

    def names(self) -> list[str]:
        return [t.name for t in self._types.values()]

    def subtypes(self, name: str) -> list[TypeDef]:
        """Direct + transitive subtypes of ``name`` (inheritance closure)."""
        out: list[TypeDef] = []
        target = name.lower()
        for t in self._types.values():
            stack = [p.lower() for p in t.parents]
            seen = set()
            while stack:
                p = stack.pop()
                if p in seen:
                    continue
                seen.add(p)
                if p == target:
                    out.append(t)
                    break
                if p in self._types:
                    stack.extend(q.lower() for q in self._types[p].parents)
        return out

    # -- resolution -------------------------------------------------------
    def _with_metadata(self, tdef: TypeDef) -> DataFrame:
        df = tdef.df()
        if tdef.live and "vid" in df.columns:
            # graph-backed type: record identity IS the graph vid, stable
            # across both surfaces (SQL @rid ↔ Cypher node identity)
            rid = F.concat(
                F.lit(f"#{tdef.bucket_id}:"), F.col("vid").cast("string")
            )
            out = df.withColumn(RID_COL, rid)
            if TYPE_COL not in out.columns:
                out = out.withColumn(TYPE_COL, F.lit(tdef.name))
            return out.drop("vid")
        if tdef.live and "@eid" in df.columns:
            # graph-backed edge type: identity from the hidden edge id
            rid = F.concat(
                F.lit(f"#{tdef.bucket_id}:"), F.col("@eid").cast("string")
            )
            return df.withColumn(RID_COL, rid).withColumn(
                TYPE_COL, F.lit(tdef.name)
            ).drop("@eid")
        if tdef.key is not None and tdef.key in df.columns:
            offset = F.col(tdef.key).cast("long")
        else:
            # No natural key: fall back to a partition-stable synthetic id.
            offset = F.monotonically_increasing_id()
        rid = F.concat(F.lit(f"#{tdef.bucket_id}:"), offset.cast("string"))
        return df.withColumn(RID_COL, rid).withColumn(TYPE_COL, F.lit(tdef.name))

    def table(self, name: str, polymorphic: bool = True) -> DataFrame:
        """DataFrame for a type, including subtype rows when polymorphic.

        Equivalent of ``FetchFromTypeExecutionStep.java:42`` (scan type +
        subtypes).  Subtype union uses ``unionByName(allowMissingColumns)``
        so schema-flexible subtypes align.
        """
        if name.lower().startswith("schema:"):
            return self._schema_table(name.split(":", 1)[1])
        tdef = self.get(name)
        df = self._with_metadata(tdef)
        for b in tdef.properties.get("extra_buckets", ()):
            bdf = self._bucket_frame(b, tdef)
            if bdf is not None:
                df = df.unionByName(bdf, allowMissingColumns=True)
        if polymorphic:
            for sub in self.subtypes(name):
                df = df.unionByName(self._with_metadata(sub), allowMissingColumns=True)
        return df

    def _schema_table(self, which: str) -> DataFrame:
        """Virtual metadata tables: ``select from schema:types`` etc.

        Reference: FetchFromSchema{Types,Buckets,Database}Step.java.
        """
        which = which.lower()
        if which == "types":
            rows = [
                (t.name, t.kind, t.bucket_id, list(t.parents))
                for t in self._types.values()
            ]
            return local_df(
                self.spark,
                rows, "name string, kind string, bucket_id int, parents array<string>"
            )
        if which == "buckets":
            rows = [(t.bucket_id, t.name) for t in self._types.values()]
            return local_df(self.spark, rows, "bucket_id int, type string")
        if which == "database":
            return local_df(self.spark, [(len(self._types),)], "types int")
        if which == "indexes":
            # Indexes are execution no-ops on Spark (scan + pushdown
            # replaces them); registered entries are catalog metadata only.
            rows = [
                (name, meta["type"], list(meta["props"]), meta.get("kind", ""))
                for name, meta in self.indexes.items()
            ]
            return local_df(
                self.spark,
                rows, "name string, type string, props array<string>, kind string"
            )
        if which == "stats":
            # FetchFromSchemaStatsStep — per-type row counts; parquet
            # footer metadata makes count() a metadata-only scan
            rows = [
                (t.name, t.kind, t.df().count(), len(t.df().columns))
                for t in self._types.values()
                if t.kind != "view"
            ]
            return local_df(
                self.spark,
                rows, "type string, kind string, row_count long, columns int"
            )
        if which == "dictionary":
            # FetchFromSchemaDictionaryStep — the interned property-name
            # dictionary (engine/Dictionary.java); here: column name →
            # stable id across every registered type
            names: list[str] = []
            seen = set()
            for t in self._types.values():
                for c in t.df().columns:
                    if c not in seen:
                        seen.add(c)
                        names.append(c)
            return local_df(self.spark, list(enumerate(names)), "id int, name string")
        if which == "materializedviews":
            rows = [
                (t.name, str(t.properties.get("mv_refresh", "MANUAL")))
                for t in self._types.values()
                if t.kind == "view" and "mv_select" in t.properties
            ]
            return local_df(self.spark, rows, "name string, refresh_mode string")
        if which == "continuousaggregates":
            rows = [
                (t.name, str(t.properties.get("ca_bucket", "")),
                 str(t.properties.get("ca_watermark", "")))
                for t in self._types.values()
                if t.kind == "view" and t.properties.get("mv_refresh") == "CONTINUOUS"
            ]
            return local_df(self.spark, rows, "name string, bucket string, watermark string")
        if which == "graphanalyticalviews":
            # explicit GAVs (CREATE GRAPH ANALYTICAL VIEW — graph/gav.py)
            # plus one implicit row per edge type (the always-available
            # cached src-partitioned edge frame, graph/model.py
            # edges_by_src)
            rows = []
            g_ref = getattr(self, "_graph_ref", None)
            for name, gav in (getattr(self, "_gavs_ref", None) or {}).items():
                st = gav.stats(g_ref) if g_ref is not None else {}
                rows.append((
                    name, st.get("edge_types", ""), "", "",
                    gav.update_mode, int(st.get("edge_count", 0)),
                ))
            for etype, (src, dst) in getattr(
                g_ref, "edge_meta", {}
            ).items():
                rows.append((etype, etype, src or "", dst or "", "IMPLICIT", -1))
            return local_df(
                self.spark,
                rows,
                "name string, edge_type string, src_type string, "
                "dst_type string, mode string, edge_count long",
            )
        raise KeyError(f"Unknown schema table 'schema:{which}'")
