"""Property-graph model: vertices + edges as DataFrames.

Reference mapping:
- graph/GraphEngine.java:66 — adjacency as per-vertex edge linked lists;
  here adjacency is the ``edges`` DataFrame and expansion is an equi-join.
- graph/olap/CSRBuilder.java — the OLAP CSR view; our analog is
  ``edges_by_src()``: the edge DataFrame repartitioned+sorted by source
  vid and cached, so repeated expansions reuse one shuffle.
- FIXTURES.md §B2 defines the derived graph over the driver testdata
  (Customer/Order/Part/Supplier/Nation vertices; PLACED/CONTAINS/
  SUPPLIED_BY/LOCATED_IN/INTERACTED edges).

Scale posture: vid is a dense long (bucket_id << 40 | natural key) — joins
on longs, never on strings; per-label vertex DataFrames keep property
pruning effective (a MATCH touching only Customer never scans part
properties); edge unions are lazy so Catalyst prunes unused edge types via
the ``etype`` filter before the scan union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# vid = (bucket_id << 40) | key — collision-free while keys < 2^40
_VID_SHIFT = 40


def make_vid(bucket_id: int, key_col) -> F.Column:
    return (F.lit(bucket_id).cast("long") * F.lit(1 << _VID_SHIFT)) + key_col.cast(
        "long"
    )


def local_df(spark, rows, schema=None) -> DataFrame:
    """``createDataFrame`` over literal rows in ONE partition.

    The default path slices local data into ``defaultParallelism`` pieces
    (32 here), and every subsequent action on the frame pays a
    Python-worker roundtrip PER SLICE — a trivial cartesian over two
    literal frames was 32×32 tasks / ~7 s.  Schema inference stays
    driver-side (probe frame), then the data rides a single-slice RDD."""
    if schema is None:
        schema = spark.createDataFrame(rows).schema
    elif isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        schema = _parse_datatype_string(schema)
    names = schema.names
    if rows and isinstance(rows[0], dict):
        data = [tuple(r.get(n) for n in names) for r in rows]
    else:
        data = rows
    if not data:
        return spark.createDataFrame([], schema)
    # Arrow fast path for fully-atomic typed rows: the frame lands as JVM
    # Arrow batches, so neither its creation nor later collects need a
    # python worker (the parallelize path pays a worker round-trip per
    # action).  Gated to non-null atomic types — pandas' None→NaN
    # coercion and nested values keep the exact pickled path instead.
    from pyspark.sql.types import (
        BooleanType, DoubleType, FloatType, IntegerType, LongType,
        StringType,
    )

    atomic = (LongType, IntegerType, DoubleType, FloatType, StringType,
              BooleanType)

    def _val_ok(v, dt) -> bool:
        # the value's python type must MATCH the declared column type —
        # a mismatch (int under a string column from a heterogeneous
        # Cypher variable) makes Arrow raise-and-fall-back, which is
        # both a warning and the slow pickled path
        if v is None:
            return False
        if isinstance(dt, BooleanType):
            return isinstance(v, bool)
        if isinstance(dt, (LongType, IntegerType)):
            return isinstance(v, int) and not isinstance(v, bool)
        if isinstance(dt, (DoubleType, FloatType)):
            return isinstance(v, (int, float)) and not isinstance(v, bool)
        return isinstance(v, str)  # StringType

    if all(isinstance(f.dataType, atomic) for f in schema.fields) and all(
        _val_ok(v, f.dataType)
        for row in data for v, f in zip(row, schema.fields)
    ):
        try:
            import pandas as pd

            pdf = pd.DataFrame(data, columns=names)
            return spark.createDataFrame(pdf, schema=schema)
        except Exception:
            pass  # fall through to the exact pickled path
    rdd = spark.sparkContext.parallelize(data, 1)
    return spark.createDataFrame(rdd, schema)


def _metadata_safe(df: DataFrame) -> bool:
    """True when ``df`` is a pure projection/filter over a file scan —
    the only plans where the hidden ``_metadata`` column resolves.
    Inspected from the analyzed plan instead of try/except so derived
    frames (aggregates, windows, joins) don't log a failed-analysis
    error on every graph build."""
    import re

    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False
    nodes = re.findall(r"^[\s+\-:|]*([A-Za-z]+)", plan, flags=re.M)
    allowed = {"Project", "Filter", "Relation", "LogicalRelation",
               "SubqueryAlias", "View"}
    return bool(nodes) and all(n in allowed for n in nodes)


class _VertexFrames(dict):
    """dict(label-key → DataFrame) that materializes buffered literal
    vertex rows on ANY read — so row-at-a-time Cypher CREATE stays O(1)
    driver-side (list append) instead of stacking a unionByName plan per
    clause (whose analysis cost grows with every clause — the
    many-CREATE-clauses trap)."""

    def __init__(self, model) -> None:
        super().__init__()
        self._model = model

    # reads flush; writes don't need to — but they do invalidate the
    # model's memoized all-vertices unions
    def __setitem__(self, k, v) -> None:
        self._model._invalidate_vertex_unions()
        super().__setitem__(k, v)

    def __delitem__(self, k) -> None:
        self._model._invalidate_vertex_unions()
        super().__delitem__(k)

    def pop(self, k, *a):
        self._model._invalidate_vertex_unions()
        return super().pop(k, *a)

    def __getitem__(self, k):
        self._model._flush_vertices()
        return super().__getitem__(k)

    def get(self, k, default=None):
        self._model._flush_vertices()
        return super().get(k, default)

    def __contains__(self, k) -> bool:
        self._model._flush_vertices()
        return super().__contains__(k)

    def __iter__(self):
        self._model._flush_vertices()
        return super().__iter__()

    def __len__(self) -> int:
        self._model._flush_vertices()
        return super().__len__()

    def keys(self):
        self._model._flush_vertices()
        return super().keys()

    def items(self):
        self._model._flush_vertices()
        return super().items()

    def values(self):
        self._model._flush_vertices()
        return super().values()


class GraphModel:
    """vertices: dict label → DataFrame(vid, …props); edges: DataFrame
    (etype, src, dst, …props)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.vertex_dfs: dict[str, DataFrame] = _VertexFrames(self)
        # lowercase label-set key → display-case label string ("A:B")
        self.label_display: dict[str, str] = {}
        self._edge_dfs: list[DataFrame] = []
        self._edges: DataFrame | None = None
        self._edges_by_src: DataFrame | None = None
        # id(full frame) → @eid-free twin (built in add_edges; frames
        # minted by write paths fall back to their full form — their @eid
        # is a literal column, not a parquet-metadata reference).  Keyed
        # by id() rather than the DataFrame itself (no reliance on frame
        # hashing) and pruned whenever _edge_dfs is rewritten, so dropped
        # edge frames are not retained for the model's lifetime.
        self._edge_slim: dict[int, DataFrame] = {}
        self._edges_slim: DataFrame | None = None
        self._edges_slim_key: tuple | None = None
        # etype → (src_label, dst_label); None entries = heterogeneous
        self.edge_meta: dict[str, tuple[str | None, str | None]] = {}
        # buffered literal rows, materialized lazily (see _VertexFrames)
        self._pending_v: dict[str, list[dict]] = {}
        self._pending_e: list[tuple[str, list[tuple[int, int]], dict]] = []
        # memoized label-union frames (rebuilding them walks every frame
        # schema and stacks N unions of py4j calls per MATCH translation)
        self._av_full: DataFrame | None = None
        self._av: DataFrame | None = None
        self._flushing = False
        self._vid_counter = 0  # creation vids: (1 << 62) | counter
        self._eid_counter = 0  # hidden @eid for written edges

    def _prune_edge_slim(self) -> None:
        """Drop slim twins whose full frame left ``_edge_dfs`` (write
        paths rewrite frames via localCheckpoint) — keeps the map from
        pinning every historical edge frame in memory."""
        live = {id(f) for f in self._edge_dfs}
        self._edge_slim = {
            k: v for k, v in self._edge_slim.items() if k in live
        }

    def _invalidate_vertex_unions(self) -> None:
        self._av_full = None
        self._av = None

    def snapshot(self) -> dict:
        """Statement-level state snapshot.  Every frame is an immutable
        DataFrame, so shallow-copying the containers is enough to roll a
        failed write statement back (the reference wraps each command in
        a transaction — TransactionContext.java rollback semantics)."""
        return {
            "vertex_dfs": dict.copy(self.vertex_dfs),
            "label_display": dict(self.label_display),
            "_edge_dfs": list(self._edge_dfs),
            "_edge_slim": dict(self._edge_slim),
            "_edges": self._edges,
            "_edges_by_src": self._edges_by_src,
            "edge_meta": dict(self.edge_meta),
            "_pending_v": {k: list(v) for k, v in self._pending_v.items()},
            "_pending_e": list(self._pending_e),
            "_av_full": self._av_full,
            "_av": self._av,
            "_vid_counter": self._vid_counter,
            "_eid_counter": self._eid_counter,
        }

    def restore(self, snap: dict) -> None:
        """Roll back to a :meth:`snapshot` (failed write statement)."""
        dict.clear(self.vertex_dfs)
        dict.update(self.vertex_dfs, snap["vertex_dfs"])
        self.label_display = snap["label_display"]
        self._edge_dfs = snap["_edge_dfs"]
        self._edge_slim = snap["_edge_slim"]
        self._edges = snap["_edges"]
        self._edges_by_src = snap["_edges_by_src"]
        self.edge_meta = snap["edge_meta"]
        self._pending_v = snap["_pending_v"]
        self._pending_e = snap["_pending_e"]
        self._av_full = snap["_av_full"]
        self._av = snap["_av"]
        self._vid_counter = snap["_vid_counter"]
        self._eid_counter = snap["_eid_counter"]

    def _notify_label(self, label: str) -> None:
        """One-store hook: a label written through the graph surface
        (Cypher CREATE/MERGE/SET :Label) registers as a LIVE catalog type
        so SQL SELECT sees the rows (the reference has one record store
        under every query language, QueryEngineManager.java:60)."""
        db = getattr(self, "_db_ref", None)
        if db is None:
            return
        for part in str(label).split(":"):
            if part and part != "_" and not db.schema.exists(part):
                try:
                    db.register_graph_type(part, kind="vertex")
                except Exception:
                    pass  # catalog registration must never fail a write

    def _flush_vertices(self) -> None:
        if self._flushing or not self._pending_v:
            return
        self._invalidate_vertex_unions()
        self._flushing = True
        try:
            for key, rows in list(self._pending_v.items()):
                # one createDataFrame per distinct property-key set
                groups: dict[tuple, list[dict]] = {}
                for r in rows:
                    groups.setdefault(tuple(sorted(r)), []).append(r)
                new = None
                for _ks, rs in groups.items():
                    # literal rows are tiny: one partition, or a cartesian
                    # over two created frames explodes into P×P no-op tasks
                    part = local_df(self.spark, rs)
                    new = part if new is None else new.unionByName(
                        part, allowMissingColumns=True
                    )
                cur = dict.get(self.vertex_dfs, key)
                merged = (
                    new if cur is None
                    else cur.unionByName(new, allowMissingColumns=True)
                )
                dict.__setitem__(self.vertex_dfs, key, merged)
            self._pending_v.clear()
        finally:
            self._flushing = False

    def _flush_edges(self) -> None:
        if not self._pending_e:
            return
        groups: dict[tuple, list[dict]] = {}
        for etype, pairs, props in self._pending_e:
            gk = (etype, tuple(sorted(props)))
            for s, d in pairs:
                # @eid: hidden per-edge identity so fully identical
                # parallel edges stay DISTINCT relationships (openCypher
                # edge identity; TCK Match6[14]).  Rides like @type on
                # nodes: excluded from keys()/properties() and result
                # canonicalization.
                self._eid_counter += 1
                groups.setdefault(gk, []).append(
                    {"etype": etype, "src": int(s), "dst": int(d),
                     "@eid": self._eid_counter, **props}
                )
        self._pending_e.clear()
        for (_etype, pkeys), rows in groups.items():
            df = local_df(self.spark, rows).select(
                "etype",
                F.col("src").cast("long"),
                F.col("dst").cast("long"),
                "@eid",
                *pkeys,
            )
            self._edge_dfs.append(df)

    # -- construction -----------------------------------------------------
    def add_vertices(self, label: str, df: DataFrame, vid_col: str) -> None:
        out = df.withColumn("vid", F.col(vid_col).cast("long"))
        if "@type" not in out.columns:
            # label rides with the vertex so Cypher labels(n) works on the
            # bound struct (function/node/NodeLabels.java)
            out = out.withColumn("@type", F.lit(label))
        self.label_display.setdefault(label.lower(), label)
        self.vertex_dfs[label.lower()] = out

    def set_label(self, key: str, matched_vids: DataFrame, target: str) -> int:
        """Cypher ``SET n:Target`` on the ``key`` frame: add the label to
        the frame's label set (no-op when already present)."""
        parts = [p for p in key.lower().split(":") if p]
        if target.lower() in parts:
            return 0
        display = self.label_display.get(key.lower(), key)
        new = target if display == "_" else f"{display}:{target}"
        return self.relabel_vertices(key, matched_vids, new)

    def remove_label(self, key: str, matched_vids: DataFrame, target: str) -> int:
        """Cypher ``REMOVE n:Target``: drop the label from the frame's
        label set; a now-empty set moves to the unlabeled "_" bucket."""
        parts = [p for p in key.lower().split(":") if p]
        if target.lower() not in parts:
            return 0
        display = self.label_display.get(key.lower(), key)
        kept = [p for p in display.split(":") if p.lower() != target.lower()]
        return self.relabel_vertices(key, matched_vids, ":".join(kept) or "_")

    def add_edges(
        self,
        etype: str,
        df: DataFrame,
        src_col: str,
        dst_col: str,
        props: list[str] = (),
        src_label: str | None = None,
        dst_label: str | None = None,
    ) -> None:
        prev = self.edge_meta.get(etype)
        meta = (
            src_label.lower() if src_label else None,
            dst_label.lower() if dst_label else None,
        )
        if prev is not None and prev != meta:
            meta = (None, None)  # heterogeneous endpoints (e.g. LOCATED_IN)
        self.edge_meta[etype] = meta
        cols = [
            F.lit(etype).alias("etype"),
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        ]
        for p in props:
            cols.append(F.col(p))
        out = None
        if "@eid" not in props and _metadata_safe(df):
            # Hidden per-edge identity (openCypher relationship identity;
            # parallel fully-identical edges must stay distinct — TCK
            # Match6[14]).  For file-backed frames the id is pinned to
            # STORAGE (file path + in-file row ordinal): deterministic
            # across recomputation/task retries, zero-shuffle.  When a
            # query never touches @eid the hash itself is pruned; the
            # residual _metadata struct is per-split constants + the
            # scan's row counter — no extra IO, measured free
            # (0.32 s vs 0.40 s on a 600k-row scan, within noise).
            try:
                out = df.select(
                    *cols,
                    F.xxhash64(
                        F.lit(etype),
                        F.col("_metadata.file_path"),
                        F.col("_metadata.row_index"),
                    ).alias("@eid"),
                )
            except Exception:
                # derived frame (aggregate/join output) — no row metadata;
                # match-time identity falls back to a content hash
                out = None
        if out is None:
            out = df.select(*cols)
        # slim twin: same edge rows WITHOUT the @eid projection.  The
        # parquet `_metadata` reference behind @eid is sticky — once the
        # frame projects it, Spark materializes the 7-field metadata
        # struct per row in every downstream plan even when @eid is dead
        # (drop()/select() cannot un-reference it).  Consumers that never
        # read edge identity (algorithms, TRAVERSE, plain SQL-MATCH hops)
        # fetch edges(with_identity=False) and skip that per-row cost.
        self._edge_slim[id(out)] = df.select(*cols)
        self._edge_dfs.append(out)
        self._edges = None
        self._edges_by_src = None

    # -- access ------------------------------------------------------------
    def vertices(self, label: str) -> DataFrame:
        """Vertex frame for ``label``.

        Multi-label Cypher nodes are stored under a colon-joined key
        ("a:b" for ``CREATE (:A:B)``); a request matches every stored
        frame whose label set is a superset of the requested set
        (openCypher pattern-label semantics: ``(n:A)`` matches any node
        carrying label A).  Single-label catalog types hit the dict key
        directly — no scan of other frames."""
        alts = [
            {p for p in alt.split(":") if p}
            for alt in label.lower().split("|")
            if alt
        ]
        exact = self.vertex_dfs.get(label.lower())
        if (
            len(alts) == 1 and len(alts[0]) <= 1 and exact is not None
            and not any(":" in k for k in self.vertex_dfs)
        ):
            return exact  # fast path: single-label graph, direct hit
        # disjunction (n:A|B — Cypher-25 label expressions, reference
        # CypherLabelDisjunctionTest.java): a stored frame matches when
        # its label set is a superset of ANY alternative; each frame
        # unions at most once, so a node carrying both labels appears
        # once, not per matching alternative
        frames = [
            df
            for key, df in self.vertex_dfs.items()
            if any(w <= set(key.split(":")) for w in alts)
        ]
        if not frames:
            # matching a non-existent label is an empty result, not an
            # error (Cypher semantics; TCK clauses/match)
            return self.spark.createDataFrame([], "vid long, `@type` string")
        out = frames[0]
        for f_ in frames[1:]:
            out = out.unionByName(f_, allowMissingColumns=True)
        return out

    def all_vertices(self) -> DataFrame:
        """Union of (vid, label) across labels — the minimal vertex set.
        Memoized; invalidated on any vertex mutation."""
        self._flush_vertices()  # pending literal rows invalidate on flush
        if self._av is not None:
            return self._av
        out = None
        for label, df in self.vertex_dfs.items():
            part = df.select(F.col("vid"), F.lit(label).alias("label"))
            out = part if out is None else out.unionByName(part)
        self._av = out
        return out

    def all_vertices_full(self) -> DataFrame:
        """Union of every vertex frame with ALL property columns (absent
        props null-padded) — backs label-less ``MATCH (n)``.

        A property stored with different types under different labels
        (Cypher properties are schemaless per record) would be silently
        cast by Spark's union coercion — 'text' AS BIGINT throws under
        ANSI.  Conflicting columns are carried as VARIANT instead: each
        row keeps its own runtime type, and the expression compiler
        dispatches comparisons on ``schema_of_variant``."""
        self._flush_vertices()  # pending literal rows invalidate on flush
        if self._av_full is not None:
            return self._av_full
        frames = list(self.vertex_dfs.values())
        if not frames:
            return None
        col_types: dict[str, set] = {}
        for df in frames:
            for f in df.schema.fields:
                col_types.setdefault(f.name, set()).add(f.dataType.simpleString())
        conflicted = {
            c for c, ts in col_types.items() if len(ts) > 1 and c != "vid"
        }
        out = None
        for df in frames:
            if conflicted:
                casts = [
                    F.col(c).cast("variant").alias(c)
                    if c in conflicted
                    else F.col(c)
                    for c in df.columns
                ]
                df = df.select(*casts)
            out = df if out is None else out.unionByName(
                df, allowMissingColumns=True
            )
        self._av_full = out
        return out

    def edges(self, *etypes: str, with_identity: bool = True) -> DataFrame:
        self._flush_edges()
        if with_identity:
            if self._edges is None:
                out = None
                for df in self._edge_dfs:
                    out = df if out is None else out.unionByName(
                        df, allowMissingColumns=True
                    )
                self._edges = out
            df = self._edges
        else:
            key = tuple(id(f) for f in self._edge_dfs)
            if self._edges_slim is None or self._edges_slim_key != key:
                out = None
                for full in self._edge_dfs:
                    part = self._edge_slim.get(id(full), full)
                    out = part if out is None else out.unionByName(
                        part, allowMissingColumns=True
                    )
                self._edges_slim = out
                self._edges_slim_key = key
            df = self._edges_slim
        if df is None:
            # no edges in the graph: canonical empty frame (Cypher
            # relationship matches yield empty, not an error)
            df = self.spark.createDataFrame(
                [], "etype string, src long, dst long"
            )
        if etypes:
            df = df.filter(F.col("etype").isin(list(etypes)))
        return df

    def edges_by_src(self) -> DataFrame:
        """CSR analog: edges hash-partitioned by src and cached, so every
        out()-expansion joins without reshuffling the edge side."""
        if self._edges_by_src is None:
            self._edges_by_src = (
                self.edges().repartition("src").sortWithinPartitions("src").cache()
            )
        return self._edges_by_src

    def degrees(self, direction: str = "out") -> DataFrame:
        e = self.edges(with_identity=False)
        if direction == "out":
            return e.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("degree"))
        if direction == "in":
            return e.groupBy(F.col("dst").alias("vid")).agg(F.count("*").alias("degree"))
        both = e.select(F.col("src").alias("vid")).unionAll(
            e.select(F.col("dst").alias("vid"))
        )
        return both.groupBy("vid").agg(F.count("*").alias("degree"))

    # -- mutation (Cypher CREATE/MERGE support) -----------------------------
    def add_vertex_rows(self, label: str, rows: list[dict]) -> list[int]:
        """Append literal vertex rows; returns their vids.

        vids are (1 << 62) | creation-counter — disjoint from catalog
        bucket vids (< 2^60) and import vids (bit 61 block), unique per
        creation (``CREATE ()`` twice = two nodes — Cypher identity
        semantics; a content hash would collapse identical anonymous
        nodes), and deterministic given statement order within a
        Database."""
        enriched = []
        vids = []
        for r in rows:
            self._vid_counter += 1
            vid = (1 << 62) | self._vid_counter
            vids.append(vid)
            # Cypher: a null property value is NOT stored ({p: null}
            # creates no property — reads come back null anyway), and an
            # all-null literal column would break schema inference
            clean = {k: v for k, v in r.items() if v is not None}
            enriched.append({**clean, "vid": vid, "@type": label})
        key_l = label.lower()
        self.label_display.setdefault(key_l, label)
        # buffered: materialized on first read (see _VertexFrames)
        self._pending_v.setdefault(key_l, []).extend(enriched)
        self._notify_label(label)
        return vids

    def mint_vid_block(self) -> int:
        """Base for a block of frame-minted vids: (1 << 61) | block << 44
        leaves 2^44 ids per block (monotonically_increasing_id embeds the
        partition index in its high bits — room for ~2k partitions)."""
        self._vid_counter += 1
        return (1 << 61) | (self._vid_counter << 44)

    @staticmethod
    def frame_vid_col(base: int) -> F.Column:
        """Guarded frame-vid column: ``base + monotonically_increasing_id``.

        The id embeds the partition index at bit 33, so one 2^44 block
        holds at most 2^11 = 2048 partitions.  A wider frame (plausible
        for LOAD CSV over a big directory at 100× scale) would silently
        overflow into the NEXT block and collide with later writes —
        assert per row instead (pure Column program, no extra action)."""
        guard = F.assert_true(
            F.spark_partition_id() < F.lit(1 << 11),
            F.lit(
                "vid block overflow: frame exceeds 2048 partitions — "
                "repartition(2048) the input before the write"
            ),
        )
        return F.when(
            guard.isNull(), F.lit(base) + F.monotonically_increasing_id()
        )

    def append_vertex_frame(self, label: str, frame: DataFrame) -> int:
        """Append pre-minted vertex rows (vid + property columns) — the
        frame-wise MATCH … CREATE path (one new node per match row,
        CreateStep.java:60).  The caller must have checkpoint-frozen the
        vids."""
        self._flush_vertices()
        key = label.lower()
        self.label_display.setdefault(key, label)
        out = frame
        if "@type" not in out.columns:
            out = out.withColumn("@type", F.lit(label))
        n = out.count()
        existing = dict.get(self.vertex_dfs, key)
        if existing is not None:
            merged = existing.unionByName(out, allowMissingColumns=True)
        else:
            merged = out
        self._invalidate_vertex_unions()
        dict.__setitem__(self.vertex_dfs, key, merged)
        self._notify_label(label)
        return n

    def add_edge_rows(
        self, etype: str, pairs: list[tuple[int, int]], props: dict | None = None
    ) -> int:
        """Append literal edges; ``props`` (same values for every pair)
        become edge property columns.  Buffered python-side and
        materialized on first edge read (same rationale as
        _VertexFrames: no per-clause plan growth)."""
        if not pairs:
            return 0
        prev = self.edge_meta.get(etype)
        if prev is not None and prev != (None, None):
            self.edge_meta[etype] = (None, None)
        else:
            self.edge_meta.setdefault(etype, (None, None))
        # null property values are not stored (Cypher write semantics)
        self._pending_e.append((
            etype, list(pairs),
            {k: v for k, v in (props or {}).items() if v is not None},
        ))
        self._edges = None
        self._edges_by_src = None
        return len(pairs)

    def add_edges_from_frame(self, etype: str, frame: DataFrame) -> int:
        """Append one edge per row of (src, dst [, prop…]) — e.g. from a
        MATCH; non-endpoint columns ride along as edge properties."""
        if "@eid" not in frame.columns:
            # hidden per-edge identity (see _flush_edges): batch tag +
            # row id hashed — parallel identical rows get distinct ids.
            # monotonically_increasing_id is NOT stable across
            # re-evaluation (cache eviction / task retry), so the stamped
            # frame is immediately frozen to storage: identity is pinned,
            # every later scan reads the same @eid values.
            self._eid_counter += 1
            frame = frame.withColumn(
                "@eid",
                F.xxhash64(
                    F.lit(self._eid_counter), F.monotonically_increasing_id()
                ),
            ).truncate_plan()
        n = frame.count()
        props = [c for c in frame.columns if c not in ("src", "dst")]
        self.add_edges(etype, frame, "src", "dst", props=props)
        return n

    def filter_new_edges(
        self, etype: str, frame: DataFrame, props: "dict | None" = None,
        prop_cols=(), both_directions: bool = False,
    ) -> DataFrame:
        """Drop (src, dst) rows whose edge already exists WITH the merge
        pattern's properties — the MERGE-relationship idempotency check
        (MergeStep.java:73).  ``props`` are literal pattern props (same
        value every row); ``prop_cols`` name columns of ``frame`` that
        carry per-row pattern props.  An existing edge lacking a pattern
        prop matches nothing (missing property = null, TCK Merge5 [6]).
        ``both_directions``: an undirected MERGE pattern matches a stored
        edge in either orientation (TCK Merge5 [13])."""
        if etype not in self.edge_meta:
            return frame
        e = self.edges(etype)
        for k, v in (props or {}).items():
            if k not in e.columns:
                return frame  # no stored edge carries the prop → all new
            e = e.filter(F.col(k) == F.lit(v))
        pcols = list(prop_cols)
        if any(c not in e.columns for c in pcols):
            return frame
        join_cols = ["src", "dst"] + pcols
        existing = e.select(*join_cols)
        if both_directions:
            existing = existing.unionByName(
                e.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst"),
                    *pcols,
                )
            )
        return frame.join(existing.distinct(), join_cols, "left_anti")

    def update_vertices(self, label: str, matched_vids: DataFrame, assignments) -> int:
        """Conditional property rewrite for matched vids.
        assignments: list of (prop, Column-valued-for-this-df)."""
        vdf = self.vertex_dfs[label.lower()]
        m = matched_vids.select(F.col("vid").alias("__mv")).distinct()
        n = m.count()
        joined = vdf.join(m, vdf["vid"] == m["__mv"], "left")
        for prop, val in assignments:
            if prop in vdf.columns:
                joined = joined.withColumn(
                    prop, F.when(F.col("__mv").isNotNull(), val).otherwise(F.col(prop))
                )
            else:
                joined = joined.withColumn(
                    prop, F.when(F.col("__mv").isNotNull(), val)
                )
        self.vertex_dfs[label.lower()] = joined.drop("__mv").localCheckpoint(eager=True)
        return n

    def update_vertices_from_frame(
        self, label: str, upd: DataFrame, copy_cols, replace: bool = False,
    ) -> int:
        """Per-row property rewrite: ``upd`` carries (vid, <copy_cols…>);
        each matched vertex takes its row's values (Cypher ``SET n = m``
        property copy, TCK Set4).  ``replace`` also nulls every other
        non-internal property.  One equi-join on vid — no driver loop."""
        vdf = self.vertex_dfs.get(label.lower())
        if vdf is None:
            return 0
        m = upd.select(
            F.col("vid").alias("__mv"),
            *[F.col(c).alias(f"__nv_{c}") for c in copy_cols],
        ).dropDuplicates(["__mv"])
        joined = vdf.join(m, vdf["vid"] == m["__mv"], "left")
        hit = F.col("__mv").isNotNull()
        n = joined.filter(hit).count()
        for c in copy_cols:
            if c in vdf.columns:
                joined = joined.withColumn(
                    c, F.when(hit, F.col(f"__nv_{c}")).otherwise(F.col(c))
                )
            else:
                joined = joined.withColumn(c, F.when(hit, F.col(f"__nv_{c}")))
        if replace:
            for c in vdf.columns:
                if c in copy_cols or c == "vid" or c.startswith("@"):
                    continue
                joined = joined.withColumn(
                    c,
                    F.when(
                        hit, F.lit(None).cast(vdf.schema[c].dataType)
                    ).otherwise(F.col(c)),
                )
        self.vertex_dfs[label.lower()] = joined.drop(
            "__mv", *[f"__nv_{c}" for c in copy_cols]
        ).localCheckpoint(eager=True)
        return n

    def update_edges_from_frame(
        self, etype: "str | None", upd: DataFrame, copy_cols,
        replace: bool = False,
    ) -> int:
        """Per-row edge property rewrite keyed by (src, dst[, etype]) —
        ``SET r = m`` property copy onto relationships.  When ``upd`` has
        an ``etype`` column it participates in the join key (untyped rel
        variables)."""
        all_e = self.edges()
        if all_e is None:
            return 0
        key_cols = ["src", "dst"] + (["etype"] if "etype" in upd.columns else [])
        m = upd.select(
            *[F.col(c).alias(f"__mk_{c}") for c in key_cols],
            *[F.col(c).alias(f"__nv_{c}") for c in copy_cols],
        ).dropDuplicates([f"__mk_{c}" for c in key_cols])
        cond = F.lit(True)
        for c in key_cols:
            cond = cond & (all_e[c] == m[f"__mk_{c}"])
        if etype is not None:
            cond = cond & (all_e["etype"] == F.lit(etype))
        joined = all_e.join(m, cond, "left")
        hit = F.col(f"__mk_{key_cols[0]}").isNotNull()
        n = joined.filter(hit).count()
        for c in copy_cols:
            if c in all_e.columns:
                joined = joined.withColumn(
                    c, F.when(hit, F.col(f"__nv_{c}")).otherwise(F.col(c))
                )
            else:
                joined = joined.withColumn(c, F.when(hit, F.col(f"__nv_{c}")))
        if replace:
            for c in all_e.columns:
                if c in copy_cols or c in ("etype", "src", "dst"):
                    continue
                joined = joined.withColumn(
                    c,
                    F.when(
                        hit, F.lit(None).cast(all_e.schema[c].dataType)
                    ).otherwise(F.col(c)),
                )
        self._edge_dfs = [
            joined.drop(
                *[f"__mk_{c}" for c in key_cols],
                *[f"__nv_{c}" for c in copy_cols],
            ).localCheckpoint(eager=True)
        ]
        self._prune_edge_slim()
        self._edges = None
        self._edges_by_src = None
        return n

    def relabel_vertices(
        self, label: str, matched_vids: DataFrame, new_label: str
    ) -> int:
        """Move matched vertices from ``label``'s frame to ``new_label``'s
        (Cypher SET n:Label / REMOVE n:Label under the single-label model:
        the vertex keeps its vid and properties, only @type changes)."""
        src = self.vertex_dfs.get(label.lower())
        if src is None:
            return 0
        m = matched_vids.select(F.col("vid").alias("__mv")).distinct()
        moving = src.join(m, src["vid"] == m["__mv"], "inner").drop("__mv")
        n = moving.count()
        if n == 0:
            return 0
        self.vertex_dfs[label.lower()] = (
            src.join(m, src["vid"] == m["__mv"], "left_anti")
            .localCheckpoint(eager=True)
        )
        self.label_display[new_label.lower()] = new_label
        self._notify_label(new_label)
        moved = moving.withColumn("@type", F.lit(new_label))
        dst = self.vertex_dfs.get(new_label.lower())
        if dst is None:
            self.vertex_dfs[new_label.lower()] = moved.localCheckpoint(eager=True)
        else:
            self.vertex_dfs[new_label.lower()] = dst.unionByName(
                moved, allowMissingColumns=True
            ).localCheckpoint(eager=True)
        return n

    def update_edges(
        self, etype: str, matched_pairs: DataFrame, assignments,
        both_directions: bool = False, cond_props: "dict | None" = None,
    ) -> int:
        """Property rewrite on edges of ``etype`` whose (src, dst) is in
        ``matched_pairs`` — Cypher ``MATCH ()-[r:T]->() SET r.p = v``
        (SetStep.java relationship branch).  assignments: (prop, Column).
        ``cond_props``: additional literal property equalities the edge
        must satisfy (MERGE … ON MATCH SET with pattern props)."""
        all_e = self.edges()
        m = matched_pairs.select(
            F.col("src").alias("__ms"), F.col("dst").alias("__md")
        ).distinct()
        if both_directions:
            m = m.unionByName(
                m.select(F.col("__md").alias("__ms"), F.col("__ms").alias("__md"))
            ).distinct()
        cond_join = (all_e["src"] == m["__ms"]) & (all_e["dst"] == m["__md"])
        if etype is not None:
            cond_join = cond_join & (all_e["etype"] == F.lit(etype))
        for k, v in (cond_props or {}).items():
            if k not in all_e.columns:
                return 0
            cond_join = cond_join & (all_e[k] == F.lit(v))
        joined = all_e.join(m, cond_join, "left")
        cond = F.col("__ms").isNotNull()
        n = joined.filter(cond).count()
        for prop, val in assignments:
            if prop in all_e.columns:
                joined = joined.withColumn(
                    prop, F.when(cond, val).otherwise(F.col(prop))
                )
            else:
                joined = joined.withColumn(prop, F.when(cond, val))
        self._edge_dfs = [joined.drop("__ms", "__md").localCheckpoint(eager=True)]
        self._prune_edge_slim()
        self._edges = None
        self._edges_by_src = None
        return n

    def remove_edges(
        self,
        etype: "str | None",
        matched_pairs: DataFrame,
        both_directions: bool = False,
    ) -> int:
        """Delete edges whose (src, dst) is in ``matched_pairs`` —
        Cypher ``MATCH ()-[r]->() DELETE r``.  ``etype=None`` matches any
        relationship type."""
        self._flush_edges()
        if not self._edge_dfs:
            return 0
        m = matched_pairs.select(
            F.col("src").alias("__ms"), F.col("dst").alias("__md")
        ).distinct()
        if both_directions:
            m = m.unionByName(
                m.select(F.col("__md").alias("__ms"), F.col("__ms").alias("__md"))
            ).distinct()
        m = m.coalesce(1).cache()

        def cond_of(e):
            c = (e["src"] == m["__ms"]) & (e["dst"] == m["__md"])
            if etype is not None:
                c = c & (e["etype"] == F.lit(etype))
            return c

        n = self._remove_matched_edges(m, cond_of)
        return n

    def _remove_matched_edges(self, m: DataFrame, cond_of) -> int:
        """Anti-join each edge frame against ``m`` under ``cond_of(e)``;
        ONE tagged-union job finds the touched frames, untouched frames
        keep their identity (no per-frame probe, no checkpoint job), and
        per-etype frames stay separate (no schema-widening union)."""
        tagged = None
        for i, e in enumerate(self._edge_dfs):
            part = e.select(F.lit(i).alias("__f"), "etype", "src", "dst")
            tagged = part if tagged is None else tagged.unionByName(part)
        hits = {
            r["__f"]: r["cnt"]
            for r in tagged.join(m, cond_of(tagged), "left_semi")
            .groupBy("__f").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        n = 0
        new_frames = []
        for i, e in enumerate(self._edge_dfs):
            if i not in hits:
                new_frames.append(e)
                continue
            n += hits[i]
            new_frames.append(
                e.join(m, cond_of(e), "left_anti").localCheckpoint(eager=True)
            )
        self._edge_dfs = new_frames
        self._prune_edge_slim()
        self._edges = None
        self._edges_by_src = None
        return n

    def remove_edges_typed(self, matched_triples: DataFrame) -> int:
        """Delete edges whose (etype, src, dst) is in ``matched_triples`` —
        struct-projected relationship DELETE (``MATCH ()-[r:T]->() WITH r
        DELETE r``).  Unlike :meth:`remove_edges`, the relationship type
        travels with each row, so a parallel edge of a different type
        between the same endpoints survives."""
        self._flush_edges()
        if not self._edge_dfs:
            return 0
        m = matched_triples.select(
            F.col("etype").alias("__mt"),
            F.col("src").alias("__ms"),
            F.col("dst").alias("__md"),
        ).distinct().coalesce(1).cache()

        def cond_of(e):
            return (
                (e["etype"] == m["__mt"])
                & (e["src"] == m["__ms"])
                & (e["dst"] == m["__md"])
            )

        return self._remove_matched_edges(m, cond_of)

    def remove_vertices_any(self, matched_vids: DataFrame) -> int:
        """DETACH-delete matched vids from every label (label-less
        ``MATCH (n) DELETE n``)."""
        self._flush_edges()
        m = matched_vids.select("vid").distinct().coalesce(1).cache()
        # ONE job finds which labels are touched (tagged union), instead of
        # a semi-join probe per label — write statements over small match
        # sets are job-count-bound, not data-bound
        tagged = None
        for label in list(self.vertex_dfs):
            part = self.vertex_dfs[label].select(
                F.lit(label).alias("__lbl"), "vid"
            )
            tagged = part if tagged is None else tagged.unionByName(part)
        if tagged is None:
            return 0
        hits = {
            r["__lbl"]: r["cnt"]
            for r in tagged.join(m, "vid", "left_semi")
            .groupBy("__lbl").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        n = 0
        for label, cnt in hits.items():
            n += cnt
            self.vertex_dfs[label] = (
                self.vertex_dfs[label]
                .join(m, "vid", "left_anti")
                .localCheckpoint(eager=True)
            )
        self._edge_dfs = self._drop_incident_edges(m)
        self._prune_edge_slim()
        self._edges = None
        self._edges_by_src = None
        return n

    def _drop_incident_edges(self, m: DataFrame) -> list:
        """Anti-join edge frames against deleted vids — ONE tagged-union
        job decides which frames are touched; untouched frames keep their
        identity (no per-frame probe, no checkpoint job)."""
        if not self._edge_dfs:
            return []
        tagged = None
        for i, e in enumerate(self._edge_dfs):
            part = e.select(F.lit(i).alias("__f"), "src", "dst")
            tagged = part if tagged is None else tagged.unionByName(part)
        hit_ids = {
            r["__f"]
            for r in tagged.join(
                m.withColumnRenamed("vid", "src"), "src", "left_semi"
            ).unionByName(
                tagged.join(
                    m.withColumnRenamed("vid", "dst"), "dst", "left_semi"
                )
            ).select("__f").distinct().collect()
        }
        new_frames = []
        for i, e in enumerate(self._edge_dfs):
            if i not in hit_ids:
                new_frames.append(e)
                continue
            e2 = e.join(m.withColumnRenamed("vid", "src"), "src", "left_anti")
            e2 = e2.join(m.withColumnRenamed("vid", "dst"), "dst", "left_anti")
            new_frames.append(e2.select(*e.columns).localCheckpoint(eager=True))
        return new_frames

    def remove_vertices(self, label: str, matched_vids: DataFrame) -> int:
        """Remove matched vertices and their incident edges (Cypher
        DETACH DELETE semantics)."""
        self._flush_edges()
        vdf = self.vertex_dfs.get(label.lower())
        if vdf is None:
            return 0  # deleting from a label that never existed: no-op
        m = matched_vids.select("vid").distinct().coalesce(1).cache()
        n = m.count()
        self.vertex_dfs[label.lower()] = vdf.join(m, "vid", "left_anti").localCheckpoint(eager=True)
        self._edge_dfs = self._drop_incident_edges(m)
        self._prune_edge_slim()
        self._edges = None
        self._edges_by_src = None
        return n

    # -- testdata fixture ---------------------------------------------------
    @classmethod
    def from_database(cls, db) -> "GraphModel":
        """FIXTURES.md §B2 graph over the driver tables.

        A database without the testdata tables (e.g. an empty scratch
        Database used by Cypher CREATE / the TCK suite) gets an empty
        graph — vertices and edges then come from Cypher writes."""
        g = cls(db.spark)
        s = db.schema
        if "customer" not in s.names():
            return g

        def vid_of(type_name: str, col: str):
            return make_vid(s.get(type_name).bucket_id, F.col(col))

        customer = s.get("customer").df()
        orders = s.get("orders").df()
        part = s.get("part").df()
        supplier = s.get("supplier").df()
        nation = s.get("nation").df()
        lineitem = s.get("lineitem").df()
        events = s.get("events").df()

        g.add_vertices(
            "Customer",
            customer.withColumn("__vid", vid_of("customer", "c_custkey")),
            "__vid",
        )
        g.add_vertices(
            "Order", orders.withColumn("__vid", vid_of("orders", "o_orderkey")), "__vid"
        )
        g.add_vertices(
            "Part", part.withColumn("__vid", vid_of("part", "p_partkey")), "__vid"
        )
        g.add_vertices(
            "Supplier",
            supplier.withColumn("__vid", vid_of("supplier", "s_suppkey")),
            "__vid",
        )
        g.add_vertices(
            "Nation", nation.withColumn("__vid", vid_of("nation", "n_nationkey")), "__vid"
        )

        g.add_edges(
            "PLACED",
            orders.select(
                "*",
                vid_of("customer", "o_custkey").alias("__src"),
                vid_of("orders", "o_orderkey").alias("__dst"),
            ),
            "__src",
            "__dst",
            src_label="Customer",
            dst_label="Order",
        )
        g.add_edges(
            "CONTAINS",
            lineitem.select(
                "*",
                vid_of("orders", "l_orderkey").alias("__src"),
                vid_of("part", "l_partkey").alias("__dst"),
            ),
            "__src",
            "__dst",
            props=["l_quantity", "l_extendedprice"],
            src_label="Order",
            dst_label="Part",
        )
        g.add_edges(
            "SUPPLIED_BY",
            lineitem.select(
                vid_of("part", "l_partkey").alias("__src"),
                vid_of("supplier", "l_suppkey").alias("__dst"),
            ).dropDuplicates(["__src", "__dst"]),
            "__src",
            "__dst",
            src_label="Part",
            dst_label="Supplier",
        )
        g.add_edges(
            "LOCATED_IN",
            customer.select(
                "*",
                vid_of("customer", "c_custkey").alias("__src"),
                vid_of("nation", "c_nationkey").alias("__dst"),
            ),
            "__src",
            "__dst",
            src_label="Customer",
            dst_label="Nation",
        )
        g.add_edges(
            "LOCATED_IN",
            supplier.select(
                "*",
                vid_of("supplier", "s_suppkey").alias("__src"),
                vid_of("nation", "s_nationkey").alias("__dst"),
            ),
            "__src",
            "__dst",
            src_label="Supplier",
            dst_label="Nation",
        )
        # INTERACTED: globally consecutive user pairs by ts — a cyclic,
        # weighted social-like graph (FIXTURES B2).  The global lead() is
        # computed SCALE-SAFELY: range-partition by the sort key, lead
        # within each partition, and stitch the partition boundaries with
        # a broadcast of each partition's first row — no single-partition
        # total sort (the naive Window.orderBy moves 100 TB through one
        # task).
        from arcadedb_spark.parallel import approx_num_partitions

        slim = events.select("ts", "event_id", "user_id")
        nparts = approx_num_partitions(slim)
        if nparts <= 4:
            # small input: one modest sort beats the partition-stitch
            # machinery's extra shuffles.  The constant partition key makes
            # the single-partition execution EXPLICIT (this branch is only
            # taken for ≤4-partition inputs) instead of tripping the
            # scary-but-intended WindowExec no-partition warning.
            # column * 0: a constant-valued but non-foldable partition key
            # — bare literals (and foldable exprs like crc32(lit)) are
            # stripped from the window spec, re-triggering the warning
            w = Window.partitionBy(F.col("event_id") * F.lit(0)).orderBy(
                "ts", "event_id"
            )
            led = slim.withColumn("__next_user", F.lead("user_id").over(w))
        else:
            # big input: range-partition by the sort key, lead within each
            # partition, stitch boundaries with a broadcast of each
            # partition's first row — no single-partition total sort (the
            # naive Window.orderBy funnels 100 TB through one task)
            ev = slim.repartitionByRange(
                max(32, nparts), "ts", "event_id"
            ).withColumn("__pid", F.spark_partition_id())
            w = Window.partitionBy("__pid").orderBy("ts", "event_id")
            led = ev.withColumn("__next_user", F.lead("user_id").over(w))
            # each non-empty partition's first row stitches to the
            # PREVIOUS NON-EMPTY partition (repartitionByRange can leave
            # empty partitions; pid-1 addressing would drop the pair that
            # spans the gap).  The firsts frame is one row per partition —
            # the unpartitioned lag() window is bounded by the partition
            # count, not the data.  min_by keys the first row strictly on
            # the (ts, event_id) sort key, matching lead()'s order.
            firsts0 = ev.groupBy("__pid").agg(
                F.min_by("user_id", F.struct("ts", "event_id")).alias(
                    "__first_user"
                )
            )
            # bounded-window ok: one row per range partition
            wp = Window.orderBy("__pid")
            firsts = firsts0.select(
                F.lag("__pid").over(wp).alias("__pid"),
                F.col("__first_user").alias("__bnext"),
            ).filter(F.col("__pid").isNotNull())
            led = led.join(F.broadcast(firsts), "__pid", "left").withColumn(
                "__next_user",
                F.coalesce(F.col("__next_user"), F.col("__bnext")),
            )
        inter = (
            led.filter(F.col("__next_user").isNotNull())
            .filter(F.col("user_id") != F.col("__next_user"))
            .groupBy("user_id", "__next_user")
            .agg(F.count("*").cast("double").alias("weight"))
        )
        inter = inter.select(
            "*",
            vid_of("customer", "user_id").alias("__src"),
            vid_of("customer", "__next_user").alias("__dst"),
        )
        # INTERACTED is derived (global window over events) — cache the
        # result so algorithms/traversals don't replay the derivation
        # (Database.open's prewarm thread fills it)
        inter = inter.cache()
        g.add_edges(
            "INTERACTED", inter, "__src", "__dst", props=["weight"],
            src_label="Customer", dst_label="Customer",
        )
        return g
