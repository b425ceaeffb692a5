"""Spans, counters and Spark-side probes for the traced run.

Spans are recorded in the benchmark's own code: around each op, around
the call into the module that builds it, around planning and the action,
and -- by wrapping module entry points from outside (nothing under
``arcadedb_spark/`` changes) -- around the parser, translator, the query
skins, the command executor and first catalog touches.  Each span gets
its own Spark job group, so jobs are attributed to the innermost span
that launched them.  py4j round trips are counted per thread by wrapping
the gateway client's ``send_command``; ``persist``/``cache``/
``unpersist``/``truncate_plan`` by wrapping those DataFrame methods.
Spans and counts from threads that are not benchmark clients (the
engine's prewarm daemons) are kept apart.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import Counter
from contextlib import contextmanager

# module entry points wrapped in the traced run: (module, attribute path, span name)
WRAPPED = (
    ("arcadedb_spark.sql.parser", "parse", "sql.parser"),
    ("arcadedb_spark.sql.translator", "Translator.translate", "sql.translator"),
    ("arcadedb_spark.graph.match", "translate_match", "graph.match"),
    ("arcadedb_spark.graph.match", "combine_paths", "graph.match"),
    ("arcadedb_spark.graph.cypher", "cypher_query", "graph.cypher"),
    ("arcadedb_spark.graph.gremlin", "gremlin_query", "graph.gremlin"),
    ("arcadedb_spark.sql.mongo", "mongo_query", "sql.mongo"),
    ("arcadedb_spark.graphql.engine", "graphql_query", "graphql.engine"),
    ("arcadedb_spark.sql.commands", "execute_command", "sql.commands"),
)
COUNTED = {"persist": "persist", "cache": "persist", "unpersist": "unpersist",
           "truncate_plan": "truncate"}


def self_times(spans: list) -> dict:
    """Span id -> self time: the span's duration minus the part of its
    interval that its child spans cover (overlapping children counted
    once)."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_a, cur_b = 0.0, None, None
        for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def unattributed(spans: list, selfs: dict, excluded: float = 0.0) -> float:
    """Time of an op that no layer span covers: the self time of the op's
    root span (the one without a parent) less ``excluded``, the part of it
    that the benchmark spent on its own probes.  Self times of all spans
    add up to the root's duration by construction, so this -- not their
    sum -- is what says whether the layer spans account for the op."""
    root = next(s for s in spans if s["parent"] is None)
    return max(0.0, selfs[root["id"]] - excluded)


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list = []
        self.clients: set = set()  # thread idents of benchmark clients
        self.background = Counter()  # py4j calls / spans on other threads
        self.first_touch: list = []  # (table, made by a client thread, ms)
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self.sc = None

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, group) -> None:
        self._local.quiet = True
        try:
            if group is None:
                self.sc._jsc.clearJobGroup()
            else:
                self.sc.setJobGroup(group, group)
        finally:
            self._local.quiet = False

    @contextmanager
    def span(self, name: str, op=None):
        if not self.enabled:
            yield None
            return
        client = threading.get_ident() in self.clients
        st = self._stack()
        parent = st[-1] if st else None
        rec = {
            "id": next(self._ids), "name": name,
            "op": op if op is not None else (parent["op"] if parent else None),
            "parent": parent["id"] if parent else None,
            "thread": threading.current_thread().name, "client": client,
            "py4j": 0, "persist": 0, "unpersist": 0, "truncate": 0,
            "group": None,
        }
        if client:
            rec["group"] = f"perfbench-{rec['id']}"
            self._set_group(rec["group"])
        else:
            with self._lock:
                self.background["spans"] += 1
        st.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(rec)
            if client:
                self._set_group(parent["group"] if parent else None)

    def _count(self, what: str) -> None:
        if not self.enabled or getattr(self._local, "quiet", False):
            return
        st = self._stack()
        if st:
            st[-1][what] += 1
        elif threading.get_ident() not in self.clients:
            with self._lock:
                self.background[what] += 1

    @contextmanager
    def quiet(self):
        """Probe calls made by the benchmark itself are not counted."""
        self._local.quiet = True
        try:
            yield
        finally:
            self._local.quiet = False

    # -- installation --------------------------------------------------------
    def install(self, spark) -> None:
        """Wrap the gateway client, DataFrame methods and module entry
        points.  Wrappers record nothing while ``enabled`` is False."""
        import importlib

        from pyspark.sql import DataFrame

        from arcadedb_spark.catalog import TypeDef

        self.sc = spark.sparkContext
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def send_command(*a, **k):
            self._count("py4j")
            return send(*a, **k)

        client.send_command = send_command

        for meth, what in COUNTED.items():
            orig = getattr(DataFrame, meth)

            def counted(*a, _orig=orig, _what=what, **k):
                self._count(_what)
                return _orig(*a, **k)

            setattr(DataFrame, meth, functools.wraps(orig)(counted))

        for mod, path, name in WRAPPED:
            owner = importlib.import_module(mod)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            orig = getattr(owner, attr)

            def wrapped(*a, _orig=orig, _name=name, **k):
                with self.span(_name):
                    return _orig(*a, **k)

            setattr(owner, attr, functools.wraps(orig)(wrapped))

        # first touch of a type: its loader runs once (parquet footer
        # reads, metadata wiring); recorded on every thread, always, with
        # whether a client thread made it
        df_orig = TypeDef.df

        def df(td, _orig=df_orig):
            if td._df is not None or td.live:
                return _orig(td)
            t0 = time.perf_counter()
            try:
                return _orig(td)
            finally:
                with self._lock:
                    self.first_touch.append((
                        td.name, threading.get_ident() in self.clients,
                        (time.perf_counter() - t0) * 1000.0,
                    ))

        TypeDef.df = df

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# Spark-side probes (read from outside the engine)
# ---------------------------------------------------------------------------

def cache_entries(spark) -> int:
    """Entries in the session's CacheManager (cached query plans)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    try:
        field = cm.getClass().getDeclaredField("cachedData")
        field.setAccessible(True)
        return int(field.get(cm).size())
    except Exception:  # noqa: BLE001 - fall back to persisted RDDs
        return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def block_store_bytes(spark) -> int:
    """Bytes of cached blocks (memory + disk) the block store holds."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def is_cached(df) -> bool:
    lv = df.storageLevel
    return bool(lv.useMemory or lv.useDisk)


def job_counts(sc, groups) -> dict:
    """Jobs, stages and tasks launched under the given job groups."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g) or []:
            jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                stages += 1
                si = tracker.getStageInfo(sid)
                tasks += si.numTasks if si else 0
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def plan_metrics(df) -> dict:
    """SQLMetrics summed over the executed (AQE final) plan of ``df``."""
    out = {"shuffle_write_bytes": 0, "spill_bytes": 0, "scan_bytes": 0, "rows_out": 0}
    root = df._jdf.queryExecution().executedPlan()
    stack, top = [root], True

    def metric(node, name) -> int:
        opt = node.metrics().get(name)
        return int(opt.get().value()) if opt.isDefined() else 0

    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            stack.append(node.child())
            continue
        if top:
            out["rows_out"] = metric(node, "numOutputRows")
            top = False
        out["shuffle_write_bytes"] += metric(node, "shuffleBytesWritten")
        out["spill_bytes"] += metric(node, "spillSize")
        out["scan_bytes"] += metric(node, "filesSize")
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return out
