"""One lifecycle for the superstep and frontier loops in graph/: every
algorithm loop (PageRank through Louvain/Leiden, max-flow, betweenness,
the embeddings, the selection and peeling loops), TRAVERSE's distributed
mode, MATCH/Cypher var-length expansion, Gremlin ``repeat().until()``
and the ``path.*`` procedures.  Two loops keep their own truncation
(``tests/test_plans.py::KEPT_TRUNCATING_LOOPS``): ``algorithms_more.mst``
and ``algorithms_extra4.min_spanning_arborescence`` write per-round
outputs that a later union or unwind pass re-reads.  PageRank and
TRAVERSE on an edge frame of at most 200k rows run no loop here: they
iterate the driver's CSR arrays (``graph/local.py``); above that bound
their loops are unchanged.

Three kinds of frontier loop run here.  A BFS -- shortest paths, the
backward pass of SCC, the spanning forest behind bridges, bipartite
colouring, TRAVERSE's distributed mode, ``path.subgraphNodes`` -- calls
``algorithms.bfs``: a plain ``Supersteps`` that carries one row per
reached vertex and reads it once per superstep through the self rows of
the adjacency, so its plan grows by a constant per superstep.  A
weighted shortest-path search -- ``dijkstra_sssp``, A* (and
``dijkstra_path``), Bellman-Ford, Steiner's per-terminal distances --
calls ``algorithms.relax``, the same shape over a weighted adjacency: one
label per reached vertex, hops only from the labels the last superstep
improved, and it runs to its fixed point or raises on a negative cycle.
The loops that carry paths -- ``all_simple_paths``, ``path.expand``,
var-length MATCH, Gremlin ``repeat().until()``, betweenness' backward
pass -- keep a union of levels tagged in a ``level`` column: a level
reads the one before it, never the whole union.

A superstep is one DataFrame plan.  What each loop used to repeat by hand
lives here instead:

1. persist the new superstep frame;
2. run the loop's own scalar aggregate(s) on it -- the change flag, the
   norm, the dangling mass, a full-count probe -- as the superstep's
   single materializing action;
3. release the previous frame;
4. ``truncate_plan()`` the carried state every ``CHECKPOINT_EVERY``
   supersteps, counted from superstep 1 (``lineage.py`` says why that is
   a parquet round trip);
5. pin the result with ``truncate_plan()`` unless it already is the
   frame the last truncation returned.

A ``Supersteps`` is a context manager that owns every cache taken in its
block: the inputs the loop caches through ``ss.cache(frame)`` (the edge
or adjacency frames every superstep reads) and the stepped frames.
Leaving the block releases them all, whether it returns or raises, so a
loop neither releases anything by hand nor leaks on a failed superstep.
A loop whose carried state nobody reads (its answer is already on the
driver) simply leaves the block without ``finish``.  One rule keeps the
caller's caches the caller's: ``ss.cache`` of a frame whose plan equals
one already cached persists nothing, and leaving the block leaves that
entry alone -- the caller's cache serves the loop and stays theirs.

A loop drives it like this::

    with Supersteps() as ss:
        edges = ss.cache(edges)                            # an input
        for _ in range(max_iterations):
            stepped = ...                                  # one superstep plan
            changed = ss.step(stepped, F.max("__chg"))[0]  # 1-3
            state = ss.carry(stepped.select(...))          # 4
            if not changed:
                break
        state = ss.finish(state)                           # 5
    # every cache taken in the block is released here

A block with no loop at all is how a function scopes caches it reads only
before it returns; a cache that the returned lazy plan reads belongs to
``caching.bounded_cache`` instead.

Persistence goes through ``DataFrame.persist/unpersist/truncate_plan`` so
wrappers of those methods (the benchmark's tracer) see every call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Row
from pyspark.sql import functions as F

from arcadedb_spark.lineage import CHECKPOINT_EVERY


class Supersteps:
    """Cache and lineage bookkeeping of one superstep loop, used as a
    context manager: leaving the block releases every cache it took.

    By default the carried state is derived from the latest frame alone
    (ranks from contributions, labels from a flagged merge), so a step
    releases the frame before it.

    With ``level="<col>"`` the state is a union of levels (path hops)
    tagged in that column, each stepped frame is the next level, and
    frames stay cached until ``carry`` truncates the union.  The next step
    expands ``frontier``, the newest level.  A truncation cuts the union's
    lineage, not the stepped frame's: a frontier kept as that frame would
    carry the plan of every level before it.  After a truncation
    ``frontier`` is the truncated union's rows at the newest level, a
    value ``step`` observes in its own job.
    """

    def __init__(self, level: str | None = None) -> None:
        self.n = 0  # supersteps carried so far
        self.level = level
        self.frontier: DataFrame | None = None  # the newest level
        self._newest = None  # max(level) of the last stepped frame
        self._inputs: list[DataFrame] = []  # what ``cache`` persisted
        self._cached: list[DataFrame] = []  # stepped frames
        self._pinned: DataFrame | None = None  # what the last truncation returned

    def __enter__(self) -> "Supersteps":
        return self

    def __exit__(self, *exc) -> None:
        self._release()
        for f in self._inputs:
            f.unpersist()
        self._inputs = []

    def cache(self, frame: DataFrame) -> DataFrame:
        """Persist the loop input ``frame`` until the block ends and return
        it.  If an equal plan is already cached, persist nothing: that
        entry serves the loop and is not released with the block."""
        _hold(frame, self._inputs)
        return frame

    def step(self, frame: DataFrame, *aggregates) -> Row:
        """Persist ``frame`` and return the row of ``aggregates`` computed
        on it -- the superstep's one Spark action.  A loop without a
        per-superstep scalar skips ``step`` and only calls ``carry``."""
        _hold(frame, self._cached)  # before the write, which may raise
        # the aggregates are observed metrics of a no-op write, so the job
        # that fills the cache computes them: ``frame.agg(...)`` would add
        # a shuffle stage, which AQE runs as a job of its own
        seen = Observation()
        names = [f"_{i}" for i in range(len(aggregates))]
        observed = [a.alias(n) for a, n in zip(aggregates, names)]
        if self.level is not None:
            observed.append(F.max(self.level).alias("level"))
        frame.observe(seen, *observed).write.format("noop").mode("overwrite").save()
        metrics = seen.get
        row = Row(**{n: metrics[n] for n in names})
        if self.level is None:
            for f in self._cached:
                if f is not frame:
                    f.unpersist()
            self._cached = [f for f in self._cached if f is frame]
        else:
            self.frontier, self._newest = frame, metrics["level"]
        return row

    def carry(self, state: DataFrame) -> DataFrame:
        """End the superstep: return ``state``, truncated when the cadence
        falls on this superstep (the superseded caches are released)."""
        self.n += 1
        if self.n % CHECKPOINT_EVERY:
            return state
        self._pinned = state.truncate_plan()
        self._release()
        if self.level is not None:
            self.frontier = self._pinned.filter(
                F.col(self.level) == F.lit(self._newest)
            )
        return self._pinned

    def finish(self, result: DataFrame) -> DataFrame:
        """Pin ``result`` unless it is already the last truncated state or
        no superstep ran; the caches go when the block ends."""
        if self.n and result is not self._pinned:
            result = result.truncate_plan()
        return result

    def _release(self) -> None:
        """Release the cached stepped frames."""
        for f in self._cached:
            f.unpersist()
        self._cached = []


def _hold(frame: DataFrame, held: list[DataFrame]) -> None:
    """Persist ``frame`` and add it to ``held``, unless an equal plan is
    already cached: that entry is someone else's and stays theirs."""
    level = frame.storageLevel
    if not (level.useMemory or level.useDisk):
        frame.persist()
        held.append(frame)
