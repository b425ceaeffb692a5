"""One lifecycle for the superstep and frontier loops in graph/: every
algorithm loop (PageRank through Louvain/Leiden, max-flow, betweenness,
the embeddings, the selection and peeling loops), TRAVERSE's distributed
mode, MATCH/Cypher var-length expansion, Gremlin ``repeat().until()``
and the ``path.*`` procedures.  Two loops keep their own truncation
(``tests/test_plans.py::KEPT_TRUNCATING_LOOPS``): ``algorithms_more.mst``
and ``algorithms_extra4.min_spanning_arborescence`` write per-round
outputs that a later union or unwind pass re-reads.

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
   frame the last truncation returned, then release what is still cached.

A loop drives it like this::

    ss = Supersteps()
    for _ in range(max_iterations):
        stepped = ...                                  # one superstep plan
        changed = ss.step(stepped, F.max("__chg"))[0]  # 1-3
        state = ss.carry(stepped.select(...))          # 4
        if not changed:
            break
    state = ss.finish(state)                           # 5

Persistence goes through ``DataFrame.persist/unpersist/truncate_plan`` so
wrappers of those methods (the benchmark's tracer) see every call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Row
from pyspark.sql import functions as F

from arcadedb_spark.lineage import CHECKPOINT_EVERY


class Supersteps:
    """Cache and lineage bookkeeping of one superstep loop.

    By default the carried state is derived from the latest frame alone
    (ranks from contributions, labels from a flagged merge), so a step
    releases the frame before it.

    With ``level="<col>"`` the state is a union of levels (BFS levels,
    path hops) tagged in that column, each stepped frame is the next level,
    and frames stay cached until ``carry`` truncates the union.  The next
    step expands ``frontier``, the newest level.  A truncation cuts the
    union's lineage, not the stepped frame's: each level anti-joins the
    union that holds the level before, so a frontier kept as that frame
    would double its plan per level.  After a truncation ``frontier`` is
    the truncated union's rows at the newest level, a value ``step``
    observes in its own job.
    """

    def __init__(self, level: str | None = None) -> None:
        self.n = 0  # supersteps carried so far
        self.level = level
        self.frontier: DataFrame | None = None  # the newest level
        self._newest = None  # max(level) of the last stepped frame
        self._cached: list[DataFrame] = []
        self._pinned: DataFrame | None = None  # what the last truncation returned

    def step(self, frame: DataFrame, *aggregates) -> Row:
        """Persist ``frame`` and return the row of ``aggregates`` computed
        on it -- the superstep's one Spark action.  A loop without a
        per-superstep scalar skips ``step`` and only calls ``carry``."""
        frame.persist()
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
            self._release()
        else:
            self.frontier, self._newest = frame, metrics["level"]
        self._cached.append(frame)
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
        no superstep ran, then release every cached frame."""
        if self.n and result is not self._pinned:
            result = result.truncate_plan()
        self._release()
        return result

    def _release(self) -> None:
        for f in self._cached:
            f.unpersist()
        self._cached = []
