"""One lifecycle for the superstep and frontier loops in graph/: the
algorithms, TRAVERSE's distributed mode, MATCH/Cypher var-length
expansion, Gremlin ``repeat().until()`` and the ``path.*`` procedures.

A superstep is one DataFrame plan.  What each loop used to repeat by hand
lives here instead:

1. persist the new superstep frame;
2. run the loop's own scalar aggregate(s) on it -- the change flag, the
   norm, the dangling mass, a full-count probe -- as the superstep's
   single materializing action;
3. release the previous frame;
4. ``truncate_plan()`` the carried state every ``CHECKPOINT_EVERY``
   supersteps, counted from superstep 1 (``lineage.py`` says why that is
   a parquet round trip and not ``localCheckpoint``);
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

# 5 keeps a 10-iteration PageRank at two truncations.
CHECKPOINT_EVERY = 5


class Supersteps:
    """Cache and lineage bookkeeping of one superstep loop.

    By default the carried state is derived from the latest frame alone
    (ranks from contributions, labels from a flagged merge), so a step
    releases the frame before it.  With ``accumulating=True`` the state is
    a union of every frame since the last truncation (BFS levels, path
    hits): frames stay cached until ``carry`` truncates that union, which
    then keeps only the newest frame -- the frontier the next step expands.
    """

    def __init__(self, accumulating: bool = False) -> None:
        self.n = 0  # supersteps carried so far
        self._accumulating = accumulating
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
        frame.observe(
            seen, *[a.alias(n) for a, n in zip(aggregates, names)]
        ).write.format("noop").mode("overwrite").save()
        metrics = seen.get
        row = Row(**{n: metrics[n] for n in names})
        if not self._accumulating:
            self._release()
        self._cached.append(frame)
        return row

    def carry(self, state: DataFrame) -> DataFrame:
        """End the superstep: return ``state``, truncated when the cadence
        falls on this superstep (the superseded caches are released)."""
        self.n += 1
        if self.n % CHECKPOINT_EVERY:
            return state
        self._pinned = state.truncate_plan()
        self._release(keep_newest=self._accumulating)
        return self._pinned

    def finish(self, result: DataFrame) -> DataFrame:
        """Pin ``result`` unless it is already the last truncated state or
        no superstep ran, then release every cached frame."""
        if self.n and result is not self._pinned:
            result = result.truncate_plan()
        self._release()
        return result

    def _release(self, keep_newest: bool = False) -> None:
        keep = self._cached[-1:] if keep_newest else []
        for f in self._cached[: len(self._cached) - len(keep)]:
            f.unpersist()
        self._cached = keep
