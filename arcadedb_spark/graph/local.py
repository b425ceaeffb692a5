"""Graphs that fit in the driver: one bounded collect of an edge frame into
numpy CSR arrays, and the kernels that walk them.

Reference: engine/src/main/java/com/arcadedb/graph/olap/CSRBuilder.java
builds a CSR adjacency (CSRAdjacencyIndex) that the OLAP algorithms
iterate inside one JVM.  A superstep on Spark costs a job or more of
scheduling whatever the graph's size, so an edge frame of at most
``_DRIVER_EDGES_MAX`` rows is collected once and walked on the driver:
TRAVERSE's BFS (``neighbors``) and PageRank's power iteration (``pagerank``).
Larger frames keep their distributed loops.

- **The bound.**  A pre-gate (no job) rejects frames whose plan leaves
  -- files, cached data, local rows -- Spark's optimizer sizes above
  ``_DRIVER_EDGES_MAX_BYTES`` in total; otherwise the collect is a
  ``limit(_DRIVER_EDGES_MAX + 1)``, so an edge set of any size ships at
  most one row more than the bound to learn that it does not fit.
- **The arrays.**  ``vids`` holds the sorted distinct endpoint ids, and a
  vertex is its position there; vertex ``i``'s out-edges are
  ``indices[indptr[i]:indptr[i + 1]]`` (destination positions), with
  ``weights`` aligned to them.  At most 16 B per edge.
- **The memo.**  The arrays are kept per analyzed plan of the collected
  frame, in an LRU of ``_MEMO_MAX`` entries; so is a frame that does not
  fit, which is thus probed once.  Two frames share an entry when Spark
  finds them ``sameSemantics`` -- the plan equality by which Spark's
  CacheManager serves a ``cache()``d frame, so a write that changes an
  edge frame's plan (a new LocalRelation leg, a truncated state's new
  parquet path) is a miss.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

# edge sets at or below this row count are collected once (Arrow) and
# walked entirely driver-side (200k × 16 B ≈ 3 MB of arrays)
_DRIVER_EDGES_MAX = 200_000
# input bytes above which the edge frame cannot plausibly hold
# ≤ _DRIVER_EDGES_MAX rows (200k (long,long) pairs are a few MB of
# parquet even inside a wide table) -- past it the collect is skipped
# outright, so a 100-TB edge set never ships 200k rows just to learn it
# does not fit
_DRIVER_EDGES_MAX_BYTES = 256 * 1024 * 1024
# collected edge frames kept (traverse's few edge projections, a
# repeated algorithm call)
_MEMO_MAX = 4

_memo: list[tuple[DataFrame, int, "CSR | None"]] = []  # least recently used first
_lock = threading.Lock()


@dataclass(frozen=True, eq=False)
class CSR:
    """Out-adjacency of a collected edge frame (see the module docstring).
    ``complete`` is false when rows with a null endpoint or weight were
    left out."""

    vids: np.ndarray
    indptr: np.ndarray
    indices: np.ndarray
    weights: np.ndarray | None
    complete: bool


def _edges_obviously_large(edges: DataFrame) -> bool:
    """Size pre-gate (no Spark job): the optimizer's size of each leaf of
    the plan, summed.  A file scan's size is its listed files' and a
    cached relation's its data's; a leaf Spark cannot size (an RDD)
    counts 0."""
    unknown = edges.sparkSession._jsparkSession.sessionState().conf().defaultSizeInBytes()
    leaves = edges._jdf.queryExecution().optimizedPlan().collectLeaves()
    sizes = (leaves.apply(i).stats().sizeInBytes() for i in range(leaves.size()))
    return sum(s for s in sizes if s != unknown) > _DRIVER_EDGES_MAX_BYTES


def csr_of(edges: DataFrame) -> CSR | None:
    """The CSR of ``edges`` -- (from, to[, weight]) columns in that order,
    endpoints ``long`` -- or ``None`` if it has more than
    ``_DRIVER_EDGES_MAX`` rows or other endpoint types."""
    key = edges.semanticHash()
    for entry in list(_memo):
        frame, h, csr = entry
        if (
            h == key
            and frame.sparkSession is edges.sparkSession
            and frame.sameSemantics(edges)
        ):
            with _lock:
                if entry in _memo:
                    _memo.remove(entry)
                    _memo.append(entry)
            return csr
    csr = None
    if not _edges_obviously_large(edges):
        table = edges.limit(_DRIVER_EDGES_MAX + 1).toArrow()
        if table.num_rows <= _DRIVER_EDGES_MAX:
            csr = _build(table)
    with _lock:
        _memo.append((edges, key, csr))
        del _memo[:-_MEMO_MAX]
    return csr


def _build(table: pa.Table) -> CSR | None:
    cols = table.columns
    if not all(pa.types.is_int64(c.type) for c in cols[:2]):
        return None
    valid = np.ones(table.num_rows, dtype=bool)
    for c in cols:
        if c.null_count:
            valid &= c.is_valid().to_numpy(zero_copy_only=False)
    src, dst, *w = (c.fill_null(0).to_numpy()[valid] for c in cols)
    vids, pos = np.unique(np.concatenate([src, dst]), return_inverse=True)
    src, dst = pos[: len(src)], pos[len(src):]
    order = np.argsort(src, kind="stable")
    indptr = np.zeros(len(vids) + 1, dtype=np.int64)
    np.cumsum(np.bincount(src, minlength=len(vids)), out=indptr[1:])
    return CSR(
        vids,
        indptr,
        dst[order],
        w[0].astype(np.float64)[order] if w else None,
        bool(valid.all()),
    )


def neighbors(csr: CSR, frontier: "set[int]") -> "list[int]":
    """Distinct out-neighbour ids of the vertex ids ``frontier``."""
    want = np.fromiter(frontier, dtype=np.int64, count=len(frontier))
    at = np.searchsorted(csr.vids, want)
    known = at < len(csr.vids)
    known[known] = csr.vids[at[known]] == want[known]
    at = at[known]
    starts = csr.indptr[at]
    lens = csr.indptr[at + 1] - starts
    if not lens.sum():
        return []
    # edge k of the concatenated runs is indices[starts[j] + k − ends[j−1]]
    ends = np.cumsum(lens)
    run = np.arange(ends[-1]) - np.repeat(ends - lens - starts, lens)
    return csr.vids[np.unique(csr.indices[run])].tolist()


def pagerank(csr: CSR, iterations: int, damping: float) -> list[tuple[int, float]] | None:
    """``algorithms.pagerank``'s (vid, rank) rows: shares w / Σw of each
    source's out-weight, ranks starting at 1.0, Σrank = n, the dangling
    mass spread evenly.  ``None`` if a source's out-weight is zero (the
    distributed share raises DIVIDE_BY_ZERO)."""
    n = len(csr.vids)
    if not n:
        return []
    src = np.repeat(np.arange(n), np.diff(csr.indptr))
    w = np.ones(len(src)) if csr.weights is None else csr.weights
    out_w = np.bincount(src, weights=w, minlength=n)[src]
    if (out_w == 0).any():
        return None
    share = w / out_w
    rank = np.ones(n)
    for _ in range(iterations):
        c = np.bincount(csr.indices, weights=rank[src] * share, minlength=n)
        spread = (n - c.sum()) / n
        rank = (1.0 - damping) + damping * (c + spread)
    return list(zip(csr.vids.tolist(), rank.tolist()))
