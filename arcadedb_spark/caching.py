"""Bounded cache registry for operator-internal ``persist`` calls.

Library operators (dedup pipelines) cache corpus-derived intermediates
that several consumers inside ONE returned plan share.  A bare
``.cache()`` has two session-lifetime problems at scale (guide §5):

- every call with distinct inputs adds a corpus-sized entry to the
  CacheManager that nothing ever unpersists — unbounded executor
  memory/disk growth in a long-lived session;
- re-caching an identical plan (two queries sharing a sub-pipeline)
  logs ``CacheManager: Asked to cache already cached data`` and churns
  the registry.

``bounded_cache`` fixes both: it skips frames whose analyzed plan is
already cached (plan-level lookup — the existing entry serves this frame
too), and it evicts the oldest registered frame beyond ``_MAX_DEFAULT``
(8; eviction only costs recompute, never correctness).
``release_operator_caches`` drops everything, for callers that want
deterministic lifecycle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_MAX_DEFAULT = 8
_registry: list[DataFrame] = []


def bounded_cache(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """Persist ``df`` under the bounded registry (see module docstring)."""
    try:
        lv = df.storageLevel
        if lv.useMemory or lv.useDisk:
            return df  # an equivalent plan is already cached
    except Exception:
        pass
    df.persist(level)
    _registry.append(df)
    while len(_registry) > _MAX_DEFAULT:
        old = _registry.pop(0)
        try:
            old.unpersist()
        except Exception:
            pass  # session gone / already dropped
    return df


def release_operator_caches() -> None:
    """Unpersist every registered operator frame (explicit lifecycle)."""
    while _registry:
        try:
            _registry.pop().unpersist()
        except Exception:
            pass
