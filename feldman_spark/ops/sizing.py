"""Catalyst plan-size probing for size-adaptive operator routing, and the
one lifecycle for persists that outlive the operator that made them.

Several operators choose between a small-input shape (no persist, simple
sort) and a large-input shape (persisted shared subtree, binned/union
rewrites) by Catalyst's optimized-plan size estimate. The estimate costs
no data access — it is pure plan metadata — but it has two failure
modes the gates must agree on:

* non-JVM-backed or exotic plans (Spark Connect, mocked frames) raise —
  treat as UNKNOWN;
* stat-less leaves (``LogicalRDD`` from ``createDataFrame``, some
  streaming sources) report ``spark.sql.defaultSizeInBytes`` which
  defaults to ``Long.MaxValue`` — an implausible sentinel, not a
  measurement. Before this check, tiny RDD-backed inputs always took
  the large-input path, the direction measured 2-2.3x slower at small
  scale.

Both map to 0 ("assume small"): the small-input shape is the one whose
worst case is mild (an extra pass over a small input), while the
large-input shape's fixed costs (persist materialization, serialized
fused stages) are only paid back by genuinely large inputs.

Operators that return a lazy plan over a persisted intermediate cannot
unpersist it themselves: the caller's action still needs the cache.
They persist through :func:`persist_scoped`, which records the table in
one process-wide list, and :func:`release` unpersists everything on it
(long-lived sessions call it between workloads;
``spark.catalog.clearCache()`` also works, but drops every cache).
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame

__all__ = ["plan_size_estimate", "SIZE_UNKNOWN_SENTINEL", "persist_scoped",
           "release"]

# Anything at or above this is not a measurement: Catalyst's fallback for
# stat-less leaves is defaultSizeInBytes = Long.MaxValue (2^63-1), and any
# propagated product of it stays astronomically large. Real corpora at
# 100 TB are ~2^47; 2^60 (~1.15 EB) is safely past any plausible estimate.
SIZE_UNKNOWN_SENTINEL = 1 << 60

# every table persisted through persist_scoped and not yet released
_SCOPED: List[DataFrame] = []


def plan_size_estimate(df: DataFrame) -> int:
    """Catalyst ``optimizedPlan().stats().sizeInBytes()`` for ``df``,
    with 0 returned for UNKNOWN — either the probe raised (non-JVM
    plans) or the estimate is the stat-less-leaf sentinel
    (>= ``SIZE_UNKNOWN_SENTINEL``). Callers route ``est > threshold``
    to the large-input shape, so 0 always selects the small-input path.
    """
    try:
        est = int(df._jdf.queryExecution().optimizedPlan()
                  .stats().sizeInBytes())
    except Exception:  # non-JVM-backed or exotic plans: assume small
        return 0
    if est >= SIZE_UNKNOWN_SENTINEL:
        return 0  # stat-less-leaf sentinel, not a measurement
    return est


def persist_scoped(df: DataFrame) -> DataFrame:
    """``df.persist()`` (MEMORY_AND_DISK, the same level as ``cache()``),
    recorded so :func:`release` can unpersist it later."""
    df = df.persist()
    _SCOPED.append(df)
    return df


def release() -> int:
    """Unpersist every table :func:`persist_scoped` recorded and return
    how many it released. Safe any time: plans built on the tables stay
    valid and recompute their lineage on next use."""
    n = 0
    while _SCOPED:
        _SCOPED.pop().unpersist()
        n += 1
    return n
