"""Ownership of the intermediates an operator caches for its result.

An operator that persists or localCheckpoints a frame its result's plan
reads records that frame on the result (``track_cached``). The caller
materializes the result (writes or collects it) and then calls
``release_cached``; a long-lived session (stream, service) calling the
operator per batch would otherwise grow the SQL CacheManager and the
persistent RDD set without bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_ATTR = "_cached_intermediates"


def cached_intermediates(df: DataFrame) -> tuple:
    """The frames tracked on ``df`` — for an operator that derives a new
    result from a tracked one and must forward its intermediates."""
    return tuple(getattr(df, _ATTR, ()))


def track_cached(result: DataFrame, *frames: DataFrame) -> DataFrame:
    """Record ``frames`` (persisted or localCheckpointed by the operator)
    on ``result``, after any already tracked there; returns ``result``."""
    setattr(result, _ATTR, cached_intermediates(result) + frames)
    return result


def release_frame(df: DataFrame) -> None:
    """Release ONE cached or checkpointed frame's storage. ``unpersist()``
    clears only the SQL CacheManager entry; a localCheckpointed frame's
    storage is the RDD behind the LogicalRDD at the root of its analyzed
    plan, which otherwise lives until driver GC collects the plan. Only
    that root is released: LogicalRDD leaves deeper in the plan belong to
    the frame's inputs (e.g. a caller's checkpointed table), which must
    stay readable. Unpersisting a checkpoint discards its data for good
    (the lineage is truncated), so call this once nothing reads ``df``."""
    try:
        df.unpersist()
    except Exception:
        pass
    try:
        root = df._jdf.queryExecution().analyzed()
        if root.getClass().getName().endswith(".LogicalRDD"):
            root.rdd().unpersist(False)
    except Exception:
        pass


def release_cached(df: DataFrame) -> None:
    """Release every intermediate tracked on ``df``. Call after
    materializing ``df``; safe to call twice."""
    for c in cached_intermediates(df):
        release_frame(c)
    setattr(df, _ATTR, ())
