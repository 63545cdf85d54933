"""Registry for staged (persisted) intermediate frames.

Pipeline operators persist sketch/staging frames that multiple downstream
branches read (``pipeline.dedup._stage``, ``pipeline.curate``).  The
frames must stay cached until the consuming job has run — which the
operator itself cannot know — so instead of leaking them into the session
forever, every stage registers here and the *consumer* calls
:func:`release_staged` once it has materialized its result (bench does
this between queries; tests in teardown).
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_STAGED: list[DataFrame] = []


def stage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) and track it for later release.

    Eager materialization (count action) by default: branches consuming a
    lazily-filled cache concurrently inside one job lose the race and all
    recompute (measured ~2x on the composed curation pipeline)."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    if eager:
        df.count()
    _STAGED.append(df)
    return df


def release_staged() -> int:
    """Unpersist every tracked stage; returns how many were released."""
    n = 0
    while _STAGED:
        _STAGED.pop().unpersist()
        n += 1
    return n


def stage_adaptive(df: DataFrame, target_bytes: int = 32 * 1024 * 1024):
    """Stage ``df`` eagerly, then return a view coalesced to
    ``ceil(cached_bytes / target_bytes)`` partitions when that is
    narrower than the cached layout (r13, VERDICT r12 #5 — the
    generalization of incdedup's spread-then-coalesce lesson).

    The index-maintenance operators stage KB-to-MB hash/assignment
    frames that are deliberately WIDE for the materializing pass (Arrow
    decode, GEMM assignment want every core), but the ~50-150 ms
    broadcast/AQE jobs of the maintenance choreography then re-scan the
    tiny cache with one task per cached partition — 32 tasks over a few
    KB each, pure scheduling overhead at gate scale (the r12 incdedup
    A/B measured the un-narrowed form at 2.4x the gate).  Coalescing
    the VIEW (never the cache) keeps the materialization parallel and
    the downstream stages narrow.  The guard is the materialized byte
    size from the cached-plan statistics, so the rule is scale-adaptive
    (guide §2): a deployment-scale frame coalesces to >= its own
    partition count and comes back unchanged — no throttle where the
    data is real.  Layout-only: values and row order semantics are
    untouched (every consumer is an unordered join/aggregate input)."""
    df = stage(df)
    try:
        nbytes = int(
            df.select("*")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .sizeInBytes()
        )
        width = df._jdf.rdd().getNumPartitions()
    except (AttributeError, Py4JError):
        # connect mode has no _jdf: keep the plain staged frame
        return df
    target = max(1, -(-nbytes // max(target_bytes, 1)))
    if target < width:
        return df.coalesce(target)
    return df
