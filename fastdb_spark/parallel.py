"""Driver-side overlap of INDEPENDENT Spark jobs (guide §2.6).

The persisted-index maintenance paths (the table writes of an append,
takedown, compaction) and the per-table merges of an alert-ingest batch
each touch several independent targets — one directory per table.  Run
serially from the driver, each target pays its own job-launch latency
and leaves the executors idle through the tail of the previous one.  Spark's scheduler happily runs several jobs at once inside
one application; submitting the per-target work from a small thread pool
lets the next target's tasks back-fill the executors as the previous one
drains (FIFO scheduling is exactly the back-fill behaviour wanted here).

Pool jobs keep the caller's job group, job description and tags: each
item is wrapped with ``pyspark.inheritable_thread_target`` in the calling
thread, so cancelling or monitoring the caller's group covers them.  The
wrap is taken once PER ITEM because one wrapper hands every thread the
same local-properties object, and a property one job sets (its SQL
execution id, say) would then leak into the jobs running beside it.

Exceptions propagate: a failure cancels nothing already running but
re-raises to the caller after all submitted work settles, so a failed
job is never silently swallowed.
"""

from __future__ import annotations

import functools
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Iterable, Sequence, TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

T = TypeVar("T")
R = TypeVar("R")

#: default pool width: enough overlap to fill a job's scheduling tail,
#: small enough that concurrent rewrites do not fight for executors
#: (guide §2.6: "2-3 jobs in flight is plenty"; maintenance rewrites are
#: shorter than analytics jobs, so 4 is the sweet spot measured on the
#: sf0.1 takedown/compaction gates)
DEFAULT_JOB_POOL = 4


def run_independent_jobs(
    fn: Callable[[T], R],
    items: Sequence[T] | Iterable[T],
    max_workers: int = DEFAULT_JOB_POOL,
) -> list[R]:
    """Run ``fn(item)`` for every item, overlapping independent Spark
    jobs from a bounded driver thread pool; results come back in item
    order.  Falls back to a plain loop for 0/1 items (no pool setup
    cost on the common single-target path)."""
    items = list(items)
    if len(items) <= 1:
        return [fn(it) for it in items]
    session = SparkSession.active()
    calls = [
        inheritable_thread_target(session)(functools.partial(fn, it))
        for it in items
    ]
    with ThreadPoolExecutor(max_workers=min(max_workers, len(items))) as pool:
        return list(pool.map(lambda call: call(), calls))
