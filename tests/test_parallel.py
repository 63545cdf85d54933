"""The driver-side job pool: pool jobs keep the caller's job group, and
each item runs with its own copy of the local properties."""

from __future__ import annotations

import threading
import warnings

from fastdb_spark.parallel import run_independent_jobs

from .conftest import count_jobs


def test_pool_jobs_keep_caller_job_group(spark):
    def submit():
        with warnings.catch_warnings():
            # only the inheritance warning is an error: a broad filter
            # also raises py4j's unrelated unclosed-socket ResourceWarning
            warnings.filterwarnings("error", message=".*will not be inherited")
            run_independent_jobs(lambda i: spark.range(i + 1).collect(), range(3))

    assert count_jobs(spark, "parallel-pool-group", submit) >= 3


def test_pool_items_do_not_share_local_properties(spark):
    sc = spark.sparkContext
    both_running = threading.Barrier(2, timeout=30)

    def item(i):
        if i == 0:
            sc.setLocalProperty("parallel.test.prop", "set-by-item-0")
        both_running.wait()  # item 0 has set it before item 1 reads
        return sc.getLocalProperty("parallel.test.prop")

    assert run_independent_jobs(item, range(2)) == ["set-by-item-0", None]
