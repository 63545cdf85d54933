"""Version-deduplicated table counts (reference ``src/webserver/server.py:
120-203`` /count endpoints; SURVEY.md A3/Q8).

The reference's count is COUNT(*) over the DISTINCT-ON dedup subquery —
60-120s at 60M rows, >10min at 900M (BASELINE.md).  Spark counts distinct
logical keys directly: no payload shuffle at all, just key hashing with
partial aggregation — the headline scale win.

Estimate mode (the reference reads EXPLAIN's Plan Rows) maps to
``approx_count_distinct`` (HyperLogLog++, one pass, tunable rsd).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastdb_spark.versions import ProcverResolver


def versioned_count(
    photometry: DataFrame,
    resolver: ProcverResolver,
    procver: str,
    table: str,
    keys: tuple[str, ...] = ("diaobjectid", "visit"),
    estimate: bool = False,
) -> DataFrame:
    """Exact or HLL-estimated count of logical rows for one procver.

    A logical row exists if ANY of the procver's base versions has it, so
    the count is count_distinct(keys) over the mapping-restricted rows —
    the priority dedup itself is unnecessary for counting (each logical
    key contributes exactly once regardless of which version wins).
    """
    bpvs = sorted(resolver.priorities(procver, table))
    restricted = photometry.filter(F.col("base_procver_id").isin(bpvs))
    key = F.struct(*[F.col(k) for k in keys])
    if estimate:
        agg = F.approx_count_distinct(key).alias("n")
    else:
        agg = F.count_distinct(key).alias("n")
    return restricted.agg(agg)


def table_extremes(photometry: DataFrame, time_col: str = "midpointmjdtai") -> DataFrame:
    """Scalar MAX/MIN used by the alert scheduler (reference
    ``src/services/projectsim.py:459-468``; SURVEY.md A9)."""
    return photometry.agg(
        F.min(time_col).alias("min_t"), F.max(time_col).alias("max_t")
    )
