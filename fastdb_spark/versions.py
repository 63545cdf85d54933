"""Processing-version resolution and priority fallback.

THE central semantic of the reference (reference ``docs/overview.rst:45-74``,
``src/db.py:1597-1727``; SURVEY.md §1.1): a user-facing *processing version*
resolves — per table — to a priority-ordered list of *base processing
versions*.  Queries must return exactly one row per logical key, taken from
the highest-priority base version that has it.

Resolution order for a user-supplied string (reference
``src/db.py:1597-1630`` ``procver_id``): exact id -> description ->
alias description.

All dimension tables are tiny (dozens of rows) — they are collected to the
driver for resolution and **broadcast** for the photometry join, so the only
shuffle in a versioned read is the final dedup's hash aggregate.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastdb_spark.operators.dedup import dedup_top_priority


class ProcverResolver:
    """Resolves user-facing processing-version handles to per-table
    prioritized base-version lists."""

    def __init__(
        self,
        processing_version: DataFrame,
        processing_version_alias: DataFrame,
        base_procver_of_procver: DataFrame,
    ):
        self._pv = processing_version
        self._alias = processing_version_alias
        self._bpv_of_pv = base_procver_of_procver
        self._ids: dict[str, str] = {}

    def procver_id(self, procver: str) -> str:
        """id / description / alias -> processing_version.id
        (reference ``src/db.py:1597-1630``).

        Successful lookups are memoized per resolver: one request resolves
        the same handle once per table it reads, and each lookup is a
        collect.  An unknown handle is looked up (and raises) every time.
        """
        if procver in self._ids:
            return self._ids[procver]
        pv = self._pv.filter(
            (F.col("id") == procver) | (F.col("description") == procver)
        ).limit(1).collect()
        if pv:
            pvid = pv[0]["id"]
        else:
            al = self._alias.filter(F.col("description") == procver).limit(1).collect()
            if not al:
                raise KeyError(f"unknown processing version {procver!r}")
            pvid = al[0]["procver_id"]
        self._ids[procver] = pvid
        return pvid

    def bpv_mapping(self, procver: str, table: str) -> DataFrame:
        """DataFrame[base_procver_id, priority] for one (procver, table)
        (reference ``src/db.py:1671-1727``).  Tiny -> broadcast side."""
        pvid = self.procver_id(procver)
        return self._bpv_of_pv.filter(
            (F.col("procver_id") == pvid) & (F.col("_table") == table)
        ).select("base_procver_id", "priority")

    def highest_priority_bpv(self, procver: str, table: str) -> str:
        """Top-priority base version id (reference ``src/db.py:1699-1706``,
        SURVEY.md O2)."""
        rows = (
            self.bpv_mapping(procver, table)
            .orderBy(F.desc("priority"))
            .limit(1)
            .collect()
        )
        if not rows:
            raise KeyError(f"procver {procver!r} has no base versions for {table}")
        return rows[0]["base_procver_id"]


def versioned(
    df: DataFrame,
    bpv_mapping: DataFrame,
    keys: Sequence[str],
    extra_order: Sequence[str] = (),
) -> DataFrame:
    """Restrict ``df`` to the base versions of one processing version and
    dedup to the highest-priority row per logical key.

    This is the Spark form of the ubiquitous reference pattern (SURVEY.md
    J1 + A1, reference ``src/ltcv.py:645-669``)::

        SELECT DISTINCT ON (<keys>) t.*
        FROM t
        JOIN base_procver_of_procver pv
          ON t.base_procver_id = pv.base_procver_id AND pv._table = '<t>'
             AND pv.procver_id = <pv>
        ORDER BY <keys>, pv.priority DESC

    The mapping join broadcasts (dimension side is tiny); the dedup is a
    single map-side-combining hash aggregate (see operators.dedup).
    ``extra_order`` appends deterministic tie-breakers.
    """
    joined = df.join(
        F.broadcast(bpv_mapping), on="base_procver_id", how="inner"
    )
    out = dedup_top_priority(
        joined, list(keys), ["priority", *extra_order]
    )
    return out.drop("priority")
