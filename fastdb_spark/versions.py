"""Processing-version resolution and priority fallback.

THE central semantic of the reference (reference ``docs/overview.rst:45-74``,
``src/db.py:1597-1727``; SURVEY.md §1.1): a user-facing *processing version*
resolves — per table — to a priority-ordered list of *base processing
versions*.  Queries must return exactly one row per logical key, taken from
the highest-priority base version that has it.

Resolution order for a user-supplied string (reference
``src/db.py:1597-1630`` ``procver_id``): exact id -> description ->
alias description.

All dimension tables are tiny (dozens of rows), so a handle is resolved
on the driver: one collect (one Spark job) yields the processing version
id and, per table, a ``{base_procver_id: priority}`` dict, memoized per
resolver.  A versioned read carries that dict into its SQL statement as
one ``map<string,int>`` parameter; the restriction and the priority are
a map lookup per row, not a join, so the only shuffle in a versioned
read is the dedup aggregate's (``operators.dedup.argmax_sql``, a
sort-based ``max_by`` that aggregates partially before the shuffle).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fastdb_spark.operators.dedup import argmax_sql

#: the processing versions a handle can name, ranked by the resolution
#: order (0-2), and every base-version row (rank 3): one job of one scan
#: per table, where a join to the matching rows would add a broadcast job
_RESOLVE_SQL = """
SELECT CASE WHEN id = :handle THEN 0 ELSE 1 END AS rank, id AS pvid,
       NULL AS _table, NULL AS base_procver_id, NULL AS priority
FROM {pv} WHERE id = :handle OR description = :handle
UNION ALL SELECT 2, procver_id, NULL, NULL, NULL FROM {alias}
          WHERE description = :handle
UNION ALL SELECT 3, procver_id, _table, base_procver_id, priority FROM {bpv}
"""


class ProcverResolver:
    """Resolves user-facing processing-version handles to per-table
    ``{base_procver_id: priority}`` dicts."""

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
        self._prio: dict[str, dict[str, dict[str, int]]] = {}

    def procver_id(self, procver: str) -> str:
        """id / description / alias -> processing_version.id
        (reference ``src/db.py:1597-1630``).

        The same collect fetches the version's base-version priorities for
        every table (:meth:`priorities`).  Successful lookups are memoized
        per resolver; an unknown handle is looked up (and raises) every
        time.
        """
        if procver in self._ids:
            return self._ids[procver]
        rows = self._pv.sparkSession.sql(
            _RESOLVE_SQL,
            args={"handle": procver},
            pv=self._pv,
            alias=self._alias,
            bpv=self._bpv_of_pv,
        ).collect()
        named = [(r["rank"], r["pvid"]) for r in rows if r["rank"] < 3]
        if not named:
            raise KeyError(f"unknown processing version {procver!r}")
        _, pvid = min(named)
        prio: dict[str, dict[str, int]] = {}
        for r in rows:
            if r["rank"] < 3 or r["pvid"] != pvid:
                continue
            table = prio.setdefault(r["_table"], {})
            # a base version listed twice keeps its highest priority
            table[r["base_procver_id"]] = max(
                r["priority"], table.get(r["base_procver_id"], r["priority"])
            )
        self._prio[pvid] = prio
        self._ids[procver] = pvid
        return pvid

    def priorities(self, procver: str, table: str) -> dict[str, int]:
        """``{base_procver_id: priority}`` for one (procver, table)
        (reference ``src/db.py:1671-1727``); empty when the version has no
        base versions for the table."""
        return dict(self._prio[self.procver_id(procver)].get(table, {}))

    def highest_priority_bpv(self, procver: str, table: str) -> str:
        """Top-priority base version id (reference ``src/db.py:1699-1706``,
        SURVEY.md O2); equal priorities go to the larger id."""
        prio = self.priorities(procver, table)
        if not prio:
            raise KeyError(f"procver {procver!r} has no base versions for {table}")
        return max(prio, key=lambda b: (prio[b], b))


def priority_map(priorities: Mapping[str, int]) -> Column:
    """A ``{base_procver_id: priority}`` dict as the map literal a
    :func:`versioned_sql` statement takes as its parameter."""
    kv = [F.lit(x) for b, p in sorted(priorities.items()) for x in (str(b), int(p))]
    return F.create_map(*kv)


def versioned_sql(
    rel: str,
    cols: Sequence[str],
    keys: Sequence[str],
    extra_order: Sequence[str] = (),
    param: str = "prio",
) -> str:
    """SQL fragment: ``rel`` restricted to the base versions of one
    processing version and deduplicated to the highest-priority row per
    logical key, projected to ``cols``.

    This is the Spark form of the ubiquitous reference pattern (SURVEY.md
    J1 + A1, reference ``src/ltcv.py:645-669``)::

        SELECT DISTINCT ON (<keys>) t.*
        FROM t
        JOIN base_procver_of_procver pv
          ON t.base_procver_id = pv.base_procver_id AND pv._table = '<t>'
             AND pv.procver_id = <pv>
        ORDER BY <keys>, pv.priority DESC

    ``:<param>`` is the statement parameter holding the version's
    :func:`priority_map`; a row whose base version is not in it has a NULL
    priority and is dropped.  The dedup is ``operators.dedup.argmax_sql``
    over ``(priority, *extra_order)``; ``extra_order`` appends
    deterministic tie-breakers.  ``rel`` is a relation name or a
    parenthesized subquery; ``cols``, ``keys`` and ``extra_order`` are
    column names.
    """
    restricted = (
        f"(SELECT * FROM (SELECT *, CAST(:{param} AS map<string,int>)"
        f"[base_procver_id] AS _prio FROM {rel}) WHERE _prio IS NOT NULL)"
    )
    return argmax_sql(restricted, cols, keys, ("_prio", *extra_order))


def versioned(
    df: DataFrame,
    priorities: Mapping[str, int],
    keys: Sequence[str],
    extra_order: Sequence[str] = (),
) -> DataFrame:
    """:func:`versioned_sql` over one DataFrame: ``df`` restricted to the
    base versions in ``priorities`` (a :meth:`ProcverResolver.priorities`
    dict) and deduplicated to the highest-priority row per ``keys``."""
    return df.sparkSession.sql(
        versioned_sql("{df}", df.columns, keys, extra_order),
        args={"prio": priority_map(priorities)},
        df=df,
    )
