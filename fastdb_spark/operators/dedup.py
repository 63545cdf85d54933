"""Argmax-per-group deduplication — THE core operator of the engine.

The reference expresses this as Postgres ``SELECT DISTINCT ON (keys...)
... ORDER BY keys..., pv.priority DESC`` in nearly every query (reference
``src/ltcv.py:645-669``, ``src/parquet_export.py:63-71``,
``src/webserver/server.py:149-169``; SURVEY.md A1/A2): given several
versions of the same logical row (one per base processing version), return
exactly one row per logical key — the one from the highest-priority version.

One implementation, one SQL fragment (:func:`argmax_sql`)::

    SELECT <keys>, max_by|min_by(struct(<payload>), named_struct(<order>))
    FROM <rel> GROUP BY <keys>

``versions.versioned_sql`` wraps it in the base-version restriction, and
:func:`dedup_top_priority` / :func:`dedup_first_seen` run it over one
DataFrame.  Spark 4.1 plans the struct-valued ``max_by`` / ``min_by`` as
a partial ``SortAggregate`` before the one ``Exchange
hashpartitioning(keys)`` and a final ``SortAggregate`` after it, each
over a sort by the keys.  The partial aggregate reduces every input
partition to one candidate row per key, so the shuffle carries at most
(partitions x distinct keys) rows, however many versions each key has.
The keys come out of the grouping columns, not the payload struct, so the
output keeps the aggregate's hash partitioning (a join on the keys needs
no further shuffle).

Ordering: the order columns compare as one struct, lexicographically, as a
multi-key ``ORDER BY`` does.  Spark's struct ordering puts a NULL field
below every non-NULL value: a row whose ordering value is NULL is kept
when it is alone for its key, loses to a non-NULL row under ``max_by``
(:func:`dedup_top_priority`) and wins over it under ``min_by``
(:func:`dedup_first_seen`).

Ties: callers must pass a total order (append a unique id as the last
ordering column) — Postgres ``DISTINCT ON`` with a non-total order is
nondeterministic too, but our tests demand determinism.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def quote_ident(name: str) -> str:
    """A column name as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def argmax_sql(
    rel: str,
    cols: Sequence[str],
    keys: Sequence[str],
    order_by: Sequence[str],
    largest: bool = True,
) -> str:
    """SQL fragment: one row per ``keys`` of ``rel``, the one with the
    largest (``largest=False``: smallest) ``order_by`` tuple, projected to
    ``cols``.  ``rel`` is a relation name or a parenthesized subquery;
    ``cols``, ``keys`` and ``order_by`` are column names."""
    ks = ", ".join(map(quote_ident, keys))
    payload = ", ".join(quote_ident(c) for c in cols if c not in keys)
    out = ", ".join(
        quote_ident(c) if c in keys else f"_best.{quote_ident(c)}" for c in cols
    )
    order = ", ".join(
        f"'_o{i}', {quote_ident(c)}" for i, c in enumerate(order_by)
    )
    agg = "max_by" if largest else "min_by"
    return (
        f"SELECT {out} FROM (SELECT {ks}, {agg}(struct({payload}), "
        f"named_struct({order})) AS _best FROM {rel} GROUP BY {ks})"
    )


def dedup_top_priority(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[str]
) -> DataFrame:
    """One row per ``keys``, taking the row with the LARGEST ``order_by``
    (lexicographic over the sequence).

    Equivalent to Postgres ``DISTINCT ON (keys) ... ORDER BY keys,
    o1 DESC, o2 DESC, ...`` (reference ``src/ltcv.py:645-669``).
    """
    return df.sparkSession.sql(
        argmax_sql("{df}", df.columns, keys, order_by), df=df
    )


def dedup_first_seen(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[str]
) -> DataFrame:
    """One row per ``keys``, taking the SMALLEST ``order_by`` — first-seen
    wins.

    Mirrors the reference's Mongo staged-read dedup (``$sort`` then
    ``$group``/``$first`` on savetime, reference
    ``src/services/source_importer.py:133-212``,
    ``src/services/all_alerts_importer.py:69-95``; SURVEY.md A2/S4).
    """
    return df.sparkSession.sql(
        argmax_sql("{df}", df.columns, keys, order_by, largest=False), df=df
    )
