"""Lightcurve "patch" — full-outer join of forced photometry vs detections.

The reference's workhorse query shape (reference ``src/ltcv.py:714-741``;
SURVEY.md J3): forced photometry FULL OUTER JOIN detections on
``(rootid, visit)``, with **row-level** preference for the forced side —
``CASE WHEN f.rootid IS NULL THEN s.x ELSE f.x END`` for every column —
plus two derived flags:

- ``isdet``   — a detection exists for this (rootid, visit)
- ``ispatch`` — no forced row exists; the detection "patches" the hole
                (forced photometry arrives >=24h late, SURVEY.md T5)

The operator is one SQL fragment (:func:`patch_sql`), so a lightcurve
query composes it with its extracts into a single statement
(``queries.ltcv.many_object_ltcvs``); :func:`patch_lightcurve` runs the
same fragment over two DataFrames.

Scale notes: both inputs are already deduplicated per (rootid, visit), so
the join is 1:1.  Spark plans a sort-merge join on the two shuffled sides,
or reuses their storage distribution when both are co-bucketed on
``rootid``; when the statement is restricted to a small object list (the
common API case, the rootid semi-join runs before the extracts' dedup)
AQE downgrades the join to a broadcast join at runtime.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from fastdb_spark.operators.dedup import quote_ident


def patch_sql(
    forced: str,
    sources: str,
    keys: Sequence[str],
    value_cols: Sequence[str],
) -> str:
    """SQL fragment: the full-outer patch of relation ``forced`` by
    relation ``sources`` (names or parenthesized subqueries), returning
    ``keys + value_cols + [isdet, ispatch]``.

    Row-level preference: if a forced row exists, ALL its values win (even
    NULL ones); otherwise the detection's values are used.  A full-outer
    USING join coalesces the key columns, so "forced side present" can't
    be probed via keys; explicit presence flags added pre-join distinguish
    "row absent" from "value NULL".
    """
    ks = ", ".join(map(quote_ident, keys))

    def side(rel: str, tag: str) -> str:
        vals = "".join(
            f", {quote_ident(c)} AS {quote_ident(f'_{tag}_{c}')}" for c in value_cols
        )
        return f"(SELECT {ks}, true AS _{tag}_present{vals} FROM {rel})"

    picks = "".join(
        f", CASE WHEN _f_present IS NOT NULL THEN {quote_ident(f'_f_{c}')} "
        f"ELSE {quote_ident(f'_s_{c}')} END AS {quote_ident(c)}"
        for c in value_cols
    )
    return (
        f"SELECT {ks}{picks}, _s_present IS NOT NULL AS isdet, "
        f"NOT (_f_present IS NOT NULL) AS ispatch "
        f"FROM {side(forced, 'f')} FULL OUTER JOIN {side(sources, 's')} "
        f"USING ({ks})"
    )


def patch_lightcurve(
    forced: DataFrame,
    sources: DataFrame,
    keys: Sequence[str] = ("rootid", "visit"),
    value_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Full-outer patch join, reference ``src/ltcv.py:714-741`` semantics:
    :func:`patch_sql` over two DataFrames.  ``value_cols`` defaults to
    the non-key columns the two sides share."""
    if value_cols is None:
        shared = [c for c in forced.columns if c in set(sources.columns)]
        value_cols = [c for c in shared if c not in set(keys)]
    return forced.sparkSession.sql(
        patch_sql("{forced}", "{sources}", keys, value_cols),
        forced=forced,
        sources=sources,
    )
