"""Lightcurve retrieval — the reference's workhorse query family.

Re-expresses ``src/ltcv.py:294-924`` (``many_object_ltcvs`` /
``object_ltcv``) as ONE parameterized SQL statement (SURVEY.md §3.1):

1. version-resolved object map: the diaobject table's own priority dedup
   per diaobjectid, restricted to the requested roots (J5)
2. per-table version restriction + priority dedup per (rootid, visit)
   (J1 + A1, ``versions.versioned_sql``)
3. optional band filter (P4) and ``mjd_now`` time-travel cut (P3)
4. ``which='detections'|'forced'|'patch'`` — patch is the full-outer
   forced-vs-detections join (J3, ``operators.patch.patch_sql``)
5. per-root nested assembly via collect_list(struct) (X1/A7)

The reference stages steps 1-4 through Postgres temp tables with planner
hints (``src/ltcv.py:569-712``).  Here steps 1-4 are SQL fragments
composed into one ``spark.sql`` statement over the opened table frames,
so a request builds one plan instead of a chain of DataFrame calls, each
a driver round trip.  User values never enter the SQL text: the object
list is a DataFrame argument, the bands, ``mjd_now`` and the version
priorities (resolved on the driver) are statement parameters.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastdb_spark.operators.patch import patch_sql
from fastdb_spark.versions import ProcverResolver, priority_map, versioned_sql

#: photometry value columns returned by lightcurve queries
LTCV_COLS = ("diaobjectid", "band", "midpointmjdtai", "psfflux", "psffluxerr")

#: per ``which``: (CTE name, photometry table, unique id tie-breaker)
_SIDES = {
    "detections": (("det", "diasource", "diasourceid"),),
    "forced": (("forced", "diaforcedsource", "diaforcedsourceid"),),
    "patch": (
        ("det", "diasource", "diasourceid"),
        ("forced", "diaforcedsource", "diaforcedsourceid"),
    ),
}


#: the version-resolved diaobjectid -> rootid map over ``{diaobject}``
_OBJMAP_SQL = versioned_sql(
    "{diaobject}",
    ("diaobjectid", "rootid"),
    keys=("diaobjectid",),
    extra_order=("base_procver_id",),
    param="prio_diaobject",
)


def resolve_objects(
    diaobject: DataFrame, resolver: ProcverResolver, procver: str
) -> DataFrame:
    """Version-resolved diaobjectid -> rootid map (reference stages this as
    ``tmp_objids``, ``src/ltcv.py:569-630``): the object table gets its OWN
    priority dedup per diaobjectid, independent of the photometry's base
    version — a bpv2a source row still resolves through the bpv2 object."""
    prio = priority_map(resolver.priorities(procver, "diaobject"))
    return diaobject.sparkSession.sql(
        _OBJMAP_SQL, args={"prio_diaobject": prio}, diaobject=diaobject
    )


def _extract_sql(table: str, id_col: str, where: str) -> str:
    """One photometry table's extract (reference ``src/ltcv.py:638-712``):
    the rows of the ``objmap`` objects that pass ``where``, deduplicated
    to one row per (rootid, visit), highest priority first and ``id_col``
    as the tie-breaker (A1)."""
    cols = ("base_procver_id", "visit", *LTCV_COLS, id_col)
    rel = (
        "(SELECT o.rootid, " + ", ".join(f"p.{c}" for c in cols)
        + f" FROM {{{table}}} p JOIN objmap o ON p.diaobjectid = o.diaobjectid"
        + f"{where})"
    )
    return versioned_sql(
        rel,
        ("rootid", "visit", *LTCV_COLS),
        keys=("rootid", "visit"),
        extra_order=(id_col,),
        param=f"prio_{table}",
    )


def many_object_ltcvs(
    tables: dict[str, DataFrame],
    resolver: ProcverResolver,
    procver: str,
    which: str = "patch",
    bands: Sequence[str] | None = None,
    mjd_now: float | None = None,
    objids: DataFrame | None = None,
) -> DataFrame:
    """Flat (one row per photometry point) lightcurves for many objects.

    Mirrors reference ``src/ltcv.py:294-924``.  ``which``:

    - ``'detections'`` — diasource points only
    - ``'forced'``     — diaforcedsource points only
    - ``'patch'``      — forced, patched with detections where forced
                         photometry is missing (isdet / ispatch flags)

    ``objids`` is a DataFrame with a ``rootid`` column; None reads every
    object.
    """
    if which not in _SIDES:
        raise ValueError(f"unknown which={which!r}")
    frames = {"diaobject": tables["diaobject"]}
    args = {"prio_diaobject": priority_map(resolver.priorities(procver, "diaobject"))}
    objmap = _OBJMAP_SQL
    if objids is not None:
        frames["objids"] = objids
        objmap = (
            f"SELECT * FROM ({objmap}) "
            "WHERE rootid IN (SELECT rootid FROM {objids})"  # J5
        )
    where = []
    if bands:
        where.append("array_contains(:bands, p.band)")  # P4
        args["bands"] = [str(b) for b in bands]
    if mjd_now is not None:
        where.append("p.midpointmjdtai <= :mjd_now")  # P3
        args["mjd_now"] = float(mjd_now)
    cond = " WHERE " + " AND ".join(where) if where else ""
    ctes = [f"objmap AS ({objmap})"]
    for name, table, id_col in _SIDES[which]:
        frames[table] = tables[table]
        args[f"prio_{table}"] = priority_map(resolver.priorities(procver, table))
        ctes.append(f"{name} AS ({_extract_sql(table, id_col, cond)})")
    if which == "patch":
        body = patch_sql("forced", "det", ("rootid", "visit"), LTCV_COLS)
    else:
        isdet = "true" if which == "detections" else "false"
        body = f"SELECT *, {isdet} AS isdet, false AS ispatch FROM {name}"
    return tables["diaobject"].sparkSession.sql(
        "WITH " + ", ".join(ctes) + " " + body, args=args, **frames
    )


def assemble_nested(ltcv: DataFrame) -> DataFrame:
    """Per-root nested lightcurve: array of photometry structs sorted by
    mjd (replaces the reference's cursor iteration + Python grouping,
    ``src/ltcv.py:743-793``; SURVEY.md X1/A7).  Also the parquet-export
    format (``src/parquet_export.py:54-93``)."""
    point = F.struct(
        F.col("visit"),
        F.col("midpointmjdtai"),
        F.col("band"),
        F.col("psfflux"),
        F.col("psffluxerr"),
        F.col("isdet"),
        F.col("ispatch"),
    )
    return (
        ltcv.groupBy("rootid")
        .agg(F.array_sort(F.collect_list(point)).alias("lightcurve"))
        .withColumn("nobs", F.size("lightcurve"))
    )


def get_object_infos(
    tables: dict[str, DataFrame],
    resolver: ProcverResolver,
    procver: str,
    objids: DataFrame | None = None,
) -> DataFrame:
    """Per-root object info: resolved position + cross-band detection
    stats (reference ``src/ltcv.py:177-203`` get_object_infos —
    diaobjectid always included via the object map)."""
    from fastdb_spark.queries.objstats import build_objstats

    _, combined = build_objstats(tables, resolver, procver)
    roots = tables["root_diaobject"].select(
        F.col("id").alias("rootid"), "ra", "dec"
    )
    out = combined.join(roots, on="rootid", how="left")
    if objids is not None:
        out = out.join(objids.select("rootid"), on="rootid", how="left_semi")
    return out


def get_hot_ltcvs(
    tables: dict[str, DataFrame],
    resolver: ProcverResolver,
    procver: str,
    detected_since_mjd: float,
    detected_in_last_days: float | None = None,
    mjd_now: float | None = None,
) -> DataFrame:
    """Objects with a detection since a given MJD, with their full patched
    lightcurves (reference ``src/ltcv.py:1290-1518`` ``get_hot_ltcvs``;
    SURVEY.md T6 — a batch filter, not a stream window)."""
    cut = detected_since_mjd
    if detected_in_last_days is not None and mjd_now is not None:
        cut = mjd_now - detected_in_last_days
    det = many_object_ltcvs(
        tables, resolver, procver, which="detections", mjd_now=mjd_now
    )
    hot_roots = (
        det.filter(F.col("midpointmjdtai") >= F.lit(cut))
        .select("rootid")
        .distinct()
    )
    return many_object_ltcvs(
        tables, resolver, procver, which="patch", mjd_now=mjd_now, objids=hot_roots
    )
