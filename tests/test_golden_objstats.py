"""Golden-fixture tests for objstats (the reference's materialized views)
and the spatial operators, with python-recomputed expectations — the
reference's own test strategy (``tests/conftest.py:1412-1620``
accumulate_expected_stats / check_search_vs_expected)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fastdb_spark.operators.spatial import cone_search, crossmatch, with_zone
from fastdb_spark.queries.objstats import build_objstats, weighted_positions
from fastdb_spark.versions import ProcverResolver

from .conftest import BPV, PV, ROOT, ROOT_SPECS


@pytest.fixture(scope="module")
def resolver(golden):
    return ProcverResolver(
        golden["processing_version"],
        golden["processing_version_alias"],
        golden["base_procver_of_procver"],
    )


def _expected_dedup_detections(golden_pandas, pv: str):
    """Python-recomputed priority-dedup detections for one procver."""
    import pandas as pd

    m = golden_pandas["base_procver_of_procver"]
    m = m[(m.procver_id == PV[pv]) & (m._table == "diasource")][
        ["base_procver_id", "priority"]
    ]
    obj = golden_pandas["diaobject"][["diaobjectid", "rootid"]].drop_duplicates()
    src = golden_pandas["diasource"].merge(m, on="base_procver_id").merge(
        obj, on="diaobjectid"
    )
    src = src.sort_values(
        ["rootid", "visit", "priority", "diasourceid"],
        ascending=[True, True, False, False],
    )
    return src.groupby(["rootid", "visit"], as_index=False).first()


def test_objstats_counts_and_argminmax(golden, golden_pandas, resolver):
    per_band, combined = build_objstats(golden, resolver, "pv2")
    exp = _expected_dedup_detections(golden_pandas, "pv2")

    got = {(r["rootid"], r["band"]): r for r in per_band.collect()}
    for (rootid, band), g in exp.groupby(["rootid", "band"]):
        row = got[(rootid, band)]
        assert row["ndets"] == len(g)
        first = g.loc[g.midpointmjdtai.idxmin()]
        last = g.loc[g.midpointmjdtai.idxmax()]
        peak = g.loc[g.psfflux.idxmax()]
        assert row["firstdetmjd"] == pytest.approx(first.midpointmjdtai)
        assert row["firstdetflux"] == pytest.approx(first.psfflux, rel=1e-6)
        assert row["lastdetmjd"] == pytest.approx(last.midpointmjdtai)
        assert row["maxdetflux"] == pytest.approx(peak.psfflux, rel=1e-6)
        assert row["nsn10"] == int((g.psfflux / g.psffluxerr >= 10).sum())
        assert row["ndets24"] == int((g.psfflux >= 912.011).sum())

    comb = {r["rootid"]: r for r in combined.collect()}
    for rootid, g in exp.groupby("rootid"):
        row = comb[rootid]
        assert row["ndets"] == len(g)
        assert row["firstdetmjd"] == pytest.approx(g.midpointmjdtai.min())
        assert row["lastdetmjd"] == pytest.approx(g.midpointmjdtai.max())
        assert row["maxdetflux"] == pytest.approx(g.psfflux.max(), rel=1e-6)
        peakband = g.loc[g.psfflux.idxmax()].band
        assert row["maxdetband"] == peakband


def test_weighted_positions_golden(golden, golden_pandas, resolver):
    """Weighted mean must reproduce the numpy two-pass computation the
    reference does client-side (``src/ltcv.py:829-877``)."""
    exp = _expected_dedup_detections(golden_pandas, "pv2")
    from fastdb_spark.queries.ltcv import resolve_objects
    from fastdb_spark.versions import versioned

    objmap = resolve_objects(golden["diaobject"], resolver, "pv2")
    det = golden["diasource"].join(objmap, on="diaobjectid", how="inner")
    det = versioned(
        det,
        resolver.priorities("pv2", "diasource"),
        keys=("rootid", "visit"),
        extra_order=("diasourceid",),
    )
    got = {r["rootid"]: r for r in weighted_positions(det).collect()}

    for rootid, g in exp.groupby("rootid"):
        g = g[(g.psfflux / g.psffluxerr > 3.0) & g.ra.notna()]
        if not len(g):
            continue
        w = (g.psfflux / g.psffluxerr) ** 2
        mu_ra = float((w * g.ra).sum() / w.sum())
        sd_ra = float(np.sqrt(max((w * g.ra**2).sum() / w.sum() - mu_ra**2, 0)))
        row = got[rootid]
        assert row["ra"] == pytest.approx(mu_ra, abs=1e-9)
        assert row["raerr"] == pytest.approx(sd_ra, abs=1e-7)
        assert row["nposdets"] == len(g)


def test_cone_search_radii(golden):
    """FIXTURES.md: radius 15 arcsec joins roots 0-1 only; 25 arcsec adds
    root 2 (root positions 13.0 / 13.0036 / 13.0056 deg dec)."""
    roots = golden["root_diaobject"]
    r15 = cone_search(roots, 42.0, 13.0, 15.0 / 3600.0)
    assert {r["id"] for r in r15.collect()} == {ROOT[0], ROOT[1]}
    r25 = cone_search(roots, 42.0, 13.0, 25.0 / 3600.0)
    assert {r["id"] for r in r25.collect()} == {ROOT[0], ROOT[1], ROOT[2]}
    r_huge = cone_search(roots, 42.0, 13.5, 1.0)
    assert r_huge.count() == 4


def test_crossmatch_one_arcsec_association(golden, spark):
    """J6: 1-arcsec crossmatch of detection positions against roots —
    the source_importer association. Detection scatter is <0.06 arcsec,
    so every detection matches exactly its own root (roots 0-1 are 13
    arcsec apart, far beyond 1 arcsec)."""
    det = golden["diasource"].select("diasourceid", "diaobjectid", "ra", "dec")
    roots = golden["root_diaobject"].select(
        F.col("id").alias("rootid_true"), F.col("ra").alias("ra"), F.col("dec").alias("dec")
    )
    pairs = crossmatch(det, roots, radius_deg=1.0 / 3600.0)
    pdf = pairs.toPandas()
    # every detection matched exactly once
    assert len(pdf) == det.count()
    # and to the right root
    obj = {r["diaobjectid"]: r["rootid"] for r in golden["diaobject"].collect()}
    assert all(obj[o] == t for o, t in zip(pdf.diaobjectid, pdf.rootid_true))


def test_with_zone_is_deterministic(golden):
    z = with_zone(golden["root_diaobject"], zone_height_deg=1.0 / 3600.0)
    pdf = z.toPandas()
    assert (pdf.zone == np.floor(pdf["dec"] * 3600.0)).all()


def test_cone_search_wraparound(spark):
    """ra-window prefilter must handle the 0/360 seam."""
    pts = spark.createDataFrame(
        [(1, 359.9, 0.0), (2, 0.1, 0.0), (3, 5.0, 0.0)], ["id", "ra", "dec"]
    )
    hits = cone_search(pts, 0.0, 0.0, 0.5)
    assert {r["id"] for r in hits.collect()} == {1, 2}
