"""Shared fixtures: a local SparkSession and the FASTDB golden catalog.

The golden catalog mirrors the reference's highest-value test asset
(reference ``tests/conftest.py:56-423``: ``procver_collection`` +
``set_of_lightcurves``; FIXTURES.md §5): four root objects with known
positions, deterministic lightcurves split across base processing versions
with priorities, so priority fallback / patch join / objstats / cone search
all have hand-checkable answers.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import SparkSession

from fastdb_spark import schemas
from fastdb_spark.session import get_spark

# deterministic uuid-ish ids (readable in failures, canonical-uuid-shaped)


def _uuid(tag: str, n: int) -> str:
    return f"00000000-0000-4000-8000-{(hash(tag) & 0xFFFF):04x}{n:08x}"


PV = {name: _uuid("pv", i) for i, name in enumerate(["pv1", "pv2", "pv3", "realtime"])}
BPV = {
    name: _uuid("bpv", i)
    for i, name in enumerate(["bpv1", "bpv1a", "bpv1b", "bpv2", "bpv2a", "bpv3", "realtime"])
}
ROOT = {i: _uuid("root", i) for i in range(4)}

#: pv -> prioritized bpv list (highest priority first); mirrors reference
#: tests/conftest.py:64-69
PV_BPVS = {
    "pv1": [("bpv1b", 2), ("bpv1a", 1), ("bpv1", 0)],
    "pv2": [("bpv2a", 1), ("bpv2", 0)],
    "pv3": [("bpv3", 0)],
    "realtime": [("realtime", 0)],
}

PHOT_TABLES = ("diaobject", "diaobject_position", "diasource", "diaforcedsource")

ZP = 31.4
BANDS = ["g", "r", "i"]
CADENCE = 2.5

#: per-root: (ra, dec, det_window, peak_mjd, peak_mag)
ROOT_SPECS = [
    (42.0, 13.0, (60000.0, 60030.0), 60010.0, 24.0),
    (42.0, 13.0036, (60020.0, 60060.0), 60035.0, 22.0),
    (42.0, 13.0056, (60040.0, 60080.0), 60050.0, 23.0),
    (42.0, 14.0, (60050.0, 60060.0), 60055.0, 23.5),
]

#: root -> list of (bpv, diaobjectid); root 1 has a duplicate bpv2 id 2011
ROOT_OBJECTS = {
    0: [("realtime", 0), ("bpv2", 200), ("bpv1", 100)],
    1: [("realtime", 1), ("bpv2", 201), ("bpv2", 2011)],
    2: [("realtime", 2), ("bpv2", 202)],
    3: [("bpv2", 203)],
}


def _mag_at(mjd: float, peak_mjd: float, peak_mag: float) -> float:
    # simple quadratic lightcurve around the peak, ~0.05 mag / day^2 rise
    return peak_mag + 0.02 * (mjd - peak_mjd) ** 2


def _flux(mag: float) -> float:
    return 10.0 ** ((mag - ZP) / -2.5)


def build_golden_pandas() -> dict[str, pd.DataFrame]:
    """Deterministic catalog tables as pandas frames (FIXTURES.md §5)."""
    pv_rows = [{"id": PV[p], "description": p} for p in PV]
    alias_rows = [{"description": "default", "procver_id": PV["pv2"]}]
    bpv_rows = [
        {"id": BPV[b], "description": b, "_table": t}
        for b in BPV
        for t in PHOT_TABLES
    ]
    bpv_of_pv_rows = [
        {"procver_id": PV[p], "base_procver_id": BPV[b], "_table": t, "priority": prio}
        for p, lst in PV_BPVS.items()
        for b, prio in lst
        for t in PHOT_TABLES
    ]
    root_rows = [
        {"id": ROOT[i], "ra": spec[0], "dec": spec[1]}
        for i, spec in enumerate(ROOT_SPECS)
    ]

    obj_rows, pos_rows, src_rows, frc_rows = [], [], [], []
    for rooti, objs in ROOT_OBJECTS.items():
        ra, dec, (t0, t1), peak_mjd, peak_mag = ROOT_SPECS[rooti]
        for bpv, objid in objs:
            obj_rows.append(
                {"diaobjectid": objid, "base_procver_id": BPV[bpv], "rootid": ROOT[rooti]}
            )
            pos_rows.append(
                {
                    "diaobjectid": objid,
                    "base_procver_id": BPV[bpv],
                    "ra": ra,
                    "dec": dec,
                    "raerr": 0.1,
                    "decerr": 0.1,
                    "ra_dec_cov": 0.0,
                }
            )

    def emit_phot(rooti, bpv, objid, mjd_lo, mjd_hi, forced=False, half_mjd=False):
        ra, dec, _, peak_mjd, peak_mag = ROOT_SPECS[rooti]
        rows = []
        k = 0
        mjd = mjd_lo
        while mjd <= mjd_hi + 1e-9:
            use = mjd + (0.5 if half_mjd else 0.0)
            band = BANDS[k % 3]
            mag = _mag_at(use, peak_mjd, peak_mag)
            flux = _flux(mag)
            visit = math.floor(use * 20000)
            row = {
                "base_procver_id": BPV[bpv],
                "diaobjectid": objid,
                "visit": visit,
                "band": band,
                "midpointmjdtai": use,
                "psfflux": flux,
                "psffluxerr": max(flux / 20.0, 1.0),
            }
            if forced:
                row["diaforcedsourceid"] = objid * 100000 + k
                row["ra"], row["dec"] = ra, dec
            else:
                row["diasourceid"] = objid * 100000 + k
                # deterministic sub-arcsec position scatter
                row["ra"] = ra + ((visit % 7) - 3) * 1e-5
                row["dec"] = dec + ((visit % 5) - 2) * 1e-5
                row["raerr"], row["decerr"], row["ra_dec_cov"] = 0.05, 0.05, 0.0
            rows.append(row)
            k += 1
            mjd += CADENCE
        return rows

    for rooti, objs in ROOT_OBJECTS.items():
        _, _, (t0, t1), _, _ = ROOT_SPECS[rooti]
        for bpv, objid in objs:
            if rooti == 1 and objid == 2011:
                # duplicate-object case: half-MJD visits under a second id
                src_rows += emit_phot(rooti, bpv, objid, t0, t1, half_mjd=True)
                continue
            if bpv == "realtime":
                # realtime forced lags detections (forced arrives >=24h
                # late) -> patch holes above 60055
                src_hi, frc_hi = min(t1, 60060.0), min(t1, 60055.0)
                frc_tail = 0.0
            elif bpv == "bpv1":
                src_hi, frc_hi, frc_tail = 60030.0, 60025.0, 10.0
            else:
                src_hi, frc_hi, frc_tail = t1, t1, 10.0
            src_rows += emit_phot(rooti, bpv, objid, t0, src_hi)
            frc_rows += emit_phot(rooti, bpv, objid, t0 - 10.0, frc_hi + frc_tail, forced=True)
            if bpv == "bpv2":
                # bpv2a overrides a window (tests priority fallback):
                # sources [60020,60025], forced [60020,60030]; override rows
                # carry 1.5x flux so shadowing is value-observable
                for r in emit_phot(rooti, "bpv2a", objid, t0, src_hi):
                    if 60020.0 <= r["midpointmjdtai"] <= 60025.0:
                        r["psfflux"] *= 1.5
                        src_rows.append(r)
                for r in emit_phot(rooti, "bpv2a", objid, t0 - 10.0, frc_hi + 10.0, forced=True):
                    if 60020.0 <= r["midpointmjdtai"] <= 60030.0:
                        r["psfflux"] *= 1.5
                        frc_rows.append(r)
        if rooti == 0:
            # root 0 also has bpv1a photometry through 60015/60010
            src_rows += emit_phot(0, "bpv1a", 100, t0, 60015.0)
            frc_rows += emit_phot(0, "bpv1a", 100, t0 - 10.0, 60010.0, forced=True)

    # broker classification messages: source 10000000 (objid 100 / bpv1
    # family) carries the same (broker, topic) under two base versions —
    # pv1's priority order must pick bpv1a over bpv1 — plus a second
    # broker and a second source for the filter paths
    bi_rows = [
        {"brokername": "fink", "topic": "topic-a", "diasourceid": 10000000,
         "base_procver_id": BPV["bpv1"], "diaobjectid": 100,
         "info": '{"class": "SNIa", "p": 0.6}'},
        {"brokername": "fink", "topic": "topic-a", "diasourceid": 10000000,
         "base_procver_id": BPV["bpv1a"], "diaobjectid": 100,
         "info": '{"class": "SNIa", "p": 0.9}'},
        {"brokername": "antares", "topic": "topic-b", "diasourceid": 10000000,
         "base_procver_id": BPV["bpv1"], "diaobjectid": 100,
         "info": '{"class": "SNII", "p": 0.4}'},
        {"brokername": "fink", "topic": "topic-a", "diasourceid": 20000000,
         "base_procver_id": BPV["bpv2"], "diaobjectid": 200,
         "info": '{"class": "AGN", "p": 0.7}'},
    ]

    return {
        "processing_version": pd.DataFrame(pv_rows),
        "processing_version_alias": pd.DataFrame(alias_rows),
        "base_processing_version": pd.DataFrame(bpv_rows),
        "base_procver_of_procver": pd.DataFrame(bpv_of_pv_rows),
        "root_diaobject": pd.DataFrame(root_rows),
        "diaobject": pd.DataFrame(obj_rows),
        "diaobject_position": pd.DataFrame(pos_rows),
        "diasource": pd.DataFrame(src_rows),
        "diaforcedsource": pd.DataFrame(frc_rows),
        "diasource_brokerinfo": pd.DataFrame(bi_rows),
    }


def count_jobs(spark: SparkSession, group: str, fn) -> int:
    """Run ``fn()`` under job group ``group``; return how many Spark jobs
    the group holds once the listener bus has delivered their events."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = get_spark("fastdb-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def golden_pandas() -> dict[str, pd.DataFrame]:
    return build_golden_pandas()


@pytest.fixture(scope="session")
def golden(spark, golden_pandas):
    """Golden catalog as Spark DataFrames with declared schemas."""
    out = {}
    for name, pdf in golden_pandas.items():
        schema = schemas.TABLES[name]
        cols = [f.name for f in schema.fields if f.name in pdf.columns]
        sub = pd.DataFrame({c: pdf[c] for c in cols})
        import pyspark.sql.types as T

        fields = [f for f in schema.fields if f.name in pdf.columns]
        out[name] = spark.createDataFrame(sub, schema=T.StructType(fields))
    return out


def write_golden_catalog(golden, root) -> None:
    """Write the golden frames (declared column types) as a catalog
    directory of ``<name>.parquet`` tables."""
    for name, df in golden.items():
        df.write.mode("overwrite").parquet(str(root / f"{name}.parquet"))
