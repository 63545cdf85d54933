"""Seeded input generators with their ground truth.

Every generator takes the seed as an argument and derives all randomness
from one ``numpy.random.Generator``, so the same seed always yields the
same inputs.  Each also returns what a correct program must answer on
those inputs, computed here in plain Python from the generated rows and
never from the program under test.

- :func:`serving_catalog` -- a two-base-version photometry catalog for
  ``ltcv_serve``: expected patched visit counts per root and processing
  version, per-band detection counts, broker-info winners, counts.
- :func:`alert_stream` -- a small silver catalog plus micro-batches of
  nested alerts for ``alert_ingest``: new visits, new objects (some in
  close pairs) and replays, with the unique row counts ingest must reach.
- :func:`dedup_corpus` -- a document corpus with planted exact and near
  duplicates for ``dedup_index``: the verdict of every probed document,
  the survivors of every upsert and the index size after a takedown.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

PHOT_TABLES = ("diaobject", "diaobject_position", "diasource", "diaforcedsource")
BANDS = ("g", "r", "i", "z")
ZP = 31.4


def det_uuid(*parts) -> str:
    """Deterministic canonical-form uuid from its parts."""
    h = hashlib.md5(":".join(map(str, parts)).encode()).hexdigest()
    return f"{h[:8]}-{h[8:12]}-4{h[13:16]}-8{h[17:20]}-{h[20:32]}"


def _flux(mag: float) -> float:
    return 10.0 ** ((mag - ZP) / -2.5)


def _version_tables(
    seed: int, pv_bpvs: dict[str, list[tuple[str, int]]], aliases: dict[str, str]
) -> tuple[dict[str, pd.DataFrame], dict[str, str], dict[str, str]]:
    """Processing-version dimension tables.  ``pv_bpvs`` maps each
    processing version to its (base version, priority) list."""
    pv_ids = {p: det_uuid(seed, "pv", p) for p in pv_bpvs}
    bpv_names = sorted({b for lst in pv_bpvs.values() for b, _ in lst})
    bpv_ids = {b: det_uuid(seed, "bpv", b) for b in bpv_names}
    tables = {
        "processing_version": pd.DataFrame(
            {"id": list(pv_ids.values()), "description": list(pv_ids)}
        ),
        "processing_version_alias": pd.DataFrame(
            {
                "description": list(aliases),
                "procver_id": [pv_ids[p] for p in aliases.values()],
            }
        ),
        "base_processing_version": pd.DataFrame(
            [
                {"id": bpv_ids[b], "description": b, "_table": t}
                for b in bpv_names
                for t in PHOT_TABLES
            ]
        ),
        "base_procver_of_procver": pd.DataFrame(
            [
                {
                    "procver_id": pv_ids[p],
                    "base_procver_id": bpv_ids[b],
                    "_table": t,
                    "priority": prio,
                }
                for p, lst in pv_bpvs.items()
                for b, prio in lst
                for t in PHOT_TABLES
            ]
        ).astype({"priority": "int32"}),
    }
    return tables, pv_ids, bpv_ids


def _shuffled_kinds(rng, n: int, shares: dict, default) -> list:
    """``n`` labels in random order: ``round(share * n)`` of each key of
    ``shares``, ``default`` for the rest."""
    kinds = [k for k, share in shares.items() for _ in range(round(share * n))]
    kinds += [default] * (n - len(kinds))
    return [kinds[j] for j in rng.permutation(n)]


def _sep_deg(ra1, dec1, ra2, dec2):
    """Great-circle separation in degrees (the haversine the program's
    cone search uses)."""
    dd = np.radians(dec2 - dec1) / 2.0
    dr = np.radians(ra2 - ra1) / 2.0
    a = np.sin(dd) ** 2 + np.cos(np.radians(dec1)) * np.cos(np.radians(dec2)) * np.sin(dr) ** 2
    return np.degrees(2.0 * np.arcsin(np.sqrt(a)))


# --------------------------------------------------------------------------
# ltcv_serve: the read-side catalog
# --------------------------------------------------------------------------

#: processing version -> (base version, priority); ``reproc`` overrides a
#: time window of ``base`` for a tenth of the objects in ``pv_live``
SERVE_PV_BPVS = {"pv_live": [("reproc", 1), ("base", 0)], "pv_base": [("base", 0)]}
SERVE_ALIASES = {"default": "pv_live"}
#: processing-version handle as requested -> the version it resolves to
SERVE_HANDLES = {"default": "pv_live", "pv_live": "pv_live", "pv_base": "pv_base"}
BROKERS = (("fink", "topic-a"), ("antares", "topic-b"))


@dataclass
class ServingCatalog:
    tables: dict[str, pd.DataFrame]
    roots: list[str]
    ra: np.ndarray
    dec: np.ndarray
    #: pv -> root -> number of patched lightcurve points
    nobs: dict[str, dict[str, int]]
    #: pv -> root -> band -> deduplicated detection count
    ndets: dict[str, dict[str, dict[str, int]]]
    #: pv -> root -> mjd of its last deduplicated detection
    last_det: dict[str, dict[str, float]]
    #: pv -> diasourceid -> sorted [(broker, topic, info)]
    brokerinfo: dict[str, dict[int, list[tuple[str, str, str]]]]
    #: pv -> number of logical diasource rows
    det_count: dict[str, int]
    #: diasourceids that carry broker messages
    brokered_sources: list[int]
    overridden: int = 0


def serving_catalog(seed: int, n_roots: int, visits: tuple[int, int] = (24, 40)) -> ServingCatalog:
    rng = np.random.default_rng([seed, 1])
    vt, _pv_ids, bpv_ids = _version_tables(seed, SERVE_PV_BPVS, SERVE_ALIASES)
    roots = [det_uuid(seed, "root", i) for i in range(n_roots)]
    ra = rng.uniform(150.0, 160.0, n_roots)
    dec = rng.uniform(0.0, 10.0, n_roots)
    override = rng.random(n_roots) < 0.10

    obj, pos, src, frc, brk = [], [], [], [], []
    nobs = {pv: {} for pv in SERVE_PV_BPVS}
    ndets = {pv: {} for pv in SERVE_PV_BPVS}
    last_det = {pv: {} for pv in SERVE_PV_BPVS}
    brokerinfo: dict[str, dict[int, list]] = {pv: {} for pv in SERVE_PV_BPVS}
    brokered: list[int] = []

    for i, root in enumerate(roots):
        objid = 1_000_000 + i
        obj.append((objid, bpv_ids["base"], root))
        pos.append((objid, bpv_ids["base"], ra[i], dec[i], 0.1, 0.1, 0.0))
        n_vis = int(rng.integers(visits[0], visits[1] + 1))
        t0 = float(rng.uniform(60000.0, 60300.0))
        mjds = t0 + np.arange(n_vis) * 3.0 + rng.uniform(0.0, 0.5, n_vis)
        bands = [BANDS[b] for b in rng.integers(0, len(BANDS), n_vis)]
        peak = t0 + float(rng.uniform(10.0, 60.0))
        mags = 21.5 + 0.01 * (mjds - peak) ** 2 + rng.normal(0.0, 0.05, n_vis)
        lag = int(rng.integers(0, 4))
        detected = rng.random(n_vis) < 0.6
        if lag:
            detected[-lag:] = True  # forced photometry lags detections
        forced = np.ones(n_vis, dtype=bool)
        if lag:
            forced[-lag:] = False

        # per-version point sets: visit -> (band, mjd, is_detection)
        pts = {"base": {}, "reproc": {}}
        det_bpvs: dict[int, set[str]] = {}  # diasourceid -> base versions

        def emit(bpv, k, mjd, band, mag, is_det, is_frc, scale=1.0):
            visit = int(math.floor(mjd * 20000))
            flux = _flux(mag) * scale
            if is_frc:
                frc.append((objid * 1000 + k, bpv_ids[bpv], objid, visit, band, mjd,
                            flux, max(flux / 20.0, 1.0), ra[i], dec[i]))
            if is_det:
                sid = objid * 1000 + k
                src.append((sid, bpv_ids[bpv], objid, visit, band, mjd, flux,
                            max(flux / 20.0, 1.0), ra[i] + (k % 7 - 3) * 1e-5,
                            dec[i] + (k % 5 - 2) * 1e-5, 0.05, 0.05, 0.0))
                det_bpvs.setdefault(sid, set()).add(bpv)
            old = pts[bpv].get(visit, (band, mjd, False))
            pts[bpv][visit] = (band, mjd, old[2] or is_det)

        for k in range(n_vis):
            if detected[k] or forced[k]:
                emit("base", k, mjds[k], bands[k], mags[k], detected[k], forced[k])
        if override[i]:
            lo = int(rng.integers(0, max(1, n_vis - 8)))
            for k in range(lo, min(n_vis, lo + 8)):
                if detected[k] or forced[k]:
                    emit("reproc", k, mjds[k], bands[k], mags[k], detected[k], forced[k], 1.5)
            for j in range(2):  # visits only the reprocessing found
                k = lo + j
                mjd = mjds[k] + 1.5
                emit("reproc", 900 + j, mjd, bands[k], mags[k], True, True, 1.5)

        # broker messages on a few detections; a detection the reproc
        # window re-measured also carries a reproc message, which
        # pv_live must prefer
        det_ids = sorted(det_bpvs)
        for sid in det_ids[:: max(1, len(det_ids) // 3)][:3]:
            brokered.append(sid)
            for b, (broker, topic) in enumerate(BROKERS[: 1 + (sid % 2)]):
                for bpv in sorted(det_bpvs[sid]):
                    brk.append((broker, topic, sid, bpv_ids[bpv], objid,
                                f'{{"class": "c{b}", "bpv": "{bpv}"}}'))

        for pv, lst in SERVE_PV_BPVS.items():
            order = [b for b, _ in sorted(lst, key=lambda x: -x[1])]
            merged: dict[int, tuple] = {}
            for bpv in reversed(order):  # higher priority overwrites
                merged.update(pts[bpv])
            # a visit counts once whether forced, detected or both
            nobs[pv][root] = len(merged)
            # detections dedup per visit independently of forced rows
            dets: dict[int, tuple] = {}
            for bpv in reversed(order):
                dets.update({v: p for v, p in pts[bpv].items() if p[2]})
            per_band: dict[str, int] = {}
            for band, _mjd, _ in dets.values():
                per_band[band] = per_band.get(band, 0) + 1
            ndets[pv][root] = per_band
            last_det[pv][root] = max(p[1] for p in dets.values())

    bpv_prio = {pv: {bpv_ids[b]: p for b, p in lst} for pv, lst in SERVE_PV_BPVS.items()}
    for pv in SERVE_PV_BPVS:
        best: dict[tuple, tuple] = {}
        for broker, topic, sid, bpv, _objid, info in brk:
            if bpv not in bpv_prio[pv]:
                continue
            key = (sid, broker, topic)
            cand = (bpv_prio[pv][bpv], bpv, info)
            if key not in best or cand[:2] > best[key][:2]:
                best[key] = cand
        out: dict[int, list] = {}
        for (sid, broker, topic), (_, _, info) in sorted(best.items()):
            out.setdefault(sid, []).append((broker, topic, info))
        brokerinfo[pv] = out

    det_count = {
        pv: len({(r[2], r[3]) for r in src if r[1] in bpv_prio[pv]}) for pv in SERVE_PV_BPVS
    }

    tables = dict(vt)
    tables["root_diaobject"] = pd.DataFrame({"id": roots, "ra": ra, "dec": dec})
    tables["diaobject"] = pd.DataFrame(obj, columns=["diaobjectid", "base_procver_id", "rootid"])
    tables["diaobject_position"] = pd.DataFrame(
        pos, columns=["diaobjectid", "base_procver_id", "ra", "dec", "raerr", "decerr", "ra_dec_cov"]
    ).astype({"raerr": "float32", "decerr": "float32", "ra_dec_cov": "float32"})
    tables["diasource"] = pd.DataFrame(
        src,
        columns=["diasourceid", "base_procver_id", "diaobjectid", "visit", "band",
                 "midpointmjdtai", "psfflux", "psffluxerr", "ra", "dec", "raerr",
                 "decerr", "ra_dec_cov"],
    ).astype({c: "float32" for c in ("psfflux", "psffluxerr", "raerr", "decerr", "ra_dec_cov")})
    tables["diaforcedsource"] = pd.DataFrame(
        frc,
        columns=["diaforcedsourceid", "base_procver_id", "diaobjectid", "visit", "band",
                 "midpointmjdtai", "psfflux", "psffluxerr", "ra", "dec"],
    ).astype({"psfflux": "float32", "psffluxerr": "float32"})
    tables["diasource_brokerinfo"] = pd.DataFrame(
        brk, columns=["brokername", "topic", "diasourceid", "base_procver_id", "diaobjectid", "info"]
    )
    return ServingCatalog(
        tables=tables, roots=roots, ra=ra, dec=dec, nobs=nobs, ndets=ndets,
        last_det=last_det, brokerinfo=brokerinfo, det_count=det_count,
        brokered_sources=brokered, overridden=int(override.sum()),
    )


def search_expectation(cat: ServingCatalog, pv: str, ra: float, dec: float,
                       radius: float, ndets_min: int) -> set[tuple[str, str]]:
    """(rootid, band) rows an object search must return."""
    sep = _sep_deg(cat.ra, cat.dec, ra, dec)
    out = set()
    for i in np.flatnonzero(sep <= radius):
        root = cat.roots[i]
        for band, n in cat.ndets[pv][root].items():
            if n >= ndets_min:
                out.add((root, band))
    return out


def zipf_indices(rng: np.random.Generator, n_items: int, size: int, a: float = 1.3) -> np.ndarray:
    """``size`` indices into ``n_items`` with Zipf-distributed popularity
    over a seeded permutation (rank 1 is the most requested)."""
    perm = rng.permutation(n_items)
    out = np.empty(size, dtype=np.int64)
    filled = 0
    while filled < size:
        ranks = rng.zipf(a, size) - 1
        ranks = ranks[ranks < n_items][: size - filled]
        out[filled:filled + len(ranks)] = perm[ranks]
        filled += len(ranks)
    return out


@dataclass
class Request:
    op: str
    path: str
    body: dict
    expect: object


#: request mix (op -> share), as sent by the ltcv_serve clients
SERVE_MIX = {
    "getltcv": 0.45,
    "getmanyltcvs": 0.15,
    "objectsearch": 0.15,
    "getbrokerinfo": 0.15,
    "count": 0.05,
    "gethottransients": 0.05,
}


def serving_requests(cat: ServingCatalog, seed: int, n: int) -> list[Request]:
    """A seeded request sequence with the expected answer of each."""
    rng = np.random.default_rng([seed, 2])
    ops = list(SERVE_MIX)
    kinds = rng.choice(len(ops), size=n, p=list(SERVE_MIX.values()))
    handles = rng.choice(["default", "pv_base"], size=n, p=[0.8, 0.2])
    popular = zipf_indices(rng, len(cat.roots), n * 50)
    cursor = 0
    out = []
    for kind, handle in zip(kinds, handles):
        op, handle = ops[kind], str(handle)
        pv = SERVE_HANDLES[handle]
        if op == "getltcv":
            root = cat.roots[popular[cursor]]
            cursor += 1
            out.append(Request(op, f"/getltcv/{handle}/{root}", {}, cat.nobs[pv][root]))
        elif op == "getmanyltcvs":
            idx = sorted(set(popular[cursor:cursor + 50].tolist()))
            cursor += 50
            ids = [cat.roots[i] for i in idx]
            out.append(Request(op, f"/getmanyltcvs/{handle}", {"objids": ids, "nested": True},
                               {r: cat.nobs[pv][r] for r in ids}))
        elif op == "objectsearch":
            i = int(popular[cursor])
            cursor += 1
            radius = float(rng.uniform(0.1, 0.3))
            body = {"ra": float(cat.ra[i]), "dec": float(cat.dec[i]),
                    "radius_deg": radius, "ndets_min": 3}
            out.append(Request(op, f"/objectsearch/{handle}", body,
                               search_expectation(cat, pv, body["ra"], body["dec"], radius, 3)))
        elif op == "getbrokerinfo":
            sid = int(cat.brokered_sources[int(rng.integers(len(cat.brokered_sources)))])
            out.append(Request(op, f"/getbrokerinfo/{sid}", {"processing_version": handle},
                               cat.brokerinfo[pv].get(sid, [])))
        elif op == "count":
            out.append(Request(op, f"/count/diasource/{handle}", {}, cat.det_count[pv]))
        else:  # gethottransients: cut at the latest ~1% of last detections
            lasts = np.array(sorted(cat.last_det[pv].values()))
            cut = float(lasts[int(len(lasts) * float(rng.uniform(0.985, 0.995)))])
            hot = [r for r, m in cat.last_det[pv].items() if m >= cut]
            out.append(Request(op, f"/gethottransients/{handle}",
                               {"detected_since_mjd": cut},
                               {r: cat.nobs[pv][r] for r in hot}))
    return out


# --------------------------------------------------------------------------
# alert_ingest: silver catalog + nested alert micro-batches
# --------------------------------------------------------------------------

ALERT_PV_BPVS = {"realtime": [("realtime", 0)]}
ALERT_ALIASES = {"default": "realtime"}
INGEST_TABLES = ("root_diaobject", "diaobject", "diaobject_position", "diasource",
                 "diaforcedsource", "diasource_brokerinfo")


@dataclass
class AlertStream:
    tables: dict[str, pd.DataFrame]
    bpv_id: str
    #: per batch: list of alert records (dicts in ALERT_SCHEMA shape)
    batches: list[list[dict]]
    #: per batch: (rootid, visit) of one new visit of an existing object
    probes: list[tuple[str, int]]
    #: per batch: table -> unique row count after that batch is ingested
    expected_counts: list[dict[str, int]]
    replays: int = 0


def alert_stream(seed: int, n_roots: int, n_batches: int, batch_size: int,
                 first_batch_size: int | None = None) -> AlertStream:
    """``n_batches`` micro-batches of ``batch_size`` alerts; batch 0 holds
    ``first_batch_size`` when given (a warm-up batch)."""
    rng = np.random.default_rng([seed, 3])
    vt, _pv_ids, bpv_ids = _version_tables(seed, ALERT_PV_BPVS, ALERT_ALIASES)
    bpv = bpv_ids["realtime"]
    roots = [det_uuid(seed, "aroot", i) for i in range(n_roots)]
    ra = rng.uniform(200.0, 205.0, n_roots)
    dec = rng.uniform(-5.0, 0.0, n_roots)
    objids = [5_000_000 + i for i in range(n_roots)]
    root_of = dict(zip(objids, roots))
    pos_of = {o: (ra[i], dec[i]) for i, o in enumerate(objids)}
    next_k = {o: 4 for o in objids}
    t_now = 60500.0

    src, frc = [], []
    for i, o in enumerate(objids):
        for k in range(4):
            mjd = t_now - 40.0 + k * 3.0 + i * 1e-4
            band = BANDS[k % 4]
            visit = int(math.floor(mjd * 20000))
            src.append((o * 1000 + k, bpv, o, visit, band, mjd, 1000.0, 50.0,
                        ra[i], dec[i], 0.05, 0.05, 0.0))
            frc.append((o * 1000 + k, bpv, o, visit, band, mjd, 1000.0, 50.0, ra[i], dec[i]))
    tables = dict(vt)
    tables["root_diaobject"] = pd.DataFrame({"id": roots, "ra": ra, "dec": dec})
    tables["diaobject"] = pd.DataFrame(
        {"diaobjectid": objids, "base_procver_id": bpv, "rootid": roots})
    tables["diaobject_position"] = pd.DataFrame(
        {"diaobjectid": objids, "base_procver_id": bpv, "ra": ra, "dec": dec,
         "raerr": np.float32(0.1), "decerr": np.float32(0.1), "ra_dec_cov": np.float32(0.0)})
    tables["diasource"] = pd.DataFrame(
        src,
        columns=["diasourceid", "base_procver_id", "diaobjectid", "visit", "band",
                 "midpointmjdtai", "psfflux", "psffluxerr", "ra", "dec", "raerr",
                 "decerr", "ra_dec_cov"],
    ).astype({c: "float32" for c in ("psfflux", "psffluxerr", "raerr", "decerr", "ra_dec_cov")})
    tables["diaforcedsource"] = pd.DataFrame(
        frc,
        columns=["diaforcedsourceid", "base_procver_id", "diaobjectid", "visit", "band",
                 "midpointmjdtai", "psfflux", "psffluxerr", "ra", "dec"],
    ).astype({"psfflux": "float32", "psffluxerr": "float32"})
    tables["diasource_brokerinfo"] = pd.DataFrame(
        {"brokername": pd.Series([], dtype=str), "topic": pd.Series([], dtype=str),
         "diasourceid": pd.Series([], dtype="int64"),
         "base_procver_id": pd.Series([], dtype=str),
         "diaobjectid": pd.Series([], dtype="int64"), "info": pd.Series([], dtype=str)})

    keys = {
        "root_diaobject": set(roots),
        "diaobject": set(objids),
        "diaobject_position": set(objids),
        "diasource": {r[0] for r in src},
        "diaforcedsource": {(r[2], r[3]) for r in frc},
        "diasource_brokerinfo": set(),
    }
    # positions new objects must keep clear of (1" association radius)
    occupied_ra, occupied_dec = list(ra), list(dec)
    next_obj = 9_000_000
    alert_id = 0
    sent: list[dict] = []
    batches, probes, expected = [], [], []
    replays = 0

    def src_rec(o, k, mjd, band, r, d):
        return {"diaSourceId": o * 1000 + k, "diaObjectId": o,
                "visit": int(math.floor(mjd * 20000)), "band": band,
                "midpointMjdTai": mjd, "psfFlux": 1200.0, "psfFluxErr": 40.0,
                "ra": r, "dec": d, "raErr": 0.05, "decErr": 0.05, "ra_dec_Cov": 0.0,
                "psfFluxFlag": bool(k % 2), "pixelFlags": False, "centroidFlag": bool(k % 3 == 0)}

    def frc_rec(o, k, mjd, band, r, d):
        return {"diaForcedSourceId": o * 1000 + k, "diaObjectId": o,
                "visit": int(math.floor(mjd * 20000)), "band": band,
                "midpointMjdTai": mjd, "psfFlux": 1100.0, "psfFluxErr": 45.0,
                "ra": r, "dec": d}

    def clear_of_all(r, d, radius=5.0 / 3600.0):
        sep = _sep_deg(np.asarray(occupied_ra), np.asarray(occupied_dec), r, d)
        return bool((sep > radius).all())

    for b in range(n_batches):
        t_now += 1.0
        batch: list[dict] = []
        probe = None
        # exact shares per batch, so every seed asks the same work of a batch
        n = first_batch_size if b == 0 and first_batch_size else batch_size
        kinds = _shuffled_kinds(rng, n, {2: 0.05, 1: 0.25}, default=0)
        pending_pair = None
        for kind in kinds:
            if kind == 2 and (sent or batch):
                pool = sent + batch
                rec = pool[int(rng.integers(len(pool)))]
                batch.append(rec)
                replays += 1
                continue
            alert_id += 1
            broker, topic = BROKERS[alert_id % 2]
            if kind == 0 or (kind == 2):
                o = objids[int(rng.integers(n_roots))]
                k = next_k[o]
                next_k[o] += 1
                r0, d0 = pos_of[o]
                off = rng.uniform(0.0, 0.3 / 3600.0)
                ang = rng.uniform(0.0, 2 * math.pi)
                r = r0 + off * math.cos(ang) / math.cos(math.radians(d0))
                d = d0 + off * math.sin(ang)
                mjd = t_now + alert_id * 1e-4
                band = BANDS[k % 4]
                cur = src_rec(o, k, mjd, band, r, d)
                prv = [src_rec(o, j, t_now - 40.0 + j * 3.0, BANDS[j % 4], r0, d0)
                       for j in range(max(0, k - 2), min(k, 4))]
                prv_frc = [frc_rec(o, k, mjd, band, r0, d0)]
                keys["diasource"].add(o * 1000 + k)
                keys["diaforcedsource"].add((o, cur["visit"]))
                if probe is None:
                    probe = (root_of[o], cur["visit"])
            else:
                o = next_obj
                next_obj += 1
                if pending_pair is not None:
                    r0, d0 = pending_pair
                    off = 0.5 / 3600.0
                    r, d = r0 + off / math.cos(math.radians(d0)), d0
                    pending_pair = None
                else:
                    while True:
                        r, d = rng.uniform(200.0, 205.0), rng.uniform(-5.0, 0.0)
                        if clear_of_all(r, d):
                            break
                    if rng.random() < 0.3:
                        pending_pair = (r, d)  # the next new object pairs up
                    keys["root_diaobject"].add(("new", o))
                occupied_ra.append(r)
                occupied_dec.append(d)
                pos_of[o] = (r, d)
                next_k[o] = 1
                mjd = t_now + alert_id * 1e-4
                cur = src_rec(o, 0, mjd, "r", r, d)
                prv, prv_frc = [], [frc_rec(o, 0, mjd, "r", r, d)]
                keys["diaobject"].add(o)
                keys["diaobject_position"].add(o)
                keys["diasource"].add(o * 1000)
                keys["diaforcedsource"].add((o, cur["visit"]))
            keys["diasource_brokerinfo"].add((broker, topic, cur["diaSourceId"]))
            batch.append({
                "alertId": alert_id, "brokername": broker, "topic": topic,
                "classifications": f'{{"class": "SN", "p": {alert_id % 97 / 100:.2f}}}',
                "diaSource": cur, "prvDiaSources": prv, "prvDiaForcedSources": prv_frc,
                "diaObject": {"diaObjectId": o, "ra": pos_of[o][0], "dec": pos_of[o][1],
                              "raErr": 0.1, "decErr": 0.1},
                "cutoutDifference": None, "cutoutTemplate": None,
            })
        sent.extend(batch)
        batches.append(batch)
        probes.append(probe)
        expected.append({t: len(v) for t, v in keys.items()})
    return AlertStream(tables=tables, bpv_id=bpv, batches=batches, probes=probes,
                       expected_counts=expected, replays=replays)


# --------------------------------------------------------------------------
# dedup_index: corpus with planted duplicates
# --------------------------------------------------------------------------

#: sketch parameters the index is built with: 16 bands of 2 rows keep
#: the chance that LSH misses a planted near duplicate (Jaccard ~0.9)
#: below 1e-10 per pair, so the planted truth is the exact truth
DEDUP_PARAMS = {"shingle_k": 3, "n_hashes": 32, "bands": 16, "threshold": 0.5,
                "hash_impl": "fast"}


@dataclass
class DedupCorpus:
    initial: list[tuple[int, str]]
    initial_survivors: set[int]
    batches: list[list[tuple[int, str]]]
    #: per batch: doc id -> probe verdict
    verdicts: list[dict[int, str]]
    #: indexed ids to take down before the first batch; no later
    #: document copies them, so the verdicts hold whenever they go
    removed: list[int]
    #: per batch: index size after its upsert (removal included)
    index_size: list[int] = field(default_factory=list)


def dedup_corpus(seed: int, n_initial: int, n_batches: int, batch_size: int,
                 n_remove: int = 16) -> DedupCorpus:
    rng = np.random.default_rng([seed, 4])
    vocab = [f"w{h}" for h in rng.choice(10**7, size=30000, replace=False)]
    next_id = 1

    def fresh_text():
        return " ".join(vocab[j] for j in rng.integers(0, len(vocab), int(rng.integers(40, 70))))

    def near(text):
        toks = text.split()
        toks[int(rng.integers(len(toks)))] = vocab[int(rng.integers(len(vocab)))] + "x"
        return " ".join(toks)

    def make(n, sources):
        """``n`` docs with planted duplicates; ``sources`` are indexed
        survivors a duplicate may copy.  Returns docs and their verdict
        against an index holding ``sources``."""
        nonlocal next_id
        docs, verdict, kept = [], {}, []
        text_of = dict(sources)
        shares = {"in_batch_exact": 0.05, "in_batch_near": 0.05}
        if sources:
            shares.update(exact=0.10, near=0.10)
        # exact shares per batch, so every seed asks the same work of a
        # batch; the first document is fresh so in-batch copies have one
        kinds = ["fresh"] + _shuffled_kinds(rng, n - 1, shares, default="fresh")
        for kind in kinds:
            i = next_id
            next_id += 1
            if kind == "exact":
                src = sources[int(rng.integers(len(sources)))]
                docs.append((i, src[1]))
                verdict[i] = "exact"
            elif kind == "near":
                src = sources[int(rng.integers(len(sources)))]
                docs.append((i, near(src[1])))
                verdict[i] = "near"
            elif kind == "in_batch_exact":
                docs.append((i, text_of[kept[int(rng.integers(len(kept)))]]))
                verdict[i] = "in_batch_exact"
            elif kind == "in_batch_near":
                docs.append((i, near(text_of[kept[int(rng.integers(len(kept)))]])))
                verdict[i] = "in_batch_near"
            else:
                t = fresh_text()
                docs.append((i, t))
                text_of[i] = t
                kept.append(i)
                verdict[i] = "fresh"
        return docs, verdict

    initial, v0 = make(n_initial, [])
    survivors = {i for i, v in v0.items() if v == "fresh"}
    text_of = dict(initial)
    removed = sorted(rng.choice(sorted(survivors), size=n_remove, replace=False).tolist())
    pool = [(i, text_of[i]) for i in sorted(survivors) if i not in set(removed)]
    index = survivors - set(removed)
    batches, verdicts, sizes = [], [], []
    for _ in range(n_batches):
        docs, verdict = make(batch_size, pool)
        batches.append(docs)
        verdicts.append(verdict)
        new = [(i, t) for i, t in docs if verdict[i] == "fresh"]
        index |= {i for i, _ in new}
        pool.extend(new)
        sizes.append(len(index))
    return DedupCorpus(initial=initial, initial_survivors=survivors, batches=batches,
                       verdicts=verdicts, removed=removed, index_size=sizes)
