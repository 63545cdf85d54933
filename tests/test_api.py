"""API facade tests: the reference's endpoint surface over a parquet
catalog directory (the 'switch from the reference' contract)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fastdb_spark.api import FastdbAPI
from fastdb_spark.versions import ProcverResolver

from .conftest import PV, ROOT, count_jobs, write_golden_catalog


@pytest.fixture(scope="module")
def api(spark, golden, tmp_path_factory):
    root = tmp_path_factory.mktemp("catalog")
    write_golden_catalog(golden, root)
    return FastdbAPI(spark, str(root), queue_root=str(root / "queue"))


def test_processing_versions(api):
    names = [r["description"] for r in api.processing_versions().collect()]
    assert names == sorted(names)
    assert {"pv1", "pv2", "pv3", "realtime", "default"} <= set(names)


def test_procver_resolution_memoized(spark, api):
    """A resolved handle costs its lookup jobs once per resolver; an
    unknown handle is looked up, and raises, on every call."""
    r = ProcverResolver(
        api.tables["processing_version"],
        api.tables["processing_version_alias"],
        api.tables["base_procver_of_procver"],
    )
    first = count_jobs(spark, "resolve-first", lambda: r.procver_id("default"))
    again = count_jobs(
        spark, "resolve-again", lambda: [r.procver_id("default") for _ in range(3)]
    )
    assert first >= 1 and again == 0
    assert r.procver_id("default") == PV["pv2"]

    def unknown():
        with pytest.raises(KeyError):
            r.procver_id("nope")

    assert count_jobs(spark, "resolve-unknown-1", unknown) >= 1
    assert count_jobs(spark, "resolve-unknown-2", unknown) >= 1


def test_resolver_priorities_one_collect_highest_duplicate_wins(spark, api):
    """A handle resolves to per-table priority dicts in one job; a base
    version listed twice for one table keeps its highest priority."""
    bpv = api.tables["base_procver_of_procver"]
    dup = bpv.filter(F.col("procver_id") == PV["pv2"]).withColumn(
        "priority", F.col("priority") + 10
    )
    r = ProcverResolver(
        api.tables["processing_version"],
        api.tables["processing_version_alias"],
        bpv.unionByName(dup),
    )
    jobs = count_jobs(spark, "resolve-priorities", lambda: r.procver_id("default"))
    assert jobs == 1
    want = {b: p + 10 for b, p in api.resolver.priorities("pv2", "diasource").items()}
    assert want and r.priorities("default", "diasource") == want
    assert r.priorities("default", "no_such_table") == {}


def test_api_open_submits_no_job(spark, api):
    """Every catalog table opens with its declared schema: no inference
    job, whatever the number of tables."""
    root = api.catalog.root
    assert count_jobs(spark, "api-open", lambda: FastdbAPI(spark, root)) == 0


def test_fresh_get_ltcv_job_budget(spark, api):
    """A fresh API's one-root lightcurve is one resolve job plus one
    statement's execution (6 jobs on this fixture; the DataFrame chain it
    replaced ran 13 after 10 table-open jobs)."""
    fresh = FastdbAPI(spark, api.catalog.root)
    rows = []
    jobs = count_jobs(
        spark, "fresh-getltcv",
        lambda: rows.extend(fresh.get_ltcv("realtime", ROOT[0]).collect()),
    )
    assert rows and jobs <= 7, jobs


@pytest.mark.parametrize(
    "value", ["x' OR '1'='1", "realtime'; --", "realtime;", "default' --"]
)
def test_sql_metacharacters_stay_values(api, value):
    """Handles, root ids and bands reach the statement as parameters or
    DataFrame rows, never as SQL text: a quote or semicolon makes an
    unknown handle (KeyError) or an id that matches nothing."""
    with pytest.raises(KeyError):
        api.get_ltcv(value, ROOT[0])
    assert api.get_ltcv("realtime", value).collect() == []
    assert api.get_many_ltcvs("realtime", [ROOT[0]], bands=[value]).collect() == []
    with pytest.raises(KeyError):
        api.count("diasource", value)


def test_get_many_ltcvs_roundtrip(api):
    flat = api.get_many_ltcvs("default", which="patch")
    assert flat.count() > 0
    nested = api.get_many_ltcvs("default", which="patch", nested=True)
    assert nested.count() == 4


def test_objid_normalization_mixed(api):
    # int diaobjectid and uuid rootid both resolve (reference ltcv.py:498-521)
    df = api.get_many_ltcvs("pv2", objids=[200, ROOT[1]], which="detections")
    roots = {r["rootid"] for r in df.select("rootid").distinct().collect()}
    assert roots == {ROOT[0], ROOT[1]}


def test_get_random_ltcv(api):
    df = api.get_random_ltcv("pv2", which="detections")
    assert df.select("rootid").distinct().count() <= 1


def test_count_endpoint(api, golden_pandas):
    n = api.count("diasource", "pv2")
    assert n > 0
    est = api.count("diasource", "pv2", estimate=True)
    assert abs(est - n) <= max(3, 0.1 * n)  # HLL estimate in the ballpark


def test_object_search_endpoint(api):
    hits = api.object_search(
        "pv2", ra=42.0, dec=13.0, radius_deg=25.0 / 3600.0, ndets_min=1
    )
    roots = {r["rootid"] for r in hits.select("rootid").distinct().collect()}
    assert roots == {ROOT[0], ROOT[1], ROOT[2]}


def test_hot_transients_endpoint(api):
    hot = api.get_hot_transients("realtime", detected_since_mjd=60040.0)
    roots = {r["rootid"] for r in hot.select("rootid").distinct().collect()}
    assert ROOT[0] not in roots and ROOT[1] in roots


def test_run_sql_passthrough(api):
    out = api.run_sql(
        "SELECT count(*) AS n FROM diasource WHERE band = 'g'"
    ).collect()
    assert out[0]["n"] > 0


def test_run_sql_parameterized(api):
    out = api.run_sql(
        "SELECT count(*) AS n FROM diasource WHERE band = :b",
        subdict={"b": "g"},
    ).collect()
    assert out[0]["n"] > 0


def test_async_sql_lifecycle(api):
    qid = api.submit_sql_query(
        "00000000-0000-4000-8000-0000000000ff",
        ["SELECT diaobjectid, count(*) AS n FROM diasource GROUP BY diaobjectid"],
    )
    assert api.check_sql_query(qid)["status"] == "queued"
    api.queue.run_one()
    assert api.check_sql_query(qid)["status"] == "finished"
    res = api.get_sql_query_results(qid)
    assert res.count() > 0 and set(res.columns) == {"diaobjectid", "n"}


def test_alert_reconstruction_golden(api, golden):
    from fastdb_spark.queries.reconstruct import reconstruct_alerts

    det = golden["diasource"].filter(F.col("base_procver_id").isNotNull())
    frc = golden["diaforcedsource"].withColumnRenamed(
        "diaforcedsourceid", "diaforcedsourceid"
    )
    objects = golden["diaobject_position"].select(
        "diaobjectid", "ra", "dec"
    ).dropDuplicates(["diaobjectid"])
    new = det.filter(F.col("midpointmjdtai") >= 60055.0)
    alerts = reconstruct_alerts(new, det, frc, objects)
    rows = alerts.collect()
    assert len(rows) == new.count()
    for r in rows[:5]:
        t = r["diaSource"]["midpointMjdTai"]
        for p in r["prvDiaSources"]:
            assert t - 365.0 <= p["midpointmjdtai"] < t
        for p in r["prvDiaForcedSources"]:
            assert p["midpointmjdtai"] < t - 1.0
        assert r["diaObject"] is not None


def test_get_broker_info(api):
    # pv1 maps bpv1b > bpv1a > bpv1: the duplicate (fink, topic-a) message
    # must come from bpv1a (p=0.9), not bpv1 (p=0.6)
    out = api.get_broker_info([10000000, 20000000], "pv1").collect()
    rows = {(r["diasourceid"], r["brokername"], r["topic"]): r["info"] for r in out}
    assert rows[(10000000, "fink", "topic-a")] == '{"class": "SNIa", "p": 0.9}'
    assert (10000000, "antares", "topic-b") in rows
    # source 20000000 is bpv2-only -> not visible under pv1
    assert not any(k[0] == 20000000 for k in rows)
    # broker/topic filters (reference's optional narrowing)
    only_fink = api.get_broker_info(10000000, "pv1", brokername="fink").collect()
    assert {r["brokername"] for r in only_fink} == {"fink"}
    # and under pv2 the bpv2 message appears
    pv2 = api.get_broker_info([20000000], "pv2").collect()
    assert len(pv2) == 1 and pv2[0]["info"] == '{"class": "AGN", "p": 0.7}'


def test_spectrum_cycle_end_to_end(api):
    """The full reference spectrum workflow through the facade:
    askforspectrum -> spectrawanted -> planspectrum -> removespectrumplan
    -> reportspectruminfo -> getknownspectruminfo (reference
    src/webserver/spectrumapp.py)."""
    r1 = "11111111-0000-0000-0000-000000000001"
    r2 = "11111111-0000-0000-0000-000000000002"

    n = api.ask_for_spectrum("bot", [r1, r2], [9, 3], [10.0, 20.0], [-5.0, -6.0])
    assert n == 2
    ws = {r["root_diaobject_id"]: r for r in api.tables["wantedspectra"].collect()}
    assert ws[r1]["priority"] == 5  # clamped from 9 (reference clamps 0..5)
    assert ws[r2]["priority"] == 3

    # re-asking is an upsert on wantspec_id: no duplicate rows, refreshed
    api.ask_for_spectrum("bot", [r1], [1], [10.0], [-5.0])
    assert api.tables["wantedspectra"].count() == 2
    ws = {r["root_diaobject_id"]: r for r in api.tables["wantedspectra"].collect()}
    assert ws[r1]["priority"] == 1

    # both wanted, none claimed or observed yet
    wanted = {r["root_diaobject_id"] for r in api.spectra_wanted().collect()}
    assert wanted == {r1, r2}

    # claim r1: it drops out of the wanted list
    api.plan_spectrum(r1, "bigscope", "2026-03-01 00:00:00")
    wanted = {r["root_diaobject_id"] for r in api.spectra_wanted().collect()}
    assert wanted == {r2}

    # withdraw the plan: r1 is wanted again; second delete is a no-op
    assert api.remove_spectrum_plan(r1, "bigscope") == 1
    assert api.remove_spectrum_plan(r1, "bigscope") == 0
    wanted = {r["root_diaobject_id"] for r in api.spectra_wanted().collect()}
    assert wanted == {r1, r2}

    # report an observed spectrum for r1: drops out of wanted
    api.report_spectrum_info(
        "bigscope", 60100.0, 10.0, -5.0,
        root_diaobject_id=r1, z=0.05, classid=2222, class_description="SN Ia",
    )
    wanted = {r["root_diaobject_id"] for r in api.spectra_wanted().collect()}
    assert wanted == {r2}

    # keyword-spec search over reported spectra (P1 surface)
    assert api.get_known_spectrum_info(facility="bigscope").count() == 1
    assert api.get_known_spectrum_info(classid_min=3000).count() == 0
    row = api.get_known_spectrum_info(class_description="Ia").collect()[0]
    assert row["root_diaobject_id"] == r1 and abs(row["z"] - 0.05) < 1e-6
    assert api.get_known_spectrum_info(root_diaobject_ids=[r2]).count() == 0


def test_procver_info_lookups(api):
    info = api.procver_info("pv1")
    assert info["description"] == "pv1"
    assert "diasource" in info["base_procvers"]
    # priority-DESC order within each table's list
    for entries in info["base_procvers"].values():
        prios = [p for _, p in entries]
        assert prios == sorted(prios, reverse=True)
    # alias resolves to the same version
    assert api.procver_info("realtime")["id"] == api.procver_info(
        api.procver_info("realtime")["description"]
    )["id"]

    b = info["base_procvers"]["diasource"][0][0]  # top-priority bpv descr
    bi = api.base_procver_info(b, "diasource")
    assert bi["table"] == "diasource" and "pv1" in bi["procvers"]
