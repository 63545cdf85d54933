"""Ingest pipeline tests: wrangling, spatial association, idempotent
merges, structured-streaming smoke, query queue — mirrors the reference's
end-to-end alert-cycle test strategy (SURVEY.md §5 'alertcycle')."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from fastdb_spark.sources.alerts import (
    ALERT_SCHEMA,
    reject_solar_system,
    wrangle_alerts,
)
from fastdb_spark.storage import ParquetTable
from fastdb_spark.streaming import ingest as ingest_mod
from fastdb_spark.streaming.ingest import (
    SilverCatalog,
    associate_roots,
    ingest_batch,
    run_alert_file_stream,
)
from fastdb_spark.streaming.queue import QueryQueue

UTC = dt.timezone.utc
T0 = dt.datetime(2026, 2, 1, tzinfo=UTC)

BPV = "realtime-bpv-0000"


def _src(sid, oid, visit, mjd, flux=100.0, ra=10.0, dec=-5.0, flag=False):
    return (sid, oid, visit, "r", mjd, flux, 2.0, ra, dec, 0.1, 0.1, 0.0,
            flag, False, False)


def _alert(aid, sid, oid, visit, mjd, ra, dec, prv=(), frc=(), flag=False):
    return (
        aid, "fink", "topic1", '{"class": "SNIa", "p": 0.9}',
        _src(sid, oid, visit, mjd, ra=ra, dec=dec, flag=flag),
        list(prv), list(frc),
        (oid, ra, dec, 0.1, 0.1),
        b"\x01\x02", b"\x03\x04",
    )


@pytest.fixture()
def alerts_batch1(spark):
    rows = [
        # object 1001 at (10, -5): current + one previous source + forced
        _alert(1, 50001, 1001, 111, 60000.0, 10.0, -5.0,
               prv=[_src(50000, 1001, 110, 59998.0, ra=10.0, dec=-5.0)],
               frc=[(70000, 1001, 109, "r", 59990.0, 90.0, 2.0, 10.0, -5.0)],
               flag=True),
        # object 1002 within 1" of 1001 -> same root (intra-batch cluster)
        _alert(2, 50002, 1002, 112, 60001.0, 10.0 + 0.0002, -5.0, flag=False),
        # object 1003 far away -> own root
        _alert(3, 50003, 1003, 113, 60002.0, 200.0, 40.0),
        # solar-system alert (diaobjectid 0) -> rejected
        _alert(4, 50004, 0, 114, 60003.0, 1.0, 1.0),
        # duplicate delivery of alert 1 (at-least-once) -> deduped
        _alert(1, 50001, 1001, 111, 60000.0, 10.0, -5.0, flag=True),
    ]
    return spark.createDataFrame(rows, ALERT_SCHEMA)


def test_wrangle_shapes(spark, alerts_batch1):
    w = wrangle_alerts(alerts_batch1, BPV)
    src = w["diasource"].toPandas()
    # 5 alerts (incl. dup) + 1 prv source
    assert len(src) == 6
    assert set(src.columns) >= {
        "diasourceid", "diaobjectid", "visit", "band", "midpointmjdtai",
        "psfflux", "psffluxerr", "ra", "dec", "flags", "savetime",
        "base_procver_id",
    }
    # flag packing: alert 1 has psfFluxFlag -> bit 0
    flags = dict(zip(src["diasourceid"], src["flags"]))
    assert flags[50001] & 1 == 1
    assert flags[50002] & 1 == 0
    assert len(w["diaforcedsource"].toPandas()) == 1
    assert len(w["cutouts"].toPandas()) == 5

    rejected = reject_solar_system(w)
    assert rejected["diasource"].filter(F.col("diaobjectid") == 0).count() == 0


def test_associate_roots_clusters_and_adopts(spark):
    new = spark.createDataFrame(
        [(1001, 10.0, -5.0), (1002, 10.0002, -5.0), (1003, 200.0, 40.0),
         (1004, 55.0, 3.0)],
        ["diaobjectid", "ra", "dec"],
    )
    roots = spark.createDataFrame(
        [("existing-root-1", 55.00001, 3.0)], ["id", "ra", "dec"]
    )
    assoc = {r["diaobjectid"]: r["rootid"]
             for r in associate_roots(new, roots).collect()}
    assert assoc[1004] == "existing-root-1"        # adopted within 1"
    assert assoc[1001] == assoc[1002]              # intra-batch cluster
    assert assoc[1003] != assoc[1001]              # far object: own root
    for oid in (1001, 1003):
        assert len(assoc[oid]) == 36 and assoc[oid].count("-") == 4


def test_ingest_batch_idempotent(spark, alerts_batch1, tmp_path):
    silver = SilverCatalog(spark, str(tmp_path / "silver"))
    w = reject_solar_system(wrangle_alerts(alerts_batch1, BPV, savetime=F.lit(T0)))
    stats1 = ingest_batch(silver, w)
    assert stats1["sources"] == 4  # 3 current (dup removed, ss rejected) + 1 prv
    assert stats1["new_objects"] == 3

    n_roots = silver.table("root_diaobject").read().count()
    assert n_roots == 2  # {1001,1002} cluster + 1003

    # replay the SAME batch (at-least-once transport) -> no growth
    stats2 = ingest_batch(silver, w)
    assert stats2["new_objects"] == 0
    assert silver.table("root_diaobject").read().count() == 2
    assert silver.table("diasource").read().count() == 4
    assert silver.table("diaobject").read().count() == 3


def test_stored_tables_conform_to_declared_schemas(
    spark, golden, alerts_batch1, tmp_path
):
    """The tables the engine writes — an ingest batch's silver merges and
    a spectrum cycle — store exactly their declared schema: the contract
    the declared-schema opens of ``Catalog.table`` and
    ``SilverCatalog.table`` read under."""
    from fastdb_spark import schemas
    from fastdb_spark.api import FastdbAPI

    from .conftest import write_golden_catalog

    root = tmp_path / "silver"
    silver = SilverCatalog(spark, str(root))
    w = reject_solar_system(wrangle_alerts(alerts_batch1, BPV, savetime=F.lit(T0)))
    ingest_batch(silver, w, collect_stats=False)
    write_golden_catalog(
        {t: golden[t] for t in ("processing_version", "processing_version_alias",
                                "base_procver_of_procver")},
        root,
    )
    api = FastdbAPI(spark, str(root))
    rootid = silver.table("root_diaobject").read().first()["id"]
    api.ask_for_spectrum("conformance", [rootid], [3], [10.0], [-5.0])
    api.plan_spectrum(rootid, "tel", "2026-02-02T00:00:00")
    api.report_spectrum_info("tel", 60010.0, 10.0, -5.0, root_diaobject_id=rootid)

    stored = [t for t in schemas.TABLES if (root / f"{t}.parquet").exists()]
    written = set(SilverCatalog.TABLES) - {"cutouts"}
    assert written | {"wantedspectra", "plannedspectra", "spectruminfo"} <= set(stored)
    for t in stored:
        schemas.assert_schema(spark.read.parquet(str(root / f"{t}.parquet")).schema, t)


@pytest.mark.parametrize("failing", ["diaobject_position", "root_diaobject"])
def test_ingest_replay_repairs_failed_merge(
    spark, alerts_batch1, tmp_path, monkeypatch, failing
):
    """A failed merge re-raises after the other merges settle and leaves
    diaobject unwritten, so a replay of the same batch still sees its
    objects as new and completes every table; no batch frame stays
    cached after the failure."""
    silver = SilverCatalog(spark, str(tmp_path / "silver"))
    w = reject_solar_system(wrangle_alerts(alerts_batch1, BPV, savetime=F.lit(T0)))
    upsert = ParquetTable.upsert

    def failing_upsert(self, updates, keys, on_conflict="nothing"):
        if os.path.basename(self.path) == f"{failing}.parquet":
            raise OSError(f"{failing} merge failed")
        return upsert(self, updates, keys, on_conflict)

    batches = []
    dedup = ingest_mod.dedup_batch

    def recording_dedup(wrangled):
        batches.append(dedup(wrangled))
        return batches[-1]

    monkeypatch.setattr(ingest_mod, "dedup_batch", recording_dedup)
    monkeypatch.setattr(ParquetTable, "upsert", failing_upsert)
    with pytest.raises(OSError, match="merge failed"):
        ingest_batch(silver, w, collect_stats=False)
    assert not silver.table("diaobject").exists()
    assert silver.table("diasource").read().count() == 4  # settled
    assert all(df.storageLevel == StorageLevel.NONE for df in batches[0].values())

    monkeypatch.setattr(ParquetTable, "upsert", upsert)
    assert ingest_batch(silver, w)["new_objects"] == 3
    assert silver.table("diaobject_position").read().count() == 3
    assert silver.table("diaobject").read().count() == 3
    assert silver.table("diasource").read().count() == 4
    roots = {r["id"] for r in silver.table("root_diaobject").read().collect()}
    objs = silver.table("diaobject").read().toPandas().set_index("diaobjectid")
    assert len(roots) == 2 and set(objs.rootid) == roots
    assert objs.rootid[1001] == objs.rootid[1002] != objs.rootid[1003]


def test_ingest_second_batch_associates_to_existing(spark, alerts_batch1, tmp_path):
    silver = SilverCatalog(spark, str(tmp_path / "silver"))
    w1 = reject_solar_system(wrangle_alerts(alerts_batch1, BPV, savetime=F.lit(T0)))
    ingest_batch(silver, w1)

    # batch 2: new object 2001 within 1" of object 1001's position -> must
    # adopt the existing root, not mint a new one
    rows = [_alert(10, 60001, 2001, 120, 60010.0, 10.00001, -5.0)]
    b2 = spark.createDataFrame(rows, ALERT_SCHEMA)
    w2 = reject_solar_system(
        wrangle_alerts(b2, BPV, savetime=F.lit(T0 + dt.timedelta(hours=1)))
    )
    ingest_batch(silver, w2)

    objs = silver.table("diaobject").read().toPandas()
    r1001 = objs[objs.diaobjectid == 1001].rootid.iloc[0]
    r2001 = objs[objs.diaobjectid == 2001].rootid.iloc[0]
    assert r1001 == r2001
    assert silver.table("root_diaobject").read().count() == 2


def test_streaming_file_ingest(spark, alerts_batch1, tmp_path):
    """Structured Streaming end-to-end: parquet alert files -> foreachBatch
    merge -> silver tables (availableNow drains synchronously)."""
    alerts_dir = str(tmp_path / "alerts")
    alerts_batch1.write.parquet(alerts_dir)
    q = run_alert_file_stream(
        spark,
        alerts_dir,
        str(tmp_path / "silver"),
        str(tmp_path / "ckpt"),
        BPV,
    )
    q.awaitTermination(120)
    silver = SilverCatalog(spark, str(tmp_path / "silver"))
    assert silver.table("diasource").read().count() == 4
    # restart with same checkpoint: no reprocessing, tables stable
    q2 = run_alert_file_stream(
        spark, alerts_dir, str(tmp_path / "silver"), str(tmp_path / "ckpt"), BPV
    )
    q2.awaitTermination(120)
    assert silver.table("diasource").read().count() == 4


def test_streaming_first_seen_stateful(spark, tmp_path):
    """Cross-batch stateful dedup (applyInPandasWithState): duplicates in
    LATER micro-batches must not re-emit — the state store, not batch-local
    dedup, provides the guarantee."""
    from fastdb_spark.streaming.stateful import streaming_first_seen

    src = str(tmp_path / "msgs")
    schema = "msg_id long, savetime double, body string"
    # batch 1: ids 1,2 (id 1 twice — in-batch dup); batch 2: id 1 again
    # (cross-batch dup, later savetime) + new id 3
    spark.createDataFrame(
        [(1, 10.0, "first"), (1, 11.0, "dup-in-batch"), (2, 12.0, "b")],
        schema,
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [(1, 20.0, "dup-cross-batch"), (3, 21.0, "c")], schema
    ).coalesce(1).write.parquet(src + "/f2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one parquet dir per micro-batch
        .parquet(src + "/*")
    )
    deduped = streaming_first_seen(stream, key_col="msg_id", ts_col="savetime")
    q = (
        deduped.writeStream.format("memory")
        .queryName("first_seen_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["msg_id"]: (r["savetime"], r["body"])
        for r in spark.sql("SELECT * FROM first_seen_out").collect()
    }
    assert got == {1: (10.0, "first"), 2: (12.0, "b"), 3: (21.0, "c")}


def test_streaming_first_seen_tws(spark, tmp_path):
    """Same cross-batch dedup contract on the Spark-4
    transformWithStateInPandas operator (ValueState + native TTL).
    Skipped where python protobuf is absent (this image): the operator's
    state-server protocol needs it — the gate itself is what we assert."""
    import pytest

    from fastdb_spark.streaming.stateful import (
        streaming_first_seen_tws,
        tws_available,
    )

    if not tws_available():
        with pytest.raises(ImportError, match="protobuf"):
            streaming_first_seen_tws(
                spark.createDataFrame(
                    [(1, 1.0)], "msg_id long, savetime double"
                ),
                "msg_id",
                "savetime",
            )
        pytest.skip("python protobuf not in image; gate verified")

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    src = str(tmp_path / "msgs")
    schema = "msg_id long, savetime double, body string"
    spark.createDataFrame(
        [(1, 10.0, "first"), (1, 11.0, "dup-in-batch"), (2, 12.0, "b")],
        schema,
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [(1, 20.0, "dup-cross-batch"), (3, 21.0, "c")], schema
    ).coalesce(1).write.parquet(src + "/f2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    deduped = streaming_first_seen_tws(
        stream, key_col="msg_id", ts_col="savetime"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("first_seen_tws_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["msg_id"]: (r["savetime"], r["body"])
        for r in spark.sql("SELECT * FROM first_seen_tws_out").collect()
    }
    assert got == {1: (10.0, "first"), 2: (12.0, "b"), 3: (21.0, "c")}


def test_windowed_alert_rates_with_watermark(spark, tmp_path):
    """Event-time tumbling windows + watermark over a file stream: counts
    land in the right windows; a too-late event (beyond the watermark,
    arriving in a later micro-batch) is dropped from the metrics."""
    from datetime import datetime, timezone

    from fastdb_spark.streaming.metrics import windowed_alert_rates

    import time as _time

    def ts(hour, minute):
        return datetime(2026, 3, 1, hour, minute, tzinfo=timezone.utc)

    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as _pq

    src = str(tmp_path / "alerts")
    _os.makedirs(src)
    schema = "savetime timestamp, band string, psfflux double"

    def write_file(name, rows):
        t = pa.table(
            {
                "savetime": pa.array([r[0] for r in rows], pa.timestamp("us", "UTC")),
                "band": [r[1] for r in rows],
                "psfflux": [r[2] for r in rows],
            }
        )
        _pq.write_table(t, f"{src}/{name}")

    # one flat parquet FILE per intended micro-batch (the file source
    # orders by modification time; spaced writes make that deterministic).
    # NB: the watermark that filters batch N is computed from batches
    # < N-1 (it advances at commit), so the straggler goes two batches
    # after the events that move the watermark past it.
    write_file("f1.parquet", [(ts(12, 1), "r", 10.0), (ts(12, 4), "r", 30.0),
                              (ts(12, 12), "g", 5.0), (ts(12, 25), "r", 7.0)])
    _time.sleep(2.1)
    write_file("f2.parquet", [(ts(12, 26), "g", 9.0)])
    _time.sleep(2.1)
    # straggler: >30min behind the stream's max event time; the operator
    # watermark is already 11:55+ when this batch runs
    write_file("f3.parquet", [(ts(11, 40), "r", 99.0)])
    _time.sleep(2.1)
    # far-future event advances the watermark to 13:00, finalizing every
    # 12:xx window
    write_file("f4.parquet", [(ts(13, 30), "z", 1.0)])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    rates = windowed_alert_rates(stream, window="10 minutes", watermark="30 minutes")
    q = (
        rates.writeStream.format("memory")
        .queryName("alert_rates")
        .outputMode("append")  # append emits only watermark-finalized windows
        .option("checkpointLocation", str(tmp_path / "ckpt_rates"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"].hour, r["window_start"].minute, r["band"]): r["n_alerts"]
        for r in spark.sql("SELECT * FROM alert_rates").collect()
    }
    assert got.get((12, 0, "r")) == 2  # 12:01 + 12:04
    assert got.get((12, 10, "g")) == 1  # 12:12
    assert got.get((12, 20, "r")) == 1 and got.get((12, 20, "g")) == 1
    # the 11:40 straggler was behind the watermark when its batch ran:
    # dropped from metrics (ingest keeps it — patch-join handles late data)
    assert (11, 40, "r") not in got
    dropped = sum(
        op["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    assert dropped == 1


def test_parquet_table_upsert_modes(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t.parquet"))
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), ["k"])
    # DO NOTHING: existing key keeps old value
    t.upsert(spark.createDataFrame([(2, "X"), (3, "c")], ["k", "v"]), ["k"], "nothing")
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {1: "a", 2: "b", 3: "c"}
    # DO UPDATE: existing key replaced
    t.upsert(spark.createDataFrame([(2, "Y")], ["k", "v"]), ["k"], "update")
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {1: "a", 2: "Y", 3: "c"}


def test_compaction(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t.parquet"))
    for i in range(5):
        t.upsert(
            spark.createDataFrame([(i, f"v{i}")], ["k", "v"]), ["k"], "nothing"
        )
    assert t.file_count() >= 5  # append-only accumulates files
    before = {r["k"]: r["v"] for r in t.read().collect()}
    t.compact(target_partitions=1)
    assert t.file_count() == 1
    assert {r["k"]: r["v"] for r in t.read().collect()} == before


def test_query_queue_lifecycle(spark, tmp_path):
    spark.range(5).createOrReplaceTempView("tiny")
    qq = QueryQueue(spark, str(tmp_path / "queue"))
    uid = "00000000-0000-4000-8000-0000000000ee"
    qid1 = qq.submit(uid, ["SELECT id FROM tiny WHERE id < 3"], fmt="csv")
    qid2 = qq.submit(uid, ["SELECT bogus FROM nowhere"], fmt="csv")

    assert qq.status(qid1)["started"] is None
    ran1 = qq.run_one()  # FIFO: oldest first
    assert ran1 == qid1
    st1 = qq.status(qid1)
    assert st1["finished"] is not None and st1["error"] is False
    assert os.path.exists(qq.results_path(qid1))

    ran2 = qq.run_one()
    st2 = qq.status(qid2)
    assert ran2 == qid2 and st2["error"] is True
    assert "nowhere" in st2["errortext"] or "TABLE_OR_VIEW" in st2["errortext"]

    assert qq.run_one() is None  # queue drained

    # prune: age the rows far into the future
    n = qq.prune(now=dt.datetime.now(UTC) + dt.timedelta(days=30))
    assert n == 2
    assert qq.status(qid1) is None


def test_query_queue_concurrent_claims_are_disjoint(spark, tmp_path):
    """N concurrent claimants must never claim the same query: the claim
    section is serialized by the filesystem mutex (the LOCK TABLE analog,
    reference long_query_runner.py:92-109)."""
    from concurrent.futures import ThreadPoolExecutor

    qq = QueryQueue(spark, str(tmp_path / "queue"))
    uid = "00000000-0000-4000-8000-0000000000ee"
    submitted = [qq.submit(uid, [f"SELECT {i}"], fmt="csv") for i in range(4)]

    with ThreadPoolExecutor(max_workers=4) as ex:
        rows = list(ex.map(lambda _: qq.claim_next(), range(6)))
    claimed = [r["queryid"] for r in rows if r is not None]
    assert sorted(claimed) == sorted(submitted)  # each claimed exactly once
    assert len(set(claimed)) == len(claimed)
    assert qq.claim_next() is None  # drained
    # no stale lockfile left behind
    assert not os.path.exists(qq.table.path + ".claim.lock")


def test_snana_transform(spark):
    from fastdb_spark.sources.loaders import snana_transform

    phot = spark.createDataFrame(
        [(42, 60000.0, "g", 1000.0, 10.0, 27.5, 4096 | 16),
         (42, 60001.0, "r", 500.0, 5.0, 31.4, 16)],
        ["snid", "mjd", "band", "fluxcal", "fluxcalerr", "zeropt", "photflag"],
    )
    out = {r["visit"]: r for r in snana_transform(phot).collect()}
    r1 = out[60000 * 20000]
    assert r1["is_detection"] is True
    assert r1["psfflux"] == pytest.approx(1000.0 * 10 ** (0.4 * (31.4 - 27.5)), rel=1e-5)
    r2 = out[60001 * 20000]
    assert r2["is_detection"] is False
    assert r2["psfflux"] == pytest.approx(500.0, rel=1e-6)


def test_import_host_matches_idempotent(spark, tmp_path):
    """Host backfill (dr_importer semantics on the post-refactor model):
    missing hosts ported with deterministic ids, links upserted on the
    full PK, and the whole import is a no-op when re-run."""
    from fastdb_spark.sources.hosts import best_host_per_object, import_host_matches
    from fastdb_spark.storage import ParquetTable

    BPV = "00000000-0000-4000-8000-00000000b001"
    hg = ParquetTable(spark, str(tmp_path / "host_galaxy.parquet"))
    hm = ParquetTable(spark, str(tmp_path / "diaobject_host_match.parquet"))

    cand = spark.createDataFrame(
        [
            (100, "legacy", "L-1", 10.0, -5.0, None, 0),
            (100, "legacy", "L-2", 10.1, -5.1, None, 1),
            (200, "legacy", "L-1", 10.0, -5.0, None, 0),  # shared host
            (200, "desi", "D-9", 11.0, -6.0, '{"z": 0.1}', 1),
        ],
        "diaobjectid long, host_catalog string, host_id string, "
        "ra double, dec double, info string, prio int",
    )
    n_hosts, n_links = import_host_matches(cand, hg, hm, BPV)
    assert n_hosts == 3  # L-1 shared between objects
    assert n_links == 4
    assert hg.read().count() == 3
    assert hm.read().count() == 4

    # re-run: fully idempotent (DO NOTHING on both stores)
    n_hosts2, _ = import_host_matches(cand, hg, hm, BPV)
    assert n_hosts2 == 0
    assert hg.read().count() == 3 and hm.read().count() == 4

    # incremental: one new host for an existing object
    more = spark.createDataFrame(
        [(100, "desi", "D-9", 11.0, -6.0, None, 2)],
        cand.schema,
    )
    n_hosts3, n_links3 = import_host_matches(more, hg, hm, BPV)
    assert n_hosts3 == 0  # D-9 already known
    assert n_links3 == 1 and hm.read().count() == 5

    # read side: prio-0 host per object with identity joined in
    best = {
        r["diaobjectid"]: r["host_id"]
        for r in best_host_per_object(hm.read(), hg.read()).collect()
    }
    assert best == {100: "L-1", 200: "L-1"}


def test_snana_fits_reader_end_to_end(spark, tmp_path):
    """Real gzipped FITS BINTABLE files (written by the fixture writer from
    the public format spec) through the distributed SNANA loader: pointer
    slicing, separator purge, zeropoint rescale, visit synthesis and the
    photflag detection bit (reference load_snana_fits.py:115-246)."""
    import numpy as np

    from fastdb_spark.sources.fits import read_bintable, write_bintable
    from fastdb_spark.sources.loaders import read_snana_fits

    head_path = str(tmp_path / "X_HEAD.FITS.gz")
    phot_path = str(tmp_path / "X_PHOT.FITS.gz")
    # SNANA writes SNID as a character field; pointers are 1-indexed
    write_bintable(
        head_path,
        {
            "SNID": np.array(["101", "202"]),
            "RA": np.array([150.0, 210.5]),
            "DEC": np.array([-5.0, 12.5]),
            "PTROBS_MIN": np.array([1, 5], dtype=np.int32),
            "PTROBS_MAX": np.array([3, 6], dtype=np.int32),
        },
    )
    write_bintable(
        phot_path,
        {
            "MJD": np.array([60000.1, 60000.2, 60000.3, -777.0, 60001.1, 60001.2]),
            "BAND": np.array(["g ", "r ", "i ", "- ", "g ", "r "]),
            "FLUXCAL": np.array([10.0, 20.0, 30.0, 0.0, 40.0, 50.0], dtype=np.float32),
            "FLUXCALERR": np.array([1.0, 1.0, 1.0, 0.0, 2.0, 2.0], dtype=np.float32),
            "PHOTFLAG": np.array([4096, 0, 4096 | 16, 0, 0, 4096], dtype=np.int32),
        },
    )

    # reader sanity straight off the file
    h = read_bintable(head_path)
    assert list(h["SNID"]) == ["101", "202"]
    assert h["PTROBS_MAX"].tolist() == [3, 6]

    out = read_snana_fits(spark, [head_path], snana_zeropoint=27.5).toPandas()
    out = out.sort_values("midpointmjdtai").reset_index(drop=True)
    assert len(out) == 5  # separator row purged
    assert set(out.diaobjectid) == {101, 202}
    scale = 10 ** ((31.4 - 27.5) / 2.5)
    assert out.psfflux[0] == pytest.approx(10.0 * scale, rel=1e-6)
    assert out.visit[0] == int(60000.1 * 20000)
    assert out.band.tolist() == ["g", "r", "i", "g", "r"]
    assert out.is_detection.tolist() == [True, False, True, False, True]
    assert out.ra[3] == pytest.approx(210.5)
    # per-object sequential forced-source ids
    assert out.diaforcedsourceid[0] == 101 * 100000
    assert out.diaforcedsourceid[4] == 202 * 100000 + 1


def test_bucketed_upsert_touches_only_affected_partitions(spark, tmp_path):
    """The incremental MERGE path: a DO-UPDATE batch must rewrite only the
    bucket directories its keys hash into; every other partition's files
    stay byte-identical on disk (same inodes)."""
    import glob

    from fastdb_spark.storage import BucketedParquetTable

    t = BucketedParquetTable(spark, str(tmp_path / "tbl"), keys=["k"], n_buckets=8)
    base = spark.createDataFrame([(i, f"v{i}") for i in range(200)], ["k", "v"])
    t.upsert(base, "nothing")

    def files():
        return {
            p: os.stat(p).st_ino
            for p in glob.glob(str(tmp_path / "tbl" / "_bucket=*" / "*.parquet"))
        }

    before = files()
    updates = spark.createDataFrame([(5, "NEW5"), (17, "NEW17")], ["k", "v"])
    touched = t.upsert(updates, "update")
    assert 0 < len(touched) <= 2
    after = files()

    untouched_dirs = {
        d
        for d in glob.glob(str(tmp_path / "tbl" / "_bucket=*"))
        if int(d.rsplit("=", 1)[1]) not in touched
    }
    for p, ino in before.items():
        if any(p.startswith(d + os.sep) for d in untouched_dirs):
            assert after.get(p) == ino, f"untouched partition rewritten: {p}"

    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(got) == 200
    assert got[5] == "NEW5" and got[17] == "NEW17" and got[6] == "v6"

    # DO-NOTHING with a mix of existing and new keys: appends only
    mix = spark.createDataFrame([(5, "IGNORED"), (777, "v777")], ["k", "v"])
    t.upsert(mix, "nothing")
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got[5] == "NEW5" and got[777] == "v777" and len(got) == 201


def test_bucketed_compact_rewrites_only_fragmented_buckets(spark, tmp_path):
    import glob

    from fastdb_spark.storage import BucketedParquetTable

    t = BucketedParquetTable(spark, str(tmp_path / "tbl"), keys=["k"], n_buckets=4)
    t.upsert(spark.createDataFrame([(i, i) for i in range(40)], ["k", "v"]), "nothing")
    # fragment one bucket with repeated single-row appends
    frag_key = 1  # whatever bucket k=1 hashes to gets the appends
    for j in range(6):
        t.upsert(
            spark.createDataFrame([(1000 + j * 4 + frag_key, j)], ["k", "v"]),
            "nothing",
        )
    before = {
        d: len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(str(tmp_path / "tbl" / "_bucket=*"))
    }
    n_rows = t.read().count()
    compacted = t.compact(max_files_per_bucket=4)
    assert compacted  # at least the fragmented bucket rewritten
    after = {
        d: len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(str(tmp_path / "tbl" / "_bucket=*"))
    }
    for d, n in after.items():
        b = int(d.rsplit("=", 1)[1])
        if b in compacted:
            assert n == 1
        else:
            assert n == before[d]  # untouched buckets keep their files
    assert t.read().count() == n_rows


def test_session_stream_stats(spark, tmp_path):
    """Native streaming session windows: events within the gap merge into
    one session per key, a larger gap splits sessions, and append mode
    emits each session exactly once after the watermark closes it."""
    from datetime import datetime, timezone
    import os as _os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as _pq

    from fastdb_spark.streaming.metrics import session_stream_stats

    def ts(hour, minute):
        return datetime(2026, 3, 1, hour, minute, tzinfo=timezone.utc)

    src = str(tmp_path / "events")
    _os.makedirs(src)

    def write_file(name, rows):
        t = pa.table(
            {
                "savetime": pa.array([r[0] for r in rows], pa.timestamp("us", "UTC")),
                "user_id": pa.array([r[1] for r in rows], pa.int64()),
            }
        )
        _pq.write_table(t, f"{src}/{name}")

    # user 1: 12:00/12:10/12:20 chain -> one session 12:00-12:50;
    # user 1 again at 14:00 -> second session; user 2: single event
    write_file("f1.parquet", [(ts(12, 0), 1), (ts(12, 10), 1), (ts(12, 20), 1),
                              (ts(12, 5), 2)])
    _time.sleep(2.1)
    write_file("f2.parquet", [(ts(14, 0), 1)])
    _time.sleep(2.1)
    # far-future event pushes the watermark past every session's end
    write_file("f3.parquet", [(ts(20, 0), 9)])

    stream = (
        spark.readStream.schema("savetime timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sess = session_stream_stats(stream, gap="30 minutes", watermark="1 hour")
    q = (
        sess.writeStream.format("memory")
        .queryName("session_stats")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM session_stats").collect()
    got = {
        (r["user_id"], r["session_start"].hour, r["session_start"].minute): (
            r["n_events"],
            (r["session_end"].hour, r["session_end"].minute),
        )
        for r in rows
    }
    # session end = last event + gap (session_window semantics)
    assert got[(1, 12, 0)] == (3, (12, 50))
    assert got[(2, 12, 5)] == (1, (12, 35))
    assert got[(1, 14, 0)] == (1, (14, 30))


def test_associate_roots_transitive_chain(spark):
    """A~B~C chain where A and C are mutually out of radius: one-hop
    (reference semantics) splits the chain; transitive mode gives all
    three one root — strictly better than the reference, which admits
    near-duplicate roots (src/ltcv.py:486-493)."""
    # 1" = ~2.78e-4 deg; spacing 0.8" so ends are 1.6" apart
    step = 0.8 / 3600.0
    new = spark.createDataFrame(
        [(1, 10.0, -5.0), (2, 10.0 + step, -5.0), (3, 10.0 + 2 * step, -5.0)],
        ["diaobjectid", "ra", "dec"],
    )
    onehop = {r["diaobjectid"]: r["rootid"]
              for r in associate_roots(new, None).collect()}
    # one-hop: 2 follows 1, 3 follows 2's leader? no — 3 only sees 2,
    # whose min-neighbor is 1, but 3's own min neighbor is 2 -> split
    assert onehop[1] == onehop[2] and onehop[3] != onehop[1]
    trans = {r["diaobjectid"]: r["rootid"]
             for r in associate_roots(new, None, intra_batch="transitive").collect()}
    assert trans[1] == trans[2] == trans[3]
    # disjoint singletons still mint their own deterministic root
    lone = spark.createDataFrame([(9, 200.0, 40.0)], ["diaobjectid", "ra", "dec"])
    got = associate_roots(lone, None, intra_batch="transitive").collect()
    assert len(got) == 1 and got[0]["rootid"].count("-") == 4
