"""User-facing API facade — the reference's web-endpoint surface as plain
Python calls over a Spark-backed catalog.

A user of the reference interacts through the Flask endpoints documented
in ``docs/usage.rst``; this facade exposes the same operations 1:1 so a
client can switch by swapping HTTP calls for FastdbAPI calls (or by
mounting these methods behind any web framework — the engine itself stays
framework-free):

| reference endpoint                 | method here          |
|------------------------------------|----------------------|
| ``/ltcv/getmanyltcvs``             | ``get_many_ltcvs``   |
| ``/ltcv/getltcv``                  | ``get_ltcv``         |
| ``/ltcv/getrandomltcv``            | ``get_random_ltcv``  |
| ``/ltcv/gethottransients``         | ``get_hot_transients``|
| ``/ltcv/objectsearch``             | ``object_search``    |
| ``/count/<table>``                 | ``count``            |
| ``/db/runsqlquery``                | ``run_sql``          |
| ``/db/submitsqlquery``             | ``submit_sql_query`` |
| ``/db/checksqlquery/<id>``         | ``check_sql_query``  |
| ``/spectrum/askforspectrum``       | ``ask_for_spectrum`` |
| ``/spectrum/spectrawanted``        | ``spectra_wanted``   |
| ``/spectrum/planspectrum``         | ``plan_spectrum``    |
| ``/spectrum/removespectrumplan``   | ``remove_spectrum_plan`` |
| ``/spectrum/reportspectruminfo``   | ``report_spectrum_info`` |
| ``/spectrum/getknownspectruminfo`` | ``get_known_spectrum_info`` |
| ``/ltcv/getbrokerinfo``            | ``get_broker_info``  |
| ``/getprocvers``                   | ``processing_versions``|
| ``/procver/<procver>``             | ``procver_info``     |
| ``/baseprocver/<pv>[/<table>]``    | ``base_procver_info``|

(reference ``src/webserver/ltcvapp.py``, ``dbapp.py``, ``server.py``,
``spectrumapp.py``; SURVEY.md §3)
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastdb_spark.catalog import Catalog
from fastdb_spark.operators.paginate import random_sample
from fastdb_spark.queries import ltcv as ltcv_q
from fastdb_spark.queries import objstats as objstats_q
from fastdb_spark.queries import search as search_q
from fastdb_spark.queries import spectrum as spectrum_q
from fastdb_spark.queries.counts import versioned_count
from fastdb_spark.streaming.queue import QueryQueue
from fastdb_spark.versions import ProcverResolver

CATALOG_TABLES = (
    "processing_version",
    "processing_version_alias",
    "base_processing_version",
    "base_procver_of_procver",
    "root_diaobject",
    "diaobject",
    "diaobject_position",
    "diasource",
    "diaforcedsource",
    "wantedspectra",
    "plannedspectra",
    "spectruminfo",
    "diasource_brokerinfo",
)


class FastdbAPI:
    """Query surface over one catalog directory (parquet tables named as
    in ``fastdb_spark.schemas``)."""

    def __init__(self, spark: SparkSession, catalog_root: str, queue_root: str | None = None):
        self.spark = spark
        self.catalog = Catalog(spark, catalog_root)
        # declared-schema opens: no table open submits a Spark job
        self.tables = {
            t: self.catalog.table(t) for t in CATALOG_TABLES if self.catalog.exists(t)
        }
        self.resolver = ProcverResolver(
            self.tables["processing_version"],
            self.tables["processing_version_alias"],
            self.tables["base_procver_of_procver"],
        )
        self.queue = QueryQueue(spark, queue_root) if queue_root else None

    # -- version dimension (reference server.py /getprocvers) --------------

    def processing_versions(self) -> DataFrame:
        pv = self.tables["processing_version"].select("description")
        al = self.tables["processing_version_alias"].select("description")
        return pv.unionByName(al).distinct().orderBy("description")  # U1

    def procver_info(self, procver: str) -> dict:
        """Full detail for one processing version (reference
        ``src/webserver/server.py:54-84`` /procver/<procver>): id,
        description, aliases, and the per-table priority-DESC base-version
        lists (the reference's ARRAY_AGG, A7 — dimension tables are tiny,
        assembled on the driver)."""
        pvid = self.resolver.procver_id(procver)
        pv = (
            self.tables["processing_version"]
            .filter(F.col("id") == pvid)
            .collect()[0]
        )
        aliases = sorted(
            r["description"]
            for r in self.tables["processing_version_alias"]
            .filter(F.col("procver_id") == pvid)
            .collect()
        )
        bpv = self.tables["base_processing_version"].select(
            F.col("id").alias("bpvid"),
            F.col("description").alias("bpv_descr"),
            F.col("_table").alias("bpv_table"),
        )
        joined = (
            self.tables["base_procver_of_procver"]
            .filter(F.col("procver_id") == pvid)
            .join(bpv, F.col("base_procver_id") == F.col("bpvid"))
            .select("bpv_table", "bpv_descr", "priority")
            .collect()
        )
        base_procvers: dict[str, list[list]] = {}
        for r in sorted(joined, key=lambda r: (r["bpv_table"], -r["priority"])):
            base_procvers.setdefault(r["bpv_table"], []).append(
                [r["bpv_descr"], r["priority"]]
            )
        return {
            "id": pv["id"],
            "description": pv["description"],
            "aliases": aliases,
            "base_procvers": base_procvers,
        }

    def base_procver_info(self, procver: str, table: str | None = None) -> dict:
        """Detail for one base processing version (reference
        ``src/webserver/server.py:90-115`` /baseprocver): identity plus the
        processing versions that include it.  Base-version descriptions are
        only unique per table — an ambiguous description without ``table``
        raises, as in the reference."""
        bpv = self.tables["base_processing_version"].filter(
            (F.col("id") == procver) | (F.col("description") == procver)
        )
        if table is not None:
            bpv = bpv.filter(F.col("_table") == table)
        rows = bpv.collect()
        if not rows:
            raise KeyError(f"unknown base processing version {procver!r}")
        if len(rows) > 1:
            raise ValueError(
                f"base processing version {procver!r} is ambiguous across "
                f"tables {sorted(r['_table'] for r in rows)}; pass table="
            )
        row = rows[0]
        pv = self.tables["processing_version"].select(
            F.col("id").alias("pvid"), "description"
        )
        procvers = sorted(
            r["description"]
            for r in self.tables["base_procver_of_procver"]
            .filter(F.col("base_procver_id") == row["id"])
            .join(pv, F.col("procver_id") == F.col("pvid"))
            .select("description")
            .distinct()
            .collect()
        )
        return {
            "id": row["id"],
            "description": row["description"],
            "table": row["_table"],
            "procvers": procvers,
        }

    # -- lightcurves --------------------------------------------------------

    def get_many_ltcvs(
        self,
        processing_version: str,
        objids: list | None = None,
        which: str = "patch",
        bands: list[str] | None = None,
        mjd_now: float | None = None,
        nested: bool = False,
    ) -> DataFrame:
        ids_df = None
        if objids is not None:
            ids_df = self._normalize_objids(objids, processing_version)
        flat = ltcv_q.many_object_ltcvs(
            self.tables,
            self.resolver,
            processing_version,
            which=which,
            bands=bands,
            mjd_now=mjd_now,
            objids=ids_df,
        )
        return ltcv_q.assemble_nested(flat) if nested else flat

    def get_ltcv(self, processing_version: str, objid, **kw) -> DataFrame:
        return self.get_many_ltcvs(processing_version, [objid], **kw)

    def get_random_ltcv(self, processing_version: str, **kw) -> DataFrame:
        root = random_sample(self.tables["root_diaobject"].select("id"), 1)
        ids = [r["id"] for r in root.collect()]
        return self.get_many_ltcvs(processing_version, ids, **kw)

    def get_hot_transients(
        self, processing_version: str, detected_since_mjd: float, **kw
    ) -> DataFrame:
        return ltcv_q.get_hot_ltcvs(
            self.tables, self.resolver, processing_version, detected_since_mjd, **kw
        )

    def _normalize_objids(self, objids: list, processing_version: str) -> DataFrame:
        """ints -> diaobjectids, uuid strings -> rootids (reference
        ``src/ltcv.py:498-521``)."""
        ints = [int(o) for o in objids if not isinstance(o, str)]
        uuids = [str(o) for o in objids if isinstance(o, str)]
        if not ints and not uuids:
            # empty restriction -> empty result, not an error
            return self.spark.createDataFrame([], "rootid string")
        from fastdb_spark.localrel import tiny_local_df

        frames = []
        if uuids:
            # Arrow local relations (r12): the pickled-list form ran a
            # Python-RDD job per broadcast build of these id tables
            frames.append(
                tiny_local_df(
                    self.spark, [(u,) for u in uuids], "rootid string"
                )
            )
        if ints:
            ids = tiny_local_df(
                self.spark, [(i,) for i in ints], "diaobjectid bigint"
            )
            objmap = ltcv_q.resolve_objects(
                self.tables["diaobject"], self.resolver, processing_version
            )
            frames.append(objmap.join(ids, on="diaobjectid").select("rootid"))
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out.distinct()

    def get_object_infos(
        self, processing_version: str, objids: list | None = None
    ) -> DataFrame:
        ids_df = None
        if objids is not None:
            ids_df = self._normalize_objids(objids, processing_version)
        return ltcv_q.get_object_infos(
            self.tables, self.resolver, processing_version, objids=ids_df
        )

    # -- stats / search ------------------------------------------------------

    def build_objstats(self, processing_version: str):
        return objstats_q.build_objstats(self.tables, self.resolver, processing_version)

    def object_search(self, processing_version: str, **criteria: Any) -> DataFrame:
        per_band, _ = self.build_objstats(processing_version)
        ra = criteria.pop("ra", None)
        dec = criteria.pop("dec", None)
        radius = criteria.pop("radius_deg", None)
        return search_q.object_search(
            per_band,
            positions=self.tables["root_diaobject"],
            ra=ra,
            dec=dec,
            radius_deg=radius,
            **criteria,
        )

    def count(
        self, table: str, processing_version: str, estimate: bool = False
    ) -> int:
        keys = {
            "diasource": ("diaobjectid", "visit"),
            "diaforcedsource": ("diaobjectid", "visit"),
            "diaobject": ("diaobjectid",),
        }[table]
        row = versioned_count(
            self.tables[table], self.resolver, processing_version, table,
            keys=keys, estimate=estimate,
        ).collect()[0]
        return row["n"]

    # -- spectra -------------------------------------------------------------

    def _table_or_empty(self, name: str) -> DataFrame:
        """The table if present, else an empty frame with its declared
        schema — workflow tables come into existence on first write."""
        if name in self.tables:
            return self.tables[name]
        from fastdb_spark.schemas import TABLES

        return self.spark.createDataFrame([], TABLES[name])

    def spectra_wanted(self, **kw) -> DataFrame:
        return spectrum_q.spectra_wanted(
            self._table_or_empty("wantedspectra"),
            self._table_or_empty("plannedspectra"),
            self._table_or_empty("spectruminfo"),
            **kw,
        )

    # -- spectrum cycle write path (reference spectrumapp.py POST endpoints) -

    def _store(self, name: str):
        from fastdb_spark.schemas import TABLES
        from fastdb_spark.storage import ParquetTable

        return ParquetTable(self.spark, self.catalog.path(name), TABLES[name])

    def _refresh(self, name: str) -> None:
        # parquet DataFrames pin their file listing at plan time; re-read
        # after a write so subsequent queries see it
        self.tables[name] = self.catalog.table(name)

    def ask_for_spectrum(
        self,
        requester: str,
        rootids: list[str],
        priorities: list[int],
        ras: list[float],
        decs: list[float],
        is_hosts: list[bool] | None = None,
        user_id: str | None = None,
        wanttime=None,
    ) -> int:
        """Register wanted spectra (reference ``src/webserver/spectrumapp.py
        AskForSpectrum``): one row per rootid, natural key ``wantspec_id =
        "<rootid> ; <requester>"``, priority clamped to [0, 5], upsert with
        DO-UPDATE semantics (re-asking refreshes the request)."""
        import datetime as _dt

        if not (len(rootids) == len(priorities) == len(ras) == len(decs)):
            raise ValueError("rootids, priorities, ras, decs must align")
        if is_hosts is not None and len(is_hosts) != len(rootids):
            raise ValueError("is_hosts must align with rootids")
        hosts = is_hosts if is_hosts is not None else [False] * len(rootids)
        now = wanttime or _dt.datetime.now(tz=_dt.timezone.utc)
        rows = [
            (
                f"{r} ; {requester}",
                str(r),
                now,
                str(user_id) if user_id else "",
                requester,
                max(0, min(5, int(p))),
                bool(h),
                float(ra),
                float(dec),
            )
            for r, p, ra, dec, h in zip(rootids, priorities, ras, decs, hosts)
        ]
        from fastdb_spark.localrel import tiny_local_df
        from fastdb_spark.schemas import TABLES

        # typed Arrow local relation (r13, VERDICT r12 #7): the pickled
        # createDataFrame ran a Python-RDD job per evaluation; the
        # tz-aware rows cross Arrow instant-identically (UTC session)
        updates = tiny_local_df(self.spark, rows, TABLES["wantedspectra"])
        self._store("wantedspectra").upsert(
            updates, ["wantspec_id"], on_conflict="update"
        )
        self._refresh("wantedspectra")
        return len(rows)

    def plan_spectrum(
        self,
        root_diaobject_id: str,
        facility: str,
        plantime,
        comment: str | None = None,
        is_host: bool = False,
    ) -> str:
        """Claim an observation plan (reference ``PlanSpectrum``)."""
        import datetime as _dt
        import uuid as _uuid

        if isinstance(plantime, str):
            plantime = _dt.datetime.fromisoformat(plantime)
        if plantime.tzinfo is None:
            plantime = plantime.replace(tzinfo=_dt.timezone.utc)
        pid = str(_uuid.uuid4())
        from fastdb_spark.localrel import tiny_local_df
        from fastdb_spark.schemas import TABLES

        row = tiny_local_df(
            self.spark,
            [
                (
                    pid,
                    str(root_diaobject_id),
                    str(facility),
                    _dt.datetime.now(tz=_dt.timezone.utc),
                    plantime,
                    comment,
                    bool(is_host),
                )
            ],
            TABLES["plannedspectra"],
        )
        store = self._store("plannedspectra")
        if store.exists():
            store.append(row)
        else:
            store.overwrite(row)
        self._refresh("plannedspectra")
        return pid

    def remove_spectrum_plan(self, root_diaobject_id: str, facility: str) -> int:
        """Withdraw a plan (reference ``RemoveSpectrumPlan`` DELETE);
        returns the number of rows removed."""
        store = self._store("plannedspectra")
        target = store.read()
        match = (F.col("root_diaobject_id") == str(root_diaobject_id)) & (
            F.col("facility") == str(facility)
        )
        ndel = target.filter(match).count()
        if ndel:
            store.overwrite(target.filter(~match))
            self._refresh("plannedspectra")
        return ndel

    def report_spectrum_info(
        self,
        facility: str,
        mjd: float,
        ra: float,
        dec: float,
        root_diaobject_id: str | None = None,
        z: float | None = None,
        classid: int | None = None,
        is_host: bool = False,
        class_description: str | None = None,
    ) -> str:
        """Record an observed spectrum (reference ``ReportSpectrumInfo``)."""
        import datetime as _dt
        import uuid as _uuid

        sid = str(_uuid.uuid4())
        from fastdb_spark.localrel import tiny_local_df
        from fastdb_spark.schemas import TABLES

        row = tiny_local_df(
            self.spark,
            [
                (
                    sid,
                    str(root_diaobject_id) if root_diaobject_id else None,
                    str(facility),
                    _dt.datetime.now(tz=_dt.timezone.utc),
                    float(mjd),
                    float(z) if z is not None else None,
                    int(classid) if classid is not None else None,
                    float(ra),
                    float(dec),
                    bool(is_host),
                    class_description,
                )
            ],
            TABLES["spectruminfo"],
        )
        store = self._store("spectruminfo")
        if store.exists():
            store.append(row)
        else:
            store.overwrite(row)
        self._refresh("spectruminfo")
        return sid

    def get_known_spectrum_info(self, **criteria: Any) -> DataFrame:
        """Search reported spectra (reference ``GetSpectrumInfo`` →
        ``src/spectrum.py:342-385``): the P1 keyword-spec surface over
        spectruminfo, same searchable fields as the reference."""
        from fastdb_spark.operators.predicates import FieldSpec, apply_where

        # backwards-compat aliases (reference src/spectrum.py:357-363)
        if "since" in criteria:
            criteria["inserted_at_min"] = criteria.pop("since")
        if "root_diaobject_ids" in criteria:
            criteria["root_diaobject_id"] = criteria.pop("root_diaobject_ids")
        specs = {
            "root_diaobject_id": FieldSpec(mult=True),
            "facility": FieldSpec(mult=True, substr=True, minmax=True),
            "mjd": FieldSpec(minmax=True),
            "z": FieldSpec(minmax=True),
            "class_description": FieldSpec(mult=True, substr=True),
            "classid": FieldSpec(mult=True, minmax=True),
            "is_host": FieldSpec(),
            "inserted_at": FieldSpec(minmax=True),
        }
        return apply_where(self._table_or_empty("spectruminfo"), specs, criteria)

    # -- broker classifications (reference ltcvapp.py /ltcv/getbrokerinfo) ---

    def get_broker_info(
        self,
        diasourceids,
        processing_version: str = "realtime",
        brokername: str | None = None,
        topic: str | None = None,
    ) -> DataFrame:
        """Broker classification messages for a batch of source ids
        (reference ``src/webserver/ltcvapp.py:280-329``): restrict to the
        processing version's base versions, one row per (diasourceid,
        brokername, topic).  Where the reference's DISTINCT ON picks an
        arbitrary row among multiple matching base versions, this picks
        the highest-priority one (the A1 rule) — deterministic.  The
        version mapping uses the diasource table's entry (the reference
        joins the mapping without a table restriction)."""
        from fastdb_spark.versions import versioned

        ids = (
            [int(x) for x in diasourceids]
            if isinstance(diasourceids, (list, tuple, set))
            else [int(diasourceids)]
        )
        b = self.tables["diasource_brokerinfo"].filter(
            F.col("diasourceid").isin(ids)
        )
        if brokername is not None:
            b = b.filter(F.col("brokername") == brokername)
        if topic is not None:
            b = b.filter(F.col("topic") == topic)
        # base_procver_id tiebreak: equal priorities would otherwise pick
        # a partition-order-dependent row
        out = versioned(
            b,
            self.resolver.priorities(processing_version, "diasource"),
            keys=("diasourceid", "brokername", "topic"),
            extra_order=("base_procver_id",),
        )
        return out.select(
            "diasourceid", "brokername", "topic", "info"
        ).orderBy("diasourceid", "brokername", "topic")

    # -- raw SQL (reference dbapp.py /db/runsqlquery, S11) -------------------

    def register_views(self) -> None:
        for name, df in self.tables.items():
            df.createOrReplaceTempView(name)

    def run_sql(self, query: str, subdict: dict[str, Any] | None = None) -> DataFrame:
        """Short synchronous SQL over the registered catalog views.

        Read-only by construction: the only API on this path is a SELECT
        surface over temp views (the reference opens a read-only pg role).
        Named parameters use Spark's parameterized SQL (reference passes
        psycopg subdicts).
        """
        self.register_views()
        if subdict:
            return self.spark.sql(query, args=subdict)
        return self.spark.sql(query)

    def submit_sql_query(self, userid: str, queries: list[str], fmt: str = "csv") -> str:
        if self.queue is None:
            raise ValueError("no queue_root configured")
        self.register_views()
        return self.queue.submit(userid, queries, fmt=fmt)

    def get_sql_query_results(self, queryid: str) -> DataFrame:
        """Fetch a finished async query's result set (reference dbapp.py
        ``/db/getsqlqueryresults/<id>``)."""
        if self.queue is None:
            raise ValueError("no queue_root configured")
        row = self.queue.status(queryid)
        if row is None:
            raise KeyError(f"unknown query {queryid!r}")
        if row["error"]:
            raise RuntimeError(f"query {queryid} failed: {row['errortext']}")
        if not row["finished"]:
            raise RuntimeError(f"query {queryid} not finished yet")
        path = self.queue.results_path(queryid)
        if row["format"] == "csv":
            return self.spark.read.option("header", "true").csv(path)
        return self.spark.read.parquet(path)

    def check_sql_query(self, queryid: str):
        if self.queue is None:
            raise ValueError("no queue_root configured")
        row = self.queue.status(queryid)
        if row is None:
            return None
        state = (
            "error"
            if row["error"]
            else "finished"
            if row["finished"]
            else "started"
            if row["started"]
            else "queued"
        )
        return {"queryid": row["queryid"], "status": state, "errortext": row["errortext"]}
