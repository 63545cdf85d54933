"""Per-layer metrics of the traced run.

:func:`install` wraps the public functions of each layer (named after
the program's modules) in spans; :func:`per_layer` joins the spans with
the Spark event log after the run and returns every metric in
:data:`PER_LAYER`.  A layer the workload never enters reads 0.
"""

from __future__ import annotations

import glob
import os
import statistics
import time
from collections import defaultdict

import eventlog
from eventlog import union_length

#: per-layer metric -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "webserver.overhead_s": "s",
    "api.build_s": "s",
    "versions.resolve_calls": "count",
    "versions.resolve_jobs": "count",
    "versions.resolve_s": "s",
    "queries.exec_s": "s",
    "catalog.rows_read_per_row_out": "ratio",
    "catalog.bytes_read_per_op": "bytes",
    "catalog.files_read_per_op": "count",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.widest_stage_tasks": "count",
    "spark.job_busy_s": "s",
    "spark.driver_gap_s": "s",
    "spark.failed_tasks": "count",
    "sources.wrangle_s": "s",
    "streaming.ingest.dedup_s": "s",
    "streaming.ingest.associate_s": "s",
    "streaming.ingest.jobs_per_batch": "count",
    "operators.spatial.crossmatch_s": "s",
    "operators.spatial.pairs_per_match": "ratio",
    "storage.upsert_s": "s",
    "storage.bytes_written_per_input_byte": "ratio",
    "storage.files_per_table": "count",
    "locks.wait_s": "s",
    "incdedup.probe_s": "s",
    "incdedup.upsert_s": "s",
    "incdedup.remove_s": "s",
    "incdedup.compact_s": "s",
    "incdedup.jobs_per_batch": "count",
    "incdedup.survivor_frac": "ratio",
    "sketches.build_s": "s",
    "cachereg.stage_calls": "count",
    "cachereg.staged_bytes_peak": "bytes",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "trace.op_s_p50": "s",
    "trace.unattributed_events": "count",
}

#: operations whose results a user reads from the catalog
READ_OPS = {
    "ltcv_serve": {"getltcv", "getmanyltcvs", "objectsearch", "getbrokerinfo", "count",
                   "gethottransients"},
    "alert_ingest": {"fresh_read"},
    "dedup_index": set(),
}
#: the operations inside the measured window
TIMED_OPS = {
    "ltcv_serve": READ_OPS["ltcv_serve"],
    "alert_ingest": {"ingest", "fresh_read"},
    "dedup_index": {"probe", "upsert"},
}
API_METHODS = ("get_ltcv", "get_many_ltcvs", "object_search", "get_broker_info", "count",
               "get_hot_transients")


def install(tracer) -> None:
    """Wrap each layer's public entry points in spans."""
    from pyspark.sql.classic.dataframe import DataFrame

    from fastdb_spark import cachereg, storage, webserver
    from fastdb_spark.api import FastdbAPI
    from fastdb_spark.pipeline import incdedup
    from fastdb_spark.sources import alerts
    from fastdb_spark.streaming import ingest
    from fastdb_spark.versions import ProcverResolver

    tracer.wrap(ProcverResolver, "procver_id", "versions.resolve")
    tracer.wrap(FastdbAPI, "__init__", "api.open")
    for m in API_METHODS:
        tracer.wrap(FastdbAPI, m, f"api.{m}")
    tracer.wrap(webserver, "_payload", "webserver.payload")
    tracer.wrap(storage.ParquetTable, "upsert", "storage.upsert")
    tracer.wrap_lock(storage)
    tracer.wrap_lock(incdedup)
    tracer.wrap(alerts, "wrangle_alerts", "sources.wrangle")
    tracer.wrap(ingest, "ingest_batch", "streaming.ingest.batch")
    for name in ("build_dedup_index", "dedup_index_probe", "dedup_index_upsert",
                 "dedup_index_remove", "compact_dedup_index"):
        tracer.wrap(incdedup, name, f"incdedup.{name}")

    # association is planned lazily and runs at the eager checkpoint
    # ingest_batch takes of it; the other checkpoint there materializes
    # the first-seen dedup and new-object detection
    assoc_frames: set[int] = set()
    tracer.wrap(ingest, "associate_roots", "streaming.ingest.associate_plan",
                after=lambda df: assoc_frames.add(id(df)))

    def make_checkpoint(orig):
        def local_checkpoint(df, *a, **k):
            if id(df) in assoc_frames:
                name = "streaming.ingest.associate"
            elif "streaming.ingest.batch" in tracer.open_names():
                name = "streaming.ingest.dedup"
            else:
                name = "checkpoint"
            with tracer.span(name):
                return orig(df, *a, **k)

        return local_checkpoint

    tracer.replace(DataFrame, "localCheckpoint", make_checkpoint)

    def make_stage(orig):
        def stage(df, *a, **k):
            with tracer.span("cachereg.stage"):
                out = orig(df, *a, **k)
            jsc = df.sparkSession.sparkContext._jsc
            staged = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
            tracer.peak("cachereg.staged_bytes_peak", staged)
            return out

        return stage

    tracer.replace(cachereg, "stage", make_stage)


def bind_http_handler(tracer, server) -> None:
    """Continue each request's operation on the handler thread; the
    client passes the operation id in the query string, which the
    server's router ignores."""
    base = server._httpd.RequestHandlerClass

    class TracedHandler(base):
        def do_POST(self):
            query = self.path.partition("?")[2]
            op_id = dict(p.partition("=")[::2] for p in query.split("&") if p).get("op")
            if op_id is None:
                return base.do_POST(self)
            with tracer.bind(op_id):
                return base.do_POST(self)

    server._httpd.RequestHandlerClass = TracedHandler


def ingest_probe(spark, silver_root: str, stream, first: int, done: int) -> dict:
    """Measure the spatial layer on the inputs the window ingested: the
    new objects of its batches crossmatched against the final roots, and
    the files each silver table holds."""
    import pandas as pd

    from fastdb_spark.operators.spatial import crossmatch
    from fastdb_spark.streaming.ingest import ASSOC_RADIUS_DEG

    objs = {}
    for batch in stream.batches[first:done]:
        for a in batch:
            o = a["diaObject"]
            objs[o["diaObjectId"]] = (o["ra"], o["dec"])
    pdf = pd.DataFrame([(k, r, d) for k, (r, d) in objs.items()],
                       columns=["diaobjectid", "ra", "dec"])
    left = spark.createDataFrame(pdf, schema="diaobjectid long, ra double, dec double")
    roots = spark.read.parquet(os.path.join(silver_root, "root_diaobject.parquet"))
    t0 = time.perf_counter()
    pairs = crossmatch(left, roots.selectExpr("id as rootid", "ra", "dec"), ASSOC_RADIUS_DEG).count()
    xm_s = time.perf_counter() - t0
    files = [len(glob.glob(os.path.join(silver_root, f"{t}.parquet", "*.parquet")))
             for t in ("root_diaobject", "diaobject", "diaobject_position", "diasource",
                       "diaforcedsource", "diasource_brokerinfo")]
    return {"crossmatch_s": xm_s, "pairs_per_match": pairs / max(1, len(pdf)),
            "files_per_table": statistics.mean(files)}


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def _mean(values) -> float:
    return statistics.mean(values) if values else 0.0


def per_layer(workload, tracer, evdir, res, session_start_s, peak_rss_mb,
              op_s_p50) -> dict[str, tuple[float, str]]:
    logs = glob.glob(os.path.join(evdir, "*"))
    elog = eventlog.parse(logs[0])
    # jobs a library submits from its own thread pool carry no job group;
    # give each to the one operation open when it was submitted (several
    # open at once, as with concurrent clients, leave it unattributed)
    op_windows = [(s["start"] * 1000, s["end"] * 1000, s["op"])
                  for s in tracer.spans if s["name"].startswith("op.")]
    for job in elog.jobs.values():
        if job.group is None:
            owners = [op for a, b, op in op_windows if a <= job.start_ms <= b]
            if len(owners) == 1:
                job.group = owners[0]
    groups = elog.by_group()
    empty = eventlog.OpTotals()

    spans_by_op: dict[str, list[dict]] = defaultdict(list)
    for s in tracer.spans:
        if s["op"] is not None:
            spans_by_op[s["op"]].append(s)
    ok_ops = [o for o in res.ops if o.ok and o.op_id is not None]
    timed = [o for o in ok_ops if o.kind in TIMED_OPS[workload]]
    reads = [o for o in ok_ops if o.kind in READ_OPS[workload]]

    def spans(op, name):
        return [s for s in spans_by_op[op.op_id] if s["name"] == name]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def windows(op):
        return [(a / 1000.0, b / 1000.0) for a, b in groups.get(op.op_id, empty).job_windows]

    def busy_in(op, s):
        clipped = [(max(a, s["start"]), min(b, s["end"])) for a, b in windows(op)]
        return union_length([(a, b) for a, b in clipped if b > a])

    def root(op):
        return spans(op, f"op.{op.kind}")[0]

    def outermost(op, prefix):
        """Spans named ``prefix*`` not nested in another such span."""
        ids = {s["id"]: s for s in spans_by_op[op.op_id]}
        return [s for s in spans_by_op[op.op_id] if s["name"].startswith(prefix)
                and not (s["parent"] in ids and ids[s["parent"]]["name"].startswith(prefix))]

    def web_overhead(op):
        req = spans(op, "http.request")
        handle = spans(op, "webserver.handle")
        if not req or not handle:
            return None
        inner = [s for s in spans_by_op[op.op_id] if s["parent"] == handle[0]["id"]]
        return dur(req) - dur(inner)

    resolve_ids = {o.op_id: {s["id"] for s in spans(o, "versions.resolve")} for o in reads}
    jobs_by_span = elog.jobs_by_span()
    tot = [groups.get(o.op_id, empty) for o in timed]
    ingests = [o for o in timed if o.kind == "ingest"]
    probes = [o for o in timed if o.kind == "probe"]
    upserts = [o for o in timed if o.kind == "upsert"]
    dedup_ops = probes + upserts
    rows_out = sum(o.rows_out for o in reads)
    upserted = sum(o.items for o in upserts)
    x = res.extra

    def incd(ops, name):
        """Durations of ``incdedup.<name>`` calls, from ``ops`` or, with
        ``ops=None``, the whole run (the one takedown and compaction)."""
        pool = tracer.spans if ops is None else [s for o in ops for s in spans_by_op[o.op_id]]
        return [s["end"] - s["start"] for s in pool if s["name"] == f"incdedup.{name}"]

    values = {
        "webserver.overhead_s": _median([v for v in map(web_overhead, reads) if v is not None]),
        "api.build_s": _median([
            sum(s["end"] - s["start"] - busy_in(o, s) for s in outermost(o, "api."))
            for o in reads
        ]),
        "versions.resolve_calls": _mean([len(resolve_ids[o.op_id]) for o in reads]),
        "versions.resolve_jobs": _mean([
            sum(jobs_by_span.get(sid, 0) for sid in resolve_ids[o.op_id]) for o in reads
        ]),
        "versions.resolve_s": _mean([dur(spans(o, "versions.resolve")) for o in reads]),
        "queries.exec_s": _median([union_length(windows(o)) for o in reads]),
        "catalog.rows_read_per_row_out": (
            sum(groups.get(o.op_id, empty).records_read for o in reads) / rows_out
            if rows_out else 0.0
        ),
        "catalog.bytes_read_per_op": _mean([groups.get(o.op_id, empty).bytes_read for o in reads]),
        "catalog.files_read_per_op": _mean([groups.get(o.op_id, empty).files_read for o in reads]),
        "spark.jobs_per_op": _mean([t.jobs for t in tot]),
        "spark.stages_per_op": _mean([t.stages for t in tot]),
        "spark.tasks_per_op": _mean([t.tasks for t in tot]),
        "spark.widest_stage_tasks": max([t.widest_stage for t in tot], default=0),
        "spark.job_busy_s": _median([union_length(windows(o)) for o in timed]),
        "spark.driver_gap_s": _median([
            (root(o)["end"] - root(o)["start"]) - union_length(windows(o)) for o in timed
        ]),
        "spark.failed_tasks": sum(t.failed_tasks for t in tot),
        "sources.wrangle_s": _median([dur(spans(o, "sources.wrangle")) for o in ingests]),
        "streaming.ingest.dedup_s": _median([dur(spans(o, "streaming.ingest.dedup"))
                                             for o in ingests]),
        "streaming.ingest.associate_s": _median([dur(spans(o, "streaming.ingest.associate"))
                                                 for o in ingests]),
        "streaming.ingest.jobs_per_batch": _mean([groups.get(o.op_id, empty).jobs
                                                  for o in ingests]),
        "operators.spatial.crossmatch_s": x.get("crossmatch_s", 0.0),
        "operators.spatial.pairs_per_match": x.get("pairs_per_match", 0.0),
        "storage.upsert_s": _median([dur(spans(o, "storage.upsert")) for o in ingests]),
        "storage.bytes_written_per_input_byte": (
            sum(groups.get(o.op_id, empty).bytes_written for o in ingests) / x["input_bytes"]
            if x.get("input_bytes") else 0.0
        ),
        "storage.files_per_table": x.get("files_per_table", 0.0),
        "locks.wait_s": tracer.counters.get("locks.wait_s", 0.0),
        "incdedup.probe_s": _median(incd(probes, "dedup_index_probe")),
        "incdedup.upsert_s": _median(incd(upserts, "dedup_index_upsert")),
        "incdedup.remove_s": _median(incd(None, "dedup_index_remove")),
        "incdedup.compact_s": _median(incd(None, "compact_dedup_index")),
        # one batch is one probe and one upsert
        "incdedup.jobs_per_batch": (
            _mean([groups.get(o.op_id, empty).jobs for o in probes])
            + _mean([groups.get(o.op_id, empty).jobs for o in upserts])
        ),
        "incdedup.survivor_frac": x.get("survivors", 0) / upserted if upserted else 0.0,
        "sketches.build_s": _median([dur(spans(o, "cachereg.stage")) for o in dedup_ops]),
        "cachereg.stage_calls": _mean([len(spans(o, "cachereg.stage")) for o in dedup_ops]),
        "cachereg.staged_bytes_peak": tracer.peaks.get("cachereg.staged_bytes_peak", 0.0),
        "session.start_s": session_start_s,
        "session.warmup_s": res.warmup_s,
        "session.peak_rss_mb": peak_rss_mb,
        "trace.op_s_p50": op_s_p50,
        "trace.unattributed_events": elog.unattributed,
    }
    for kind in sorted({o.kind for o in reads}):
        print(f"{workload} queries.exec_s[{kind}] = "
              f"{_median([union_length(windows(o)) for o in reads if o.kind == kind]):.4f} s")
    return {name: (float(values[name]), unit) for name, unit in PER_LAYER.items()}
