"""The three workloads.  Each is a function ``(ctx) -> Result``.

A workload sets up its inputs (several times where a set-up is cheap)
and keeps the last set-up, warms up with a fixed amount of untimed work,
then runs operations in a closed loop until ``ctx.seconds`` have passed,
checking every result against the generator's ground truth.  An
operation whose check fails is counted as failed and its time is left
out of every latency figure.
"""

from __future__ import annotations

import http.client
import json
import os
import shutil
import statistics
import threading
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

import gen
import layers


@dataclass
class Op:
    kind: str
    start: float
    end: float
    ok: bool
    op_id: str | None = None
    items: int = 1
    rows_out: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Result:
    ops: list[Op]
    setup_s: list[float]
    warmup_s: float
    window_s: float
    #: the workload's values of the generic end-to-end metrics
    e2e: dict[str, float] = field(default_factory=dict)
    #: end-to-end values under the names the workload's users know them by
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    #: workload-specific figures for the traced run
    extra: dict[str, float] = field(default_factory=dict)
    #: checks made once after the window; False fails the run
    final_ok: bool = True


def p50(values) -> float:
    return statistics.median(values) if values else 0.0


def p90(values) -> float:
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=10)[-1]


def _run_op(ctx, ops: list[Op], kind: str, fn, items: int = 1) -> Op:
    """Time ``fn(op_id) -> (ok, rows_out)`` as one operation.  An
    exception fails the operation, not the run."""
    with ctx.op(kind) as op_id:
        start = time.perf_counter()
        try:
            ok, rows = fn(op_id)
        except Exception:  # noqa: BLE001 - recorded as a failed operation
            ctx.log(f"{kind} failed:\n{traceback.format_exc()}")
            ok, rows = False, 0
        end = time.perf_counter()
    op = Op(kind, start, end, ok, op_id, items, rows)
    ops.append(op)
    return op


def _arrow_type(dt):
    import pyarrow as pa
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    return {
        T.StringType: pa.string(), T.DoubleType: pa.float64(), T.FloatType: pa.float32(),
        T.LongType: pa.int64(), T.IntegerType: pa.int32(), T.ShortType: pa.int16(),
        T.BooleanType: pa.bool_(), T.TimestampType: pa.timestamp("us", tz="UTC"),
    }[type(dt)]


def _write_tables(spark, tables, root: str) -> None:
    """Write generated pandas tables as the catalog's parquet table
    directories.  The input is written with pyarrow, not Spark, so the
    set-up time is the program's (session start, opening the catalog),
    not the benchmark's input generation."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fastdb_spark import schemas
    from fastdb_spark.catalog import Catalog

    cat = Catalog(spark, root)
    for name, pdf in tables.items():
        st = schemas.TABLES[name]
        schema = pa.schema([pa.field(f.name, _arrow_type(f.dataType)) for f in st.fields])
        table = pa.Table.from_pandas(pdf[[f.name for f in st.fields]], schema=schema,
                                     preserve_index=False)
        os.makedirs(cat.path(name), exist_ok=True)
        pq.write_table(table, os.path.join(cat.path(name), "part-00000.parquet"))


def _row_counts(spark, paths: dict[str, str]) -> dict[str, int]:
    """Row count of each parquet table, in one Spark action."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    frames = [spark.read.parquet(p).select(F.lit(t).alias("t")) for t, p in paths.items()]
    rows = reduce(DataFrame.unionAll, frames).groupBy("t").count().collect()
    counts = {r["t"]: r["count"] for r in rows}
    return {t: counts.get(t, 0) for t in paths}


def _repeat_setup(ctx, make, n: int):
    """Run ``make(i)`` ``n`` times; keep the last state, release the
    others through ``state.close()``."""
    times, state = [], None
    for i in range(n):
        if state is not None:
            state.close()
        with ctx.op("setup"):
            t0 = time.perf_counter()
            state = make(i)
            times.append(time.perf_counter() - t0)
    return state, times


def _send(port: int, req: gen.Request, op_id: str | None) -> tuple[int, dict]:
    """POST one request; the operation id rides in the query string,
    which the server's router ignores."""
    path = req.path if op_id is None else f"{req.path}?op={op_id}"
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("POST", path, body=json.dumps(req.body),
                     headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())
    finally:
        conn.close()


# --------------------------------------------------------------------------
# ltcv_serve
# --------------------------------------------------------------------------

SERVE_ROOTS = 4000
SERVE_CLIENTS = 2
SERVE_SETUPS = 3


class _ServeState:
    def __init__(self, ctx, cat, i):
        from fastdb_spark.api import FastdbAPI
        from fastdb_spark.webserver import FastdbHTTPServer

        self.root = os.path.join(ctx.workdir, f"serve{i}")
        _write_tables(ctx.spark, cat.tables, self.root)
        self.server = FastdbHTTPServer(FastdbAPI(ctx.spark, self.root)).start()

    def close(self):
        self.server.stop()
        shutil.rmtree(self.root, ignore_errors=True)


def _check_response(req: gen.Request, code: int, payload: dict) -> tuple[bool, int]:
    if code != 200 or payload.get("status") != "ok":
        return False, 0
    if req.op == "count":
        return payload.get("value") == req.expect, 1
    rows = payload["rows"]
    if req.op == "getltcv":
        return len(rows) == req.expect, len(rows)
    if req.op == "getmanyltcvs":
        return {r["rootid"]: r["nobs"] for r in rows} == req.expect, len(rows)
    if req.op == "objectsearch":
        got = {(r["rootid"], r["band"]) for r in rows}
        return len(rows) == len(req.expect) and got == req.expect, len(rows)
    if req.op == "getbrokerinfo":
        got = [(r["brokername"], r["topic"], r["info"]) for r in rows]
        return got == req.expect, len(rows)
    # gethottransients: flat patched points of every hot root
    return dict(Counter(r["rootid"] for r in rows)) == req.expect, len(rows)


def ltcv_serve(ctx) -> Result:
    cat = gen.serving_catalog(ctx.seed, SERVE_ROOTS)
    state, setup_times = _repeat_setup(ctx, lambda i: _ServeState(ctx, cat, i), SERVE_SETUPS)
    if ctx.tracer is not None:
        layers.bind_http_handler(ctx.tracer, state.server)
    port = state.server.port

    def request(req):
        def fn(op_id):
            with ctx.span("http.request"):
                code, payload = _send(port, req, op_id)
            return _check_response(req, code, payload)

        return fn

    ops: list[Op] = []
    try:
        # one request of each kind
        warm = {r.op: r for r in gen.serving_requests(cat, ctx.seed + 7919, 200)}.values()
        t0 = time.perf_counter()
        for req in warm:
            if not _run_op(ctx, [], "warmup", request(req)).ok:
                raise RuntimeError(f"warm-up request failed: {req.path}")
        warmup_s = time.perf_counter() - t0

        reqs = gen.serving_requests(cat, ctx.seed, 4000)
        lock = threading.Lock()
        cursor = iter(reqs)
        deadline = time.perf_counter() + ctx.seconds

        def client():
            while time.perf_counter() < deadline:
                with lock:
                    req = next(cursor, None)
                if req is None:
                    return
                _run_op(ctx, ops, req.op, request(req))

        w0 = time.perf_counter()
        threads = [threading.Thread(target=client) for _ in range(SERVE_CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        window = time.perf_counter() - w0
    finally:
        state.close()

    good = [o for o in ops if o.ok]
    lat = [o.seconds for o in good]
    ltcv = [o.seconds for o in good if o.kind == "getltcv"]
    res = Result(ops, setup_times, warmup_s, window)
    res.named = {
        "requests_per_s": (len(good) / window, "1/s"),
        "request_s_p50": (p50(lat), "s"),
        "request_s_p90": (p90(lat), "s"),
        "ltcv_one_s_p50": (p50(ltcv), "s"),
        "search_s_p50": (p50([o.seconds for o in good if o.kind == "objectsearch"]), "s"),
    }
    res.e2e = {"throughput_per_s": len(good) / window, "op_s_p50": p50(lat),
               "read_s_p50": p50(ltcv)}
    return res


# --------------------------------------------------------------------------
# alert_ingest
# --------------------------------------------------------------------------

ALERT_ROOTS = 2000
ALERT_BATCHES = 4
ALERT_BATCH_SIZE = 1000
#: batch 0, the warm-up: it runs the same plans as a full batch, and its
#: cold run is ~8 s shorter than a full batch's on a 4-vCPU host
ALERT_WARMUP_SIZE = 200
#: a set-up writes the input with pyarrow and opens the catalog: ~1.5 s
ALERT_SETUPS = 3


def _alert_arrow_schema():
    import pyarrow as pa

    src = [("diaSourceId", pa.int64()), ("diaObjectId", pa.int64()), ("visit", pa.int64()),
           ("band", pa.string()), ("midpointMjdTai", pa.float64()), ("psfFlux", pa.float32()),
           ("psfFluxErr", pa.float32()), ("ra", pa.float64()), ("dec", pa.float64()),
           ("raErr", pa.float32()), ("decErr", pa.float32()), ("ra_dec_Cov", pa.float32()),
           ("psfFluxFlag", pa.bool_()), ("pixelFlags", pa.bool_()), ("centroidFlag", pa.bool_())]
    frc = [("diaForcedSourceId", pa.int64()), ("diaObjectId", pa.int64()), ("visit", pa.int64()),
           ("band", pa.string()), ("midpointMjdTai", pa.float64()), ("psfFlux", pa.float32()),
           ("psfFluxErr", pa.float32()), ("ra", pa.float64()), ("dec", pa.float64())]
    obj = [("diaObjectId", pa.int64()), ("ra", pa.float64()), ("dec", pa.float64()),
           ("raErr", pa.float32()), ("decErr", pa.float32())]
    return pa.schema([
        ("alertId", pa.int64()), ("brokername", pa.string()), ("topic", pa.string()),
        ("classifications", pa.string()), ("diaSource", pa.struct(src)),
        ("prvDiaSources", pa.list_(pa.struct(src))),
        ("prvDiaForcedSources", pa.list_(pa.struct(frc))),
        ("diaObject", pa.struct(obj)), ("cutoutDifference", pa.binary()),
        ("cutoutTemplate", pa.binary()),
    ])


def _write_alert_batches(stream, root: str) -> list[str]:
    """One parquet file per micro-batch (the file-source transport)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = _alert_arrow_schema()
    paths = []
    for b, batch in enumerate(stream.batches):
        d = os.path.join(root, f"batch{b:03d}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.Table.from_pylist(batch, schema=schema), os.path.join(d, "part-0.parquet"))
        paths.append(d)
    return paths


class _IngestState:
    def __init__(self, ctx, stream, i):
        from fastdb_spark.api import FastdbAPI
        from fastdb_spark.streaming.ingest import SilverCatalog

        self.root = os.path.join(ctx.workdir, f"silver{i}")
        _write_tables(ctx.spark, stream.tables, self.root)
        self.silver = SilverCatalog(ctx.spark, self.root)
        FastdbAPI(ctx.spark, self.root)

    def close(self):
        shutil.rmtree(self.root, ignore_errors=True)


def alert_ingest(ctx) -> Result:
    from fastdb_spark.api import FastdbAPI
    from fastdb_spark.sources import alerts as alerts_mod
    from fastdb_spark.streaming import ingest as ingest_mod
    from fastdb_spark.webserver import FastdbHTTPServer

    stream = gen.alert_stream(ctx.seed, ALERT_ROOTS, ALERT_BATCHES, ALERT_BATCH_SIZE,
                              first_batch_size=ALERT_WARMUP_SIZE)
    batch_dirs = _write_alert_batches(stream, os.path.join(ctx.workdir, "alerts"))
    state, setup_times = _repeat_setup(ctx, lambda i: _IngestState(ctx, stream, i), ALERT_SETUPS)
    spark = ctx.spark
    stopping: list[threading.Thread] = []

    def ingest(b: int):
        def fn(_op_id):
            df = spark.read.schema(alerts_mod.ALERT_SCHEMA).parquet(batch_dirs[b])
            wrangled = alerts_mod.reject_solar_system(alerts_mod.wrangle_alerts(df, stream.bpv_id))
            ingest_mod.ingest_batch(state.silver, wrangled, collect_stats=False)
            return True, 0

        return fn

    def fresh_read(b: int):
        """A web worker opened after the batch serves the object's
        lightcurve; the new visit must be in it."""

        def fn(op_id):
            rootid, visit = stream.probes[b]
            server = FastdbHTTPServer(FastdbAPI(spark, state.root)).start()
            try:
                if ctx.tracer is not None:
                    layers.bind_http_handler(ctx.tracer, server)
                req = gen.Request("getltcv", f"/getltcv/realtime/{rootid}", {}, None)
                with ctx.span("http.request"):
                    code, payload = _send(server.port, req, op_id)
            finally:
                # shutdown waits out the server's poll interval; do not
                # let that idle time delay the next batch
                stopping.append(threading.Thread(target=server.stop))
                stopping[-1].start()
            rows = payload.get("rows", []) if code == 200 else []
            return any(r["visit"] == visit for r in rows), len(rows)

        return fn

    ops: list[Op] = []
    try:
        t0 = time.perf_counter()
        # the cold ingest path costs ~12 s more than a warm one; the read
        # path is warm from the set-up's catalog open and the ingest's
        # reads of the same tables, so it needs no warm-up read
        if not _run_op(ctx, [], "warmup", ingest(0)).ok:
            raise RuntimeError("warm-up batch failed")
        warmup_s = time.perf_counter() - t0

        done = 1
        w0 = time.perf_counter()
        while time.perf_counter() - w0 < ctx.seconds and done < len(batch_dirs):
            _run_op(ctx, ops, "ingest", ingest(done), items=len(stream.batches[done]))
            _run_op(ctx, ops, "fresh_read", fresh_read(done))
            done += 1
        window = time.perf_counter() - w0

        res = Result(ops, setup_times, warmup_s, window)
        want = stream.expected_counts[done - 1]
        with ctx.op("check"):
            got = _row_counts(spark, {t: state.silver.table(t).path for t in gen.INGEST_TABLES})
        if got != want:
            ctx.log(f"silver counts {got} != expected {want}")
            res.final_ok = False
        if ctx.tracer is not None:
            with ctx.op("crossmatch"):
                res.extra.update(layers.ingest_probe(spark, state.root, stream, 1, done))
    finally:
        for t in stopping:
            t.join()
        state.close()

    batches = [o for o in ops if o.kind == "ingest" and o.ok]
    reads = [o.seconds for o in ops if o.kind == "fresh_read" and o.ok]
    busy = sum(o.seconds for o in batches)
    rate = sum(o.items for o in batches) / busy if busy else 0.0
    bt = [o.seconds for o in batches]
    res.named = {
        "alerts_per_s": (rate, "1/s"),
        "batch_s_p50": (p50(bt), "s"),
        "fresh_read_s_p50": (p50(reads), "s"),
    }
    res.e2e = {"throughput_per_s": rate, "op_s_p50": p50(bt), "read_s_p50": p50(reads)}
    res.extra["input_bytes"] = sum(
        os.path.getsize(os.path.join(batch_dirs[i], "part-0.parquet")) for i in range(1, done)
    )
    return res


# --------------------------------------------------------------------------
# dedup_index
# --------------------------------------------------------------------------

DEDUP_INITIAL = 500
DEDUP_BATCHES = 4
DEDUP_BATCH_SIZE = 1000
#: one set-up: a cold index build takes 15-25 s on a 4-vCPU host, and a
#: second one would not fit the run's time budget
DEDUP_SETUPS = 1


def dedup_index(ctx) -> Result:
    import pandas as pd

    from fastdb_spark.pipeline import incdedup

    corpus = gen.dedup_corpus(ctx.seed, DEDUP_INITIAL, DEDUP_BATCHES, DEDUP_BATCH_SIZE)
    spark = ctx.spark

    def frame(docs):
        pdf = pd.DataFrame(docs, columns=["doc_id", "text"]).astype({"doc_id": "int64"})
        return spark.createDataFrame(pdf, schema="doc_id long, text string")

    class State:
        def __init__(self, i):
            self.path = os.path.join(ctx.workdir, f"index{i}")
            n = incdedup.build_dedup_index(frame(corpus.initial), self.path, **gen.DEDUP_PARAMS)
            if n != len(corpus.initial_survivors):
                raise RuntimeError(f"index build kept {n} docs, expected "
                                   f"{len(corpus.initial_survivors)}")

        def close(self):
            shutil.rmtree(self.path, ignore_errors=True)

    state, setup_times = _repeat_setup(ctx, State, DEDUP_SETUPS)
    path = state.path

    def probe(b):
        def fn(_op_id):
            out = incdedup.dedup_index_probe(spark, frame(corpus.batches[b]), path).collect()
            return {r["doc_id"]: r["verdict"] for r in out} == corpus.verdicts[b], len(out)

        return fn

    def upsert(b):
        def fn(_op_id):
            ids = incdedup.dedup_index_upsert(spark, frame(corpus.batches[b]), path)
            want = sorted(i for i, v in corpus.verdicts[b].items() if v == "fresh")
            return ids == want, len(ids)

        return fn

    ops: list[Op] = []
    try:
        # The index build of the set-up is the warm-up: it runs the
        # sketch path the probe and the upsert share.  The first probe
        # still compiles the plans of the join against the stored index,
        # ~4 s of its time on a 4-vCPU host.  The takedown and
        # the compaction run in the traced run only (incdedup.remove_s,
        # incdedup.compact_s), to keep a timed run within its budget.
        # The takedown touches none of the documents later batches copy,
        # so the verdicts hold with or without it.
        removed, removed_ok, warmup_s = 0, True, 0.0
        if ctx.tracer is not None:
            t0 = time.perf_counter()
            with ctx.op("remove"):
                removed = incdedup.dedup_index_remove(spark, corpus.removed, path)
            removed_ok = removed == len(corpus.removed)
            warmup_s = time.perf_counter() - t0

        # probe and upsert of each batch in turn, at least one of each
        calls = [(kind, make(b), b) for b in range(len(corpus.batches))
                 for kind, make in (("probe", probe), ("upsert", upsert))]
        upserted = 0
        w0 = time.perf_counter()
        for i, (kind, fn, b) in enumerate(calls):
            if i >= 2 and time.perf_counter() - w0 >= ctx.seconds:
                break
            _run_op(ctx, ops, kind, fn, items=len(corpus.batches[b]))
            if kind == "upsert":
                upserted = b + 1
        window = time.perf_counter() - w0

        res = Result(ops, setup_times, warmup_s, window)
        if ctx.tracer is not None:
            # every partition the window appended to, so the compaction
            # does work after a short window too
            with ctx.op("compact"):
                incdedup.compact_dedup_index(spark, path, min_files=1)
        with ctx.op("check"):
            size = spark.read.parquet(os.path.join(path, "fingerprints")).count()
        # index_size counts the takedown in
        want = corpus.index_size[upserted - 1] + len(corpus.removed) - removed
        if not removed_ok or size != want:
            ctx.log(f"index holds {size} docs, expected {want} (takedown ok: {removed_ok})")
            res.final_ok = False
    finally:
        state.close()

    good = [o for o in ops if o.ok]
    busy = sum(o.seconds for o in good)
    rate = sum(o.items for o in good) / busy if busy else 0.0
    probes = [o.seconds for o in good if o.kind == "probe"]
    upserts = [o for o in good if o.kind == "upsert"]
    res.named = {
        "docs_per_s": (rate, "1/s"),
        "upsert_s_p50": (p50([o.seconds for o in upserts]), "s"),
        "probe_s_p50": (p50(probes), "s"),
    }
    res.e2e = {"throughput_per_s": rate, "op_s_p50": p50([o.seconds for o in good]),
               "read_s_p50": p50(probes)}
    res.extra["survivors"] = sum(o.rows_out for o in upserts)
    return res


WORKLOADS = {"ltcv_serve": ltcv_serve, "alert_ingest": alert_ingest, "dedup_index": dedup_index}
