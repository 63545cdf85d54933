"""FASTDB-on-Spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload alert_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  ``--trace 0`` measures the end-to-end
metrics with no instrumentation; ``--trace 1`` is a separate run with
spans, job groups and a Spark event log, and reports the per-layer
metrics instead.  Human-readable lines go first; the last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit).

Everything the run writes stays under ``.perfbench_work/`` in the
checkout, which is removed at the end except for the traced run's span
file.  Exits 2 without a result when the checkout holds no program.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: driver JVM heap; the session's local-mode default (16g) exceeds a
#: 15 GiB host, and the workloads need far less
DRIVER_MEMORY = "3g"

E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_s_p50": "s",
    "read_s_p50": "s",
}


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _mem_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 0.0


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _trivial_job_ms(spark, n: int = 5) -> float:
    """Median latency of a trivial Spark job: how fast this host schedules
    right now.  Steal and load average miss the slow periods of a shared
    host; this sentinel shows them."""
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(1).count()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1000


def _pin_environment(work: str, cores: int) -> None:
    """Keep every file the run writes inside the checkout and pin the
    session to this host's cores and a heap below its memory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


class Context:
    """What a workload needs: the session, its scratch directory, the
    seed and window, and (traced run only) the tracer."""

    def __init__(self, spark, workdir, seed, seconds, tracer):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer

    def op(self, kind: str):
        """One benchmark operation (its own job group when traced)."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.op(kind)

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    @staticmethod
    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops the JVM it started (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "fastdb_spark", "__init__.py")):
        print(f"no fastdb_spark package under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    _pin_environment(work, cores)
    steal0, total0 = _cpu_times()

    from fastdb_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if args.trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
                      extra_conf=conf)
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark.sparkContext._gateway.proc.pid

    tracer = None
    if args.trace:
        import layers
        from spans import Tracer

        tracer = Tracer(spark.sparkContext)
        layers.install(tracer)

    ctx = Context(spark, work, args.seed, args.seconds, tracer)
    try:
        try:
            res = workloads.WORKLOADS[args.workload](ctx)
        finally:
            if tracer is not None:
                tracer.restore()
        import resource

        peak_rss_mb = _vm_hwm_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        with ctx.op("sentinel"):
            job_ms = _trivial_job_ms(spark)
    finally:
        _stop_spark(spark)
    steal1, total1 = _cpu_times()

    timed = res.ops  # the window's operations; set-up and warm-up are not in it
    failed = sum(1 for o in timed if not o.ok)
    correct = res.final_ok and failed == 0
    e2e = {"setup_s": session_start_s + statistics.median(res.setup_s), **res.e2e}
    steal_frac = (steal1 - steal0) / max(1, total1 - total0)
    print(f"host: cores={cores} mem_gib={_mem_gib():.1f} steal_frac={steal_frac:.4f} "
          f"loadavg_end={_loadavg():.2f} trivial_job_ms={job_ms:.1f} "
          f"driver_memory={DRIVER_MEMORY} peak_rss_mb={peak_rss_mb:.0f}")
    print(f"run: workload={args.workload} seed={args.seed} window_s={res.window_s:.2f} "
          f"ops={len(timed)} failed={failed} session_start_s={session_start_s:.3f} "
          f"setups_s={[round(s, 3) for s in res.setup_s]} warmup_s={res.warmup_s:.3f}")
    print("ops_s:", " ".join(f"{o.kind}={o.seconds:.3f}" for o in timed))
    for name, (value, unit) in res.named.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")

    if args.trace:
        import layers

        metrics = layers.per_layer(
            args.workload, tracer, os.path.join(work, "eventlog"), res,
            session_start_s, peak_rss_mb, e2e["op_s_p50"],
        )
        out_dir = os.path.join(base, "traces")
        os.makedirs(out_dir, exist_ok=True)
        span_file = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
        tracer.write(span_file, metrics)
        top = sorted(tracer.self_times().items(), key=lambda kv: -kv[1])[:12]
        print("self_s:", " ".join(f"{name}={sec:.3f}" for name, sec in top))
        print(f"spans: {span_file}")
        timed_file = os.path.join(base, "results", f"{args.workload}-seed{args.seed}.json")
        if os.path.exists(timed_file):
            with open(timed_file) as f:
                ref = json.load(f)["metrics"]["op_s_p50"]["value"]
            print(f"tracing overhead: op_s_p50 {e2e['op_s_p50']:.4f} s traced vs "
                  f"{ref:.4f} s timed ({e2e['op_s_p50'] / ref - 1:+.1%})")
        out = {name: {"value": v, "unit": u} for name, (v, u) in metrics.items()}
    else:
        out = {name: {"value": e2e[name], "unit": unit} for name, unit in E2E_UNITS.items()}

    result = {"correct": correct, "attempted": max(1, len(timed)), "failed": failed,
              "metrics": out}
    if not args.trace:
        os.makedirs(os.path.join(base, "results"), exist_ok=True)
        with open(os.path.join(base, "results", f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(result, f)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
