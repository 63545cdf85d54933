"""Per-job profile of one bench gate: run it exactly the way bench.py
does (same ``get_spark`` session, same ``bench.run_once`` step) with the
Spark event log on, then break the gate's wall-clock into Spark jobs
(with their descriptions / call sites) and the DRIVER-SIDE gaps
between them.

The gaps matter as much as the jobs at gate scale (sf0.1 is 5k docs /
2k vectors): plan analysis, py4j chatter, file-system choreography and
Python-worker startup all happen between job-end and next-job-start.

Usage:
    python tools/profile_gate.py <gate> [<gate> ...]
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
        python tools/profile_gate.py dedup_index_roundtrip
"""

from __future__ import annotations

import json
import os
import sys
import time

# run from anywhere: the engine and the driver contract import from the
# repo root (executors also import fastdb_spark relative to the cwd)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
os.chdir(REPO)
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    runs = int(os.environ.get("PROFILE_RUNS", "2"))
    log_dir = "/tmp/fastdb_eventlog"
    os.makedirs(log_dir, exist_ok=True)

    import __spark_entry__ as entrymod
    from bench import run_once
    from fastdb_spark.session import get_spark

    spark = get_spark(
        "fastdb-profile",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            # one plain-text {appId}.inprogress file we can tail; the
            # Spark 4 default writes a zstd rolling dir instead
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        },
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    qmap = entrymod.queries()

    for gate in sys.argv[1:]:
        fn = qmap[gate]
        best = None
        for i in range(runs):
            spark.sparkContext.setJobDescription(None)
            t0_ms = int(time.time() * 1000)
            dt, t_build = run_once(spark, fn, sf_dir)
            t1_ms = int(time.time() * 1000)
            print(f"## {gate} run {i}: total {dt:.3f}s (build {t_build:.3f}s)")
            if best is None or dt < best[0]:
                best = (dt, t0_ms, t1_ms)

        # parse the in-progress event log for the best run's window
        app_id = spark.sparkContext.applicationId
        path = os.path.join(log_dir, app_id + ".inprogress")
        if not os.path.exists(path):
            path = os.path.join(log_dir, app_id)
        jobs: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                k = ev.get("Event")
                if k == "SparkListenerJobStart":
                    ts = ev["Submission Time"]
                    if not (best[1] <= ts <= best[2]):
                        continue
                    props = ev.get("Properties") or {}
                    # stage names carry the call site even when the job
                    # has no description (e.g. "parquet at foo.py:123")
                    snames = [
                        si.get("Stage Name", "")
                        for si in ev.get("Stage Infos", [])
                    ]
                    jobs[ev["Job ID"]] = {
                        "start": ts,
                        "desc": props.get(
                            "spark.job.description",
                            props.get("callSite.short", ""),
                        ),
                        "site": props.get(
                            "callSite.short", snames[-1] if snames else ""
                        ),
                        "stages": len(ev.get("Stage IDs", [])),
                    }
                elif k == "SparkListenerJobEnd":
                    j = jobs.get(ev["Job ID"])
                    if j is not None:
                        j["end"] = ev["Completion Time"]
        done = sorted(
            (j for j in jobs.values() if "end" in j), key=lambda j: j["start"]
        )
        print(f"== {gate}: best {best[0]:.3f}s, {len(done)} jobs ==")
        prev_end = best[1]
        job_ms = 0
        gap_ms = 0
        for j in done:
            gap = j["start"] - prev_end
            dur = j["end"] - j["start"]
            job_ms += dur
            gap_ms += max(gap, 0)
            label = j["desc"] or j["site"]
            print(
                f"  gap {gap/1000:7.3f}s | job {dur/1000:7.3f}s "
                f"({j['stages']} stages) {label[:90]}"
            )
            prev_end = max(prev_end, j["end"])
        tail = best[2] - prev_end
        print(
            f"  tail gap {tail/1000:.3f}s | sum jobs {job_ms/1000:.3f}s, "
            f"sum gaps {(gap_ms + max(tail, 0))/1000:.3f}s\n"
        )


if __name__ == "__main__":
    main()
