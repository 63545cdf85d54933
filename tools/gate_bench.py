"""Focused min-of-N bench for a gate subset — bench.py's methodology
(same session builder, noop sink, release_staged + clearCache between
runs) on just the named gates, for quiet A/Bs during an optimization
round without paying the full 118-gate suite.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
        GATE_RUNS=3 python tools/gate_bench.py <gate> [<gate> ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(gates: list[str] | None = None) -> None:
    gates = sys.argv[1:] if gates is None else gates
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    runs = int(os.environ.get("GATE_RUNS", "3"))

    os.chdir(REPO)
    sys.path.insert(0, REPO)
    import __spark_entry__ as entrymod

    qmap = entrymod.queries()
    unknown = [g for g in gates if g not in qmap]
    if unknown:
        sys.exit(
            f"unknown gate(s): {', '.join(unknown)} "
            "(valid names are the keys of __spark_entry__.queries())"
        )

    from fastdb_spark.session import get_spark

    spark = get_spark("fastdb-gate-bench", master=f"local[{cpus}]")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    out: dict = {"sf_dir": sf_dir, "cpus": cpus, "runs": runs,
                 "loadavg_start": round(os.getloadavg()[0], 2)}
    for gate in gates:
        fn = qmap[gate]
        seen = []
        for _ in range(runs):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            seen.append(round(time.perf_counter() - t0, 4))
            from fastdb_spark.cachereg import release_staged
            from fastdb_spark.operators.paginate import unpersist_pages

            release_staged()
            unpersist_pages()
            spark.catalog.clearCache()
        out[gate] = {"min": min(seen), "runs": seen}
        print(f"# {gate}: {min(seen):.3f}s {seen}", file=sys.stderr)
    out["loadavg_end"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
