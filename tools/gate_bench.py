"""Focused min-of-N bench for a gate subset — bench.py's own run step
(``bench.run_once``: noop sink, release_staged + clearCache between
runs, same ``get_spark`` session) on just the named gates, for quiet A/Bs
during an optimization round without paying the full 118-gate suite.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
        GATE_RUNS=3 python tools/gate_bench.py <gate> [<gate> ...]
"""

from __future__ import annotations

import json
import os
import sys

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

    from bench import run_once
    from fastdb_spark.session import get_spark

    spark = get_spark("fastdb-gate-bench", master=f"local[{cpus}]")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    out: dict = {"sf_dir": sf_dir, "cpus": cpus, "runs": runs,
                 "loadavg_start": round(os.getloadavg()[0], 2)}
    for gate in gates:
        fn = qmap[gate]
        seen = []
        for _ in range(runs):
            seen.append(round(run_once(spark, fn, sf_dir)[0], 4))
        out[gate] = {"min": min(seen), "runs": seen}
        print(f"# {gate}: {min(seen):.3f}s {seen}", file=sys.stderr)
    out["loadavg_end"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
