"""Command-line tools under ``tools/``."""

from __future__ import annotations

import importlib.util
import os

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")


def _load(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(TOOLS, f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_gate_bench_rejects_unknown_gate_names(monkeypatch):
    monkeypatch.chdir(os.getcwd())  # main() chdirs to the repo root
    gate_bench = _load("gate_bench")
    with pytest.raises(SystemExit) as exc:
        gate_bench.main(["minhash_lsh_dedup", "no_such_gate", "nor_this_one"])
    msg = str(exc.value.code)
    assert "no_such_gate" in msg and "nor_this_one" in msg
    assert "minhash_lsh_dedup" not in msg


def test_run_once_releases_staged_frames(spark):
    """``bench.run_once`` is the one run step of bench.py and the gate
    tools: it times build and force, and leaves nothing staged."""
    import bench
    from fastdb_spark import cachereg

    def gate(spark, _sf_dir):
        return cachereg.stage(spark.range(8)).selectExpr("id + 1 AS x")

    total_s, build_s = bench.run_once(spark, gate, "unused")
    assert 0 <= build_s <= total_s
    assert cachereg._STAGED == []
