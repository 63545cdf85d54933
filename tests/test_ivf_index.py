"""The persisted IVF index (``ann.build_ivf_index`` and its
maintenance entry points): one nearest-centroid assignment, the Arrow
GEMM, with payload columns kept and cluster-aligned writes; an index
built with the retired expression assignment is refused maintenance
but still searches."""

import inspect
import json
import os

import pytest


def test_gemm_is_the_default_everywhere():
    """The batch operators that assign vectors to centroids default to
    the Arrow GEMM path — the expr twin (k array literals in the plan;
    136 s vs 3 s at 1M rows / k=256) is opt-in for oracle adjudication
    only.  The persisted index families have no assignment option at
    all: every function of ``ann`` and ``incsem`` (build, upsert,
    probe, stream) assigns by GEMM."""
    from fastdb_spark.pipeline import ann, incsem, semdedup

    for fn in (
        semdedup.semantic_pairs, semdedup.semantic_dedup,
        semdedup.assign_clusters,
    ):
        sig = inspect.signature(fn)
        p = sig.parameters.get("assign_strategy") or sig.parameters.get(
            "strategy"
        )
        assert p is not None, fn.__name__
        assert p.default == "gemm", (fn.__name__, p.default)
    for mod in (ann, incsem):
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if fn.__module__ == mod.__name__:
                sig = inspect.signature(fn)
                assert "assign_strategy" not in sig.parameters, name


def test_gemm_assign_passes_payload_columns_through(spark):
    """The prerequisite for the default flip: the gemm assignment keeps
    every input column (round 9 kept only (id, vec), which silently
    dropped payload and is why it could not be the default)."""
    from fastdb_spark.pipeline.semdedup import assign_clusters

    df = spark.createDataFrame(
        [(1, [1.0, 0.0], "a", 10), (2, [0.0, 1.0], "b", 20)],
        "vec_id long, embedding array<double>, tag string, n long",
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    out = assign_clusters(df, cents, strategy="gemm")
    assert set(out.columns) == {
        "vec_id", "embedding", "tag", "n", "cluster", "cos_c"
    }
    rows = {r["vec_id"]: r for r in out.collect()}
    assert rows[1]["cluster"] == 0 and rows[2]["cluster"] == 1
    assert rows[1]["tag"] == "a" and rows[2]["n"] == 20
    # and equality with the expr twin on cluster choice
    exp = {
        r["vec_id"]: r["cluster"]
        for r in assign_clusters(df, cents, strategy="expr").collect()
    }
    assert {k: v["cluster"] for k, v in rows.items()} == exp


def test_build_ivf_index_gemm_default_keeps_payload(spark, tmp_path):
    """An index built through the DEFAULT path keeps payload columns in
    the stored layout."""
    from fastdb_spark.pipeline.ann import build_ivf_index

    df = spark.createDataFrame(
        [(i, [float(i % 2), float(1 - i % 2)], f"doc{i}") for i in range(8)],
        "vec_id long, embedding array<double>, src string",
    )
    path = str(tmp_path / "ivf_payload")
    build_ivf_index(df, path, n_clusters=2, strategy="seed")
    stored = spark.read.parquet(os.path.join(path, "vectors"))
    assert "src" in stored.columns
    assert stored.count() == 8


def test_ivf_writes_are_cluster_aligned(spark, tmp_path):
    """Build and upsert both repartition on the cluster key before the
    partitionBy write: ONE file per cluster per write, not tasks x
    clusters (80k sliver files per 100k-row upsert at k=2500 without
    it)."""
    import glob

    from fastdb_spark.pipeline.ann import build_ivf_index, ivf_index_upsert

    df = spark.range(0, 2000).selectExpr(
        "id as vec_id",
        "array(cast(id % 4 as double), cast(1 - id % 4 as double)) "
        "as embedding",
    ).repartition(8)  # many input tasks on purpose
    path = str(tmp_path / "aligned")
    build_ivf_index(df, path, n_clusters=4, strategy="seed")
    for cdir in glob.glob(os.path.join(path, "vectors", "cluster=*")):
        files = glob.glob(os.path.join(cdir, "part-*"))
        assert len(files) == 1, (cdir, files)
    batch = spark.range(10_000, 12_000).selectExpr(
        "id as vec_id",
        "array(cast(id % 4 as double), cast(1 - id % 4 as double)) "
        "as embedding",
    ).repartition(8)
    ivf_index_upsert(batch, path)
    for cdir in glob.glob(os.path.join(path, "vectors", "cluster=*")):
        files = glob.glob(os.path.join(cdir, "part-*"))
        assert len(files) <= 2, (cdir, files)


def _vectors(spark, n=40):
    return spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )


def test_expr_built_index_refuses_maintenance_but_searches(spark, tmp_path):
    """No build writes ``_ivf_meta.json`` or a stored assignment.  An
    index whose leftover sidecar records the retired ``"expr"``
    assignment raises one ``ValueError`` naming the rebuild on upsert
    and probe; searching it still works."""
    from fastdb_spark.pipeline.ann import (
        build_ivf_index,
        ivf_index_upsert,
        ivf_search_index,
    )
    from fastdb_spark.pipeline.incsem import (
        _sem_params,
        build_semantic_index,
        semantic_index_probe,
        semantic_index_upsert,
    )

    embs = _vectors(spark)
    ivf = str(tmp_path / "ivf")
    build_ivf_index(embs, ivf, n_clusters=4)
    sem = str(tmp_path / "sem")
    build_semantic_index(embs, sem, n_clusters=4, eps=0.999)
    assert not os.path.exists(os.path.join(ivf, "_ivf_meta.json"))
    assert not os.path.exists(os.path.join(sem, "_ivf_meta.json"))
    assert "assign_strategy" not in _sem_params(sem)

    with open(os.path.join(ivf, "_ivf_meta.json"), "w") as f:
        json.dump({"assign_strategy": "expr", "n_clusters": 4}, f)
    meta = {**_sem_params(sem), "assign_strategy": "expr"}
    with open(os.path.join(sem, "_sem_meta.json"), "w") as f:
        json.dump(meta, f)
    more = _vectors(spark, 5)
    for call in (
        lambda: ivf_index_upsert(more, ivf),
        lambda: semantic_index_probe(spark, more, sem),
        lambda: semantic_index_upsert(more, sem),
    ):
        with pytest.raises(ValueError, match="rebuild it"):
            call()
    for path in (ivf, sem):
        hits = ivf_search_index(spark, path, [1.0, 0.0, 1.0], k=3).collect()
        assert len(hits) == 3
