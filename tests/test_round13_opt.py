"""Round-13 optimization equivalence pins.

Two families of change, both required to be VALUE-IDENTICAL:

1. Loop-invariant subexpressions are hoisted out of HOF lambdas with a
   let-binding (``element_at(transform(array(bound), x -> body), 1)``)
   that CollapseProject cannot inline back: ``minhash_signature_fast``'s
   base hash array (was re-evaluated once per signature element) and
   ``with_ivf_cluster``'s per-row ``norm(v)`` (was re-folded once per
   centroid).  Pinned against verbatim inline copies of the old trees.
2. ``tiny_local_df`` parses DDL via ``StructType.fromDDL`` (ADVICE r12:
   the comma split broke on ``decimal(10,2)``) and accepts typed
   StructType schemas, routing timestamps through Arrow.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fastdb_spark.functions import sketches as sk
from fastdb_spark.functions.vectors import as_double_array, dot, norm
from fastdb_spark.pipeline.ann import _hyperplane, with_ivf_cluster


# --- verbatim pre-r13 constructions (inline copies) -------------------------


def _pre_r13_minhash_fast(shingles, n_hashes: int):
    """Verbatim r12 Column fallback: base transform re-built (and
    re-evaluated) once per signature element."""
    base = F.transform(shingles, lambda s: F.xxhash64(s))
    sig = [
        F.array_min(
            F.transform(base, lambda h: F.xxhash64(h, F.lit(i)))
        ).alias(f"mh{i}")
        for i in range(n_hashes)
    ]
    return F.array(*sig)


def _pre_r13_with_ivf_cluster(embeddings, centroids, vec_col="embedding",
                              cluster_col="cluster"):
    """Verbatim r12 shape: norm(v) folded INSIDE the per-centroid
    lambda (once per centroid per row)."""
    import math as _math

    from fastdb_spark.functions.vectors import (
        double_array_lit,
        nested_double_array_lit,
        norm_py,
    )

    v = as_double_array(F.col(vec_col))
    cents = nested_double_array_lit(centroids)
    cnorms = [norm_py(c) for c in centroids]
    assert all(_math.isfinite(n) for n in cnorms)
    cn = double_array_lit(cnorms)
    scored = F.transform(
        cents,
        lambda c, i: F.struct(
            F.round(
                dot(v, c) / (norm(v) * F.element_at(cn, i + F.lit(1))), 9
            ).alias("cos"),
            (-i).alias("negidx"),
        ),
    )
    best = F.array_max(scored)
    return embeddings.withColumn(cluster_col, (-best["negidx"]).cast("int"))


@pytest.fixture(scope="module")
def shingle_corpus(spark):
    """Shingle arrays exercising the edges: empties (all-NULL fast
    sentinel), singletons, duplicates within a row, and md5-ish noise."""
    rows = [
        (1, ["the quick", "quick brown", "brown fox"]),
        (2, []),  # empty -> all-NULL signature sentinel
        (3, ["x"]),
        (4, ["a", "a", "b"]),  # duplicate shingles
        (5, [f"tok{i} tok{i+1}" for i in range(50)]),
    ]
    return spark.createDataFrame(rows, "doc_id long, sh array<string>")


# --- 1. minhash_signature_fast base-hash hoist ------------------------------


def test_minhash_fast_base_hash_evaluated_once(spark, shingle_corpus):
    """VERDICT r12 #2: the xxhash64 base transform must appear ONCE in
    the plan (let-binding), and values must equal the pre-r13 tree on
    every edge row (incl. the empty-array all-NULL sentinel)."""
    n_hashes = 12
    new = shingle_corpus.withColumn(
        "sig", sk.minhash_signature_fast("sh", n_hashes)
    )
    old = shingle_corpus.withColumn(
        "sig", _pre_r13_minhash_fast(F.col("sh"), n_hashes)
    )
    a = {r["doc_id"]: r["sig"] for r in new.collect()}
    b = {r["doc_id"]: r["sig"] for r in old.collect()}
    assert a == b
    assert a[2] == [None] * n_hashes  # empty sentinel preserved
    plan = new._jdf.queryExecution().analyzed().toString()
    # ONE base pass: the string-input xxhash64 (over the base lambda's
    # `s` variable) appears once, vs n_hashes times in the r12 tree
    assert plan.count("xxhash64(lambda s#") == 1
    assert plan.count("array_min") == n_hashes
    # the sentinel detector in the band builder still sees NULLs
    banded = new.withColumn(
        "bands", sk.lsh_band_hashes_fast("sig", 4, 3)
    )
    got = {r["doc_id"]: r["bands"] for r in banded.collect()}
    assert got[2] == []  # empty band array for shingle-less docs


# --- 2. with_ivf_cluster norm hoist ------------------------------------------


def test_ivf_cluster_norm_hoist_bit_exact(spark):
    """Assignments (incl. rounded-cosine ties) must equal the r12 shape
    on tie-heavy and near-zero corpora."""
    dim = 8
    cents = [_hyperplane(1000 + c, dim) for c in range(5)]
    rows = []
    for i, c in enumerate(cents):
        rows.append((100 + i, list(c)))
        rows.append((200 + i, [2.0 * x for x in c]))  # same cosine: tie
    for j in range(40):
        rows.append((300 + j, _hyperplane(j, dim)))
    rows.append((999, [1e-12] * dim))  # near-zero norm edge
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    new = with_ivf_cluster(df, cents).select("vec_id", "cluster")
    old = _pre_r13_with_ivf_cluster(df, cents).select("vec_id", "cluster")
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    assert new.count() == df.count()


def test_ivf_cluster_norm_fold_outside_lambda(spark):
    """The plan must show the norm fold hoisted into the let-binding
    (``transform(array(sqrt(...))``), not inside the per-centroid
    lambda body."""
    cents = [[1.0, 0.0], [0.0, 1.0]]
    df = spark.createDataFrame(
        [(1, [3.0, 4.0])], "vec_id long, embedding array<double>"
    )
    plan = (
        with_ivf_cluster(df, cents)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "transform(array(SQRT(" in plan or "transform(array(sqrt(" in plan
    assert plan.lower().count("sqrt(") == 1


def test_lsh_bucket_rejects_wrapping_plane_count(spark):
    from fastdb_spark.pipeline.ann import with_lsh_bucket

    df = spark.createDataFrame(
        [(1, [1.0] * 4)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="31"):
        with_lsh_bucket(df, n_planes=32, dim=4)
    # 31 planes still builds (shiftleft(1, 30) fits a positive int)
    assert (
        with_lsh_bucket(df, n_planes=8, dim=4).select("bucket").count() == 1
    )


# --- 3. typed Arrow local relations ------------------------------------------


def test_tiny_local_df_comma_bearing_ddl(spark):
    from decimal import Decimal

    from fastdb_spark.localrel import tiny_local_df

    df = tiny_local_df(
        spark,
        [(Decimal("1.25"), 7)],
        "amount decimal(10,2), n int",
    )
    assert df.columns == ["amount", "n"]
    row = df.collect()[0]
    assert row["amount"] == Decimal("1.25") and row["n"] == 7


def test_tiny_local_df_typed_struct_schema(spark):
    import datetime as dt

    from fastdb_spark.localrel import tiny_local_df
    from fastdb_spark.schemas import TABLES

    st = TABLES["spectruminfo"]
    rows = [
        (
            "sid-1",
            None,
            "fac",
            dt.datetime(2026, 1, 2, 3, 4, 5, 123456, tzinfo=dt.timezone.utc),
            60000.0,
            None,
            None,
            1.5,
            -2.5,
            False,
            None,
        )
    ]
    typed = tiny_local_df(spark, rows, st)
    legacy = spark.createDataFrame(rows, st)
    assert typed.schema == legacy.schema
    assert typed.collect() == legacy.collect()
    # Arrow LocalRelation: no pickled Python RDD in the plan
    plan = typed._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan


def test_merges_df_is_local_relation(spark):
    from fastdb_spark.pipeline.tokenizer import merges_df

    df = merges_df(spark, [("a", "b"), ("ab", "c")])
    assert [tuple(r) for r in df.orderBy("rank").collect()] == [
        (0, "a", "b"),
        (1, "ab", "c"),
    ]
    assert df.schema["rank"].nullable is False
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan


# --- 4. adaptive staged views -------------------------------------------------


def test_stage_adaptive_narrows_small_frames(spark):
    from fastdb_spark.cachereg import release_staged, stage_adaptive

    wide = spark.range(0, 1000, 1, 16).selectExpr("id", "id * 2 AS y")
    try:
        view = stage_adaptive(wide)
        # KB-sized cache -> single-partition view, same rows
        assert view.rdd.getNumPartitions() == 1
        assert view.count() == 1000
        assert view.exceptAll(wide).count() == 0
    finally:
        release_staged()


def test_stage_adaptive_leaves_large_frames_wide(spark):
    from fastdb_spark.cachereg import release_staged, stage_adaptive

    wide = spark.range(0, 100_000, 1, 8).selectExpr(
        "id", "repeat(uuid(), 8) AS pad"
    )
    try:
        view = stage_adaptive(wide, target_bytes=1 * 1024 * 1024)
        # ~25 MB cached across 8 partitions: no narrowing below layout
        assert view.rdd.getNumPartitions() == 8
    finally:
        release_staged()
