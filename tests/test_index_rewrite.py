"""The shared partition-rewrite engine of the persisted indexes
(``incdedup._rewrite_parts`` behind every takedown and compaction of the
text, media and IVF indexes) when a rewrite fails part-way, and the
number of frames a dedup-index probe or upsert stages.

A takedown rewrites each table into a tmp dir and swaps only after the
write succeeds, so a table whose rewrite raises keeps its old
partitions: the error reaches the caller, every table still reads, and
re-running the same takedown finishes it — after which the index
answers probes and upserts exactly as one whose takedown never failed."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from fastdb_spark import cachereg
from fastdb_spark.pipeline import incdedup

FAIL = "injected rewrite failure"


def _fail_rewrites_of(monkeypatch, table: str) -> None:
    """Make every rewrite of ``table`` raise inside its Spark write job
    (the other tables of the takedown rewrite normally)."""
    real = incdedup._rewrite_parts

    def flaky(spark, path, t, cols, part_col, parts, transform, **kw):
        if t == table:
            inner = transform

            def transform(df):
                out = inner(df)
                c = out.columns[0]
                boom = F.raise_error(F.lit(FAIL)).cast(out.schema[c].dataType)
                return out.withColumn(c, F.coalesce(boom, F.col(c)))

        return real(spark, path, t, cols, part_col, parts, transform, **kw)

    monkeypatch.setattr(incdedup, "_rewrite_parts", flaky)


def _rows(spark, path: str, table: str) -> list:
    df = spark.read.parquet(os.path.join(path, table))
    return sorted(map(tuple, df.collect()), key=repr)


def _no_scratch_dirs(path: str) -> bool:
    return not [
        d for d in os.listdir(path) if d.startswith(("_tmp_", "_old_"))
    ]


def _words(prefix: str, n: int) -> str:
    return " ".join(f"{prefix}{i}" for i in range(n))


TEXT_TABLES = ("fingerprints", "bands", "shingles")


def test_failed_text_takedown_reruns_to_the_clean_result(
    spark, tmp_path, monkeypatch
):
    docs = spark.createDataFrame(
        [(i, _words(f"w{i}_", 12)) for i in range(1, 41)],
        "doc_id long, text string",
    )
    clean = str(tmp_path / "clean")
    incdedup.build_dedup_index(docs, clean, n_hashes=32, bands=16)
    failed = str(tmp_path / "failed")
    shutil.copytree(clean, failed)
    rm = [3, 7, 19, 36]

    assert incdedup.dedup_index_remove(spark, rm, clean) == len(rm)

    before = {t: _rows(spark, failed, t) for t in TEXT_TABLES}
    _fail_rewrites_of(monkeypatch, "bands")
    with pytest.raises(Exception, match=FAIL):
        incdedup.dedup_index_remove(spark, rm, failed)
    monkeypatch.undo()
    # every table reads; the failed one kept its old partitions, the
    # others finished their swap
    assert _no_scratch_dirs(failed)
    after = {t: _rows(spark, failed, t) for t in TEXT_TABLES}
    assert after["bands"] == before["bands"]
    for t in ("fingerprints", "shingles"):
        assert after[t] == _rows(spark, clean, t)

    # the re-run drops the ids from the table that failed; the first
    # table already lost them, so there is nothing left to count
    assert incdedup.dedup_index_remove(spark, rm, failed) == 0
    for t in TEXT_TABLES:
        assert _rows(spark, failed, t) == _rows(spark, clean, t), t

    # copies of removed docs are fresh again, copies of kept docs exact
    batch = spark.createDataFrame(
        [(100 + i, _words(f"w{i}_", 12)) for i in (3, 7, 8, 19, 20)]
        + [(200, _words("fresh", 12))],
        "doc_id long, text string",
    )
    verdicts = [
        sorted(map(tuple, incdedup.dedup_index_probe(spark, batch, p).collect()))
        for p in (clean, failed)
    ]
    assert verdicts[0] == verdicts[1]
    assert dict(verdicts[0])[103] == "fresh"
    assert dict(verdicts[0])[108] == "exact"
    ids = [incdedup.dedup_index_upsert(spark, batch, p) for p in (clean, failed)]
    assert ids[0] == ids[1] == [103, 107, 119, 200]
    for t in TEXT_TABLES:
        assert _rows(spark, failed, t) == _rows(spark, clean, t), t


def test_failed_ivf_takedown_reruns_to_the_clean_result(
    spark, tmp_path, monkeypatch
):
    from fastdb_spark.pipeline.ann import ivf_index_remove
    from fastdb_spark.pipeline.incsem import (
        build_semantic_index,
        semantic_index_probe,
        semantic_index_upsert,
    )

    from .test_incsem import CENTS, _corpus

    corpus = _corpus(spark)
    clean = str(tmp_path / "clean")
    build_semantic_index(
        corpus.filter("vec_id % 2 = 0"), clean, eps=0.92, centroids=CENTS
    )
    failed = str(tmp_path / "failed")
    shutil.copytree(clean, failed)
    # partially-affected clusters plus one the takedown empties
    rm = spark.read.parquet(os.path.join(clean, "vectors")).filter(
        "vec_id % 20 = 0 OR cluster = 1"
    ).select("vec_id").localCheckpoint(eager=True)
    n_rm = rm.count()
    assert n_rm > 0

    assert ivf_index_remove(spark, rm, clean) == n_rm

    before = _rows(spark, failed, "vectors")
    _fail_rewrites_of(monkeypatch, "vectors")
    with pytest.raises(Exception, match=FAIL):
        ivf_index_remove(spark, rm, failed)
    monkeypatch.undo()
    assert _no_scratch_dirs(failed)
    assert _rows(spark, failed, "vectors") == before

    assert ivf_index_remove(spark, rm, failed) == n_rm
    assert _rows(spark, failed, "vectors") == _rows(spark, clean, "vectors")

    odds = corpus.filter("vec_id % 2 = 1")
    verdicts = [
        sorted(map(tuple, semantic_index_probe(spark, odds, p).collect()))
        for p in (clean, failed)
    ]
    assert verdicts[0] == verdicts[1]
    appended = [semantic_index_upsert(odds, p) for p in (clean, failed)]
    assert appended[0] == appended[1] > 0
    assert _rows(spark, failed, "vectors") == _rows(spark, clean, "vectors")


def test_stage_calls_per_probe_and_upsert(spark, tmp_path, monkeypatch):
    """A probe stages the batch sketch and the exact leg; the capped
    candidate frame is staged only when an upsert's audit reads it."""
    docs = spark.createDataFrame(
        [(i, _words(f"s{i}_", 10)) for i in range(1, 21)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    incdedup.build_dedup_index(docs, path)
    batch = spark.createDataFrame(
        [(100 + i, _words(f"s{i}_", 10)) for i in range(1, 6)]
        + [(200 + i, _words(f"t{i}_", 10)) for i in range(5)],
        "doc_id long, text string",
    )
    calls = []
    real = cachereg.stage

    def counting(df, *a, **kw):
        calls.append(1)
        return real(df, *a, **kw)

    monkeypatch.setattr(cachereg, "stage", counting)

    def staged(fn) -> int:
        calls.clear()
        fn()
        return len(calls)

    assert staged(lambda: incdedup.dedup_index_probe(spark, batch, path)) == 2
    assert staged(
        lambda: incdedup.dedup_index_upsert(
            spark, batch, path, max_bucket_size=None
        )
    ) == 2
    assert staged(lambda: incdedup.dedup_index_upsert(spark, batch, path)) == 3


def test_ivf_takedown_deletes_emptied_clusters_unwritten(spark, tmp_path):
    """A takedown whose ids fill whole clusters reads and writes no
    partition: the locate aggregate counts every cluster's rows next to
    its hits, and the swap deletes the clusters it empties.  The index
    then probes exactly like one built without the removed vectors."""
    from fastdb_spark.pipeline.ann import ivf_index_remove
    from fastdb_spark.pipeline.incsem import build_semantic_index, semantic_index_probe

    from .conftest import count_jobs
    from .test_incsem import CENTS, _corpus

    corpus = _corpus(spark)
    evens = corpus.filter("vec_id % 2 = 0")
    path = str(tmp_path / "idx")
    build_semantic_index(evens, path, eps=0.92, centroids=CENTS)
    vdir = os.path.join(path, "vectors")
    vecs = spark.read.parquet(vdir).select("vec_id", "cluster").collect()
    gone = sorted({r["cluster"] for r in vecs})[:2]
    rm = sorted(r["vec_id"] for r in vecs if r["cluster"] in gone)

    out = []
    jobs = count_jobs(
        spark, "ivf-emptied-takedown",
        lambda: out.append(ivf_index_remove(spark, rm, path)),
    )
    assert out == [len(rm)]
    # the vectors schema inference and the two-stage locate aggregate:
    # no partition read, no write job
    assert jobs <= 3, jobs
    for c in gone:
        assert not os.path.exists(os.path.join(vdir, f"cluster={c}"))
    assert _no_scratch_dirs(path)

    clean = str(tmp_path / "clean")
    build_semantic_index(
        evens.filter(~F.col("vec_id").isin(rm)), clean, eps=0.92, centroids=CENTS
    )
    assert _rows(spark, path, "vectors") == _rows(spark, clean, "vectors")
    odds = corpus.filter("vec_id % 2 = 1")
    verdicts = [
        sorted(map(tuple, semantic_index_probe(spark, odds, p).collect()))
        for p in (path, clean)
    ]
    assert verdicts[0] == verdicts[1]
