"""The storage of the persisted indexes: the shared partition-rewrite
engine (``incdedup._rewrite_parts`` behind every takedown and compaction
of the text, media and IVF indexes) when a rewrite fails part-way, the
number of frames a dedup-index probe or upsert stages, the recorded
table schemas every index open reads with (``incdedup._open``), the
atomic sidecar writes, and indexes whose tables hold no rows.

A takedown rewrites each table into a tmp dir and swaps only after the
write succeeds, so a table whose rewrite raises keeps its old
partitions: the error reaches the caller, every table still reads, and
re-running the same takedown finishes it — after which the index
answers probes and upserts exactly as one whose takedown never failed."""

from __future__ import annotations

import ast
import json
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

    def flaky(spark, path, t, part_col, parts, transform, **kw):
        if t == table:
            inner = transform

            def transform(df):
                out = inner(df)
                c = out.columns[0]
                boom = F.raise_error(F.lit(FAIL)).cast(out.schema[c].dataType)
                return out.withColumn(c, F.coalesce(boom, F.col(c)))

        return real(spark, path, t, part_col, parts, transform, **kw)

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
    # the two-stage locate aggregate: no schema inference, no partition
    # read, no write job
    assert jobs <= 2, jobs
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


# ---------------------------------------------------------------------------
# recorded table schemas: every index open declares the schema its build
# recorded, so no open infers


def _text_index(spark, path: str) -> None:
    docs = spark.createDataFrame(
        [(i, _words(f"o{i}_", 10)) for i in range(1, 21)],
        "doc_id long, text string",
    )
    incdedup.build_dedup_index(docs, path)


def _media_index(spark, path: str) -> None:
    from fastdb_spark.pipeline.incmedia import build_media_index

    media = spark.createDataFrame(
        [(i, 1000 + i) for i in range(20)], "media_id long, fp long"
    )
    build_media_index(media, path, payload_col="fp", method="precomputed")


def _ivfpq_index(spark, path: str) -> None:
    from fastdb_spark.pipeline.ann import build_ivf_index

    vecs = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 11) - 5 for d in range(8)]) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    build_ivf_index(vecs, path, n_clusters=4, pq_m=2, pq_k=4)


def _semantic_index(spark, path: str) -> None:
    from fastdb_spark.pipeline.incsem import build_semantic_index

    from .test_incsem import CENTS, _corpus

    build_semantic_index(
        _corpus(spark).filter("vec_id % 2 = 0"), path, eps=0.92, centroids=CENTS
    )


FAMILIES = {
    "text": (_text_index, TEXT_TABLES),
    "media": (_media_index, ("hashes",)),
    "ivfpq": (_ivfpq_index, ("centroids", "codebooks", "vectors")),
    "semantic": (_semantic_index, ("centroids", "vectors")),
}


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_index_opens_submit_no_job(spark, tmp_path, family):
    """Opening every table of a freshly built index submits no Spark job
    (an inferring open submits one per table), and each recorded schema
    is the one inference reports for the written table, partition
    column included."""
    from .conftest import count_jobs

    build, tables = FAMILIES[family]
    path = str(tmp_path / family)
    build(spark, path)
    with open(os.path.join(path, "_schemas.json")) as f:
        assert sorted(json.load(f)) == sorted(tables)
    opened = []
    jobs = count_jobs(
        spark, f"open-{family}",
        lambda: opened.extend(incdedup._open(spark, path, t) for t in tables),
    )
    assert jobs == 0, jobs
    for t, df in zip(tables, opened):
        assert df.schema == spark.read.parquet(os.path.join(path, t)).schema, t


def test_unrecorded_index_raises_until_migrated(spark, tmp_path):
    """An index with no recorded schemas (built before they were
    recorded) gets one ValueError naming the migration; after
    ``record_index_schemas`` it probes exactly as before."""
    path = str(tmp_path / "old")
    _text_index(spark, path)
    batch = spark.createDataFrame(
        [(100 + i, _words(f"o{i}_", 10)) for i in range(1, 4)]
        + [(200, _words("new", 10))],
        "doc_id long, text string",
    )
    before = sorted(map(tuple, incdedup.dedup_index_probe(spark, batch, path).collect()))
    os.remove(os.path.join(path, "_schemas.json"))
    with pytest.raises(ValueError, match="record_index_schemas"):
        incdedup.dedup_index_probe(spark, batch, path)
    schemas = incdedup.record_index_schemas(spark, path)
    assert sorted(schemas) == sorted(TEXT_TABLES)
    after = sorted(map(tuple, incdedup.dedup_index_probe(spark, batch, path).collect()))
    assert after == before
    assert dict(after)[200] == "fresh" and dict(after)[101] == "exact"


def test_compact_index_with_custom_id_col(spark, tmp_path):
    """Compaction rewrites a text index built with ``id_col="item_id"``
    (it used to name a ``doc_id`` column the tables do not have), and
    the compacted index classifies a batch exactly as its uncompacted
    twin."""
    def batch(lo, hi, prefix="c"):
        return spark.createDataFrame(
            [(i, _words(f"{prefix}{i}_", 10)) for i in range(lo, hi)],
            "item_id long, text string",
        )

    path = str(tmp_path / "items")
    incdedup.build_dedup_index(batch(0, 8), path, id_col="item_id", id_buckets=2)
    for lo in (8, 16, 24):
        incdedup.dedup_index_upsert(spark, batch(lo, lo + 8), path, id_col="item_id")
    twin = str(tmp_path / "twin")
    shutil.copytree(path, twin)

    stats = incdedup.compact_dedup_index(spark, path, min_files=1)
    assert {s["buckets_compacted"] for s in stats.values()} == {2}
    assert all(s["files_after"] == 2 for s in stats.values())
    for t in TEXT_TABLES:
        assert _rows(spark, path, t) == _rows(spark, twin, t), t
    probe = batch(30, 40).unionByName(batch(100, 104, prefix="z"))
    verdicts = [
        sorted(map(tuple, incdedup.dedup_index_probe(
            spark, probe, p, id_col="item_id").collect()))
        for p in (path, twin)
    ]
    assert verdicts[0] == verdicts[1]
    assert dict(verdicts[0])[30] == "exact" and dict(verdicts[0])[100] == "fresh"


INDEX_MODULES = ("incdedup", "incmedia", "incsem", "ann")
OPENERS = ("_open", "record_index_schemas")


def test_index_modules_open_tables_only_through_the_shared_helper():
    """No index module reads a table with ``spark.read`` outside the one
    declared-schema open and the one-time migration, so no other open
    can infer a schema."""
    from fastdb_spark import pipeline

    bad = []
    for mod in INDEX_MODULES:
        src = os.path.join(os.path.dirname(pipeline.__file__), f"{mod}.py")
        tree = ast.parse(open(src).read())
        allowed = [
            (n.lineno, n.end_lineno)
            for n in ast.walk(tree)
            if isinstance(n, ast.FunctionDef) and n.name in OPENERS
        ]
        bad += [
            f"{mod}.py:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Attribute) and n.attr == "read"
            and not any(a <= n.lineno <= b for a, b in allowed)
        ]
    assert not bad, bad


# ---------------------------------------------------------------------------
# index sidecars are written atomically (incdedup._write_sidecar)


def test_rebuild_failed_mid_meta_dump_keeps_previous_meta(
    spark, tmp_path, monkeypatch
):
    """A ``rebuild_dedup_index`` whose ``_meta.json`` dump fails part-way
    leaves the previous ``_meta.json`` whole, so every later call still
    parses it (a plain ``open(..., "w")`` left it torn)."""
    path = str(tmp_path / "idx")
    _text_index(spark, path)
    before = incdedup._load_params(path)
    real = json.dump

    def torn(obj, f, **kw):
        if "sketch_scheme" not in obj:
            return real(obj, f, **kw)
        f.write(json.dumps(obj)[:20])
        raise OSError("No space left on device")

    monkeypatch.setattr(json, "dump", torn)
    with pytest.raises(OSError, match="No space left"):
        incdedup.rebuild_dedup_index(spark, path)
    monkeypatch.undo()
    assert incdedup._load_params(path) == before


# ---------------------------------------------------------------------------
# indexes left with no rows by an empty build or a whole takedown read as
# zero rows and take the next upsert


def test_build_dedup_index_empty_corpus_bucketed_stays_readable(
    spark, tmp_path
):
    from fastdb_spark.pipeline import incdedup as inc

    path = str(tmp_path / "eidx")
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert inc.build_dedup_index(empty, path, id_buckets=4) == 0
    # the regression: this read raised UNABLE_TO_INFER_SCHEMA
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    assert inc.dedup_index_upsert(spark, docs, path) == [1]


def test_rebuild_dedup_index_empty_bucketed_index_stays_readable(
    spark, tmp_path
):
    """rebuild_dedup_index rewrites bands/ through the same id-bucket
    writer as build and upsert; an empty rebuild leaves bands/ with no
    part files, and the next upsert must still read it (it used to
    raise UNABLE_TO_INFER_SCHEMA)."""
    from fastdb_spark.pipeline import incdedup as inc

    path = str(tmp_path / "eridx")
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert inc.build_dedup_index(empty, path, id_buckets=4) == 0
    assert inc.rebuild_dedup_index(spark, path) == 0
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    assert inc.dedup_index_upsert(spark, docs, path) == [1]


def test_build_media_index_empty_corpus_bucketed_stays_readable(
    spark, tmp_path
):
    from fastdb_spark.pipeline import incmedia as im

    from .test_round8 import _media_df

    path = str(tmp_path / "emidx")
    empty = spark.createDataFrame([], "media_id long, payload binary")
    assert im.build_media_index(empty, path, id_buckets=4) == 0
    ids = im.media_index_upsert(
        spark, _media_df(spark, [(1, 1, 0)]), path
    )
    assert ids == [1]


def test_takedown_emptying_whole_index_stays_readable(spark, tmp_path):
    """Removing every indexed item must leave readable (zero-row) tables
    so the next upsert works — both index families (the empty
    partitionBy write produces no part files, the UNABLE_TO_INFER_SCHEMA
    regression)."""
    from fastdb_spark.pipeline import incdedup as inc
    from fastdb_spark.pipeline import incmedia as im

    from .test_round8 import _docs, _media_df

    tpath = str(tmp_path / "t_all")
    inc.build_dedup_index(_docs(spark, [1]), tpath)
    assert inc.dedup_index_remove(spark, [1], tpath) == 1
    assert inc.dedup_index_upsert(spark, _docs(spark, [1]), tpath) == [1]

    mpath = str(tmp_path / "m_all")
    im.build_media_index(_media_df(spark, [(1, 1, 0)]), mpath)
    assert im.media_index_remove(spark, [1], mpath) == 1
    assert im.media_index_upsert(
        spark, _media_df(spark, [(1, 1, 0)]), mpath
    ) == [1]


def test_ivf_takedown_wiping_whole_index_stays_readable(spark, tmp_path):
    """Removing EVERY vector leaves vectors/ readable (zero rows) so the
    next upsert or probe works — the IVF twin of the emptied-index
    regression."""
    import numpy as np

    from fastdb_spark.pipeline.ann import (
        build_ivf_index,
        ivf_index_remove,
        ivf_index_upsert,
        ivf_search_index,
    )

    def vecs(ids):
        rows = []
        for i in ids:
            rng = np.random.default_rng(1000 + i)
            rows.append((i, [float(x) for x in rng.uniform(-1, 1, 8)]))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    path = str(tmp_path / "ivf_all")
    build_ivf_index(vecs(range(20)), path, n_clusters=4, strategy="seed")
    assert ivf_index_remove(spark, list(range(20)), path) == 20
    assert incdedup._open(spark, path, "vectors").count() == 0
    q = [float(x) for x in np.random.default_rng(1).uniform(-1, 1, 8)]
    assert ivf_search_index(spark, path, q, k=5, nprobe=4).count() == 0
    ivf_index_upsert(vecs(range(100, 105)), path)
    assert incdedup._open(spark, path, "vectors").count() == 5
