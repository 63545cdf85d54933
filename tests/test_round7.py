"""Round-7 regressions: ADVICE r6 fixes (fast-path sentinel bands,
paginate node-name narrowness probe, scheme marker honesty) and the
rebuild_dedup_index migration helper (VERDICT r6 #8)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# ADVICE r6 (medium): fast-path minhash sentinel guard


def test_fast_sentinel_signatures_emit_no_bands(spark):
    """Shingle-less documents under hash_impl='fast' must NOT share a
    band bucket: xxhash64 skips nulls in the band fold, so without the
    guard every empty doc gets IDENTICAL band keys — a quadratic
    self-join on uncapped paths (ADVICE r6 medium)."""
    from fastdb_spark.functions.sketches import (
        lsh_band_hashes_fast,
        minhash_signature_fast,
    )

    df = spark.createDataFrame(
        [(0, []), (1, []), (2, ["a b c", "b c d"])],
        "doc_id long, sh array<string>",
    )
    out = (
        df.withColumn("sig", minhash_signature_fast("sh", 12))
        .withColumn("bands", lsh_band_hashes_fast("sig", 4, 3))
        .select("doc_id", "bands")
        .collect()
    )
    by_id = {r["doc_id"]: r["bands"] for r in out}
    assert by_id[0] == [] and by_id[1] == [], "sentinel docs must emit no bands"
    assert len(by_id[2]) == 4 and all(b is not None for b in by_id[2])


def test_fast_empty_docs_never_pair_in_index(spark, tmp_path):
    """End-to-end: an uncapped fast-scheme index built over many empty
    documents must not blow up into an all-pairs candidate join — the
    empty docs collapse by fingerprint in the exact pre-pass and emit no
    band rows."""
    from fastdb_spark.pipeline import incdedup

    docs = [(i, "") for i in range(50)] + [
        (100, "quick brown fox jumps over the lazy dog again"),
        (101, "quick brown fox jumps over the lazy dog today"),
    ]
    path = str(tmp_path / "didx_fast_empty")
    n = incdedup.build_dedup_index(
        spark.createDataFrame(docs, "doc_id long, text string"),
        path,
        hash_impl="fast",
        max_bucket_size=None,
    )
    # 50 empties collapse to one fingerprint survivor; near-dup pair
    # 100/101 keeps the min id
    assert n == 2
    bands = spark.read.parquet(path + "/bands")
    assert bands.filter(F.col("doc_id") < 100).count() == 0


# ---------------------------------------------------------------------------
# ADVICE r6 (low): node-name narrowness probe


def test_paginate_probe_rejects_union_and_expand(spark, tmp_path):
    """Union and Expand (rollup/cube) multiply rows past the scanned
    file; the probe must reject them, and must NOT false-positive on
    column names containing 'Join'/'Generate' (it walks node names, not
    the plan string)."""
    from fastdb_spark.operators.paginate import _single_small_file

    pq = str(tmp_path / "small7.parquet")
    spark.range(100).withColumnRenamed("id", "k").coalesce(1).write.parquet(pq)
    plain = spark.read.parquet(pq)
    assert _single_small_file(plain.union(plain)) is False
    assert _single_small_file(plain.rollup("k").count()) is False
    renamed = plain.select(
        F.col("k").alias("JoinKey"), F.col("k").alias("GenerateTag")
    )
    assert _single_small_file(renamed) is True


# ---------------------------------------------------------------------------
# ADVICE r6 (low): scheme marker derives from hash_impl


def test_fast_index_records_its_own_scheme(spark, tmp_path):
    from fastdb_spark.pipeline import incdedup

    path = str(tmp_path / "didx_marker")
    incdedup.build_dedup_index(
        spark.createDataFrame(
            [(0, "alpha beta gamma delta epsilon zeta")],
            "doc_id long, text string",
        ),
        path,
        hash_impl="fast",
    )
    meta = json.load(open(path + "/_meta.json"))
    assert meta["sketch_scheme"] == "xx-fast"
    assert meta["hash_impl"] == "fast"
    # a marker/impl mismatch (e.g. an index persisted under an older
    # in-place format change) is refused with the rebuild message
    meta["sketch_scheme"] = "md5x"
    json.dump(meta, open(path + "/_meta.json", "w"))
    with pytest.raises(ValueError, match="rebuild_dedup_index"):
        incdedup.dedup_index_upsert(
            spark,
            spark.createDataFrame([(5, "x y z")], "doc_id long, text string"),
            path,
        )


# ---------------------------------------------------------------------------
# VERDICT r6 #8: one-call scheme migration


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_rebuild_migrates_legacy_index_and_continues(spark, tmp_path):
    """The guarded-refusal path gains a rebuild-and-continue leg: a
    legacy (marker-less) index is refused, rebuild_dedup_index migrates
    it from its stored shingles, and the next upsert both succeeds and
    CATCHES a near-dup of an indexed document."""
    from fastdb_spark.pipeline import incdedup

    path = str(tmp_path / "didx_rebuild")
    incdedup.build_dedup_index(
        _mk_docs(
            spark,
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "completely different text about spark partitions"),
            ],
        ),
        path,
    )
    meta = json.load(open(path + "/_meta.json"))
    del meta["sketch_scheme"]  # simulate a pre-md5x index
    json.dump(meta, open(path + "/_meta.json", "w"))
    batch = _mk_docs(
        spark,
        [
            # near-dup of doc 1 (high shingle overlap)
            (10, "the quick brown fox jumps over the lazy cat"),
            (11, "entirely novel content nine"),
        ],
    )
    with pytest.raises(ValueError, match="rebuild_dedup_index"):
        incdedup.dedup_index_upsert(spark, batch, path)
    n = incdedup.rebuild_dedup_index(spark, path)
    assert n == 2
    assert json.load(open(path + "/_meta.json"))["sketch_scheme"] == "md5x"
    ids = incdedup.dedup_index_upsert(spark, batch, path)
    assert ids == [11], "rebuilt bands must still catch near-dups"


def test_rebuild_switches_md5_index_to_fast(spark, tmp_path):
    """rebuild_dedup_index(hash_impl='fast') migrates an md5 index to
    the production scheme; the fast-banded index still catches near-dups
    of pre-migration documents."""
    from fastdb_spark.pipeline import incdedup

    path = str(tmp_path / "didx_to_fast")
    incdedup.build_dedup_index(
        _mk_docs(
            spark,
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "completely different text about spark partitions"),
            ],
        ),
        path,
        hash_impl="md5",
    )
    n = incdedup.rebuild_dedup_index(spark, path, hash_impl="fast")
    assert n == 2
    meta = json.load(open(path + "/_meta.json"))
    assert meta["hash_impl"] == "fast"
    assert meta["sketch_scheme"] == "xx-fast"
    ids = incdedup.dedup_index_upsert(
        spark,
        _mk_docs(
            spark,
            [
                (10, "the quick brown fox jumps over the lazy cat"),
                (11, "entirely novel content nine"),
            ],
        ),
        path,
    )
    assert ids == [11]


# ---------------------------------------------------------------------------
# takedown path: dedup_index_remove


def test_index_remove_list_and_frame(spark, tmp_path):
    """Removal drops the doc from all three tables (list and DataFrame
    forms) and a re-ingest of the removed content is accepted again;
    earlier drops are NOT resurrected (stated semantics)."""
    from fastdb_spark.pipeline import incdedup

    path = str(tmp_path / "didx_rm")
    incdedup.build_dedup_index(
        _mk_docs(
            spark,
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "completely different text about spark partitions"),
                (3, "a third unrelated document body here"),
            ],
        ),
        path,
    )
    n = incdedup.dedup_index_remove(spark, [2], path)
    assert n == 1
    fps = spark.read.parquet(path + "/fingerprints")
    sh = spark.read.parquet(path + "/shingles")
    bands = spark.read.parquet(path + "/bands")
    for t in (fps, sh, bands):
        assert t.filter(t.doc_id == 2).count() == 0
    assert fps.count() == 2

    # re-ingest of the removed content is accepted as a fresh doc
    ids = incdedup.dedup_index_upsert(
        spark,
        _mk_docs(
            spark, [(20, "completely different text about spark partitions")]
        ),
        path,
    )
    assert ids == [20]

    # DataFrame form — derived from the index's OWN fingerprints table,
    # the natural caller shape and the lineage-recompute regression: the
    # broadcast removal plan must not re-read the fingerprints directory
    # after its tmp+swap rewrite deleted the old part-files
    rm = (
        spark.read.parquet(path + "/fingerprints")
        .filter(F.col("doc_id") == 20)
        .select("doc_id")
    )
    assert incdedup.dedup_index_remove(spark, rm, path) == 1
    assert (
        spark.read.parquet(path + "/fingerprints")
        .filter(F.col("doc_id") == 20)
        .count()
        == 0
    )


def test_index_remove_unblocks_near_dups(spark, tmp_path):
    """A near-dup that the index would have dropped is accepted after the
    indexed twin is removed — the band/shingle rows really are gone, not
    just the fingerprint."""
    from fastdb_spark.pipeline import incdedup

    path = str(tmp_path / "didx_rm_nd")
    incdedup.build_dedup_index(
        _mk_docs(
            spark, [(1, "the quick brown fox jumps over the lazy dog")]
        ),
        path,
    )
    near = _mk_docs(
        spark, [(10, "the quick brown fox jumps over the lazy cat")]
    )
    assert incdedup.dedup_index_upsert(spark, near, path) == []
    incdedup.dedup_index_remove(spark, [1], path)
    assert incdedup.dedup_index_upsert(spark, near, path) == [10]


# ---------------------------------------------------------------------------
# streaming ingest into the dedup index


def test_stream_dedup_index_end_to_end(spark, tmp_path):
    """readStream -> foreachBatch -> dedup_index_upsert: exact and near
    dups of seed docs and an exact dup of an earlier stream doc are
    dropped across micro-batches, fresh docs append; a full re-delivery
    (same files, FRESH checkpoint — the at-least-once worst case) leaves
    the index contents unchanged because every replayed survivor matches
    its own fingerprint."""
    from fastdb_spark.pipeline import incdedup

    idx = str(tmp_path / "sidx")
    stream_dir = tmp_path / "docs_stream"
    stream_dir.mkdir()
    incdedup.build_dedup_index(
        _mk_docs(
            spark,
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "completely different text about spark partitions"),
            ],
        ),
        idx,
    )
    # two stream files: an exact dup + fresh doc, then a near dup + fresh
    _mk_docs(
        spark,
        [
            (10, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (11, "a wholly new document body with its own words"),
        ],
    ).coalesce(1).write.parquet(str(stream_dir / "a"))
    _mk_docs(
        spark,
        [
            (12, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
            (13, "another genuinely novel document arrives here now"),
            # exact dup of stream doc 11, never in the seed index
            (14, "a wholly new document body with its own words"),
        ],
    ).coalesce(1).write.parquet(str(stream_dir / "b"))

    # parquet file source needs a flat dir of files; point at the dir glob
    q = incdedup.stream_dedup_index(
        spark,
        str(stream_dir / "*"),
        idx,
        checkpoint=str(tmp_path / "ckpt1"),
    )
    q.awaitTermination(120)
    ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(idx + "/fingerprints").collect()
    )
    assert ids == [1, 2, 11, 13]

    # re-delivery: same files, fresh checkpoint -> upsert absorbs all
    q = incdedup.stream_dedup_index(
        spark,
        str(stream_dir / "*"),
        idx,
        checkpoint=str(tmp_path / "ckpt2"),
    )
    q.awaitTermination(120)
    ids2 = sorted(
        r["doc_id"]
        for r in spark.read.parquet(idx + "/fingerprints").collect()
    )
    assert ids2 == [1, 2, 11, 13]


def test_stream_dedup_index_requires_built_index(spark, tmp_path):
    from fastdb_spark.pipeline import incdedup

    with pytest.raises(FileNotFoundError):
        incdedup.stream_dedup_index(
            spark,
            str(tmp_path / "nope"),
            str(tmp_path / "no_index"),
            checkpoint=str(tmp_path / "ckpt"),
        )


# ---------------------------------------------------------------------------
# takedown path: ivf_index_remove (the embedding twin)


def _mk_vecs(spark, ids, dim=8):
    import numpy as np

    rows = []
    for i in ids:
        rng = np.random.default_rng(1000 + i)
        rows.append((i, [float(x) for x in rng.uniform(-1, 1, dim)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_index_remove_list_and_frame(spark, tmp_path):
    """Removal rewrites ONLY affected cluster partitions, drops the ids
    from search results, and the DataFrame form survives deriving the
    removal set from the index's own vectors table (lineage hazard)."""
    import os

    from fastdb_spark.pipeline.ann import (
        build_ivf_index,
        ivf_index_remove,
        ivf_search_index,
    )

    path = str(tmp_path / "ivf_rm")
    vecs = _mk_vecs(spark, range(40))
    build_ivf_index(vecs, path, n_clusters=4, strategy="seed")
    before = {
        c: os.path.getmtime(os.path.join(path, "vectors", f"cluster={c}"))
        for c in range(4)
        if os.path.exists(os.path.join(path, "vectors", f"cluster={c}"))
    }
    stored = spark.read.parquet(path + "/vectors")
    victim = stored.select("vec_id", "cluster").head()
    n = ivf_index_remove(spark, [victim["vec_id"]], path)
    assert n == 1
    after = spark.read.parquet(path + "/vectors")
    assert after.filter(F.col("vec_id") == victim["vec_id"]).count() == 0
    assert after.count() == 39
    # untouched clusters keep their directory mtimes (partition-pruned
    # rewrite: only the victim's cluster dir was swapped)
    for c, mt in before.items():
        d = os.path.join(path, "vectors", f"cluster={c}")
        if c != victim["cluster"] and os.path.exists(d):
            assert os.path.getmtime(d) == mt, c

    # DataFrame form, derived from the index itself
    rm = spark.read.parquet(path + "/vectors").filter(
        "vec_id % 7 = 0"
    ).select("vec_id")
    expected = rm.count()
    assert ivf_index_remove(spark, rm, path) == expected
    remaining = spark.read.parquet(path + "/vectors")
    assert remaining.filter("vec_id % 7 = 0").count() == 0

    # search never returns removed ids
    q = list(_mk_vecs(spark, [0]).head()["embedding"])
    hits = ivf_search_index(spark, path, q, k=10, nprobe=4).collect()
    assert all(h["vec_id"] % 7 != 0 for h in hits)


def test_ivf_index_remove_empties_a_cluster(spark, tmp_path):
    """Removing every vector of a cluster deletes its directory; probes
    tolerate the hole (an empty cluster is a candidate-less probe)."""
    import os

    from fastdb_spark.pipeline.ann import (
        build_ivf_index,
        ivf_index_remove,
        ivf_search_index,
    )

    path = str(tmp_path / "ivf_rm_empty")
    vecs = _mk_vecs(spark, range(24))
    build_ivf_index(vecs, path, n_clusters=3, strategy="seed")
    stored = spark.read.parquet(path + "/vectors")
    victim_cluster = stored.groupBy("cluster").count().head()["cluster"]
    victims = [
        r["vec_id"]
        for r in stored.filter(F.col("cluster") == victim_cluster).collect()
    ]
    assert ivf_index_remove(spark, victims, path) == len(victims)
    assert not os.path.exists(
        os.path.join(path, "vectors", f"cluster={victim_cluster}")
    )
    q = list(_mk_vecs(spark, [5]).head()["embedding"])
    hits = ivf_search_index(spark, path, q, k=5, nprobe=3).collect()
    assert hits and all(h["vec_id"] not in set(victims) for h in hits)


def test_ivf_index_remove_pq_layout(spark, tmp_path):
    """Removal preserves the PQ columns of an IVF-PQ layout; codebooks
    and centroids are untouched (quantizers frozen)."""
    import os

    from fastdb_spark.pipeline.ann import build_ivf_index, ivf_index_remove

    path = str(tmp_path / "ivfpq_rm")
    build_ivf_index(
        _mk_vecs(spark, range(30)), path, n_clusters=3, strategy="seed",
        pq_m=4, pq_k=8, pq_residual=True,
    )
    books_before = sorted(
        map(tuple, (
            (r["subspace"], r["code"])
            for r in spark.read.parquet(path + "/codebooks").collect()
        ))
    )
    assert ivf_index_remove(spark, [3, 9, 27], path) == 3
    after = spark.read.parquet(path + "/vectors")
    assert "pq_code" in after.columns
    assert after.count() == 27
    books_after = sorted(
        map(tuple, (
            (r["subspace"], r["code"])
            for r in spark.read.parquet(path + "/codebooks").collect()
        ))
    )
    assert books_after == books_before
