"""Round-9 regression tests: the ADVICE r8 defect list + the VERDICT r8
guard-default flip.

1. ``imagededup.hash_matches`` must never DROP hot index-side buckets
   (ADVICE r8 medium): the old cap applied ``cap_bucket_sizes`` to the
   OLD side, so a new exact duplicate of a hot indexed fingerprint
   family was silently ADMITTED — dedup disabled exactly where dups are
   densest.  Hamming-0 now probes one representative per stored
   fingerprint (lossless); the banded leg caps candidates PER NEW item
   and surfaces a truncation audit.
2. ``incmedia._dedup_batch`` hamming-0 leg is a keep-min aggregate (the
   pair form under a cap admitted whole oversized families).
3. Media index family is guard-ON by default (VERDICT r8 #1), with
   ``LAST_UPSERT_AUDIT`` mirroring the text twin.
4. An id-bucketed index BUILD with an empty survivor set stays readable
   (ADVICE r8): tested with the other empty-index cases in
   ``tests/test_index_rewrite.py``.
5. A rebuild at the same path under partitionOverwriteMode=dynamic must
   not resurrect stale bucket partitions (ADVICE r8).
6. ``tune_micro_batch_shuffle`` survives a non-numeric ('auto') conf
   (ADVICE r8).
"""

from __future__ import annotations

import numpy as np

from fastdb_spark.pipeline import imagededup as idd
from fastdb_spark.sources import imagecodec as ic


def _png(seed: int, shift: int = 0) -> bytes:
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 248, (24, 24)).astype(np.uint8)
    return ic.encode_png(img + np.uint8(shift))


def _media_df(spark, specs):
    """specs: list of (media_id, seed, shift)."""
    rows = [(mid, bytearray(_png(seed, shift))) for mid, seed, shift in specs]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def _hash_df(spark, rows):
    """rows: list of (id, hash)."""
    return spark.createDataFrame(rows, "media_id long, phash long")


# ---------------------------------------------------------------------------
# 1. hash_matches hot-index-bucket semantics


def test_hash_matches_hamming0_hot_index_family_still_detected(spark):
    """The ADVICE r8 reproduction: a hot indexed fingerprint family
    (many ids, one hash) larger than the cap.  The old code dropped the
    bucket and ADMITTED the new duplicate; now one representative per
    stored fingerprint decides admission regardless of family size."""
    old = _hash_df(spark, [(i, 42) for i in range(10)] + [(99, 7)])
    new = _hash_df(spark, [(1000, 42), (1001, 8)])
    hits = idd.hash_matches(new, old, max_hamming=0, max_bucket_size=2)
    got = {(r["new_id"], r["old_id"]) for r in hits.collect()}
    # the dup IS detected, against the min-id representative
    assert got == {(1000, 0)}


def test_hash_matches_hamming0_rep_is_min_id(spark):
    old = _hash_df(spark, [(5, 1), (3, 1), (9, 1)])
    new = _hash_df(spark, [(100, 1)])
    got = idd.hash_matches(new, old).collect()
    assert [(r["new_id"], r["old_id"]) for r in got] == [(100, 3)]


def test_hash_matches_banded_caps_per_new_id_not_index_side(spark):
    """Banded leg: a new item colliding with a hot indexed band family
    must still be rejected (>= 1 surviving candidate within hamming),
    and the truncation must be surfaced in the audit dict."""
    # 6 indexed items with hash 0b0 (hamming 0 from probe), plus one at
    # hamming 1 — all collide in every band with a probe of 0
    old = _hash_df(spark, [(i, 0) for i in range(6)] + [(50, 1)])
    # 0b10111: collides with the old hashes on its zero bands but sits
    # at hamming 5 / 3 — the refine must reject it
    new = _hash_df(spark, [(1000, 0), (1001, 0b10111)])
    audit = {"truncated_items": 0, "sample": []}
    hits = idd.hash_matches(
        new, old, max_hamming=2, bands=4, max_bucket_size=2, audit=audit
    )
    got = {r["new_id"] for r in hits.collect()}
    assert 1000 in got          # the dup is detected despite the cap
    assert 1001 not in got      # far hash stays clean
    assert audit["truncated_items"] >= 1
    assert 1000 in audit["sample"]
    from fastdb_spark.cachereg import release_staged

    release_staged()


def test_hash_matches_banded_uncapped_exact(spark):
    """No cap: the banded probe finds every within-threshold pair."""
    old = _hash_df(spark, [(1, 0b0011), (2, 0b1111_0000)])
    new = _hash_df(spark, [(10, 0b0001), (11, 0b1111_0000)])
    hits = idd.hash_matches(new, old, max_hamming=1, bands=4)
    got = {(r["new_id"], r["old_id"]) for r in hits.collect()}
    assert got == {(10, 1), (11, 2)}


# ---------------------------------------------------------------------------
# 2+3. media index: in-batch keep-min, guard-on defaults, audit


def test_build_media_index_hot_family_collapses_under_cap(spark, tmp_path):
    """A build whose batch holds one hot fingerprint family (brightness
    twins) plus a tiny cap: the keep-min aggregate must keep exactly ONE
    representative — the pair form under a cap kept all of them."""
    from fastdb_spark.pipeline import incmedia as im

    path = str(tmp_path / "hotidx")
    # 6 brightness twins of seed 3 (identical pHash; shifts stay < 8 so
    # no uint8 pixel wraps) + 2 fresh
    b = _media_df(
        spark,
        [(i, 3, i) for i in range(6)] + [(20, 50, 0), (21, 51, 0)],
    )
    n = im.build_media_index(b, path, max_bucket_size=1, id_buckets=4)
    assert n == 3  # min-id twin + the two fresh


def test_media_index_upsert_guard_on_default_still_blocks_dups(
    spark, tmp_path
):
    """Defaults now guard-ON (VERDICT r8 #1): an exact duplicate of an
    indexed item must be dropped with NO explicit kwargs, and the audit
    reports zeros for the hamming-0 (structurally capless) path."""
    from fastdb_spark.pipeline import incmedia as im

    path = str(tmp_path / "gidx")
    im.build_media_index(
        _media_df(spark, [(i, i, 0) for i in range(5)]), path, id_buckets=4
    )
    ids = im.media_index_upsert(
        spark,
        _media_df(spark, [(100, 3, 4), (101, 60, 0)]),
        path,
    )
    assert ids == [101]
    assert im.LAST_UPSERT_AUDIT == {"truncated_items": 0, "sample": []}


def test_media_index_upsert_banded_audit_resets(spark, tmp_path):
    """A capped banded upsert flags truncated items; the next uncapped
    call resets the audit (the ADVICE r5 discipline, media twin), and a
    probe in between leaves it alone."""
    import copy

    from fastdb_spark.pipeline import incmedia as im

    path = str(tmp_path / "bidx")
    # near-dup index: 5 brightness twins of one seed survive as one rep
    im.build_media_index(
        _media_df(spark, [(i, 7, 0) for i in range(1)]),
        path,
        max_hamming=2,
        bands=4,
        id_buckets=4,
    )
    # grow the index with distinct items so a probe can exceed the cap
    # (append twins at tiny hamming distances is hard with real images;
    # instead index several distinct seeds and probe with a twin)
    im.media_index_upsert(
        spark, _media_df(spark, [(10 + i, 30 + i, 0) for i in range(4)]), path
    )
    ids = im.media_index_upsert(
        spark, _media_df(spark, [(200, 7, 6)]), path, max_bucket_size=1
    )
    assert ids == []  # brightness twin of indexed seed 7 -> dropped
    # uncapped follow-up resets whatever the capped call recorded
    im.media_index_upsert(
        spark,
        _media_df(spark, [(300, 80, 0)]),
        path,
        max_bucket_size=None,
    )
    assert im.LAST_UPSERT_AUDIT == {"truncated_items": 0, "sample": []}
    # a probe shares the upsert's classification but never writes the
    # upsert audit, capped or not.  Precomputed fingerprints make the
    # truncation certain: three indexed hashes pairwise at hamming 8
    # share their three zero bands with a probe hash of 0
    ppath = str(tmp_path / "pbidx")
    fams = [(1, 0xF << 48), (2, 0xF0 << 48), (3, 0xF00 << 48)]
    im.build_media_index(
        _hash_df(spark, fams).withColumnRenamed("phash", "payload"),
        ppath,
        method="precomputed",
        max_hamming=2,
        bands=4,
        id_buckets=4,
    )
    new = _hash_df(spark, [(50, 0)]).withColumnRenamed("phash", "payload")
    assert im.media_index_upsert(spark, new, ppath, max_bucket_size=1) == [50]
    truncated = copy.deepcopy(im.LAST_UPSERT_AUDIT)
    assert truncated == {"truncated_items": 1, "sample": [50]}
    probe = _hash_df(spark, [(60, 1 << 62)]).withColumnRenamed(
        "phash", "payload"
    )
    for cap in (1, None):
        im.media_index_probe(spark, probe, ppath, max_bucket_size=cap)
        assert im.LAST_UPSERT_AUDIT == truncated


# ---------------------------------------------------------------------------
# 5. rebuild under dynamic partitionOverwriteMode


def _with_dynamic_overwrite(spark):
    import contextlib

    @contextlib.contextmanager
    def cm():
        key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(key)
        spark.conf.set(key, "dynamic")
        try:
            yield
        finally:
            spark.conf.set(key, prev)

    return cm()


def test_dedup_index_rebuild_dynamic_mode_drops_stale_buckets(
    spark, tmp_path
):
    """Build ids 0..7 over 4 buckets, then rebuild the SAME path with
    ids {0, 4} (bucket 0 only) under a dynamic session conf: buckets
    1-3 from the first build must NOT survive (they held fingerprints a
    takedown may have been meant to purge)."""
    import os

    from tests.test_round8 import _docs
    from fastdb_spark.pipeline import incdedup as inc

    path = str(tmp_path / "didx")
    inc.build_dedup_index(_docs(spark, range(8)), path, id_buckets=4)
    with _with_dynamic_overwrite(spark):
        inc.build_dedup_index(_docs(spark, [0, 4]), path, id_buckets=4)
    fps = spark.read.parquet(os.path.join(path, "fingerprints"))
    assert sorted(
        r["doc_id"] for r in fps.select("doc_id").collect()
    ) == [0, 4]


def test_media_index_rebuild_dynamic_mode_drops_stale_buckets(
    spark, tmp_path
):
    import os

    from fastdb_spark.pipeline import incmedia as im

    path = str(tmp_path / "dmidx")
    im.build_media_index(
        _media_df(spark, [(i, i, 0) for i in range(8)]), path, id_buckets=4
    )
    with _with_dynamic_overwrite(spark):
        im.build_media_index(
            _media_df(spark, [(0, 0, 0), (4, 4, 0)]), path, id_buckets=4
        )
    h = spark.read.parquet(os.path.join(path, "hashes"))
    assert sorted(r["media_id"] for r in h.select("media_id").collect()) == [
        0,
        4,
    ]


# ---------------------------------------------------------------------------
# streaming auto-compaction: a long-running index stream must not
# fragment the table without bound


def test_stream_dedup_index_auto_compacts(spark, tmp_path):
    import os

    from tests.test_round8 import _docs
    from fastdb_spark.pipeline import incdedup as inc

    path = str(tmp_path / "sidx")
    inc.build_dedup_index(_docs(spark, range(8)), path, id_buckets=4)
    src = str(tmp_path / "stream_in")
    os.makedirs(src)
    # six single-file micro-batches of fresh docs
    for k in range(6):
        _docs(spark, [100 + k]).coalesce(1).write.mode("append").parquet(src)
    q = inc.stream_dedup_index(
        spark,
        src,
        path,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        compact_every=2,
        compact_min_files=1,
    )
    q.awaitTermination(300)
    files = _bucket_files(path, "fingerprints", 0)
    # without compaction bucket 0 would hold ~7 files (build + 6
    # upserts); periodic compaction keeps it bounded
    assert len(files) <= 3, files
    got = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(path, "fingerprints"))
        .select("doc_id")
        .collect()
    )
    assert got == list(range(8)) + [100 + k for k in range(6)]


# ---------------------------------------------------------------------------
# probe-only (dry-run) classification against the persisted indexes


def test_dedup_index_probe_verdicts_and_no_mutation(spark, tmp_path):
    """The dry-run report: every verdict class exercised, the fresh set
    equals what an upsert of the same batch returns, and the index is
    byte-untouched by the probe."""
    import os

    from tests.test_round8 import _docs
    from fastdb_spark.pipeline import incdedup as inc

    def text(i):
        return (
            f"unique document number {i} alpha beta gamma {i * 7} delta "
            f"epsilon {i * 13} zeta"
        )

    path = str(tmp_path / "pidx")
    inc.build_dedup_index(_docs(spark, range(10)), path, id_buckets=4)
    batch = spark.createDataFrame(
        [
            (3, text(3)),      # exact vs index
            (300, text(100)),  # fresh content...
            (301, text(100)),  # ...exact in-batch twin (min id 300 wins)
            (400, text(200)),  # fresh
        ],
        "doc_id long, text string",
    )
    mtimes = {
        t: os.path.getmtime(os.path.join(path, t))
        for t in ("fingerprints", "bands", "shingles")
    }
    rep = {
        r["doc_id"]: r["verdict"]
        for r in inc.dedup_index_probe(spark, batch, path).collect()
    }
    assert rep == {
        3: "exact",
        300: "fresh",
        301: "in_batch_exact",
        400: "fresh",
    }
    for t, m in mtimes.items():
        assert os.path.getmtime(os.path.join(path, t)) == m
    # fresh set == upsert's survivors for the same batch
    assert inc.dedup_index_upsert(spark, batch, path) == [300, 400]


def test_dedup_index_probe_near_verdicts(spark, tmp_path):
    """near (vs index) and in_batch_near verdicts: perturb one token of
    an indexed doc / of a batch sibling."""
    from tests.test_round8 import _docs
    from fastdb_spark.pipeline import incdedup as inc

    def text(i):
        return (
            f"unique document number {i} alpha beta gamma {i * 7} delta "
            f"epsilon {i * 13} zeta"
        )

    path = str(tmp_path / "pnidx")
    inc.build_dedup_index(_docs(spark, range(10)), path, id_buckets=4)
    t5 = text(5)
    t9k = text(9000)
    batch = spark.createDataFrame(
        [
            (500, t5 + " perturbed"),   # near-dup of indexed 5
            (600, t9k),                 # fresh
            (601, t9k + " perturbed"),  # in-batch near twin of 600
        ],
        "doc_id long, text string",
    )
    rep = {
        r["doc_id"]: r["verdict"]
        for r in inc.dedup_index_probe(spark, batch, path).collect()
    }
    assert rep == {500: "near", 600: "fresh", 601: "in_batch_near"}


def test_media_index_probe_verdicts_and_fresh_equals_upsert(
    spark, tmp_path
):
    import os

    from fastdb_spark.pipeline import incmedia as im

    path = str(tmp_path / "pmidx")
    im.build_media_index(
        _media_df(spark, [(i, i, 0) for i in range(6)]), path, id_buckets=4
    )
    batch = _media_df(
        spark,
        [
            (100, 3, 4),   # brightness twin of indexed 3 -> dup
            (101, 70, 0),  # fresh
            (102, 71, 0),  # fresh
            (103, 71, 4),  # in-batch twin of 102
        ],
    )
    mtime = os.path.getmtime(os.path.join(path, "hashes"))
    rep = {
        r["media_id"]: r["verdict"]
        for r in im.media_index_probe(spark, batch, path).collect()
    }
    assert rep == {
        100: "dup",
        101: "fresh",
        102: "fresh",
        103: "in_batch_dup",
    }
    assert os.path.getmtime(os.path.join(path, "hashes")) == mtime
    assert im.media_index_upsert(spark, batch, path) == [101, 102]


# ---------------------------------------------------------------------------
# lock-key normalization: every spelling of the same table directory
# must contend on ONE lock file


def test_table_write_lock_normalizes_path(tmp_path):
    import pytest

    from fastdb_spark.locks import table_write_lock

    tdir = str(tmp_path / "tbl")
    with table_write_lock(tdir):
        # the trailing-slash spelling must see the SAME lock
        with pytest.raises(TimeoutError):
            with table_write_lock(tdir + "/", timeout=0.5):
                pass
    # released: both spellings acquire again
    with table_write_lock(tdir + "/"):
        pass


# ---------------------------------------------------------------------------
# large takedown batches auto-switch to the broadcast anti-join form
# (BENCH_SCALE r9: a 10^4-element isin literal measured 3-16x slower
# than the anti-join at a 10M-doc index)


def test_remove_ids_large_list_autoswitches_and_is_correct(
    spark, tmp_path
):
    from tests.test_round8 import _docs
    from fastdb_spark.pipeline import incdedup as inc

    path = str(tmp_path / "bigrm")
    inc.build_dedup_index(_docs(spark, range(40)), path, id_buckets=4)
    # 2000-id list (mostly absent ids) must take the DataFrame path and
    # still remove exactly the present ones
    batch = list(range(10, 20)) + list(range(100_000, 101_990))
    assert inc.dedup_index_remove(spark, batch, path) == 10
    import os

    left = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(path, "fingerprints"))
        .select("doc_id")
        .collect()
    )
    assert left == [i for i in range(40) if not 10 <= i < 20]


# ---------------------------------------------------------------------------
# index small-file compaction (new round-9 capability): a long-lived
# index accretes one part file per touched bucket per upsert; the
# compactor must rewrite ONLY over-threshold partitions, preserve
# content exactly, and leave under-threshold partitions untouched


def _bucket_files(path, table, bucket):
    import os

    pdir = os.path.join(path, table, f"id_bucket={bucket}")
    return sorted(f for f in os.listdir(pdir) if f.startswith("part-"))


def test_compact_dedup_index_prunes_and_preserves(spark, tmp_path):
    import os

    from tests.test_round8 import _docs
    from fastdb_spark.pipeline import incdedup as inc

    path = str(tmp_path / "cidx")
    inc.build_dedup_index(_docs(spark, range(8)), path, id_buckets=4)
    # 4 upserts, each touching ONLY ids = 0 mod 4 -> bucket 0 accretes
    # one file per upsert; buckets 1-3 stay at their build file count
    for k in range(4):
        inc.dedup_index_upsert(spark, _docs(spark, [100 + 4 * k]), path)
    assert len(_bucket_files(path, "fingerprints", 0)) >= 5
    before_b1 = _bucket_files(path, "fingerprints", 1)
    mtime_b1 = os.path.getmtime(
        os.path.join(path, "fingerprints", "id_bucket=1")
    )
    want = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(path, "fingerprints"))
        .select("doc_id")
        .collect()
    )
    stats = inc.compact_dedup_index(spark, path, min_files=2)
    assert stats["fingerprints"]["buckets_compacted"] == 1
    assert stats["fingerprints"]["files_after"] == 1
    assert len(_bucket_files(path, "fingerprints", 0)) == 1
    # untouched partition: same files, same mtime
    assert _bucket_files(path, "fingerprints", 1) == before_b1
    assert os.path.getmtime(
        os.path.join(path, "fingerprints", "id_bucket=1")
    ) == mtime_b1
    # content preserved exactly
    got = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(path, "fingerprints"))
        .select("doc_id")
        .collect()
    )
    assert got == want
    # the index still works end-to-end after compaction
    assert inc.dedup_index_upsert(
        spark, _docs(spark, [200]), path
    ) == [200]
    assert inc.dedup_index_remove(spark, [200], path) == 1


def test_compact_media_index_preserves_membership(spark, tmp_path):
    import os

    from fastdb_spark.pipeline import incmedia as im

    path = str(tmp_path / "cmidx")
    im.build_media_index(
        _media_df(spark, [(i, i, 0) for i in range(8)]), path, id_buckets=4
    )
    for k in range(4):
        im.media_index_upsert(
            spark, _media_df(spark, [(100 + 4 * k, 100 + 4 * k, 0)]), path
        )
    want = sorted(
        r["media_id"]
        for r in spark.read.parquet(os.path.join(path, "hashes"))
        .select("media_id")
        .collect()
    )
    stats = im.compact_media_index(spark, path, min_files=2)
    assert stats["hashes"]["buckets_compacted"] == 1
    got = sorted(
        r["media_id"]
        for r in spark.read.parquet(os.path.join(path, "hashes"))
        .select("media_id")
        .collect()
    )
    assert got == want
    # a duplicate of a compacted item is still caught
    assert im.media_index_upsert(
        spark, _media_df(spark, [(300, 100, 4)]), path
    ) == []


def test_ivf_index_compact_and_large_list_remove(spark, tmp_path):
    """The vector twin: upserts accrete one file per touched cluster;
    compaction collapses over-threshold cluster dirs, search results
    are unchanged, and a >1024-id removal list takes the anti-join
    path with identical semantics."""
    import os

    import numpy as np

    from fastdb_spark.pipeline.ann import (
        build_ivf_index,
        ivf_index_compact,
        ivf_index_remove,
        ivf_index_upsert,
        ivf_search_index,
    )

    def vecs(ids, dim=8):
        rows = []
        for i in ids:
            rng = np.random.default_rng(1000 + i)
            rows.append((i, [float(x) for x in rng.uniform(-1, 1, dim)]))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    path = str(tmp_path / "ivfc")
    build_ivf_index(vecs(range(40)), path, n_clusters=2, strategy="seed")
    for k in range(4):
        ivf_index_upsert(vecs(range(100 + 10 * k, 105 + 10 * k)), path)
    q = [0.1] * 8
    want = [
        tuple(r)
        for r in ivf_search_index(spark, path, q, k=5, nprobe=2)
        .select("vec_id", "cos")
        .collect()
    ]
    stats = ivf_index_compact(spark, path, min_files=2)
    assert stats["vectors"]["buckets_compacted"] >= 1
    assert (
        stats["vectors"]["files_after"]
        < stats["vectors"]["files_before"]
    )
    got = [
        tuple(r)
        for r in ivf_search_index(spark, path, q, k=5, nprobe=2)
        .select("vec_id", "cos")
        .collect()
    ]
    assert got == want
    # >1024-id list removal: auto-switched anti-join, exact semantics
    batch = [0, 1, 2] + list(range(500_000, 501_500))
    assert ivf_index_remove(spark, batch, path) == 3
    left = {
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(path, "vectors"))
        .select("vec_id")
        .collect()
    }
    assert not {0, 1, 2} & left
    assert {3, 4, 100, 134} <= left


def test_compact_flat_index(spark, tmp_path):
    """Flat (pre-bucketed) layout: whole-table rewrite when over the
    threshold."""
    import os

    from tests.test_round8 import _docs
    from fastdb_spark.pipeline import incdedup as inc

    path = str(tmp_path / "cflat")
    inc.build_dedup_index(_docs(spark, range(8)), path, id_buckets=None)
    for k in range(3):
        inc.dedup_index_upsert(spark, _docs(spark, [100 + k]), path)
    want = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(path, "fingerprints"))
        .select("doc_id")
        .collect()
    )
    stats = inc.compact_dedup_index(spark, path, min_files=2)
    assert stats["fingerprints"]["buckets_compacted"] == 1
    got = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(path, "fingerprints"))
        .select("doc_id")
        .collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# concurrent writers on the media index (VERDICT r8 optional #8: the
# text index has cross-process race tests; the media index's lock path
# was tested single-process only)


def test_media_index_upsert_vs_remove_two_processes(spark, tmp_path):
    """Two separate Spark PROCESSES race an upsert (fresh items) against
    a takedown (indexed ids) on the SAME media index.  The shared table
    write lock must serialize check-then-append vs the partition swaps:
    whatever the interleaving, the final index holds exactly the
    untouched survivors plus the upserted items, stays readable, and
    loses no partition."""
    import os
    import subprocess
    import sys
    import textwrap

    from fastdb_spark.pipeline import incmedia as im

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = str(tmp_path / "raceidx")
    im.build_media_index(
        _media_df(spark, [(i, i, 0) for i in range(10)]), path, id_buckets=4
    )
    script = textwrap.dedent(
        """
        import sys
        op, path = sys.argv[1], sys.argv[2]
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.ui.enabled", "false")
                 .getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        from fastdb_spark.pipeline import incmedia as im
        if op == "upsert":
            import numpy as np
            from fastdb_spark.sources import imagecodec as ic
            rows = []
            for mid in range(100, 105):
                rng = np.random.default_rng(mid)
                img = rng.integers(0, 248, (24, 24)).astype(np.uint8)
                rows.append((mid, bytearray(ic.encode_png(img))))
            batch = spark.createDataFrame(
                rows, "media_id long, payload binary"
            )
            ids = im.media_index_upsert(spark, batch, path)
            assert ids == list(range(100, 105)), ids
        else:
            n = im.media_index_remove(spark, [0, 1, 2, 3], path)
            assert n == 4, n
        print("DONE", op)
        """
    )
    env = dict(os.environ, PYTHONPATH=repo)
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, op, path],
            cwd=repo,
            env=env,
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        for op in ("upsert", "remove")
    ]
    outs = [p.communicate(timeout=600) for p in procs]
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0, err.decode()[-2000:]

    import duckdb

    got = sorted(
        r[0]
        for r in duckdb.sql(
            f"SELECT media_id FROM '{path}/hashes/*/*.parquet'"
        ).fetchall()
    )
    assert got == [4, 5, 6, 7, 8, 9, 100, 101, 102, 103, 104]


# ---------------------------------------------------------------------------
# rotation invariant, r9 edition

#: r7-green gates squeezed out of the r9 window — they lead the r10
#: window (also named in the queries() header comment and ROUND_NOTES)
LAGGARDS_R10 = {
    "union_distinct", "values_lookup", "anti_join", "sql_passthrough",
    "flux_to_mag", "keyword_search", "topk_per_group", "pricing_summary",
    "revenue_by_nation", "doc_stats", "sessionize", "broker_info",
    # displaced from the r9 window by the born-this-round
    # media_index_probe gate; r7-green, pure deterministic function
    "rolling_fingerprint",
    # displaced from the r9 window by the born-this-round
    # semantic_dedup gate; r7-green, pure token histogram
    "vocab_topk",
    # displaced from the r9 window by the born-this-round
    # semantic_index_roundtrip gate; r7-green, pure aggregate
    "corpus_rollup",
}


def test_rotation_invariant_r9():
    """Three-round coverage invariant, r9 edition (artifact-based — the
    registry has since rotated forward to the r10 order): the r8 and r9
    DRIVER windows, from the recorded CORRECTNESS artifacts, cover
    every gate registered at r9 except exactly the named r10 laggards,
    which now LEAD the r10 window (asserted structurally in
    tests/test_round10.py).  Rule (a) held at r9: the seven gates born
    that round all landed driver rows in its window."""
    import json
    import os

    import __spark_entry__ as em

    root = os.path.dirname(os.path.abspath(em.__file__))
    with open(os.path.join(root, "CORRECTNESS_r08.json")) as f:
        window_r8 = set(json.load(f))
    with open(os.path.join(root, "CORRECTNESS_r09.json")) as f:
        window_r9 = set(json.load(f))
    # exclude gates born AFTER r9, add back the r12-retired doc_similar_w2v
    registry = (set(em.queries())
                - {"ann_ivfpq_batch", "hybrid_search_rrf",
                   "hybrid_search_rrf_batch",
                      "query_expansion_rm"}) | {"doc_similar_w2v"}
    uncovered = registry - window_r8 - window_r9
    assert uncovered == LAGGARDS_R10
    born_r9 = {
        "media_index_av_roundtrip",
        "doc_similar_w2v_exact",
        "dedup_index_probe",
        "dedup_index_compaction",
        "media_index_probe",
        "semantic_dedup",
        "semantic_index_roundtrip",
    }
    assert born_r9 <= window_r9
    # all seven r9-born gates carry exact oracles
    oracles = em.oracle_sql()
    assert born_r9 <= set(oracles)


# ---------------------------------------------------------------------------
# 6. 'auto' shuffle partitions


class _FakeConf:
    def __init__(self, value):
        self._v = {"spark.sql.shuffle.partitions": value}

    def get(self, key):
        return self._v[key]

    def set(self, key, value):
        self._v[key] = value


class _FakeSC:
    defaultParallelism = 8


class _FakeSpark:
    def __init__(self, conf_value):
        self.conf = _FakeConf(conf_value)
        self.sparkContext = _FakeSC()


def test_tune_micro_batch_shuffle_numeric_clamps():
    from fastdb_spark.session import tune_micro_batch_shuffle

    s = _FakeSpark("200")
    tune_micro_batch_shuffle(s)
    assert s.conf.get("spark.sql.shuffle.partitions") == "8"


def test_tune_micro_batch_shuffle_auto_left_unchanged():
    """ADVICE r8: AQE-managed platforms report 'auto'; the bare int()
    raised ValueError and killed the stream at start."""
    from fastdb_spark.session import tune_micro_batch_shuffle

    s = _FakeSpark("auto")
    tune_micro_batch_shuffle(s)  # must not raise
    assert s.conf.get("spark.sql.shuffle.partitions") == "auto"


def test_tune_micro_batch_shuffle_small_value_kept():
    from fastdb_spark.session import tune_micro_batch_shuffle

    s = _FakeSpark("16")
    tune_micro_batch_shuffle(s)
    assert s.conf.get("spark.sql.shuffle.partitions") == "16"


# ---------------------------------------------------------------------------
# 7. precomputed-fingerprint media index (decode-free re-indexing)


def test_media_index_precomputed_roundtrip(spark, tmp_path):
    """method="precomputed": payload_col already holds the int64
    fingerprint, so build/upsert/probe run the index engine with no
    decode stage — the 100 TB re-banding path.  Same keep-min /
    vs-index semantics as every other method."""
    from fastdb_spark.pipeline import incmedia as im

    path = str(tmp_path / "midx_pre")
    b1 = spark.createDataFrame(
        [(i, 1000 + i) for i in range(10)] + [(20, 1003)],  # 20 dups 3
        "media_id long, fp long",
    )
    n = im.build_media_index(
        b1, path, payload_col="fp", method="precomputed", id_buckets=4
    )
    assert n == 10  # keep-min dropped id 20
    assert im._load_params(path)["method"] == "precomputed"
    b2 = spark.createDataFrame(
        [
            (100, 1007),  # dup of indexed id 7 -> dropped
            (101, 5000),  # fresh
            (102, 6000),  # fresh
            (103, 6000),  # in-batch dup of 102 -> dropped (keep min)
        ],
        "media_id long, fp long",
    )
    surv = im.media_index_upsert(spark, b2, path, payload_col="fp")
    assert surv == [101, 102]
    idx = {
        r["media_id"]: r["phash"]
        for r in spark.read.parquet(path + "/hashes").collect()
    }
    assert set(idx) == set(range(10)) | {101, 102}
    assert idx[101] == 5000


def test_media_index_precomputed_equals_phash_index(spark, tmp_path):
    """Feeding perceptual_hashes() output through a precomputed index
    reproduces the phash index exactly — the contract that lets a
    decode fleet run ahead of the index engine."""
    from fastdb_spark.pipeline import incmedia as im
    from fastdb_spark.pipeline.imagededup import perceptual_hashes

    b1 = _media_df(spark, [(i, i, 0) for i in range(8)] + [(9, 3, 4)])
    p_img = str(tmp_path / "by_img")
    p_pre = str(tmp_path / "by_fp")
    im.build_media_index(b1, p_img, id_buckets=4)
    fps = perceptual_hashes(b1, "media_id", "payload", "phash")
    im.build_media_index(
        fps, p_pre, payload_col="phash", method="precomputed", id_buckets=4
    )
    a = {
        (r["media_id"], r["phash"])
        for r in spark.read.parquet(p_img + "/hashes").collect()
    }
    b = {
        (r["media_id"], r["phash"])
        for r in spark.read.parquet(p_pre + "/hashes").collect()
    }
    assert a == b and len(a) == 8  # brightness twin 9 dropped both ways


def test_media_index_precomputed_probe_banded(spark, tmp_path):
    """Banded (max_hamming>0) probe over a precomputed index: verdicts
    follow hamming distance, and probe fresh == upsert survivors."""
    from fastdb_spark.pipeline import incmedia as im

    path = str(tmp_path / "midx_pre_band")
    b1 = spark.createDataFrame(
        [(1, 0x0F0F0F0F), (2, 0x12345678)], "media_id long, fp long"
    )
    im.build_media_index(
        b1, path, payload_col="fp", method="precomputed",
        max_hamming=2, bands=8, id_buckets=4,
    )
    b2 = spark.createDataFrame(
        [
            (10, 0x0F0F0F0E),  # hamming 1 from indexed 1 -> dup
            (11, 0x0F0F00F0),  # hamming 8 -> fresh
            (12, 0x0F0F00F1),  # hamming 1 from 11 -> in_batch_dup
        ],
        "media_id long, fp long",
    )
    verdicts = {
        r["media_id"]: r["verdict"]
        for r in im.media_index_probe(
            spark, b2, path, payload_col="fp"
        ).collect()
    }
    assert verdicts == {10: "dup", 11: "fresh", 12: "in_batch_dup"}
    assert im.media_index_upsert(spark, b2, path, payload_col="fp") == [11]


# ---------------------------------------------------------------------------
# 8. IVF index streaming ingest (third index family's stream) + replay guard


def _vec_df(spark, ids, dim=8):
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        [(i,) for i in ids], "vec_id long"
    ).select(
        "vec_id",
        F.array(
            *[
                ((F.col("vec_id") * 31 + j * 7) % 13).cast("double")
                for j in range(dim)
            ]
        ).alias("embedding"),
    )


def test_ivf_upsert_dedup_ids_absorbs_replay(spark, tmp_path):
    """dedup_ids=True: re-upserting the same batch (the torn-checkpoint
    re-delivery) appends nothing — membership and row COUNT unchanged
    (a bare append would double every vector and skew every top-k)."""
    import os

    from fastdb_spark.pipeline.ann import build_ivf_index, ivf_index_upsert

    path = str(tmp_path / "ivfidx")
    build_ivf_index(_vec_df(spark, range(40)), path, n_clusters=4)
    batch = _vec_df(spark, range(100, 110))
    assert ivf_index_upsert(batch, path, dedup_ids=True) == 10
    assert ivf_index_upsert(batch, path, dedup_ids=True) == 0  # replay
    rows = spark.read.parquet(os.path.join(path, "vectors")).collect()
    assert len(rows) == 50  # no duplicated rows
    assert {r["vec_id"] for r in rows} == set(range(40)) | set(
        range(100, 110)
    )


def test_ivf_upsert_dedup_ids_partial_overlap(spark, tmp_path):
    """A batch mixing stored and fresh ids appends exactly the fresh
    ones (the guard is per-row, not per-batch)."""
    from fastdb_spark.pipeline.ann import build_ivf_index, ivf_index_upsert

    path = str(tmp_path / "ivfidx2")
    build_ivf_index(_vec_df(spark, range(20)), path, n_clusters=4)
    n = ivf_index_upsert(
        _vec_df(spark, [5, 15, 200, 201]), path, dedup_ids=True
    )
    assert n == 2


def test_stream_ivf_index_end_to_end_with_compaction(spark, tmp_path):
    """Streamed micro-batches land in the index (assigned under the
    frozen centroids), a second stream over the same files is a no-op
    (checkpoint + dedup_ids), and periodic compaction bounds the
    per-cluster file count."""
    import glob
    import os

    from fastdb_spark.pipeline.ann import build_ivf_index, stream_ivf_index

    path = str(tmp_path / "sivf")
    build_ivf_index(_vec_df(spark, range(30)), path, n_clusters=4)
    src = str(tmp_path / "vec_in")
    os.makedirs(src)
    for k in range(6):
        _vec_df(spark, [100 + k]).coalesce(1).write.mode("append").parquet(
            src
        )
    q = stream_ivf_index(
        spark,
        src,
        path,
        str(tmp_path / "ckpt"),
        vec_type="array<double>",
        max_files_per_trigger=1,
        compact_every=2,
        compact_min_files=1,
    )
    q.awaitTermination(300)
    got = {
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(path, "vectors")).collect()
    }
    assert got == set(range(30)) | {100 + k for k in range(6)}
    for cdir in glob.glob(os.path.join(path, "vectors", "cluster=*")):
        files = [f for f in os.listdir(cdir) if f.startswith("part-")]
        assert len(files) <= 3, (cdir, files)
    # a fresh stream over the SAME source dir: dedup_ids absorbs it
    q2 = stream_ivf_index(
        spark,
        src,
        path,
        str(tmp_path / "ckpt2"),
        vec_type="array<double>",
    )
    q2.awaitTermination(300)
    rows = spark.read.parquet(os.path.join(path, "vectors")).collect()
    assert len(rows) == 36  # unchanged — no duplicated vectors


def test_stream_ivf_index_requires_built_index(spark, tmp_path):
    import pytest as _pytest

    from fastdb_spark.pipeline.ann import stream_ivf_index

    with _pytest.raises(ValueError, match="build_ivf_index first"):
        stream_ivf_index(
            spark, str(tmp_path / "nope_in"), str(tmp_path / "nope_idx"),
            str(tmp_path / "ckpt"),
        )


def test_ivf_dedup_guard_read_is_partition_pruned(spark, tmp_path):
    """The replay guard's stored-ids read must prune to the batch's own
    cluster partitions (PartitionFilters on cluster) and project only
    the id column (ReadSchema) — at 100 TB the guard never scans the
    whole vectors table."""
    from fastdb_spark.pipeline.ann import (
        _stored_ids_for_clusters,
        build_ivf_index,
    )

    path = str(tmp_path / "pivf")
    build_ivf_index(_vec_df(spark, range(40)), path, n_clusters=4)
    stored = _stored_ids_for_clusters(spark, path, [0, 2], "vec_id")
    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0], plan
    assert "struct<vec_id:bigint>" in plan.replace(" ", ""), plan


# ---------------------------------------------------------------------------
# 9. property test: precomputed media probe == pandas ground truth


from hypothesis import HealthCheck, given, settings as hyp_settings
from hypothesis import strategies as st

_FPS = st.integers(-(2**63), 2**63 - 1)
_IDX_ROWS = st.lists(_FPS, min_size=1, max_size=12)
_BATCH_ROWS = st.lists(_FPS, min_size=1, max_size=12)


@given(idx_fps=_IDX_ROWS, batch_fps=_BATCH_ROWS)
@hyp_settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_media_probe_precomputed_matches_ground_truth(
    spark, idx_fps, batch_fps
):
    """Random int64 fingerprints (full range, negatives included — real
    64-bit hashes are signed in both engines): the hamming-0 probe's
    verdicts equal the pandas ground truth, the fresh set equals the
    upsert's survivors, and the post-upsert membership is index plus
    fresh.  Ids are disjoint by construction (index 0.., batch 1000..)."""
    import shutil
    import tempfile

    from fastdb_spark.pipeline import incmedia as im

    path = tempfile.mkdtemp(prefix="fastdb_prop_midx_")
    try:
        b1 = spark.createDataFrame(
            [(i, f) for i, f in enumerate(idx_fps)],
            "media_id long, fp long",
        )
        im.build_media_index(
            b1, path, payload_col="fp", method="precomputed", id_buckets=4
        )
        # ground truth: index survivors = keep-min per fingerprint
        surv_fp = {}
        for i, f in enumerate(idx_fps):
            surv_fp.setdefault(f, i)
        batch = [(1000 + j, f) for j, f in enumerate(batch_fps)]
        expected = {}
        seen_batch_fp = {}
        for bid, f in batch:
            if f in surv_fp:
                expected[bid] = "dup"
            elif f in seen_batch_fp:
                expected[bid] = "in_batch_dup"
            else:
                seen_batch_fp[f] = bid
                expected[bid] = "fresh"
        b2 = spark.createDataFrame(batch, "media_id long, fp long")
        got = {
            r["media_id"]: r["verdict"]
            for r in im.media_index_probe(
                spark, b2, path, payload_col="fp"
            ).collect()
        }
        assert got == expected
        fresh = sorted(b for b, v in expected.items() if v == "fresh")
        assert im.media_index_upsert(spark, b2, path, payload_col="fp") == fresh
        import os

        stored = {
            r["media_id"]
            for r in spark.read.parquet(os.path.join(path, "hashes")).collect()
        }
        assert stored == set(surv_fp.values()) | set(fresh)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_ivf_index_stats_counts_and_drift(spark, tmp_path):
    """Fill counts match the stored layout; mean centroid distance is
    near zero for vectors AT their centroid and grows when a drifted
    batch is upserted — the retrain signal."""
    from pyspark.sql import functions as F

    from fastdb_spark.pipeline.ann import (
        build_ivf_index,
        ivf_index_stats,
        ivf_index_upsert,
    )

    path = str(tmp_path / "sividx")
    build_ivf_index(_vec_df(spark, range(40)), path, n_clusters=4)
    s0 = {r["cluster"]: r for r in ivf_index_stats(spark, path).collect()}
    assert sum(r["n_rows"] for r in s0.values()) == 40
    assert all(r["mean_dist"] >= 0 for r in s0.values())
    # a drifted batch: same assignment space, vectors offset by +50 on
    # every component -> distances to the frozen centroids jump
    drifted = _vec_df(spark, range(100, 140)).select(
        "vec_id",
        F.transform("embedding", lambda x: x + F.lit(50.0)).alias(
            "embedding"
        ),
    )
    ivf_index_upsert(drifted, path)
    s1 = {r["cluster"]: r for r in ivf_index_stats(spark, path).collect()}
    assert sum(r["n_rows"] for r in s1.values()) == 80
    assert max(r["mean_dist"] for r in s1.values()) > max(
        r["mean_dist"] for r in s0.values()
    )
    # counts-only mode works without the vector column math
    s2 = ivf_index_stats(spark, path, with_drift=False)
    assert s2.columns == ["cluster", "n_rows"]
