"""Round-8 regression tests: the VERDICT r7 punch list.

1. dHash Spark path no longer overflows Arrow int64 (VERDICT "What's
   wrong #1" — a CONFIRMED crash: ~half of real images set the first
   gradient bit, making the unsigned hash >= 2**63, and Arrow rejected
   it against the declared ``long`` schema).
2. Hot-bucket guard in the media pair joins (VERDICT #2): a degenerate
   corpus (solid-color thumbnails / silence WAVs / black clips)
   collapses to ONE fingerprint; the m²/2 pair blowup must be cappable
   the same way the text path caps it (``dedup.cap_bucket_sizes``).
3. One torn AVI must not kill ``sample_frames_decoded`` (VERDICT #3).
"""

from __future__ import annotations

import numpy as np

from fastdb_spark.pipeline import audiodedup as ad
from fastdb_spark.pipeline import imagededup as idd
from fastdb_spark.pipeline import multimodal as mm
from fastdb_spark.sources import avicodec as av
from fastdb_spark.sources import imagecodec as ic


def _png(seed: int, shift: int = 0) -> bytes:
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 248, (24, 24)).astype(np.uint8)
    return ic.encode_png(img + np.uint8(shift))


# ---------------------------------------------------------------------------
# 1. dHash signed fold


def test_dhash_high_bit_folds_to_signed():
    """Seeds that set the first gradient bit must fold negative (signed
    int64), never >= 2**63."""
    vals = [idd.dhash_bytes(_png(s)) for s in range(40)]
    assert all(-(1 << 63) <= v < (1 << 63) for v in vals)
    # the reproduction class from VERDICT r7: a large fraction of real
    # images set the high bit — at least one seed must exercise it
    assert any(v < 0 for v in vals)
    # folding is a bijection on the 64 bits: distinct images stay distinct
    assert len(set(vals)) == 40


def test_dhash_spark_path_matches_direct(spark):
    """The actual crash site: mapInPandas with schema `phash long`.
    Must complete for all 40 images and agree with the direct calls."""
    rows = [(s, bytearray(_png(s))) for s in range(40)]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        r["media_id"]: r["phash"]
        for r in idd.perceptual_hashes(media, method="dhash").collect()
    }
    assert len(got) == 40
    for s in range(40):
        assert got[s] == idd.dhash_bytes(_png(s))


def test_dhash_brightness_invariance_survives_fold():
    for seed in (0, 3, 11):
        assert idd.dhash_bytes(_png(seed, shift=5)) == idd.dhash_bytes(
            _png(seed)
        )


def test_image_dup_pairs_dhash_spark_path(spark):
    """dHash as the pairing method end-to-end (previously only pHash ran
    through Spark)."""
    rows = [(s, bytearray(_png(s))) for s in range(6)]
    rows.append((100, bytearray(_png(2, shift=4))))  # gradient twin of 2
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in idd.image_dup_pairs(media, method="dhash").collect()
    }
    assert (2, 100) in pairs


# ---------------------------------------------------------------------------
# 2. hot-bucket guard in the media pair joins


def _solid_png(value: int) -> bytes:
    return ic.encode_png(np.full((24, 24), value, dtype=np.uint8))


def test_image_pair_hot_bucket_capped(spark):
    """~1k solid-color thumbnails collapse to one pHash bucket; the cap
    drops the degenerate bucket wholesale while a legitimate twin pair
    in the same frame survives."""
    bomb = bytearray(_solid_png(128))
    rows = [(i, bomb) for i in range(1000)]
    rows.append((2000, bytearray(_png(2))))
    rows.append((2001, bytearray(_png(2, shift=4))))  # legit twin pair
    media = spark.createDataFrame(rows, "media_id long, payload binary")

    capped = {
        (r["id_a"], r["id_b"])
        for r in idd.image_dup_pairs(media, max_bucket_size=100).collect()
    }
    assert capped == {(2000, 2001)}

    # the audit frame accounts for exactly what the cap dropped
    from fastdb_spark.pipeline.dedup import oversized_buckets

    hashes = idd.perceptual_hashes(media)
    audit = oversized_buckets(hashes, "media_id", "phash", 100).collect()
    assert len(audit) == 1 and audit[0]["size"] == 1000


def test_image_pair_banded_hot_bucket_capped(spark):
    """The banded hamming>0 candidate join gets the same guard: the
    solid-color bucket floods every band; capped, the JPEG-re-encode
    twin still pairs."""
    from fastdb_spark.sources import jpegcodec as jc

    bomb = bytearray(_solid_png(77))
    rows = [(i, bomb) for i in range(500)]
    rng = np.random.default_rng(50)
    base = rng.integers(0, 256, (3, 3)).repeat(8, 0).repeat(8, 1).astype(np.uint8)
    smooth = (base.astype(float) * 0.7 + 38).astype(np.uint8)
    rows.append((2000, bytearray(ic.encode_png(smooth))))
    rows.append((2001, bytearray(jc.encode_jpeg(smooth, quality=90))))
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in idd.image_dup_pairs(
            media, max_hamming=6, max_bucket_size=64
        ).collect()
    }
    assert pairs == {(2000, 2001)}


def _wav(seed: int, gain: int = 1, n: int = 4000) -> bytes:
    rng = np.random.default_rng(seed)
    t = np.arange(n)
    sig = (
        2000 * np.sin(t * 0.05 * (1 + seed % 5))
        + 1500 * np.sin(t * 0.013 * (1 + seed % 3))
        + rng.normal(0, 300, n)
    ).astype(np.int16)
    return ic.encode_wav((sig * np.int16(gain))[:, None], rate=16000)


def test_audio_pair_hot_bucket_capped(spark):
    """Silence WAVs all fingerprint identically (zero energies -> all
    sign bits False); the cap drops the silence bucket, a legitimate
    gain-twin pair survives."""
    silence = bytearray(ic.encode_wav(np.zeros((4000, 1), np.int16), 16000))
    rows = [(i, silence) for i in range(800)]
    rows.append((2000, bytearray(_wav(2))))
    rows.append((2001, bytearray(_wav(2, gain=2))))
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in ad.audio_dup_pairs(media, max_bucket_size=100).collect()
    }
    assert pairs == {(2000, 2001)}


def _avi(seed: int, shift: int = 0, n_frames: int = 8) -> bytes:
    rng = np.random.default_rng(seed)
    frames = rng.integers(0, 248, (n_frames, 16, 16, 3)).astype(np.uint8)
    return av.encode_avi(frames + np.uint8(shift), fps=4, codec="rgb")


def test_video_pair_hot_bucket_capped(spark):
    """Black clips all fingerprint identically; capped, the regrade twin
    survives."""
    black = bytearray(
        av.encode_avi(np.zeros((4, 16, 16, 3), np.uint8), fps=4, codec="rgb")
    )
    rows = [(i, black) for i in range(500)]
    rows.append((2000, bytearray(_avi(2))))
    rows.append((2001, bytearray(_avi(2, shift=4))))
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in idd.video_dup_pairs(
            media, every_ms=500, max_bucket_size=50
        ).collect()
    }
    assert pairs == {(2000, 2001)}


def test_uncapped_default_is_exact(spark):
    """max_bucket_size=None (the default / gate regime) keeps exact pair
    semantics — a 5-member bucket emits all 10 pairs."""
    bomb = bytearray(_solid_png(10))
    media = spark.createDataFrame(
        [(i, bomb) for i in range(5)], "media_id long, payload binary"
    )
    assert idd.image_dup_pairs(media).count() == 10


# ---------------------------------------------------------------------------
# 3. torn AVI must not kill frame sampling


def test_sample_frames_decoded_skips_torn_payload(spark):
    good = _avi(1, n_frames=4)
    torn = good[: len(good) // 3]  # truncated container
    media = spark.createDataFrame(
        [
            (1, bytearray(good), "video", 1000),
            (2, bytearray(torn), "video", 1000),
            (3, bytearray(b"RIFF junk not avi"), "video", 1000),
        ],
        "media_id long, payload binary, modality string, duration_ms int",
    )
    rows = mm.sample_frames_decoded(media, every_ms=500).collect()
    assert {r["media_id"] for r in rows} == {1}
    assert len(rows) == 2  # fps=4, 1s clip, every 500 ms -> frames 0 and 2


# ---------------------------------------------------------------------------
# 4. pruned (id-bucketed) dedup-index takedown


def _docs(spark, ids):
    rows = [
        (i, f"unique document number {i} alpha beta gamma {i * 7} delta "
            f"epsilon {i * 13} zeta")
        for i in ids
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _part_dirs(path, table):
    import os

    tdir = os.path.join(path, table)
    return sorted(
        d for d in os.listdir(tdir) if d.startswith("id_bucket=")
    )


def test_bucketed_takedown_rewrites_only_affected_partitions(
    spark, tmp_path
):
    """The VERDICT r7 #5 shape: removal on an id-bucketed index touches
    ONLY the partitions holding removed ids — every other partition dir
    is bit-identical (same dir mtime, same file listing)."""
    import os

    from fastdb_spark.pipeline import incdedup as inc

    path = str(tmp_path / "idx")
    n = inc.build_dedup_index(_docs(spark, range(100)), path, id_buckets=8)
    assert n == 100
    # all 8 partitions materialized in each table
    for t in ("fingerprints", "bands", "shingles"):
        assert len(_part_dirs(path, t)) == 8

    def snapshot():
        snap = {}
        for t in ("fingerprints", "bands", "shingles"):
            for d in _part_dirs(path, t):
                full = os.path.join(path, t, d)
                snap[(t, d)] = (
                    os.stat(full).st_mtime_ns,
                    sorted(os.listdir(full)),
                )
        return snap

    before = snapshot()
    # ids 5, 13 -> bucket 5; id 7 -> bucket 7
    removed = inc.dedup_index_remove(spark, [5, 13, 7], path)
    assert removed == 3
    after = snapshot()
    touched = {k for k in before if before[k] != after[k]}
    assert touched == {
        (t, f"id_bucket={b}")
        for t in ("fingerprints", "bands", "shingles")
        for b in (5, 7)
    }
    left = {
        r["doc_id"]
        for r in spark.read.parquet(path + "/fingerprints").collect()
    }
    assert left == set(range(100)) - {5, 13, 7}
    # bands/shingles pruned consistently: no orphan rows for removed ids
    for t in ("bands", "shingles"):
        got = {
            r["doc_id"] for r in spark.read.parquet(path + "/" + t).collect()
        }
        assert got == left


def test_bucketed_takedown_dataframe_form_and_upsert_append(spark, tmp_path):
    """DataFrame-form removal derives buckets from a bounded distinct
    collect; upserts append into the SAME partition layout so a later
    takedown of an upserted doc still prunes."""
    from fastdb_spark.pipeline import incdedup as inc

    path = str(tmp_path / "idx2")
    inc.build_dedup_index(_docs(spark, range(0, 40, 2)), path, id_buckets=4)
    surv = inc.dedup_index_upsert(spark, _docs(spark, range(1, 41, 2)), path)
    assert surv == list(range(1, 41, 2))
    rm = spark.createDataFrame([(1,), (2,)], "doc_id long")
    assert inc.dedup_index_remove(spark, rm, path) == 2
    left = {
        r["doc_id"]
        for r in spark.read.parquet(path + "/fingerprints").collect()
    }
    assert left == set(range(40)) - {1, 2}
    # near-dup detection still live after the pruned removal: a re-ingest
    # of a removed doc is accepted again (non-retroactive semantics)
    back = inc.dedup_index_upsert(spark, _docs(spark, [1]), path)
    assert back == [1]


def test_flat_layout_fallback(spark, tmp_path):
    """id_buckets=None keeps the flat layout and the full-rewrite
    removal path (pre-round-8 indexes carry no id_buckets key)."""
    import os

    from fastdb_spark.pipeline import incdedup as inc

    path = str(tmp_path / "idx3")
    inc.build_dedup_index(_docs(spark, range(20)), path, id_buckets=None)
    assert not any(
        d.startswith("id_bucket=")
        for d in os.listdir(os.path.join(path, "fingerprints"))
    )
    assert inc.dedup_index_remove(spark, [3, 4], path) == 2
    left = {
        r["doc_id"]
        for r in spark.read.parquet(path + "/fingerprints").collect()
    }
    assert left == set(range(20)) - {3, 4}


def test_rebuild_preserves_bucketed_bands(spark, tmp_path):
    """rebuild_dedup_index on a bucketed index rewrites bands/ in the
    same partition layout (a flat rewrite would silently kill pruning
    for every later takedown)."""
    from fastdb_spark.pipeline import incdedup as inc

    path = str(tmp_path / "idx4")
    inc.build_dedup_index(
        _docs(spark, range(30)), path, id_buckets=4, hash_impl="md5"
    )
    n = inc.rebuild_dedup_index(spark, path, hash_impl="fast")
    assert n == 30
    assert len(_part_dirs(path, "bands")) == 4
    # takedown still prunes after the rebuild
    assert inc.dedup_index_remove(spark, [6], path) == 1


# ---------------------------------------------------------------------------
# 5. adjudication-window rotation invariant (codified round 8)

LAGGARDS_R8 = {
    "ann_cosine_topk", "decontaminate", "stratified_sample",
    "stream_windowed_rates", "objstats_per_band", "objstats_combined",
    "weighted_position", "alert_reconstruct",
}


def test_rotation_invariant():
    """Three-round coverage invariant, r8 edition: the r7 and r8 DRIVER
    windows (from the recorded CORRECTNESS artifacts — the registry
    itself has since rotated forward) cover every gate registered at r8
    except exactly the named stable laggards, which lead the r9 window
    (asserted structurally in test_round9.py)."""
    import json
    import os

    import __spark_entry__ as em

    root = os.path.dirname(os.path.abspath(em.__file__))
    with open(os.path.join(root, "CORRECTNESS_r08.json")) as f:
        window_r8 = set(json.load(f))
    with open(os.path.join(root, "CORRECTNESS_r07.json")) as f:
        window_r7 = set(json.load(f))
    born_r9 = {
        "media_index_av_roundtrip",
        "doc_similar_w2v_exact",
        # born late in round 9 (probe/compaction adjudication wave)
        "dedup_index_probe",
        "dedup_index_compaction",
        "media_index_probe",
        "semantic_dedup",
        "semantic_index_roundtrip",
    }
    # gates born after r9 are excluded the same way, and the r12-retired
    # doc_similar_w2v (registered at r8) is added back (ann_ivfpq_batch,
    # born r11)
    registry_r8 = (set(em.queries()) - born_r9
                   - {"ann_ivfpq_batch", "hybrid_search_rrf",
                      "hybrid_search_rrf_batch",
                      "query_expansion_rm"}) | {"doc_similar_w2v"}
    uncovered = registry_r8 - window_r7 - window_r8
    assert uncovered == LAGGARDS_R8
    # rule (a) held at r8: the gates born that round led its window
    assert "image_banded_neardup" in window_r8
    assert "media_index_roundtrip" in window_r8


# ---------------------------------------------------------------------------
# 6. persisted perceptual media index (pipeline.incmedia)


def _media_df(spark, specs):
    """specs: list of (media_id, seed, shift)."""
    rows = [(mid, bytearray(_png(seed, shift))) for mid, seed, shift in specs]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def test_media_index_roundtrip(spark, tmp_path):
    """Build from batch 1, upsert batch 2: brightness twins of INDEXED
    images are dropped (exact pHash match vs index), in-batch twins
    keep the min id, fresh images are accepted and appended."""
    from fastdb_spark.pipeline import incmedia as im

    path = str(tmp_path / "midx")
    b1 = _media_df(spark, [(i, i, 0) for i in range(10)])
    n = im.build_media_index(b1, path, id_buckets=4)
    assert n == 10
    b2 = _media_df(
        spark,
        [
            (100, 3, 4),   # brightness twin of indexed seed 3 -> dropped
            (101, 50, 0),  # fresh -> kept
            (102, 51, 0),  # fresh -> kept
            (103, 51, 4),  # in-batch twin of 102 -> dropped (keep min)
        ],
    )
    surv = im.media_index_upsert(spark, b2, path)
    assert surv == [101, 102]
    idx_ids = {
        r["media_id"]
        for r in spark.read.parquet(path + "/hashes").collect()
    }
    assert idx_ids == set(range(10)) | {101, 102}


def test_media_index_takedown_pruned_and_nonretroactive(spark, tmp_path):
    """Removal prunes to the partitions holding removed ids; a re-ingest
    of removed content is accepted again (non-retroactive)."""
    import os

    from fastdb_spark.pipeline import incmedia as im

    path = str(tmp_path / "midx2")
    b1 = _media_df(spark, [(i, i, 0) for i in range(12)])
    im.build_media_index(b1, path, id_buckets=4)

    def snapshot():
        tdir = os.path.join(path, "hashes")
        return {
            d: (os.stat(os.path.join(tdir, d)).st_mtime_ns,
                sorted(os.listdir(os.path.join(tdir, d))))
            for d in os.listdir(tdir)
            if d.startswith("id_bucket=")
        }

    before = snapshot()
    # ids 5 and 9 -> buckets 1 and 1 (mod 4)
    assert im.media_index_remove(spark, [5, 9], path) == 2
    after = snapshot()
    touched = {d for d in before if before[d] != after[d]}
    assert touched == {"id_bucket=1"}
    # twin of the REMOVED seed-5 image is now accepted again
    back = im.media_index_upsert(
        spark, _media_df(spark, [(200, 5, 4)]), path
    )
    assert back == [200]
    # but a twin of a still-indexed image stays dropped
    dropped = im.media_index_upsert(
        spark, _media_df(spark, [(201, 6, 4)]), path
    )
    assert dropped == []


def test_media_index_banded_hamming(spark, tmp_path):
    """An index built at max_hamming=3 drops upserted items within
    hamming 3 of an indexed fingerprint (via the stored-hash banded
    probe) and accepts items further away — planted with the DCT-domain
    construction so distances are exact."""
    import numpy as np

    from fastdb_spark.pipeline import incmedia as im
    from fastdb_spark.pipeline.imagededup import _dct32

    c = _dct32()

    def img_for(pattern):
        block = np.where(pattern, 30.0, -30.0)
        t = np.zeros((32, 32))
        t[:8, :8] = np.concatenate(([0.0], block)).reshape(8, 8)
        img = c.T @ t @ c + 128.0
        return ic.encode_png(np.rint(img).astype(np.uint8))

    def pat(seed):
        rng = np.random.default_rng(seed)
        ones = rng.choice(63, size=31, replace=False)
        base = np.zeros(63, dtype=bool)
        base[ones] = True
        return base, ones, np.where(~base)[0]

    base, ones, zeros = pat(1)
    other, _, _ = pat(2)
    near = base.copy()  # hamming 2 from base
    near[ones[0]] = False
    near[zeros[0]] = True
    far = base.copy()  # hamming 8 from base
    far[ones[:4]] = False
    far[zeros[:4]] = True

    path = str(tmp_path / "midx3")
    b1 = spark.createDataFrame(
        [(1, bytearray(img_for(base))), (2, bytearray(img_for(other)))],
        "media_id long, payload binary",
    )
    from fastdb_spark.pipeline import incmedia as im

    assert im.build_media_index(b1, path, max_hamming=3) == 2
    b2 = spark.createDataFrame(
        [(10, bytearray(img_for(near))), (11, bytearray(img_for(far)))],
        "media_id long, payload binary",
    )
    assert im.media_index_upsert(spark, b2, path) == [11]


def test_media_index_flat_fallback(spark, tmp_path):
    from fastdb_spark.pipeline import incmedia as im

    path = str(tmp_path / "midx4")
    im.build_media_index(
        _media_df(spark, [(i, i, 0) for i in range(6)]), path,
        id_buckets=None,
    )
    assert im.media_index_remove(spark, [2], path) == 1
    left = {
        r["media_id"]
        for r in spark.read.parquet(path + "/hashes").collect()
    }
    assert left == {0, 1, 3, 4, 5}


def test_media_index_video_and_audio_methods(spark, tmp_path):
    """The index is honestly multimodal: method='video' fingerprints AVI
    clips (regrade twins collapse), method='audio' fingerprints WAVs
    (gain twins collapse) — an image-only hasher would silently index
    NOTHING for these payloads."""
    from fastdb_spark.pipeline import incmedia as im

    vpath = str(tmp_path / "vidx")
    b1 = spark.createDataFrame(
        [(i, bytearray(_avi(i))) for i in range(4)],
        "media_id long, payload binary",
    )
    assert im.build_media_index(b1, vpath, method="video", every_ms=500) == 4
    b2 = spark.createDataFrame(
        [
            (10, bytearray(_avi(2, shift=4))),  # regrade twin of indexed 2
            (11, bytearray(_avi(50))),          # fresh
        ],
        "media_id long, payload binary",
    )
    assert im.media_index_upsert(spark, b2, vpath) == [11]
    assert im.media_index_remove(spark, [2], vpath) == 1

    apath = str(tmp_path / "aidx")
    a1 = spark.createDataFrame(
        [(i, bytearray(_wav(i))) for i in range(4)],
        "media_id long, payload binary",
    )
    assert im.build_media_index(a1, apath, method="audio") == 4
    a2 = spark.createDataFrame(
        [
            (10, bytearray(_wav(2, gain=2))),  # gain twin of indexed 2
            (11, bytearray(_wav(60))),         # fresh
        ],
        "media_id long, payload binary",
    )
    assert im.media_index_upsert(spark, a2, apath) == [11]


def test_stream_media_index_end_to_end(spark, tmp_path):
    """Streaming media ingest: two parquet increments flow through
    readStream -> foreachBatch media_index_upsert; twins of indexed
    images are dropped, fresh ones land; a worst-case re-delivery
    (fresh checkpoint, same files) leaves the index unchanged."""
    from fastdb_spark.pipeline import incmedia as im

    idx = str(tmp_path / "sm_idx")
    src = str(tmp_path / "sm_src")
    im.build_media_index(_media_df(spark, [(i, i, 0) for i in range(5)]), idx)

    _media_df(spark, [(10, 2, 4), (11, 60, 0)]).write.mode(
        "append"
    ).parquet(src)
    _media_df(spark, [(12, 61, 0)]).write.mode("append").parquet(src)

    q = im.stream_media_index(spark, src, idx, str(tmp_path / "ckpt1"))
    q.awaitTermination(120)

    def ids():
        return {
            r["media_id"]
            for r in spark.read.parquet(idx + "/hashes").collect()
        }

    assert ids() == {0, 1, 2, 3, 4, 11, 12}  # 10 = twin of indexed 2

    # worst-case re-delivery: a fresh checkpoint replays every file
    q2 = im.stream_media_index(spark, src, idx, str(tmp_path / "ckpt2"))
    q2.awaitTermination(120)
    assert ids() == {0, 1, 2, 3, 4, 11, 12}
