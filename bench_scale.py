"""Scale demonstration against BASELINE.md's reference numbers.

The reference's slowest documented operations are the processing-version-
deduplicated counts at ELAsTiCC2 scale (4M objects / 60M sources / 900M
forced): ~60-120 s for /count/diasource and >600 s for
/count/diaforcedsource on single-node Postgres.

This script synthesizes photometry at those ROW COUNTS (generated on the
fly with spark.range — layout-independent worst case: no partition
pruning, no cached data) and times the same logical operations:

- versioned dedup count (count_distinct over mapping-restricted rows)
- HLL estimate variant
- full priority dedup (the A1 operator) over the 60M-row table

Run: python bench_scale.py  (prints one JSON line)
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

from pyspark.sql import functions as F

from fastdb_spark.session import get_spark

N_SOURCES = int(os.environ.get("SCALE_SOURCES", 60_000_000))
N_FORCED = int(os.environ.get("SCALE_FORCED", 900_000_000))
N_ALERTS = int(os.environ.get("SCALE_ALERTS", 30_000))
ALERT_BATCHES = int(os.environ.get("SCALE_ALERT_BATCHES", 10))


def synth_alerts(spark, n: int):
    """Nested alert frame matching sources.alerts.ALERT_SCHEMA, built with
    column expressions (no driver-side row list)."""
    i = F.col("id")
    src = lambda sid, oid, visit, mjd: F.struct(  # noqa: E731
        sid.alias("diaSourceId"),
        oid.alias("diaObjectId"),
        visit.alias("visit"),
        F.lit("r").alias("band"),
        mjd.alias("midpointMjdTai"),
        (F.lit(100.0) + (sid % 100).cast("float")).cast("float").alias("psfFlux"),
        F.lit(5.0).cast("float").alias("psfFluxErr"),
        ((oid % 3600).cast("double") * 0.1).alias("ra"),
        (((oid * 7) % 1200).cast("double") * 0.1 - 60.0).alias("dec"),
        F.lit(0.01).cast("float").alias("raErr"),
        F.lit(0.01).cast("float").alias("decErr"),
        F.lit(0.0).cast("float").alias("ra_dec_Cov"),
        (sid % 13 == 0).alias("psfFluxFlag"),
        (sid % 17 == 0).alias("pixelFlags"),
        F.lit(False).alias("centroidFlag"),
    )
    oid = (i % (n // 4 + 1)) + 1000  # ~4 alerts per object
    return spark.range(n).select(
        i.alias("alertId"),
        F.lit("bench").alias("brokername"),
        F.lit("topic1").alias("topic"),
        F.lit('{"class": "SNIa", "p": 0.9}').alias("classifications"),
        src(i + 50_000, oid, i % 1000, F.lit(60000.0) + i * 1e-4).alias("diaSource"),
        F.array(src(i + 10_000_000, oid, (i % 1000) - 1, F.lit(59990.0))).alias(
            "prvDiaSources"
        ),
        F.array().cast("array<struct<diaForcedSourceId:bigint,diaObjectId:bigint,visit:bigint,band:string,midpointMjdTai:double,psfFlux:float,psfFluxErr:float,ra:double,dec:double>>").alias("prvDiaForcedSources"),
        F.struct(
            oid.alias("diaObjectId"),
            ((oid % 3600).cast("double") * 0.1).alias("ra"),
            (((oid * 7) % 1200).cast("double") * 0.1 - 60.0).alias("dec"),
            F.lit(0.01).cast("float").alias("raErr"),
            F.lit(0.01).cast("float").alias("decErr"),
        ).alias("diaObject"),
        F.lit(b"\x01").alias("cutoutDifference"),
        F.lit(b"\x02").alias("cutoutTemplate"),
    )


def bench_ingest(spark) -> dict:
    """Measured alert ingest rate through the REAL streaming path (file
    transport, checkpointed micro-batches, wrangle + dedup + spatial root
    association + merges) — the number BASELINE.md's 600 Hz compares to."""
    from fastdb_spark.streaming.ingest import run_alert_file_stream

    d = tempfile.mkdtemp(prefix="fastdb_ingest_bench_")
    try:
        alerts = synth_alerts(spark, N_ALERTS)
        alerts.repartition(ALERT_BATCHES).write.parquet(d + "/alerts")
        t0 = time.perf_counter()
        q = run_alert_file_stream(
            spark,
            d + "/alerts",
            d + "/silver",
            d + "/ckpt",
            "bpv-bench",
        )
        q.awaitTermination(600)
        dt = time.perf_counter() - t0
        return {
            "ingest_alerts": N_ALERTS,
            "ingest_batches": ALERT_BATCHES,
            "ingest_s": round(dt, 2),
            "ingest_alerts_per_s": round(N_ALERTS / dt, 1),
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)


def synth_photometry(spark, n_rows: int, n_objects: int):
    """Photometry-shaped frame: ~15 versioned rows per (object, visit)
    spread over 3 base versions, ids/floats derived arithmetically."""
    return spark.range(n_rows).select(
        (F.col("id") % n_objects).alias("diaobjectid"),
        (F.col("id") % 3).cast("int").alias("priority"),
        F.concat(F.lit("bpv"), (F.col("id") % 3).cast("string")).alias(
            "base_procver_id"
        ),
        ((F.col("id") * 7919) % 100000).alias("visit"),
        (F.lit(60000.0) + (F.col("id") % 100000) * 0.001).alias("midpointmjdtai"),
        ((F.col("id") % 100000) * 0.01).alias("psfflux"),
        F.lit(2.0).alias("psffluxerr"),
        F.col("id").alias("rowid"),
    )


VOCAB = [
    "the", "fast", "key", "order", "sort", "table", "scan", "merge",
    "part", "window", "small", "hash", "join", "value", "row", "batch",
    "spark", "line", "agg", "slow", "alpha", "beta", "gamma", "delta",
    "epsilon", "zeta", "eta", "theta", "iota", "kappa", "lam", "mu",
    "nu", "xi", "omicron", "pi", "rho", "sigma", "tau", "upsilon",
    "phi", "chi", "psi", "omega", "one", "two", "three", "four",
    "five", "six", "seven", "eight", "nine", "ten", "red", "green",
    "blue", "cyan", "teal", "plum", "iron", "zinc", "lead", "gold",
]


def synth_documents(spark, n: int, tokens_per_doc: int = 40):
    """Document-shaped frame from pure column expressions: 64-word vocab,
    word choice an arithmetic hash of (doc seed, position).  Every 13th
    doc reuses the previous doc's seed -> planted exact duplicates."""
    i = F.col("id")
    seed = F.when(i % 13 == 0, i - 1).otherwise(i)
    words = F.transform(
        F.sequence(F.lit(1), F.lit(tokens_per_doc)),
        lambda j: F.element_at(
            F.lit(VOCAB),
            (F.pmod(F.xxhash64(seed, j), F.lit(64)) + 1).cast("int"),
        ),
    )
    return spark.range(n).select(
        i.alias("doc_id"),
        F.array_join(words, " ").alias("text"),
        F.concat(F.lit("s"), (i % 5).cast("string")).alias("lang"),
    )


def bench_llm_ops(spark) -> dict:
    """Scale rows for the training-data operators (no reference twin —
    recorded as absolute throughput)."""
    n_docs = int(os.environ.get("SCALE_DOCS", 5_000_000))
    out = {"llm_docs_n": n_docs}
    docs = synth_documents(spark, n_docs)

    from fastdb_spark.pipeline.dedup import exact_dedup

    t0 = time.perf_counter()
    groups = exact_dedup(docs).count()
    dt = time.perf_counter() - t0
    out["exact_dedup_s"] = round(dt, 2)
    out["exact_dedup_docs_per_s"] = round(n_docs / dt)
    out["exact_dedup_groups"] = groups

    from fastdb_spark.pipeline.shards import shuffle_to_shards, token_budget_select

    t0 = time.perf_counter()
    shuffle_to_shards(docs, 1024).write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    out["shuffle_shards_1024_s"] = round(dt, 2)
    out["shuffle_shards_docs_per_s"] = round(n_docs / dt)

    t0 = time.perf_counter()
    token_budget_select(
        docs, {f"s{k}": 10_000_000 for k in range(5)}, stratum_col="lang"
    ).write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    out["token_budget_s"] = round(dt, 2)

    from fastdb_spark.pipeline.tokenizer import encode_bpe, train_bpe

    t0 = time.perf_counter()
    merges = train_bpe(docs, n_merges=200)
    out["bpe_train_200_s"] = round(time.perf_counter() - t0, 2)
    n_enc = min(n_docs, 1_000_000)
    enc_docs = docs.where(F.col("doc_id") < n_enc)
    t0 = time.perf_counter()
    encode_bpe(enc_docs, merges).write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    out["bpe_encode_1M_s"] = round(dt, 2)
    out["bpe_encode_docs_per_s"] = round(n_enc / dt)

    from fastdb_spark.pipeline.dedup import minhash_lsh_pairs

    n_nd = min(n_docs, int(os.environ.get("SCALE_NEARDUP_DOCS", 1_000_000)))
    nd_docs = docs.where(F.col("doc_id") < n_nd)
    t0 = time.perf_counter()
    n_pairs = minhash_lsh_pairs(nd_docs).count()
    dt = time.perf_counter() - t0
    from fastdb_spark.cachereg import release_staged

    release_staged()
    out["minhash_lsh_1M_s"] = round(dt, 2)
    out["minhash_lsh_docs_per_s"] = round(n_nd / dt)
    out["minhash_lsh_pairs"] = n_pairs

    t0 = time.perf_counter()
    n_pairs_f = minhash_lsh_pairs(nd_docs, hash_impl="fast").count()
    dt = time.perf_counter() - t0
    release_staged()
    out["minhash_fast_1M_s"] = round(dt, 2)
    out["minhash_fast_docs_per_s"] = round(n_nd / dt)
    out["minhash_fast_pairs"] = n_pairs_f

    # capped-vs-uncapped A/B for the bucket guard (VERDICT r5 #3): the
    # uncapped leg skips the count-window guard entirely — its delta over
    # the capped leg IS the guard's price on this (non-pathological) corpus
    t0 = time.perf_counter()
    n_pairs_u = minhash_lsh_pairs(
        nd_docs, hash_impl="fast", max_bucket_size=None
    ).count()
    dt = time.perf_counter() - t0
    release_staged()
    out["minhash_fast_uncapped_1M_s"] = round(dt, 2)
    out["minhash_fast_uncapped_pairs"] = n_pairs_u

    from fastdb_spark.pipeline.cluster import connected_components

    # materialize the pair set BEFORE the clock starts: pairs is lazy,
    # so timing CC over the unmaterialized plan would re-run the whole
    # LSH pipeline inside the clustering measurement
    pairs = (
        minhash_lsh_pairs(nd_docs, hash_impl="fast")
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    release_staged()
    t0 = time.perf_counter()
    n_comp = (
        connected_components(pairs)
        .agg(F.count_distinct("component").alias("n"))
        .collect()[0]["n"]
    )
    dt = time.perf_counter() - t0
    out["dup_clusters_1M_s"] = round(dt, 2)
    out["dup_clusters_components"] = n_comp

    from fastdb_spark.pipeline.spans import chunk_documents

    t0 = time.perf_counter()
    chunk_documents(docs, size=16, overlap=0).write.format("noop").mode(
        "overwrite"
    ).save()
    dt = time.perf_counter() - t0
    out["chunk_docs_s"] = round(dt, 2)
    return out


def synth_photometry_hot(spark, n_rows: int, n_objects: int, hot_pct: int = 10):
    """synth_photometry with DELIBERATE key skew: ``hot_pct`` % of rows
    land on ONE (diaobjectid, visit) composite key (the re-ingested-visit
    pathology), the rest stay uniform."""
    base = synth_photometry(spark, n_rows, n_objects)
    hot = F.col("rowid") % (100 // hot_pct) == 0
    return base.withColumn(
        "diaobjectid", F.when(hot, F.lit(42)).otherwise(F.col("diaobjectid"))
    ).withColumn("visit", F.when(hot, F.lit(777)).otherwise(F.col("visit")))


def bench_skew(spark) -> dict:
    """Hot-key stress for the two workhorse shapes (VERDICT r6 #6): the
    same operation on a uniform frame vs one with 10% of all rows on a
    single key, AQE skew handling on (the session default).

    - ``dedup_top_priority`` (A1): grouping-key skew.  The max_by
      aggregate is partial-aggregated map-side (a SortAggregate before
      the shuffle), so the hot key reaches its reducer as <= n_partitions
      partial rows — the skew NEVER crosses the shuffle.  The wall-time
      ratio documents it.
    - ``patch_lightcurve`` (J3): a hot rootid (10% of rows, distinct
      visits) through the full-outer join.  The join key is the
      composite (rootid, visit), so hash partitioning spreads the hot
      rootid; AQE's skew-join split covers residual partition imbalance.
    """
    from fastdb_spark.operators.dedup import dedup_top_priority
    from fastdb_spark.operators.patch import patch_lightcurve

    n = int(os.environ.get("SCALE_SKEW_ROWS", 60_000_000))
    out = {"skew_rows_n": n, "skew_hot_pct": 10}

    # min-of-2 per variant: the first action in a fresh session pays
    # whole-stage-codegen + shuffle-service spin-up, which would bias
    # whichever variant runs first
    for tag, frame in (
        ("uniform", synth_photometry(spark, n, n // 15)),
        ("hot", synth_photometry_hot(spark, n, n // 15)),
    ):
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            dedup_top_priority(
                frame, ["diaobjectid", "visit"], ["priority", "rowid"]
            ).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[f"priority_dedup_{n // 1_000_000}M_{tag}_s"] = round(best, 2)

    # patch join: forced/detections frames keyed (rootid, visit), both
    # deduplicated per key as the operator contract requires; the hot
    # variant puts 10% of each side's rows on rootid 42 (visits distinct
    # within the rootid, so the join stays 1:1)
    def patch_side(n_side: int, hot: bool, flux0: float):
        i = F.col("id")
        if hot:
            root = F.when(i % 10 == 0, F.lit(42)).otherwise(
                F.lit(1_000_000) + (i % (n_side // 8))
            )
            # hot rootid visits: unique per row (i/10 enumerates them)
            visit = F.when(i % 10 == 0, (i / 10).cast("long")).otherwise(
                (i * 7919) % 100000
            )
        else:
            root = i % (n_side // 8)
            visit = (i * 7919) % 100000
        return (
            spark.range(n_side)
            .select(
                root.alias("rootid"),
                visit.alias("visit"),
                (F.lit(flux0) + (i % 1000).cast("double")).alias("psfflux"),
                F.lit(2.0).alias("psffluxerr"),
            )
            .dropDuplicates(["rootid", "visit"])
        )

    n_patch = int(os.environ.get("SCALE_SKEW_PATCH_ROWS", n // 2))
    for tag, hot in (("uniform", False), ("hot", True)):
        forced = patch_side(n_patch, hot, 100.0)
        dets = patch_side(n_patch // 4, hot, 200.0)
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            patch_lightcurve(forced, dets).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[f"patch_join_{n_patch // 1_000_000}M_{tag}_s"] = round(best, 2)
    return out


def bench_media(spark) -> dict:
    """Distributed media-codec throughput: the multimodal path's scale
    story.  JPEG thumbnails and AVI clips are synthesized AND consumed
    through the real Arrow mapInPandas operators (spec-derived codecs,
    no imaging library); payloads are materialized to scratch parquet
    first so the decode rows time decode, not synthesis."""
    import numpy as np
    import pandas as pd

    from fastdb_spark.pipeline.multimodal import (
        extract_features,
        resize_images,
        sample_frames_decoded,
    )
    from fastdb_spark.sources import avicodec as av
    from fastdb_spark.sources import imagecodec as ic
    from fastdb_spark.sources import jpegcodec as jc

    n_img = int(os.environ.get("SCALE_MEDIA_IMAGES", 100_000))
    n_vid = int(os.environ.get("SCALE_MEDIA_VIDEOS", 10_000))
    out = {"media_images_n": n_img, "media_videos_n": n_vid}
    scratch = tempfile.mkdtemp(prefix="fastdb_media_bench_")
    try:
        media_schema = (
            "media_id long, modality string, payload binary, mime string, "
            "width int, height int, duration_ms int"
        )

        def mk_jpegs(batches):
            for pdf in batches:
                rows = []
                for mid in pdf["id"]:
                    mid = int(mid)
                    k = np.arange(32 * 32, dtype=np.int64)
                    img = ((mid * 31 + k) % 256).astype(np.uint8).reshape(32, 32)
                    rows.append(
                        (mid, "image", bytearray(jc.encode_jpeg(img, quality=85)),
                         "image/jpeg", 32, 32, None)
                    )
                yield pd.DataFrame(
                    rows, columns=["media_id", "modality", "payload", "mime",
                                   "width", "height", "duration_ms"]
                )

        t0 = time.perf_counter()
        spark.range(n_img).repartition(64).mapInPandas(
            mk_jpegs, media_schema
        ).write.mode("overwrite").parquet(os.path.join(scratch, "jpegs"))
        dt = time.perf_counter() - t0
        out["jpeg_encode_32px_s"] = round(dt, 2)
        out["jpeg_encode_imgs_per_s"] = round(n_img / dt)

        imgs = spark.read.parquet(os.path.join(scratch, "jpegs"))
        t0 = time.perf_counter()
        extract_features(imgs, decoder=ic.real_decode_features).write.format(
            "noop"
        ).mode("overwrite").save()
        dt = time.perf_counter() - t0
        out["jpeg_featurize_s"] = round(dt, 2)
        out["jpeg_featurize_imgs_per_s"] = round(n_img / dt)

        t0 = time.perf_counter()
        resize_images(imgs, 16, 16, resizer=ic.real_resize).write.format(
            "noop"
        ).mode("overwrite").save()
        dt = time.perf_counter() - t0
        out["jpeg_resize_s"] = round(dt, 2)
        out["jpeg_resize_imgs_per_s"] = round(n_img / dt)

        from fastdb_spark.pipeline.imagededup import perceptual_hashes

        t0 = time.perf_counter()
        perceptual_hashes(imgs).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        out["jpeg_phash_s"] = round(dt, 2)
        out["jpeg_phash_imgs_per_s"] = round(n_img / dt)

        def mk_avis(batches):
            for pdf in batches:
                rows = []
                for mid in pdf["id"]:
                    mid = int(mid)
                    f = np.arange(16, dtype=np.int64).reshape(16, 1, 1, 1)
                    k = np.arange(16 * 16, dtype=np.int64).reshape(1, 16, 16, 1)
                    c = np.arange(3, dtype=np.int64).reshape(1, 1, 1, 3)
                    frames = ((mid * 7 + 5 * f + k + c) % 256).astype(np.uint8)
                    rows.append(
                        (mid, "video", bytearray(av.encode_avi(frames, fps=8,
                                                               codec="rgb")),
                         "video/avi", 16, 16, 2000)
                    )
                yield pd.DataFrame(
                    rows, columns=["media_id", "modality", "payload", "mime",
                                   "width", "height", "duration_ms"]
                )

        spark.range(n_vid).repartition(32).mapInPandas(
            mk_avis, media_schema
        ).write.mode("overwrite").parquet(os.path.join(scratch, "avis"))
        vids = spark.read.parquet(os.path.join(scratch, "avis"))
        # fps=8 over 16 frames = 2 s of video; every 500 ms -> 4 sampled
        # frames decoded per clip, 12 skipped by the chunk seek
        t0 = time.perf_counter()
        sample_frames_decoded(vids, every_ms=500).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.perf_counter() - t0
        out["avi_sample_decode_s"] = round(dt, 2)
        out["avi_sampled_frames_per_s"] = round(n_vid * 4 / dt)

        # capped-vs-uncapped A/B for the media hot-bucket guard (round
        # 8, the media twin of the text guard's A/B): the pair join runs
        # over a PRE-HASHED fingerprint frame (decode cost excluded —
        # the hazard and the guard both live in the join), 1M synthetic
        # fingerprints with one planted hot key of 2000 members (the
        # solid-color-thumbnail shape: uncapped it alone emits ~2M
        # pairs).  The guard's delta on a CLEAN frame is the price; its
        # effect on the HOT frame is the protection.
        from fastdb_spark.pipeline.dedup import cap_bucket_sizes

        n_fp = int(os.environ.get("SCALE_MEDIA_FP", 1_000_000))
        fps_clean = spark.range(n_fp).select(
            F.col("id").alias("media_id"),
            F.xxhash64(F.col("id")).alias("phash"),
        )
        fps_hot = spark.range(n_fp).select(
            F.col("id").alias("media_id"),
            F.when(F.col("id") < 2000, F.lit(0))
            .otherwise(F.xxhash64(F.col("id")))
            .alias("phash"),
        )

        def pair_join(hashes, cap):
            capped = cap_bucket_sizes(hashes, ["phash"], cap)
            a = capped.select(
                F.col("media_id").alias("id_a"), F.col("phash").alias("h_a")
            )
            b = capped.select(
                F.col("media_id").alias("id_b"), F.col("phash").alias("h_b")
            )
            return (
                a.join(b, F.col("h_a") == F.col("h_b"))
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
            )

        for label, frame, cap in (
            ("media_pairs_clean_uncapped", fps_clean, None),
            ("media_pairs_clean_capped", fps_clean, 4096),
            ("media_pairs_hot_uncapped", fps_hot, None),
            ("media_pairs_hot_capped", fps_hot, 1024),
        ):
            t0 = time.perf_counter()
            n_pairs = pair_join(frame, cap).count()
            out[f"{label}_s"] = round(time.perf_counter() - t0, 2)
            out[f"{label}_pairs"] = n_pairs
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return out


def bench_takedown(spark) -> dict:
    """Scale rows for the pruned dedup-index takedown (VERDICT r7 #5):
    removals against a 1M-doc index, id-bucketed (hive-partitioned by
    ``pmod(doc_id, 64)``, partition-pruned rewrites) vs flat (full
    three-table rewrite).  Two batch shapes: a 16-id batch — the routine
    DMCA/GDPR case, touching <=16/64 partitions, where pruning wins —
    and a 1000-id batch spread over every bucket, the worst case for
    pruning, where the bucketed layout must at least not regress (same
    three read+write jobs, just partitioned)."""
    import shutil
    import tempfile

    from fastdb_spark.pipeline.incdedup import (
        build_dedup_index,
        dedup_index_remove,
    )

    n = int(os.environ.get("SCALE_TAKEDOWN_DOCS", 1_000_000))
    out = {"takedown_docs_n": n}
    docs = synth_documents(spark, n)
    # ids that survive indexing: every 13th doc is a planted exact dup
    # (dropped keep-min), so step over a 13-coprime stride and skip them
    step = max(n // 52_000, 1)
    pool = [i for i in range(1, n, step) if i % 13 != 0]
    # two disjoint batches per shape: removals mutate state, so min-of-2
    # uses a DIFFERENT batch per trial (host-variance discipline —
    # single-trial A/Bs at this scale moved 2x between identical runs)
    small_batches = [pool[:16], pool[16:32]]
    large_batches = [pool[32 : 32 + 1000], pool[1032 : 1032 + 1000]]
    shapes = [
        ("takedown_16", small_batches),
        ("takedown_1k", large_batches),
    ]
    # 10k-id batches (VERDICT r8 #6): the backfill-scale takedown — at
    # 10M+ docs the pool is deep enough for two disjoint batches per
    # form.  Run BOTH call forms: the Python-list form (pre-fix this
    # was a raw 10^4-element isin literal, measured 5-7x slower at 1M
    # and 3-16x at 10M; _remove_ids now auto-switches lists >1024 to
    # the anti-join, so this row doubles as the auto-switch regression)
    # and the explicit single-column-DataFrame backfill form.
    if len(pool) >= 42_032:
        shapes.append(
            ("takedown_10k_isin", [pool[2_032:12_032], pool[12_032:22_032]])
        )
        shapes.append(
            (
                "takedown_10k_df",
                [pool[22_032:32_032], pool[32_032:42_032]],
            )
        )
    for layout, nb in (("bucketed", 64), ("flat", None)):
        path = tempfile.mkdtemp(prefix=f"fastdb_takedown_{layout}_")
        try:
            t0 = time.perf_counter()
            n_idx = build_dedup_index(
                docs, path, hash_impl="fast", id_buckets=nb
            )
            out[f"index_build_{layout}_s"] = round(time.perf_counter() - t0, 2)
            out[f"index_build_{layout}_docs"] = n_idx
            removed = 0
            for label, batches in shapes:
                times = []
                for batch in batches:
                    if label.endswith("_df"):
                        batch = spark.createDataFrame(
                            [(i,) for i in batch], "doc_id long"
                        )
                    t0 = time.perf_counter()
                    removed += dedup_index_remove(spark, batch, path)
                    times.append(round(time.perf_counter() - t0, 2))
                out[f"{label}_{layout}_s"] = min(times)
                out[f"{label}_{layout}_trials"] = times
            out[f"takedown_{layout}_removed"] = removed
        finally:
            shutil.rmtree(path, ignore_errors=True)
    return out


def bench_dedup_index(spark) -> dict:
    """VERDICT r12 #1 scale row: the dedup-index build/upsert/probe at
    deployment scale, with EVENT-LOG evidence that the heavy stages
    (sketch materialization, band join, MIS fixpoint, table writes) run
    WIDE — the sf0.1 gates' ~125 single-task jobs are scheduler latency
    on KB inputs, and this row is the proof the same code goes parallel
    when the data is real.  Records per-phase wall seconds plus, per
    phase, job/stage/task totals and the top stages by task count from
    the Spark event log (requires the session to have been built with
    spark.eventLog.enabled — main() does this under
    SCALE_DEDUP_INDEX_ONLY=1)."""
    import shutil
    import tempfile

    from fastdb_spark.pipeline.incdedup import (
        build_dedup_index,
        dedup_index_probe,
        dedup_index_upsert,
    )

    n = int(os.environ.get("SCALE_INDEX_DOCS", 10_000_000))
    batch = int(os.environ.get("SCALE_INDEX_BATCH", 200_000))
    out = {
        "index_docs_n": n,
        "batch_n": batch,
        "cpus": spark.sparkContext.defaultParallelism,
        "loadavg_start": round(os.getloadavg()[0], 2),
    }
    docs = synth_documents(spark, n)
    path = tempfile.mkdtemp(prefix="fastdb_indexscale_")
    windows: dict[str, tuple[int, int]] = {}

    def timed(tag, fn):
        t0 = time.perf_counter()
        t0ms = int(time.time() * 1000)
        r = fn()
        out[f"{tag}_s"] = round(time.perf_counter() - t0, 2)
        windows[tag] = (t0ms, int(time.time() * 1000))
        return r

    try:
        out["build_indexed"] = timed(
            "build",
            lambda: build_dedup_index(
                docs, path, hash_impl="fast", id_buckets=64
            ),
        )
        # DISJOINT id ranges: synth text derives from the doc seed, so a
        # fresh range is fresh content (see bench_compaction)
        fresh = synth_documents(spark, n + batch).filter(f"doc_id >= {n}")
        ids = timed(
            "upsert", lambda: dedup_index_upsert(spark, fresh, path)
        )
        out["upsert_appended"] = None if ids is None else len(ids)
        fresh2 = synth_documents(spark, n + 2 * batch).filter(
            f"doc_id >= {n + batch}"
        )
        out["probe_rows"] = timed(
            "probe",
            lambda: dedup_index_probe(spark, fresh2, path).count(),
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    out["loadavg_end"] = round(os.getloadavg()[0], 2)

    # per-phase stage evidence from the event log
    log_dir = spark.conf.get("spark.eventLog.dir", None)
    if log_dir:
        app = spark.sparkContext.applicationId
        lpath = os.path.join(log_dir.replace("file:", ""), app + ".inprogress")
        if not os.path.exists(lpath):
            lpath = os.path.join(log_dir.replace("file:", ""), app)
        phases = {
            t: {"jobs": 0, "stages": 0, "tasks": 0, "top_stages": []}
            for t in windows
        }
        try:
            with open(lpath) as f:
                for line in f:
                    try:
                        ev = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    k = ev.get("Event")
                    if k == "SparkListenerJobStart":
                        ts = ev["Submission Time"]
                        for t, (a, b) in windows.items():
                            if a <= ts <= b:
                                phases[t]["jobs"] += 1
                    elif k == "SparkListenerStageCompleted":
                        si = ev["Stage Info"]
                        ts = si.get("Submission Time") or 0
                        for t, (a, b) in windows.items():
                            if a <= ts <= b:
                                phases[t]["stages"] += 1
                                nt = si.get("Number of Tasks", 0)
                                phases[t]["tasks"] += nt
                                phases[t]["top_stages"].append(
                                    (nt, si.get("Stage Name", "")[:80])
                                )
        except OSError:
            phases = {}
        for t, ph in phases.items():
            ph["top_stages"] = [
                list(x)
                for x in sorted(ph["top_stages"], reverse=True)[:6]
            ]
            ph["widest_stage_tasks"] = (
                ph["top_stages"][0][0] if ph["top_stages"] else 0
            )
        out["phases"] = phases
    return out


def bench_compaction(spark) -> dict:
    """Scale row for index compaction (round 9): a long-lived index
    accretes one part file per touched bucket per upsert, and the
    vs-index probe pays footer-open + task-schedule overhead per file.
    Build an id-bucketed index, fragment it with many small upserts,
    measure upsert latency fragmented vs compacted plus the compaction
    cost itself."""
    import glob
    import shutil
    import tempfile

    from fastdb_spark.pipeline.incdedup import (
        build_dedup_index,
        compact_dedup_index,
        dedup_index_upsert,
    )

    n = int(os.environ.get("SCALE_COMPACT_DOCS", 500_000))
    n_upserts = int(os.environ.get("SCALE_COMPACT_UPSERTS", 25))
    out = {"compact_docs_n": n, "compact_upserts": n_upserts}
    path = tempfile.mkdtemp(prefix="fastdb_compact_")
    try:
        build_dedup_index(
            synth_documents(spark, n), path, hash_impl="fast", id_buckets=64
        )

        def fresh_batch(tag: int):
            # DISJOINT id range per batch: synth text derives from the
            # doc seed, so a fresh range means fresh content (an
            # id-offset alone reuses indexed text and the whole batch
            # deduplicates away — nothing would fragment)
            base = n + 10_000 * tag
            return synth_documents(spark, base + 2000).filter(
                f"doc_id >= {base}"
            )

        # fragment: small upserts, disjoint fresh content
        for k in range(n_upserts):
            dedup_index_upsert(spark, fresh_batch(k + 1), path)

        def count_files():
            return sum(
                len(glob.glob(os.path.join(path, t, "*", "part-*")))
                for t in ("fingerprints", "bands", "shingles")
            )

        def probe_upsert(tag: int) -> float:
            batch = fresh_batch(tag)
            t0 = time.perf_counter()
            dedup_index_upsert(spark, batch, path)
            return round(time.perf_counter() - t0, 2)

        out["files_fragmented"] = count_files()
        trials = [probe_upsert(100), probe_upsert(101)]
        out["upsert_fragmented_s"] = min(trials)
        out["upsert_fragmented_trials"] = trials
        t0 = time.perf_counter()
        stats = compact_dedup_index(spark, path, min_files=4)
        out["compact_s"] = round(time.perf_counter() - t0, 2)
        out["compact_stats"] = {
            t: s["buckets_compacted"] for t, s in stats.items()
        }
        out["files_compacted"] = count_files()
        trials = [probe_upsert(102), probe_upsert(103)]
        out["upsert_compacted_s"] = min(trials)
        out["upsert_compacted_trials"] = trials
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


def bench_media_index(spark) -> dict:
    """Scale row for the persisted perceptual media index (round-9
    plan #3): the text index's build/takedown/upsert series exists at
    1M-10M docs; this runs the SAME engine through the media hashes
    table at SCALE_MEDIA_INDEX_N fingerprints (default 5M) via
    ``method="precomputed"`` — the decode-free re-indexing path (the
    decode pass is pure map work a hasher fleet runs ahead of time; the
    index engine is what needs the distributed choreography, so it is
    what this row measures).  Series: id-bucketed build, takedown at
    16 / 1k / 10k ids (min-of-2 disjoint batches — removals mutate
    state), a 100k hamming-0 upsert with 10% planted dups of indexed
    content, the probe-only classification of the same shape, and
    compaction after the appends."""
    import glob
    import tempfile

    from fastdb_spark.pipeline.incmedia import (
        build_media_index,
        compact_media_index,
        media_index_probe,
        media_index_remove,
        media_index_upsert,
    )

    n = int(os.environ.get("SCALE_MEDIA_INDEX_N", 5_000_000))
    out = {"media_index_n": n}

    def synth_hashes(lo: int, hi: int, dup_pct: int = 0):
        # deterministic unique-ish 64-bit fingerprints; dup_pct% of the
        # batch reuses an INDEXED id's fingerprint (vs-index dups)
        base = spark.range(lo, hi).select(
            F.col("id").alias("media_id"),
            F.when(
                F.col("id") % 100 < dup_pct,
                F.xxhash64((F.col("id") % n).cast("string")),
            )
            .otherwise(F.xxhash64(F.col("id").cast("string")))
            .alias("fp"),
        )
        return base

    path = tempfile.mkdtemp(prefix="fastdb_media_index_scale_")
    try:
        t0 = time.perf_counter()
        n_idx = build_media_index(
            synth_hashes(0, n),
            path,
            payload_col="fp",
            method="precomputed",
            id_buckets=64,
        )
        out["build_s"] = round(time.perf_counter() - t0, 2)
        out["build_indexed"] = n_idx

        step = max(n // 52_000, 1)
        pool = list(range(1, n, step))
        shapes = [
            ("takedown_16", [pool[:16], pool[16:32]]),
            ("takedown_1k", [pool[32:1032], pool[1032:2032]]),
            ("takedown_10k", [pool[2032:12032], pool[12032:22032]]),
        ]
        for label, batches in shapes:
            times = []
            for batch in batches:
                if len(batch) < (16 if label.endswith("16") else 1000):
                    continue
                t0 = time.perf_counter()
                media_index_remove(spark, batch, path)
                times.append(round(time.perf_counter() - t0, 2))
            if times:
                out[f"{label}_s"] = min(times)
                out[f"{label}_trials"] = times

        probe_batch = synth_hashes(n, n + 100_000, dup_pct=10)
        t0 = time.perf_counter()
        verdicts = {
            r["verdict"]: r["n"]
            for r in media_index_probe(
                spark, probe_batch, path, payload_col="fp"
            )
            .groupBy("verdict")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        out["probe_100k_s"] = round(time.perf_counter() - t0, 2)
        out["probe_100k_verdicts"] = verdicts

        t0 = time.perf_counter()
        ids = media_index_upsert(spark, probe_batch, path, payload_col="fp")
        out["upsert_100k_s"] = round(time.perf_counter() - t0, 2)
        out["upsert_100k_survivors"] = len(ids) if ids is not None else -1

        out["files_before_compact"] = len(
            glob.glob(os.path.join(path, "hashes", "*", "part-*"))
        )
        t0 = time.perf_counter()
        stats = compact_media_index(spark, path, min_files=1)
        out["compact_s"] = round(time.perf_counter() - t0, 2)
        out["files_after_compact"] = stats["hashes"]["files_after"]
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


def bench_media_decode_index(spark) -> dict:
    """End-to-end DECODE-leg media index row (VERDICT r9 missing #5):
    the media_index rows use ``method="precomputed"`` to isolate the
    index engine, so the decode+DCT cost at index scale was only
    extrapolable from the 100k media_ops rows.  This row runs the REAL
    JPEG decode + pHash inside build / probe / upsert at
    SCALE_MEDIA_DECODE_N images (default 1M): payloads are synthesized
    to scratch parquet FIRST (the bench_media discipline — the decode
    rows time decode, not synthesis), 2% of the 100k increment are
    pixel-identical twins of indexed images (hamming-0 dups the probe
    must find), and every number is the full decode->hash->index
    choreography a crawler actually pays."""
    import glob
    import numpy as np
    import pandas as pd
    import tempfile

    from fastdb_spark.pipeline.incmedia import (
        build_media_index,
        compact_media_index,
        media_index_probe,
        media_index_upsert,
    )
    from fastdb_spark.sources import jpegcodec as jc

    n = int(os.environ.get("SCALE_MEDIA_DECODE_N", 1_000_000))
    inc = 100_000
    out = {"media_decode_n": n}
    scratch = tempfile.mkdtemp(prefix="fastdb_media_decode_")
    media_schema = (
        "media_id long, modality string, payload binary, mime string, "
        "width int, height int, duration_ms int"
    )

    def synth(lo: int, hi: int, twin_of: int | None, dest: str) -> float:
        def gen(batches):
            for pdf in batches:
                rows = []
                for mid in pdf["id"]:
                    mid = int(mid)
                    src = (
                        (mid - lo) % twin_of
                        if twin_of is not None and mid % 50 == 1
                        else mid
                    )
                    # per-id NOISE image: a ramp pattern ((id*31+k)%256)
                    # collapses 1M ids to ~241 distinct pHashes (the DCT
                    # low-band of shifted ramps aliases) — noise gives
                    # each id its own hash while twins stay pixel-exact
                    img = (
                        np.random.default_rng(src)
                        .integers(0, 256, (32, 32))
                        .astype(np.uint8)
                    )
                    rows.append(
                        (mid, "image",
                         bytearray(jc.encode_jpeg(img, quality=85)),
                         "image/jpeg", 32, 32, None)
                    )
                yield pd.DataFrame(
                    rows, columns=["media_id", "modality", "payload",
                                   "mime", "width", "height", "duration_ms"]
                )

        t0 = time.perf_counter()
        spark.range(lo, hi).repartition(64).mapInPandas(
            gen, media_schema
        ).write.mode("overwrite").parquet(dest)
        return round(time.perf_counter() - t0, 2)

    path = tempfile.mkdtemp(prefix="fastdb_media_decode_idx_")
    try:
        out["synth_base_s"] = synth(0, n, None, os.path.join(scratch, "base"))
        out["synth_inc_s"] = synth(
            n, n + inc, n, os.path.join(scratch, "inc")
        )
        base = spark.read.parquet(os.path.join(scratch, "base"))
        batch = spark.read.parquet(os.path.join(scratch, "inc"))

        t0 = time.perf_counter()
        n_idx = build_media_index(base, path, method="phash")
        dt = time.perf_counter() - t0
        out["build_decode_s"] = round(dt, 2)
        out["build_decode_imgs_per_s"] = round(n / dt)
        out["build_indexed"] = n_idx

        t0 = time.perf_counter()
        verdicts = {
            r["verdict"]: r["n"]
            for r in media_index_probe(spark, batch, path)
            .groupBy("verdict")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        dt = time.perf_counter() - t0
        out["probe_decode_100k_s"] = round(dt, 2)
        out["probe_decode_imgs_per_s"] = round(inc / dt)
        out["probe_100k_verdicts"] = verdicts

        t0 = time.perf_counter()
        ids = media_index_upsert(spark, batch, path)
        out["upsert_decode_100k_s"] = round(time.perf_counter() - t0, 2)
        out["upsert_100k_survivors"] = len(ids) if ids is not None else -1

        out["files_before_compact"] = len(
            glob.glob(os.path.join(path, "hashes", "*", "part-*"))
        )
        t0 = time.perf_counter()
        stats = compact_media_index(spark, path, min_files=1)
        out["compact_s"] = round(time.perf_counter() - t0, 2)
        out["files_after_compact"] = stats["hashes"]["files_after"]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(path, ignore_errors=True)
    return out


def bench_ivf_guard(spark) -> dict:
    """Scale row for the IVF replay guard (round 9): price
    ``ivf_index_upsert(dedup_ids=True)`` against the bare append at a
    1M-vector index.  The guard's stored-ids read is partition-pruned to
    the batch's own clusters, so its cost should track the touched
    fraction, not the index size; a 50k batch over seeded synthetic
    vectors touches most of 64 clusters (worst case for pruning) and the
    delta is the honest upper bound on what a stream pays per
    micro-batch for replay safety."""
    import tempfile

    from fastdb_spark.pipeline.ann import build_ivf_index, ivf_index_upsert

    n = int(os.environ.get("SCALE_IVF_GUARD_N", 1_000_000))
    dim = 16
    out = {"ivf_guard_n": n, "ivf_guard_dim": dim}

    def vecs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("vec_id"),
            F.array(
                *[
                    ((F.col("id") * 31 + j * 7) % 97).cast("double")
                    for j in range(dim)
                ]
            ).alias("embedding"),
        )

    path = tempfile.mkdtemp(prefix="fastdb_ivf_guard_")
    try:
        t0 = time.perf_counter()
        build_ivf_index(vecs(0, n), path, n_clusters=64, strategy="seed")
        out["build_s"] = round(time.perf_counter() - t0, 2)
        # two disjoint fresh batches per mode (min-of-2; appends mutate)
        base = n
        for mode, flag in (("bare", False), ("guarded", True)):
            times = []
            for k in range(2):
                b = vecs(base, base + 50_000)
                base += 50_000
                t0 = time.perf_counter()
                ivf_index_upsert(b, path, dedup_ids=flag)
                times.append(round(time.perf_counter() - t0, 2))
            out[f"upsert_50k_{mode}_s"] = min(times)
            out[f"upsert_50k_{mode}_trials"] = times
        # the replay itself: re-upsert the last batch guarded — must
        # append nothing
        replay = vecs(base - 50_000, base)
        t0 = time.perf_counter()
        appended = ivf_index_upsert(replay, path, dedup_ids=True)
        out["replay_50k_s"] = round(time.perf_counter() - t0, 2)
        out["replay_50k_appended"] = appended
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


def bench_semdedup(spark) -> dict:
    """Scale row for SemDeDup (round 9): SCALE_SEMDEDUP_N vectors
    (default 1M; the round-11 series adds 10M), k = max(256, n/4000)
    frozen clusters (~3.9k members each — the paper's cluster-size
    regime at every n), a planted 2% twin fraction recovered EXACTLY
    (dropped == planted count, asserted in the row), full assignment ->
    per-cluster GEMM -> transitive closure -> keeper election.

    SCALE_SEMDEDUP_AB=1 (default at n <= 1M) re-times the same corpus
    with the row-blocking effectively disabled via the session conf
    (one slab per cluster — safe here: ~3.9k-member clusters are
    ~120 MB matrices) — the recorded blocked-vs-unblocked A/B VERDICT
    r10 #4 asked for.

    Also prices the degenerate case the guard exists for: one corpus
    where every vector lands in ONE cluster (a 1M-member GEMM task
    would be 10^12 cosines / a multi-TB score matrix) — the guard skips
    it in one window pass and audits the skip."""
    from fastdb_spark.cachereg import release_staged
    from fastdb_spark.pipeline.ann import _hyperplane
    from fastdb_spark.pipeline.semdedup import (
        LAST_SEMDEDUP_AUDIT,
        semantic_dedup,
        semantic_pairs,
    )

    n = int(os.environ.get("SCALE_SEMDEDUP_N", 1_000_000))
    dim = 32
    k = int(os.environ.get("SCALE_SEMDEDUP_K", max(256, n // 4000)))
    lbl = f"{n / 1e6:g}m"
    out = {"semdedup_n": n, "semdedup_dim": dim, "semdedup_k": k}
    cents = [_hyperplane(5000 + c, dim) for c in range(k)]
    carr = F.array(*[F.lit(c).cast("array<double>") for c in cents])
    own = F.element_at(carr, (F.pmod(F.col("base"), F.lit(k)) + 1).cast("int"))

    # base vector: own center + deterministic noise; ids with id%50==1
    # are near-twins of id-1 (tiny extra perturbation) -> ~2% dup rate
    def corpus():
        # id-unique noise (xxhash64 per (id, dim) — a modular-arithmetic
        # pattern like (id*31+j*7)%97 has period 97 and collapses the
        # corpus into exact-duplicate classes, measured 40M pairs)
        noise = F.array(
            *[
                (
                    F.pmod(F.xxhash64(F.col("base"), F.lit(j)), F.lit(1000003))
                    .cast("double")
                    / F.lit(1000003.0)
                    - F.lit(0.5)
                )
                for j in range(dim)
            ]
        )
        twin = (F.col("id") % 50 == 1) & (F.col("id") > 0)
        eps_v = F.when(twin, F.lit(1e-4)).otherwise(F.lit(0.0))
        return (
            spark.range(n)
            .withColumn("base", F.when(twin, F.col("id") - 1).otherwise(F.col("id")))
            .select(
                F.col("id").alias("vec_id"),
                F.zip_with(
                    own, noise, lambda c, e: c + F.lit(0.35) * e + eps_v
                ).alias("embedding"),
            )
        )

    def timed_run() -> tuple[float, int, int]:
        t0 = time.perf_counter()
        res = semantic_dedup(
            corpus(), cents, eps=0.99, strategy="gemm",
            assign_strategy="gemm",
        )
        agg = res.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("is_keeper").cast("long")).alias("keepers"),
        ).collect()[0]
        dt = round(time.perf_counter() - t0, 2)
        release_staged()
        return dt, int(agg["rows"]), int(agg["keepers"])

    dt, rows, keepers = timed_run()
    out[f"semdedup_{lbl}_s"] = dt
    out[f"semdedup_{lbl}_rows"] = rows
    out[f"semdedup_{lbl}_keepers"] = keepers
    out[f"semdedup_{lbl}_dropped"] = rows - keepers
    # exact planted-twin recovery: ids == 1 (mod 50), id > 0
    planted = (n - 2) // 50 + 1 if n > 1 else 0
    out[f"semdedup_{lbl}_expected_dropped"] = planted
    out[f"semdedup_{lbl}_exact_recovery"] = (rows - keepers) == planted

    # blocked-vs-unblocked A/B (VERDICT r10 #4): same corpus, row
    # blocking lifted through the session conf — records what the
    # OOM-safety blocking costs at gate-realistic cluster sizes
    if os.environ.get("SCALE_SEMDEDUP_AB", "1" if n <= 1_000_000 else "0") == "1":
        spark.conf.set("spark.fastdb.gemm.rowBlock", str(1 << 30))
        try:
            dt_u, rows_u, keepers_u = timed_run()
        finally:
            spark.conf.unset("spark.fastdb.gemm.rowBlock")
        out[f"semdedup_{lbl}_unblocked_s"] = dt_u
        out[f"semdedup_{lbl}_unblocked_matches"] = (
            rows_u == rows and keepers_u == keepers
        )

    # degenerate clustering: every vector in cluster 0 (single frozen
    # centroid).  Uncapped this is one 10^12-cosine task; the guard
    # turns it into a window pass + an audited no-op.
    t0 = time.perf_counter()
    npairs = semantic_pairs(
        corpus(), [cents[0]], eps=0.99, strategy="gemm",
        max_cluster_size=100_000, assign_strategy="gemm",
    ).count()
    out["semdedup_degenerate_guard_s"] = round(time.perf_counter() - t0, 2)
    out["semdedup_degenerate_pairs"] = int(npairs)
    out["semdedup_degenerate_skipped"] = LAST_SEMDEDUP_AUDIT[
        "skipped_clusters"
    ]
    release_staged()
    return out


def bench_ann_batch(spark) -> dict:
    """Query-service amortization row (round 11, backs the new
    ann_ivfpq_batch gate): build a persisted IVF-PQ index at
    SCALE_ANN_BATCH_N vectors (default 1M), then answer the same
    SCALE_ANN_BATCH_Q queries (default 64) two ways — one
    ``ivfpq_search_index`` job chain PER QUERY (what a naive endpoint
    does: Q scans of the probed partitions, Q driver roundtrips) vs ONE
    ``ivfpq_search_index_many`` pass (the whole batch rides one scan of
    the UNION of probed partitions; per-query LUT/offset broadcast as
    probe-table rows).  Reports both walls, the amortization ratio, and
    asserts the batched rows EQUAL the sequential rows per query."""
    import shutil
    import tempfile

    from fastdb_spark.cachereg import release_staged
    from fastdb_spark.pipeline.ann import (
        _hyperplane,
        build_ivf_index,
        ivfpq_search_index,
        ivfpq_search_index_many,
    )

    n = int(os.environ.get("SCALE_ANN_BATCH_N", 1_000_000))
    n_q = int(os.environ.get("SCALE_ANN_BATCH_Q", 64))
    dim, k_clusters, nprobe, topk, rerank = 32, 256, 4, 10, 100
    out = {
        "ann_batch_n": n, "ann_batch_q": n_q,
        "ann_batch_k": k_clusters, "ann_batch_nprobe": nprobe,
    }
    cents = [_hyperplane(5000 + c, dim) for c in range(k_clusters)]
    carr = F.array(*[F.lit(c).cast("array<double>") for c in cents])
    own = F.element_at(
        carr, (F.pmod(F.col("id"), F.lit(k_clusters)) + 1).cast("int")
    )
    noise = F.array(
        *[
            (
                F.pmod(F.xxhash64(F.col("id"), F.lit(j)), F.lit(1000003))
                .cast("double")
                / F.lit(1000003.0)
                - F.lit(0.5)
            )
            for j in range(dim)
        ]
    )
    corpus = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.zip_with(own, noise, lambda c, e: c + F.lit(0.35) * e).alias(
            "embedding"
        ),
    )
    root = tempfile.mkdtemp(prefix="fastdb_annbatch_")
    path = os.path.join(root, "ivfpq")
    try:
        t0 = time.perf_counter()
        build_ivf_index(
            corpus, path, n_clusters=k_clusters, centroids=cents,
            pq_m=8, pq_k=16, pq_residual=False,
        )
        out["ann_batch_build_s"] = round(time.perf_counter() - t0, 2)
        release_staged()

        qrows = (
            corpus.filter(F.col("vec_id") % (n // n_q) == 0)
            .limit(n_q)
            .collect()
        )
        queries = {
            str(r["vec_id"]): list(map(float, r["embedding"])) for r in qrows
        }
        out["ann_batch_queries"] = len(queries)

        t0 = time.perf_counter()
        seq = {}
        for qid, vec in queries.items():
            seq[qid] = [
                (r["vec_id"], r["cos"])
                for r in ivfpq_search_index(
                    spark, path, vec, k=topk, nprobe=nprobe, rerank=rerank
                ).collect()
            ]
        out["ann_batch_sequential_s"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        many_rows = ivfpq_search_index_many(
            spark, path, queries, k=topk, nprobe=nprobe, rerank=rerank
        ).collect()
        out["ann_batch_batched_s"] = round(time.perf_counter() - t0, 2)
        out["ann_batch_amortization_x"] = round(
            out["ann_batch_sequential_s"]
            / max(out["ann_batch_batched_s"], 1e-9),
            2,
        )
        many = {}
        for r in many_rows:
            many.setdefault(r["query_id"], []).append(
                (r["vec_id"], r["cos"])
            )
        out["ann_batch_equal"] = all(
            sorted(many.get(qid, [])) == sorted(seq[qid]) for qid in seq
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    release_staged()
    return out


def bench_hybrid_batch(spark) -> dict:
    """Query-log amortization row (round 12, backs the new
    hybrid_search_rrf_batch gate): a SCALE_HYBRID_DOCS-document corpus
    (default 2M) + SCALE_HYBRID_EMBS embeddings (default 1M) answered
    for SCALE_HYBRID_Q hybrid BM25+cosine queries (default 32) two
    ways — one ``hybrid_topk_rrf`` call PER QUERY (2 corpus passes
    each: 2Q scans total) vs ONE ``hybrid_topk_rrf_many`` pass (2
    corpus passes TOTAL, union-of-terms filter + broadcast
    query-vector batch).  Reports both walls, the amortization ratio,
    and asserts the batched rows EQUAL the sequential rows per
    query."""
    from fastdb_spark.cachereg import release_staged
    from fastdb_spark.pipeline.ann import _hyperplane
    from fastdb_spark.pipeline.retrieval import (
        hybrid_topk_rrf,
        hybrid_topk_rrf_many,
    )

    n_docs = int(os.environ.get("SCALE_HYBRID_DOCS", 2_000_000))
    n_embs = int(os.environ.get("SCALE_HYBRID_EMBS", 1_000_000))
    n_q = int(os.environ.get("SCALE_HYBRID_Q", 32))
    dim, k_clusters, topk, pool = 32, 64, 10, 50
    out = {
        "hybrid_docs_n": n_docs, "hybrid_embs_n": n_embs,
        "hybrid_q": n_q, "hybrid_pool": pool,
    }
    docs = synth_documents(spark, n_docs)
    cents = [_hyperplane(7000 + c, dim) for c in range(k_clusters)]
    carr = F.array(*[F.lit(c).cast("array<double>") for c in cents])
    own = F.element_at(
        carr, (F.pmod(F.col("id"), F.lit(k_clusters)) + 1).cast("int")
    )
    noise = F.array(
        *[
            (
                F.pmod(F.xxhash64(F.col("id"), F.lit(j)), F.lit(1000003))
                .cast("double")
                / F.lit(1000003.0)
                - F.lit(0.5)
            )
            for j in range(dim)
        ]
    )
    embs = spark.range(n_embs).select(
        F.col("id").alias("vec_id"),
        F.zip_with(own, noise, lambda c, e: c + F.lit(0.35) * e).alias(
            "embedding"
        ),
    )
    # deterministic query log: 3 distinct vocab terms per query (stride
    # walk over the 64-word vocab) + an in-corpus query vector each
    qvec_rows = (
        embs.filter(F.col("vec_id") % (n_embs // n_q) == 0)
        .limit(n_q)
        .collect()
    )
    queries = {}
    for qi, r in enumerate(qvec_rows):
        terms = [VOCAB[(qi * 7 + 13 * t) % 64] for t in range(3)]
        queries[f"q{qi:03d}"] = (terms, list(map(float, r["embedding"])))
    out["hybrid_queries"] = len(queries)

    t0 = time.perf_counter()
    seq = {}
    for qid, (terms, vec) in queries.items():
        seq[qid] = [
            (r["doc_id"], r["lex_rank"], r["sem_rank"], r["rrf"])
            for r in hybrid_topk_rrf(
                docs, embs, terms, vec, k=topk, pool=pool
            ).collect()
        ]
    out["hybrid_sequential_s"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    many_rows = hybrid_topk_rrf_many(
        docs, embs, queries, k=topk, pool=pool
    ).collect()
    out["hybrid_batched_s"] = round(time.perf_counter() - t0, 2)
    out["hybrid_amortization_x"] = round(
        out["hybrid_sequential_s"] / max(out["hybrid_batched_s"], 1e-9), 2
    )
    many = {}
    for r in many_rows:
        many.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["lex_rank"], r["sem_rank"], r["rrf"])
        )
    out["hybrid_equal"] = all(
        sorted(many.get(qid, [])) == sorted(seq[qid]) for qid in seq
    )
    release_staged()
    return out


def bench_semindex(spark) -> dict:
    """Scale row for the incremental semantic index (round 9): build at
    1M vectors / 256 clusters, dry-run probe + admission upsert of a
    100k increment (2% planted twins of stored vectors), full replay,
    1k-id takedown, compaction.  The vs-index probe reads only touched
    cluster partitions; admission GEMM tasks are bounded by n/k."""
    import shutil
    import tempfile

    from fastdb_spark.pipeline.ann import _hyperplane
    from fastdb_spark.pipeline.incsem import (
        build_semantic_index,
        compact_semantic_index,
        semantic_index_probe,
        semantic_index_remove,
        semantic_index_upsert,
    )

    n = int(os.environ.get("SCALE_SEMINDEX_N", 1_000_000))
    dim, inc = 32, 100_000
    # k scales with n (~4k vectors per cluster, the SemDeDup-paper
    # shape): a fixed k=256 at 10M means 39k-row clusters whose
    # in-batch pair GEMM is a 39k x 39k = 12 GB task — k is the knob
    # that bounds the task, so the bench turns it like production would
    k = int(os.environ.get("SCALE_SEMINDEX_K", max(256, n // 4000)))
    out = {"semindex_n": n, "semindex_dim": dim, "semindex_k": k}
    cents = [_hyperplane(5000 + c, dim) for c in range(k)]
    carr = F.array(*[F.lit(c).cast("array<double>") for c in cents])
    own = F.element_at(carr, (F.pmod(F.col("base"), F.lit(k)) + 1).cast("int"))

    def vecs(lo, hi, twin_of=None):
        # id-unique noise around the id's center; twin_of plants every
        # 50th row as a near-copy of a BASE-range vector (a stored twin)
        noise_of = F.col("base")
        df = spark.range(lo, hi)
        if twin_of is not None:
            twin = F.col("id") % 50 == 1
            df = df.withColumn(
                "base", F.when(twin, (F.col("id") - lo) % twin_of).otherwise(F.col("id")))
        else:
            df = df.withColumn("base", F.col("id"))
        noise = F.array(
            *[
                (
                    F.pmod(F.xxhash64(F.col("base"), F.lit(j)), F.lit(1000003))
                    .cast("double") / F.lit(1000003.0) - F.lit(0.5)
                )
                for j in range(dim)
            ]
        )
        return df.select(
            F.col("id").alias("vec_id"),
            F.zip_with(own, noise, lambda c, e: c + F.lit(0.35) * e).alias(
                "embedding"
            ),
        )

    path = tempfile.mkdtemp(prefix="fastdb_semindex_")
    try:
        t0 = time.perf_counter()
        n_built = build_semantic_index(
            vecs(0, n), path, eps=0.99, centroids=cents, strategy="gemm"
        )
        out["build_1m_s"] = round(time.perf_counter() - t0, 2)
        out["build_1m_admitted"] = n_built
        skip = set(
            filter(None, os.environ.get("SCALE_SEMINDEX_SKIP", "").split(","))
        )
        batch = vecs(n, n + inc, twin_of=n)
        t0 = time.perf_counter()
        verdicts = None if "probe" in skip else semantic_index_probe(
            spark, batch, path
        )
        if verdicts is not None:
            hist = {
                r["verdict"]: r["n"]
                for r in verdicts.groupBy("verdict")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            out["probe_100k_s"] = round(time.perf_counter() - t0, 2)
            out["probe_100k_verdicts"] = hist
        if "upsert" not in skip:
            t0 = time.perf_counter()
            appended = semantic_index_upsert(batch, path)
            out["upsert_100k_s"] = round(time.perf_counter() - t0, 2)
            out["upsert_100k_appended"] = appended
        if "replay" not in skip:
            t0 = time.perf_counter()
            replayed = semantic_index_upsert(batch, path, dedup_ids=True)
            out["replay_100k_s"] = round(time.perf_counter() - t0, 2)
            out["replay_100k_appended"] = replayed
        # SCALE_SEMINDEX_RM_STEP picks the takedown spread: step 100
        # lands the 1k ids on gcd-bound clusters (25 at k=2500); a step
        # coprime to k (e.g. 101) spreads them over ~min(1000, k)
        # clusters.  Both shapes are one rewrite job with a rename swap
        # per touched cluster; the spread prices the swaps and the
        # wider write.  SCALE_SEMINDEX_SKIP="probe,upsert,replay,
        # compact" trims the series to build+takedown.
        rm_step = int(os.environ.get("SCALE_SEMINDEX_RM_STEP", 100))
        t0 = time.perf_counter()
        out["takedown_1k_removed"] = semantic_index_remove(
            spark, list(range(0, 100_000, rm_step)), path
        )
        out["takedown_1k_s"] = round(time.perf_counter() - t0, 2)
        out["takedown_rm_step"] = rm_step
        if "compact" not in skip:
            t0 = time.perf_counter()
            c = compact_semantic_index(spark, path, min_files=1)
            out["compact_s"] = round(time.perf_counter() - t0, 2)
            out["compact_files"] = (
                f"{c['vectors']['files_before']}"
                f"->{c['vectors']['files_after']}"
            )
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


def main() -> None:
    extra_conf = None
    if os.environ.get("SCALE_DEDUP_INDEX_ONLY", "0") == "1":
        # the dedup-index scale row reads its own event log for the
        # wide-stage evidence (VERDICT r12 #1)
        log_dir = os.environ.get(
            "SCALE_EVENTLOG_DIR", "/tmp/fastdb_scale_eventlog"
        )
        os.makedirs(log_dir, exist_ok=True)
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        }
    spark = get_spark(
        "fastdb-scale-bench",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count())}]",
        extra_conf=extra_conf,
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    out = {}

    if os.environ.get("SCALE_LLM_ONLY", "0") == "1":
        out["llm_ops"] = bench_llm_ops(spark)
        print(json.dumps(out))
        return

    if os.environ.get("SCALE_SKEW_ONLY", "0") == "1":
        out["skew"] = bench_skew(spark)
        print(json.dumps(out))
        return

    if os.environ.get("SCALE_MEDIA_ONLY", "0") == "1":
        out["media_ops"] = bench_media(spark)
        print(json.dumps(out))
        return

    if os.environ.get("SCALE_DEDUP_INDEX_ONLY", "0") == "1":
        out["dedup_index"] = bench_dedup_index(spark)
        print(json.dumps(out))
        return

    if os.environ.get("SCALE_TAKEDOWN_ONLY", "0") == "1":
        out["takedown"] = bench_takedown(spark)
        print(json.dumps(out))
        return

    if os.environ.get("SCALE_COMPACT_ONLY", "0") == "1":
        out["compaction"] = bench_compaction(spark)
        print(json.dumps(out))
        return

    if os.environ.get("SCALE_MEDIA_INDEX_ONLY", "0") == "1":
        out["media_index"] = bench_media_index(spark)
        print(json.dumps(out))
        return

    if os.environ.get("SCALE_MEDIA_DECODE_ONLY", "0") == "1":
        out["media_index_decode"] = bench_media_decode_index(spark)
        print(json.dumps(out))
        return

    if os.environ.get("SCALE_IVF_GUARD_ONLY", "0") == "1":
        out["ivf_guard"] = bench_ivf_guard(spark)
        print(json.dumps(out))
        return

    if os.environ.get("SCALE_SEMDEDUP_ONLY", "0") == "1":
        out["semdedup"] = bench_semdedup(spark)
        print(json.dumps(out))
        return

    if os.environ.get("SCALE_SEMINDEX_ONLY", "0") == "1":
        out["semindex"] = bench_semindex(spark)
        print(json.dumps(out))
        return

    if os.environ.get("SCALE_ANN_BATCH_ONLY", "0") == "1":
        out["ann_batch"] = bench_ann_batch(spark)
        print(json.dumps(out))
        return

    if os.environ.get("SCALE_HYBRID_ONLY", "0") == "1":
        out["hybrid_batch"] = bench_hybrid_batch(spark)
        print(json.dumps(out))
        return

    src = synth_photometry(spark, N_SOURCES, N_SOURCES // 15)
    key = F.struct("diaobjectid", "visit")

    t0 = time.perf_counter()
    n = src.agg(F.count_distinct(key).alias("n")).collect()[0]["n"]
    out["count_sources_60M_exact_s"] = round(time.perf_counter() - t0, 2)
    out["count_sources_60M_rows"] = n

    t0 = time.perf_counter()
    est = src.agg(F.approx_count_distinct(key).alias("n")).collect()[0]["n"]
    out["count_sources_60M_hll_s"] = round(time.perf_counter() - t0, 2)
    out["count_sources_60M_hll_err"] = round(abs(est - n) / n, 4)

    from fastdb_spark.operators.dedup import dedup_top_priority

    t0 = time.perf_counter()
    dedup_top_priority(
        src, ["diaobjectid", "visit"], ["priority", "rowid"]
    ).write.format("noop").mode("overwrite").save()
    out["priority_dedup_60M_s"] = round(time.perf_counter() - t0, 2)

    frc = synth_photometry(spark, N_FORCED, N_FORCED // 220)
    t0 = time.perf_counter()
    nf = frc.agg(F.count_distinct(key).alias("n")).collect()[0]["n"]
    out["count_forced_900M_exact_s"] = round(time.perf_counter() - t0, 2)
    out["count_forced_900M_rows"] = nf

    t0 = time.perf_counter()
    frc.agg(F.approx_count_distinct(key).alias("n")).collect()
    out["count_forced_900M_hll_s"] = round(time.perf_counter() - t0, 2)

    out.update(bench_ingest(spark))
    if os.environ.get("SCALE_LLM", "1") == "1":
        out["llm_ops"] = bench_llm_ops(spark)

    out["reference_baseline"] = {
        "count_sources_60M_s": "60-120 (docs/usage.rst:164)",
        "count_forced_900M_s": ">600 (docs/usage.rst:164)",
        "ingest_alerts_per_s": ">=600 sustained (notes/rob_stress_2025apr.txt)",
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
