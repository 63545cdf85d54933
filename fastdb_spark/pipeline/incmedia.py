"""Incremental PERCEPTUAL media dedup against a persisted fingerprint
index — the media twin of ``pipeline.incdedup`` (text) and
``ann.ivf_index_upsert`` (vectors).  Multimodal by method dispatch:
``phash``/``dhash`` (images), ``video`` (sampled-frame clip
fingerprints), ``audio`` (Haitsma-Kalker spectral fingerprints) — all
normalized to one 64-bit ``phash`` column so the index, probe, and
takedown shapes are modality-agnostic.

A multimodal corpus grows by crawl increments; re-decoding and
re-pairing the full image corpus per daily batch is the naive O(N)
answer.  The persisted index holds one row per surviving media item —
``(phash bigint, media_id)`` and nothing else: band keys for the
hamming>0 probe are pure shift/mask functions of the 64-bit hash
(``imagededup._banded``), so no band or payload table is needed, and
takedown touches exactly one table.

Index layout (``path/``):

- ``hashes/``    — (phash, media_id) parquet, hive-partitioned by
  ``id_bucket = pmod(media_id, id_buckets)`` for partition-pruned
  takedowns (the round-8 id-bucket layout, written by the text
  index's shared writer ``incdedup._write_id_bucketed``).
- ``_meta.json`` — hash method (phash/dhash) + id_buckets; upserts
  enforce consistency (a batch hashed with the other method would match
  nothing and silently disable dedup).
- ``_schemas.json`` — the ``hashes`` schema, recorded by the build;
  every open reads with it (``incdedup._open``).

Incremental semantics (stated precisely, tested): a new item is dropped
iff (a) some INDEXED item's fingerprint is within ``max_hamming`` of
its own, or (b) the in-batch greedy-MIS pass drops it (keep x iff no
KEPT lower-id item is within ``max_hamming`` — the replay-idempotent
rule, ``dedup.greedy_mis_drops``; at hamming 0 this is exactly
keep-min-per-fingerprint).  Probe and upsert share one classification
(:func:`_classify`): the upsert appends exactly what the probe calls
``fresh``.  Removal is NOT retroactive: items dropped in earlier batches
because they duplicated a now-removed item stay dropped; a re-ingest of
the removed content is accepted again.  Concurrent upserts serialize on
the table write lock.

Scale shape: the decode+DCT cost is paid ONCE per new item (Arrow
``mapInPandas``); the vs-index probe is a band-equi-join against the
stored hashes (never all-pairs), with the ``cap_bucket_sizes`` guard
available for degenerate fingerprint families; takedown rewrites only
the hive partitions holding removed ids.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastdb_spark.locks import table_write_lock
from fastdb_spark.pipeline.imagededup import (
    hash_matches,
    hash_pairs,
    perceptual_hashes,
)
from fastdb_spark.pipeline.dedup import DEFAULT_MAX_BUCKET
from fastdb_spark.pipeline.incdedup import (
    DEFAULT_ID_BUCKETS,
    DEFAULT_ID_CEILING,
    _align_id_buckets,
    _bucket_layout,
    _open,
    _record_schemas,
    _remove_ids,
    _stream_index,
    _write_id_bucketed,
)

_META = "_meta.json"

#: audit of the most recent :func:`media_index_upsert`'s candidate-cap
#: truncation (the media twin of ``incdedup.LAST_UPSERT_AUDIT``): new
#: items whose banded vs-index candidate set was cut at
#: ``max_bucket_size`` MIGHT have had their one true near-dup dropped.
#: ``truncated_items`` is a FLOOR capped at 101 (one bounded
#: limit-collect); ``sample`` holds at most 100 ids.  Reset at the top of
#: every upsert, so an uncapped (or hamming-0 — structurally capless,
#: see ``imagededup.hash_matches``) run reports zeros.
LAST_UPSERT_AUDIT: dict = {"truncated_items": 0, "sample": []}


def _params_path(path: str) -> str:
    return os.path.join(path, _META)


def _load_params(path: str) -> dict:
    with open(_params_path(path)) as f:
        return json.load(f)


def _hash_frame(
    media: DataFrame,
    id_col: str,
    payload_col: str,
    method: str,
    every_ms: int,
    audio_kw: dict | None,
) -> DataFrame:
    """Dispatch the per-modality fingerprint mapInPandas; the hash
    column is normalized to ``phash`` so every downstream join/band/
    takedown shape is modality-agnostic.  Undecodable payloads are
    skipped in every leg (the shared torn-payload contract).

    ``method="precomputed"`` skips hashing entirely: ``payload_col``
    already holds the int64 fingerprint (an external hasher, a GPU
    fleet, or a previous index's hashes table).  This is how a 100 TB
    corpus re-bands without re-decoding — the decode pass costs days
    and is pure map work anyone can run ahead of time; the index engine
    (band/probe/takedown/compaction) is the part that needs the
    distributed choreography.  Recorded in the index metadata like any
    other method, so every later upsert/probe must supply fingerprints
    too — mixing a precomputed index with decoded batches would silently
    compare different hash families."""
    if method == "precomputed":
        return media.select(
            F.col(id_col), F.col(payload_col).cast("long").alias("phash")
        )
    if method in ("phash", "dhash"):
        return perceptual_hashes(media, id_col, payload_col, method)
    if method == "video":
        from fastdb_spark.pipeline.imagededup import video_fingerprints

        return video_fingerprints(
            media, id_col, payload_col, every_ms
        ).withColumnRenamed("vfp", "phash")
    if method == "audio":
        from fastdb_spark.pipeline.audiodedup import audio_hashes

        return audio_hashes(
            media, id_col, payload_col, **(audio_kw or {})
        ).withColumnRenamed("afp", "phash")
    raise ValueError(
        f"unknown media index method {method!r} "
        "(phash | dhash | video | audio | precomputed)"
    )


def _dedup_batch(
    hashes: DataFrame,
    id_col: str,
    max_hamming: int,
    bands: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """In-batch greedy dedup over a fingerprint frame: drop the higher
    id of every pair within ``max_hamming`` (the ``curate_corpus``
    rule).

    At ``max_hamming == 0`` the rule collapses to keep-min-id per
    fingerprint group (identical hashes are transitively one group), so
    it runs as ONE map-side-combined aggregate — no pair expansion, no
    quadratic hazard, no cap needed (ADVICE r8: the pair form under a
    cap DROPPED oversized fingerprint families wholesale, admitting
    every member of exactly the families dedup exists for — the same
    keep-min shape as the text index's exact leg,
    ``incdedup.build_dedup_index``)."""
    if max_hamming == 0:
        canon = hashes.groupBy("phash").agg(F.min(id_col).alias(id_col))
        return hashes.join(canon, on=[id_col, "phash"], how="left_semi")
    pairs = hash_pairs(
        hashes, id_col, "phash", max_hamming, bands, max_bucket_size
    )
    # greedy-MIS, not one-shot drop-the-higher-id: hamming chains
    # (h(A,B)=h(B,C)=2, h(A,C)=4) made the one-shot rule non-idempotent
    # under replay (round 9, second extension — see
    # ``dedup.greedy_mis_drops``); on hamming-0-style cliques the rules
    # coincide
    from fastdb_spark.pipeline.dedup import greedy_mis_drops

    drops = greedy_mis_drops(pairs, id_col)
    return hashes.join(drops, on=id_col, how="left_anti")


def build_media_index(
    media: DataFrame,
    path: str,
    id_col: str = "media_id",
    payload_col: str = "payload",
    method: str = "phash",
    max_hamming: int = 0,
    bands: int = 8,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    id_buckets: int | None = DEFAULT_ID_BUCKETS,
    every_ms: int = 1000,
    audio_kw: dict | None = None,
) -> int:
    """Curate ``media`` (in-batch perceptual dedup at ``max_hamming``)
    and persist the survivors' fingerprints.  Returns the number of
    indexed items.

    ``method`` picks the modality: ``"phash"``/``"dhash"`` (images),
    ``"video"`` (sampled-frame clip fingerprints, ``every_ms`` cadence),
    ``"audio"`` (Haitsma-Kalker spectral fingerprints, ``audio_kw``
    forwarded to the fingerprinter), ``"precomputed"`` (``payload_col``
    already holds the int64 fingerprint — decode-free re-indexing; see
    :func:`_hash_frame`).  ``method`` and every fingerprint
    parameter are RECORDED IN THE INDEX METADATA so every later upsert
    probes identically (mixing methods or thresholds would silently
    miss duplicates).

    ``max_bucket_size`` defaults to ``DEFAULT_MAX_BUCKET`` — the
    long-lived index family is guard-ON like its text twin
    (``dedup_index_upsert``), VERDICT r8 #1: an image crawl's
    solid-color thumbnails are exactly the degenerate fingerprint
    family the guard exists for.  The cap only touches the BANDED
    (``max_hamming > 0``) legs; the hamming-0 paths are structurally
    capless (keep-min aggregate in batch, dropDuplicates probe) and
    exact regardless.  Pass ``None`` for exact banded pair semantics."""
    from fastdb_spark.cachereg import release_staged, stage_adaptive

    # staged WIDE for the decode pass, consumed as a size-matched narrow
    # view by the maintenance choreography (r13, VERDICT r12 #5 — see
    # cachereg.stage_adaptive; KB-sized gate frames ran ~50-150 ms
    # broadcast jobs with one task per cached partition)
    hashes = stage_adaptive(
        _hash_frame(media, id_col, payload_col, method, every_ms, audio_kw)
    )
    try:
        surv = _dedup_batch(
            hashes, id_col, max_hamming, bands, max_bucket_size
        ).localCheckpoint(eager=True)
        n = surv.count()
        rows = _align_id_buckets(
            surv.select("phash", F.col(id_col)), id_col, id_buckets
        )
        _write_id_bucketed(
            rows, os.path.join(path, "hashes"), id_buckets, overwrite=True
        )
        _record_schemas(path, {"hashes": rows.schema})
    finally:
        release_staged()
    with open(_params_path(path), "w") as f:
        json.dump(
            {
                "method": method,
                "max_hamming": max_hamming,
                "bands": bands,
                "id_buckets": id_buckets,
                "id_col": id_col,
                "every_ms": every_ms,
                "audio_kw": audio_kw or {},
            },
            f,
        )
    return n


def _classify(
    spark: SparkSession,
    hashes: DataFrame,
    path: str,
    p: dict,
    id_col: str,
    max_bucket_size: int | None,
    audit: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """``(verdicts, surv)`` for the staged fingerprint frame ``hashes``
    of a batch vs the index at ``path`` — the one classification behind
    :func:`media_index_probe` and :func:`media_index_upsert`.

    verdicts: one ``(id, verdict)`` row per decodable batch item,
    verdict in ``dup`` / ``in_batch_dup`` / ``fresh``.  surv: the
    ``fresh`` items with every ``hashes`` column — what an upsert
    appends.  ``audit`` is forwarded to ``imagededup.hash_matches``
    (the probe passes none).  Caller holds the lock and releases the
    staged frames."""
    idx = _open(spark, path, "hashes")
    dup = hash_matches(
        hashes,
        idx,
        id_col,
        "phash",
        p["max_hamming"],
        p["bands"],
        max_bucket_size,
        audit=audit,
    ).select(F.col("new_id").alias(id_col)).distinct()
    rest = hashes.join(dup, on=id_col, how="left_anti")
    surv = _dedup_batch(
        rest, id_col, p["max_hamming"], p["bands"], max_bucket_size
    )
    in_batch = rest.join(surv.select(id_col), on=id_col, how="left_anti")
    verdicts = (
        dup.select(id_col, F.lit("dup").alias("verdict"))
        .unionByName(
            in_batch.select(id_col, F.lit("in_batch_dup").alias("verdict"))
        )
        .unionByName(surv.select(id_col, F.lit("fresh").alias("verdict")))
    )
    return verdicts, surv


def media_index_upsert(
    spark: SparkSession,
    new_media: DataFrame,
    path: str,
    payload_col: str = "payload",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    id_ceiling: int = DEFAULT_ID_CEILING,
) -> list | None:
    """Dedup ``new_media`` against the index AND append the survivors'
    fingerprints — exactly the items :func:`media_index_probe` calls
    ``fresh`` (both run :func:`_classify`).  Returns the sorted
    surviving ids (materialized inside the write lock — check-then-append
    must be atomic vs other writers), or ``None`` for batches above
    ``id_ceiling`` (backfill scale — read the index to enumerate).  Hash
    method and hamming threshold come from the index metadata, never the
    caller.

    Guard-ON by default like ``dedup_index_upsert`` (VERDICT r8 #1); the
    cap applies only to banded probes and caps candidates PER NEW item
    (one surviving candidate suffices to reject a dup — never the index
    side, whose hot families are exactly where dups are densest, ADVICE
    r8).  New items whose candidate set hit the cap are flagged in
    ``LAST_UPSERT_AUDIT`` — a capped probe is never silent."""
    p = _load_params(path)
    id_col = p.get("id_col", "media_id")
    from fastdb_spark.cachereg import release_staged, stage_adaptive

    LAST_UPSERT_AUDIT["truncated_items"] = 0
    LAST_UPSERT_AUDIT["sample"] = []
    with table_write_lock(path):
        # decode wide, maintain narrow (see build_media_index)
        hashes = stage_adaptive(
            _hash_frame(
                new_media,
                id_col,
                payload_col,
                p["method"],
                p.get("every_ms", 1000),
                p.get("audio_kw") or None,
            )
        )
        try:
            _, surv = _classify(
                spark, hashes, path, p, id_col, max_bucket_size,
                audit=LAST_UPSERT_AUDIT,
            )
            # sever lineage before the append: the survivor plan reads
            # the hashes/ dir this write appends to (the round-6
            # refreshByPath recomputation hazard)
            surv = surv.localCheckpoint(eager=True)
            # ONE bounded action decides small-vs-backfill AND collects
            # the small-batch ids (r12, the text-index move: the
            # count()+collect() pair was two jobs on the checkpointed
            # frame; limit(ceiling+1) keeps the driver transfer bounded
            # either way)
            head = surv.select(id_col).limit(id_ceiling + 1).collect()
            if len(head) > id_ceiling:
                ids = None
            else:
                ids = sorted(r[id_col] for r in head)
            # one hashes table: aligning per write costs one shuffle, fine
            # here (the text index shares one aligned checkpoint across
            # its three tables instead)
            nb = p.get("id_buckets")
            _write_id_bucketed(
                _align_id_buckets(
                    surv.select("phash", F.col(id_col)), id_col, nb
                ),
                os.path.join(path, "hashes"),
                nb,
                overwrite=False,
            )
        finally:
            release_staged()
    return ids


def media_index_probe(
    spark: SparkSession,
    new_media: DataFrame,
    path: str,
    payload_col: str = "payload",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Classify ``new_media`` against the index WITHOUT mutating it —
    the media twin of ``incdedup.dedup_index_probe`` (dry-run dedup
    report).  Returns ``(id_col, verdict)`` with verdict one of
    ``dup`` (fingerprint within max_hamming of an indexed item),
    ``in_batch_dup`` (dropped by the in-batch keep-min/greedy pass), or
    ``fresh`` (an upsert would append it).  Undecodable payloads appear
    under NO verdict (the shared torn-payload skip contract — the
    caller's reject cascade sees them via the count difference).  Probe
    and upsert run the same classification (:func:`_classify`), so the
    ``fresh`` set equals :func:`media_index_upsert`'s returned ids for
    the same batch by construction (and property-tested); materialized
    under the write lock so concurrent swaps cannot invalidate the
    returned frame."""
    p = _load_params(path)
    id_col = p.get("id_col", "media_id")
    from fastdb_spark.cachereg import release_staged, stage

    with table_write_lock(path):
        # plain stage: on this read-only probe stage_adaptive's narrowed
        # view measured no faster than the cached layout in interleaved
        # A/Bs (build and upsert, where it did help, keep it)
        hashes = stage(
            _hash_frame(
                new_media,
                id_col,
                payload_col,
                p["method"],
                p.get("every_ms", 1000),
                p.get("audio_kw") or None,
            )
        )
        try:
            verdicts, _ = _classify(
                spark, hashes, path, p, id_col, max_bucket_size
            )
            out = verdicts.localCheckpoint(eager=True)
        finally:
            release_staged()
    return out


def media_index_remove(
    spark: SparkSession,
    ids,
    path: str,
) -> int:
    """Takedown for the media index: remove ``ids`` (Python sequence or
    single-column DataFrame) from the persisted fingerprints.  On the
    id-bucketed layout only the hive partitions holding removed ids are
    rewritten (shared engine with the text index,
    ``incdedup._remove_ids``).  Returns the number of items removed.
    NOT retroactive — see the module docstring."""
    p = _load_params(path)
    id_col = p.get("id_col", "media_id")
    return _remove_ids(
        spark,
        ids,
        path,
        ("hashes",),
        id_col,
        *_bucket_layout(p.get("id_buckets")),
    )


def compact_media_index(
    spark: SparkSession,
    path: str,
    min_files: int = 8,
) -> dict:
    """Small-file compaction for the media index — every upsert appends
    one part file per touched id_bucket, so a long-lived index puts an
    ever-growing file count in front of every probe's scan.  Rewrites
    only the hive partitions holding more than ``min_files`` part files
    (shared engine with the text index,
    ``incdedup.compact_dedup_index``); content untouched.  Returns
    ``{"hashes": {buckets_compacted, files_before, files_after}}``."""
    from fastdb_spark.pipeline.incdedup import _compact_tables

    p = _load_params(path)
    return _compact_tables(
        spark, path, ("hashes",), _bucket_layout(p.get("id_buckets"))[0],
        min_files,
    )


def stream_media_index(
    spark: SparkSession,
    media_path: str,
    index_path: str,
    checkpoint: str,
    payload_col: str = "payload",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
    compact_min_files: int = 8,
):
    """Structured-Streaming media ingest into the persisted perceptual
    index — the media twin of ``incdedup.stream_dedup_index``:
    ``readStream`` over a parquet file source of ``(id, payload binary)``
    rows, ``foreachBatch`` applying :func:`media_index_upsert` per
    micro-batch under the table write lock.  The checkpoint gives
    exactly-once over the transport, and the upsert itself absorbs
    re-delivery (a replayed item matches its own fingerprint already in
    the index and is dropped), so at-least-once delivery leaves the
    index contents unchanged.  Returns the started ``StreamingQuery``.

    The index must already exist (``build_media_index`` on the seed
    corpus); the hash method and every fingerprint parameter come from
    the index metadata, never this caller, so every micro-batch probes
    identically.  ``compact_every=N`` runs :func:`compact_media_index`
    after every Nth micro-batch (same rationale and discipline as
    ``stream_dedup_index``)."""
    id_col = _load_params(index_path).get("id_col", "media_id")
    return _stream_index(
        spark,
        media_path,
        f"{id_col} long, {payload_col} binary",
        checkpoint,
        lambda batch_df: media_index_upsert(
            spark,
            batch_df,
            index_path,
            payload_col=payload_col,
            max_bucket_size=max_bucket_size,
        ),
        lambda: compact_media_index(
            spark, index_path, min_files=compact_min_files
        ),
        compact_every,
        available_now,
        max_files_per_trigger,
    )
