"""Incremental corpus dedup against a PERSISTED dedup index — the
document-side twin of ``ann.ivf_index_upsert``.

A production corpus grows by crawl increments; re-running global dedup
over 100 TB for every daily batch is the naive O(N) answer.  The right
shape is train-once/probe-many, like the ANN index: persist the dedup
artifacts (content fingerprints for exact dedup; MinHash band buckets +
shingle sets for near-dup), check each NEW batch against them, and
append only the survivors' entries.

Index layout (``path/``):

- ``fingerprints/`` — (fingerprint, doc_id) parquet: one row per
  surviving document, the exact-dedup anti-join side.
- ``bands/``       — (band, doc_id) parquet: LSH band buckets of the
  survivors; the near-dup candidate join side.  At 100 TB this table
  should be written bucketed/partitioned by band hash range so the
  increment join prunes (documented; the emulation appends plain files).
- ``shingles/``    — (doc_id, sh) parquet: shingle arrays for the exact
  Jaccard refine of candidate pairs.
- ``_meta.json``   — sketch parameters; upserts enforce consistency (a
  batch banded with different parameters would silently miss dups).
- ``_schemas.json`` — every table's schema, its partition column
  included, recorded once by the build (:func:`_record_schemas`).  Every
  open of a persisted index table, in all four index families (text,
  media, semantic, IVF), goes through :func:`_open` and reads with it:
  no open infers a schema, and a table left with no part files reads as
  zero rows.

Incremental semantics (stated precisely, tested): a new document is
dropped iff (a) its fingerprint already exists in the index or collides
within the batch (keep min id), or (b) its Jaccard vs ANY indexed
document >= threshold, or (c) the in-batch greedy-MIS near-dup pass
(keep x iff no KEPT lower-id near neighbor — replay-idempotent,
``dedup.greedy_mis_drops``; ``curate_corpus`` keeps the simpler
one-shot rule, which coincides on clique-shaped duplicate families)
drops it.  :func:`dedup_index_probe` and :func:`dedup_index_upsert` share
one classification (:func:`_classify`), so the upsert appends exactly
what the probe calls ``fresh``.  Concurrent upserts serialize on the
table write lock (``locks.table_write_lock``) — same lost-update story
as storage.py.

Classification shape: the exact leg (a left join to the distinct index
fingerprints plus a ``min(id)`` window over ``fingerprint``,
:func:`_exact_leg` — also the build's keep-min pass) is staged once
with an exact-verdict column;
the vs-index and in-batch near-dup legs run on its kept rows and come
back as left-joined id flags, so the verdict is one ``coalesce`` column
over the staged frame and the upsert's survivors are its ``fresh``
filter.  Every later Spark action reads the staged exact leg instead of
re-planning it.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from fastdb_spark.functions.sketches import sketch_impl
from fastdb_spark.functions.text import doc_fingerprint, word_shingles
from fastdb_spark.locks import table_write_lock
from fastdb_spark.pipeline.dedup import (
    DEFAULT_MAX_BUCKET,
    _candidate_pairs,
    jaccard,
)

_META = "_meta.json"
_SCHEMAS = "_schemas.json"
#: the text index's tables; the first holds one row per document
_TABLES = ("fingerprints", "bands", "shingles")

#: default id-hash partition count for the three index tables.  Removal
#: rewrites only the partitions holding removed ids, so the takedown bill
#: is ~(buckets touched / id_buckets) of the index instead of all of it;
#: a takedown batch of k ids touches at most min(k, id_buckets)
#: partitions.  32 keeps gate-scale indexes at a few files per table;
#: a 100-TB index would raise it (recorded per-index in _meta.json, so
#: the choice is frozen at build time and consistent across upserts).
DEFAULT_ID_BUCKETS = 32


def _params_path(path: str) -> str:
    return os.path.join(path, _META)


def _record_schemas(path: str, tables: dict) -> None:
    """Record ``{table: StructType}`` in the ``_schemas.json`` sidecar at
    the index root, atomically (tmp + ``os.replace``, like
    ``_ivf_meta.json``).  A schema carries the table's partition column:
    a declared-schema read puts partition columns last whatever their
    position, and takes their type from the declaration.  Every build
    records all its tables once; the id column's name and type are the
    caller's, so no schema here is a constant."""
    os.makedirs(path, exist_ok=True)
    dst = os.path.join(path, _SCHEMAS)
    with open(dst + ".tmp", "w") as f:
        json.dump({t: s.jsonValue() for t, s in tables.items()}, f)
    os.replace(dst + ".tmp", dst)


def _open(
    spark: SparkSession,
    path: str,
    table: str,
    dirs=(),
    schema: StructType | None = None,
) -> DataFrame:
    """THE open of every persisted index table (text, media, semantic,
    IVF): ``path/table`` — or only its partition directories ``dirs``,
    with the table as ``basePath`` — read with the schema the build
    recorded (``schema`` overrides it for a scratch table).  A declared
    schema submits no Spark job, and a table whose partitions were all
    deleted, or whose build wrote no rows, reads as zero rows.  An index
    with no recorded schema raises ``ValueError`` naming
    :func:`record_index_schemas`, its one-time migration."""
    if schema is None:
        try:
            with open(os.path.join(path, _SCHEMAS)) as f:
                schema = StructType.fromJson(json.load(f)[table])
        except (FileNotFoundError, KeyError):
            raise ValueError(
                f"index table {table!r} at {path!r} has no recorded schema "
                "(the index was built before schemas were recorded); run "
                f"record_index_schemas(spark, {path!r}) once to migrate it"
            ) from None
    tdir = os.path.join(path, table)
    reader = spark.read.schema(schema)
    if dirs:
        return reader.option("basePath", tdir).parquet(*dirs)
    return reader.parquet(tdir)


def record_index_schemas(spark: SparkSession, path: str) -> dict:
    """One-time migration of an index built before table schemas were
    recorded (any of the four families): infer each table under
    ``path`` once — one Spark job per table — and record the schemas
    :func:`_open` reads with.  Nothing calls it implicitly; it is the
    only schema-inferring open of an index table.  Serializes on the
    table write lock.  Returns ``{table: StructType}``."""
    with table_write_lock(path):
        schemas = {
            t: spark.read.parquet(os.path.join(path, t)).schema
            for t in sorted(os.listdir(path))
            if not t.startswith(("_", "."))
            and os.path.isdir(os.path.join(path, t))
        }
        _record_schemas(path, schemas)
    return schemas


def _sketch(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    n_hashes: int,
    bands: int,
    hash_impl: str = "md5",
) -> DataFrame:
    """(id, fingerprint, sh, bands) for a batch — computed once, reused
    by every phase (cachereg-staged by callers).  The MinHash signature
    only feeds the band keys, so it is dropped once they are built:
    nothing downstream reads it, and it is the widest column a staged
    frame would otherwise cache (``bands`` references it once per band,
    so the optimizer keeps it a separate projection and computes it once
    per row).

    ``hash_impl`` mirrors :func:`~fastdb_spark.pipeline.dedup.
    minhash_lsh_pairs`: ``"md5"`` (cross-engine oracle parity) or
    ``"fast"`` (one xxhash64 per shingle + integer permutations, ~3x
    cheaper signatures — the sketch dominates index build/upsert cost,
    so this is the production path at scale).  The Jaccard refine is
    over raw shingles either way, so final dedup decisions are
    identical in expectation; exact duplicates collide in every band
    under both."""
    impl = sketch_impl(hash_impl)
    rows = n_hashes // bands
    return df.select(
        F.col(id_col),
        doc_fingerprint(F.col(text_col)).alias("fingerprint"),
        word_shingles(F.col(text_col), shingle_k).alias("sh"),
    ).withColumn(
        "sig", impl.signature("sh", n_hashes)
    ).withColumn(
        "bands", impl.bands("sig", bands, rows)
    ).drop("sig")


def _staged_sketch(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    n_hashes: int,
    bands: int,
    hash_impl: str,
) -> DataFrame:
    """Stage (persist + eager count) the sketch frame, spreading
    pathologically under-split inputs FOR THE MATERIALIZATION ONLY.

    The md5/shingle sketch is the compute-heavy pass of every index
    build/upsert/probe; when the input arrives as fewer partitions than
    a quarter of the cores (one local parquet split; a single huge gzip
    at deployment — guide §2.5 "input skew ... repartition immediately
    after the read") the eager count runs it nearly single-task.
    Repartitioning cures that but must NOT leak downstream: the staged
    frame feeds a ~100-job maintenance choreography of tiny
    broadcast/AQE stages, and the r12 session-1 experiment measured the
    un-collapsed spread at 2.4x the gate (every 50 ms 1-task job became
    a 0.3-0.5 s 32-task job).  So the spread frame is staged wide — the
    count materializes the cache in parallel — and the RETURNED view is
    ``coalesce`` back to the input's own partition count: downstream
    cache scans read the same blocks in the same narrow stages as
    before.  Well-split inputs (every deployment-scale corpus) take the
    unchanged path: no extra shuffle, no coalesce throttle."""
    from fastdb_spark.cachereg import stage

    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    n = df.rdd.getNumPartitions()
    if n * 4 <= par:
        sk = stage(
            _sketch(
                df.repartition(par), id_col, text_col,
                shingle_k, n_hashes, bands, hash_impl,
            )
        )
        return sk.coalesce(max(n, 1))
    return stage(
        _sketch(df, id_col, text_col, shingle_k, n_hashes, bands, hash_impl)
    )


def build_dedup_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    n_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    hash_impl: str = "md5",
    id_buckets: int | None = DEFAULT_ID_BUCKETS,
) -> int:
    """Curate ``docs`` (exact + in-batch near-dup, the ``curate_corpus``
    dedup semantics) and persist the survivors' dedup artifacts.
    Returns the number of indexed documents.

    ``max_bucket_size=None`` (the default) matches ``curate_corpus``
    exactly: the exact-dedup pre-pass has already collapsed identical
    boilerplate, so the LSH bucket cap is dead weight here; pass a cap
    explicitly for corpora with huge *near*-identical families.

    ``hash_impl`` is RECORDED IN THE INDEX METADATA: every later
    ``dedup_index_upsert`` sketches its batch with the same
    implementation automatically (mixing implementations would put new
    docs in different band buckets than the stored ones and silently
    miss near-dups).  ``"fast"`` is ~3x cheaper on the sketch — the
    dominant cost — and is the production choice; ``"md5"`` (default)
    keeps cross-engine oracle parity.

    ``id_buckets`` (also recorded in metadata) lays all three tables out
    hive-partitioned by ``id_bucket = pmod(doc_id, id_buckets)`` so that
    :func:`dedup_index_remove` rewrites ONLY the partitions containing
    removed ids — the pruning ``ivf_index_remove`` applies to cluster
    partitions (VERDICT r7 #5: the unpruned form rewrote the full index
    per removal batch, a non-starter at 100-TB index sizes).
    ``None`` keeps the flat layout (removal falls back to the full
    three-table rewrite)."""
    from fastdb_spark.cachereg import release_staged

    sk = _staged_sketch(
        docs, id_col, text_col, shingle_k, n_hashes, bands, hash_impl
    )
    try:
        kept = _exact_leg(sk, id_col).filter(F.col("_v").isNull()).drop("_v")
        surv = kept.join(
            _inbatch_drops(kept, id_col, threshold, max_bucket_size),
            on=id_col,
            how="left_anti",
        )
        n = _append_survivors(
            surv, path, id_col, overwrite=True, id_buckets=id_buckets
        )[1]
    finally:
        release_staged()
    with open(_params_path(path), "w") as f:
        json.dump(
            {
                "shingle_k": shingle_k,
                "n_hashes": n_hashes,
                "bands": bands,
                "threshold": threshold,
                "hash_impl": hash_impl,
                "id_buckets": id_buckets,
                # scheme marker: the md5x rewrite changed band-key and
                # signature formats IN PLACE, so an index persisted by
                # pre-md5x code would band-join zero rows against new
                # sketches (silently disabling near-dup detection).
                # Upserts refuse indexes whose marker is not the one
                # their hash_impl produces today (rebuild_dedup_index
                # migrates in one call).
                "sketch_scheme": sketch_impl(hash_impl).scheme,
            },
            f,
        )
    return n


def _exact_leg(
    sk: DataFrame, id_col: str, fps: DataFrame | None = None
) -> DataFrame:
    """``sk`` plus the exact-dedup verdict ``_v``: ``exact`` when the
    fingerprint is among the index fingerprints ``fps``,
    ``in_batch_exact`` when it is not the batch's min id of its
    fingerprint, null for the one kept document per fingerprint.  The
    keep-min rule is a ``min(id)`` window over ``fingerprint``, so the
    leg is one shuffle of the batch and one left join to the distinct
    index fingerprints.  A document with a null id or a null
    fingerprint is never the kept one, so it is ``in_batch_exact``."""
    m = F.min(id_col).over(Window.partitionBy("fingerprint"))
    keep = F.col("fingerprint").isNotNull() & (F.col(id_col) == m)
    v = F.when(keep, F.lit(None)).otherwise(F.lit("in_batch_exact"))
    if fps is None:
        return sk.withColumn("_v", v)
    hits = fps.select("fingerprint").distinct().withColumn("_hit", F.lit(True))
    return (
        sk.join(hits, on="fingerprint", how="left")
        .withColumn("_v", F.when(F.col("_hit"), F.lit("exact")).otherwise(v))
        .drop("_hit")
    )


def _inbatch_drops(
    frame: DataFrame,
    id_col: str,
    threshold: float,
    max_bucket_size: int | None,
) -> DataFrame:
    """Ids dropped by the in-batch greedy-MIS near-dup pass: keep x iff
    no KEPT lower-id neighbor (``dedup.greedy_mis_drops``).  Round-9
    second-extension fix: the old one-shot rule (drop the higher id of
    every refined pair) over-dropped chain tails, and a torn-checkpoint
    REPLAY then admitted them (their only near neighbor was never
    indexed) — reproduced with a jaccard chain A~B~C, jac(A,C) below
    threshold: upsert admitted {A}, the replay phantom-admitted {C}.
    On clique-shaped duplicate families (every gate corpus) the two
    rules coincide.  ``frame`` carries (id, sh, bands) from
    :func:`_sketch`."""
    pairs = _candidate_pairs(
        frame.select(id_col, F.explode("bands").alias("band")),
        frame.select(id_col, "sh"),
        id_col,
        "band",
        max_bucket_size=max_bucket_size,
    )
    pairs = pairs.withColumn(
        "jac", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6)
    ).filter(F.col("jac") >= threshold)
    from fastdb_spark.pipeline.dedup import greedy_mis_drops

    return greedy_mis_drops(pairs, id_col)


def _part_files(d: str) -> int:
    return sum(
        1 for _r, _d, files in os.walk(d) for f in files if f.startswith("part-")
    )


# Above this many survivors the upsert stops materializing ids on the
# driver: the batch is staged to a scratch parquet (cluster-side
# materialization — same read-after-write protection as persist) and the
# caller gets ``None`` instead of the id list.
DEFAULT_ID_CEILING = 1_000_000


def _append_survivors(
    surv: DataFrame,
    path: str,
    id_col: str,
    overwrite: bool,
    id_ceiling: int = DEFAULT_ID_CEILING,
    id_buckets: int | None = None,
) -> tuple[list | None, int]:
    """Write the survivors' index entries; returns ``(ids, count)``.

    The survivor plan reads the index tables this function is about to
    modify, so it must be materialized with its LINEAGE SEVERED before
    the append (read-after-write).  ``persist()`` is NOT enough: each
    parquet append calls ``refreshByPath`` on its output dir, which
    invalidates any cached plan reading that dir — so after the
    fingerprints append, the bands/shingles writes would silently
    RECOMPUTE the survivor plan against the already-updated index, the
    exact-dedup anti-join would drop every just-appended doc, and the
    bands/shingles tables would receive EMPTY batches: later near-dups
    of upserted documents were never caught (a real shipped bug, caught
    by the write-timing profile and regression-tested in
    test_round6.py).  ``localCheckpoint`` stores the materialized
    partitions and cuts the plan back to an RDD scan, so no write can
    trigger recomputation.  Small batches then collect their ids;
    batches above ``id_ceiling`` are staged to a scratch parquet
    instead — the append reads the scratch copy, no unbounded driver
    collect — and ``ids`` comes back ``None``."""
    # NOTE: localCheckpoint blocks are freed by the ContextCleaner when
    # the checkpointed RDD is garbage-collected on the driver — an
    # explicit unpersist() on the DataFrame is a no-op (ADVICE r6), so
    # none is attempted; per-batch blocks are bounded by the batch size
    # and die with the local `surv` reference.
    #
    # Bucket alignment happens HERE, before the one checkpoint all three
    # writes share, so the three table writes pay ZERO shuffles
    # (per-write repartition cost the sf0.1 index gates +4.6 s each).
    # The bands explode below preserves partitioning, so exploded rows
    # stay bucket-aligned.
    surv = _align_id_buckets(surv, id_col, id_buckets).localCheckpoint(
        eager=True
    )
    scratch = None
    try:
        # ONE bounded action decides small-vs-backfill AND collects the
        # small-batch ids (r12: the count()+collect() pair was two jobs
        # on the checkpointed frame; limit(ceiling+1) keeps the driver
        # transfer bounded either way)
        head = surv.select(id_col).limit(id_ceiling + 1).collect()
        if len(head) > id_ceiling:
            scratch = os.path.join(path, "_scratch_batch")
            surv.write.mode("overwrite").parquet(scratch)
            surv = _open(
                surv.sparkSession, path, "_scratch_batch", schema=surv.schema
            )
            n = surv.count()  # parquet footer metadata only
            ids = None
        else:
            n = len(head)
            ids = sorted(r[id_col] for r in head)

        bkt = ["id_bucket"] if id_buckets else []
        tables = {
            "fingerprints": surv.select("fingerprint", id_col, *bkt),
            "bands": surv.select(
                F.explode("bands").alias("band"), F.col(id_col), *bkt
            ),
            "shingles": surv.select(id_col, "sh", *bkt),
        }
        # the three table writes read the SAME checkpointed partitions
        # and land in disjoint directories — overlap them (guide §2.6)
        # instead of paying three serial write-job latencies (r12:
        # measured 1.2-1.5 s serial vs ~0.6 s overlapped per append)
        from fastdb_spark.parallel import run_independent_jobs

        run_independent_jobs(
            lambda t: _write_id_bucketed(
                tables[t], os.path.join(path, t), id_buckets, overwrite
            ),
            list(tables),
            max_workers=3,
        )
        if overwrite:  # the build
            _record_schemas(path, {t: df.schema for t, df in tables.items()})
    finally:
        if scratch is not None:
            import shutil

            shutil.rmtree(scratch, ignore_errors=True)
    return ids, n


def _load_params(path: str) -> dict:
    with open(_params_path(path)) as f:
        return json.load(f)


def _check_scheme(p: dict, path: str) -> None:
    """Refuse indexes whose stored sketch format is not what their
    recorded ``hash_impl`` produces today — banding a new batch against
    them would match zero buckets and silently disable near-dup
    detection."""
    expect = sketch_impl(p.get("hash_impl", "md5")).scheme
    if p.get("sketch_scheme") != expect:
        raise ValueError(
            f"dedup index at {path!r} was persisted under sketch scheme "
            f"{p.get('sketch_scheme')!r} but the current "
            f"{p.get('hash_impl', 'md5')!r} implementation writes "
            f"{expect!r}; its stored band keys cannot match new sketches "
            "(near-dup detection would be silently disabled) — run "
            "rebuild_dedup_index(spark, path) to migrate it in place"
        )


def rebuild_dedup_index(
    spark: SparkSession,
    path: str,
    hash_impl: str | None = None,
    n_hashes: int | None = None,
    bands: int | None = None,
) -> int:
    """One-call scheme migration for a persisted index (VERDICT r6 #8):
    re-sketch the STORED survivors under the current scheme and rewrite
    the signature-derived tables, without the original corpus.

    The index already holds everything a re-sketch needs — the raw
    shingle sets (``shingles/``) and fingerprints — so only ``bands/``
    is recomputed; survivor membership is unchanged (dedup decisions
    were made at build/upsert time).  ``hash_impl``/``n_hashes``/
    ``bands`` default to the stored parameters; override them to switch
    an old md5 index to the fast production scheme in the same call.
    ``shingle_k`` CANNOT change (shingles are stored pre-cut).  Returns
    the number of indexed documents.  Serializes on the table write
    lock like every upsert."""
    with table_write_lock(path):
        p = _load_params(path)
        hash_impl = hash_impl or p.get("hash_impl", "md5")
        n_hashes = n_hashes or p["n_hashes"]
        bands = bands or p["bands"]
        impl = sketch_impl(hash_impl)
        sh = _open(spark, path, "shingles")
        # the document key: the id column and, bucketed, its id_bucket —
        # each bands row stays in its document's bucket
        key = [c for c in sh.columns if c != "sh"]
        banded = (
            sh.withColumn("sig", impl.signature("sh", n_hashes))
            .withColumn("bands", impl.bands("sig", bands, n_hashes // bands))
            .select(F.explode("bands").alias("band"), *key)
        )
        # bands/ derives from shingles/ only, so the overwrite has no
        # read-after-write hazard — lineage is severed anyway so a
        # refreshByPath during the write can never trigger recomputation
        nb = p.get("id_buckets")
        if nb:
            banded = banded.repartition("id_bucket")
        _write_id_bucketed(
            banded.localCheckpoint(eager=True),
            os.path.join(path, "bands"),
            nb,
            overwrite=True,
        )
        n = sh.select(*key).distinct().count()
        p.update(
            {
                "hash_impl": hash_impl,
                "n_hashes": n_hashes,
                "bands": bands,
                "sketch_scheme": impl.scheme,
            }
        )
        with open(_params_path(path), "w") as f:
            json.dump(p, f)
    return n


def stream_dedup_index(
    spark: SparkSession,
    docs_path: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
    compact_min_files: int = 8,
):
    """Structured-Streaming corpus ingest into the persisted dedup index:
    ``readStream`` over a parquet file source, ``foreachBatch`` applying
    :func:`dedup_index_upsert` per micro-batch under the table write
    lock.  The checkpoint gives exactly-once over the transport, and the
    upsert itself absorbs re-delivery — a replayed document matches its
    own fingerprint already in the index and is dropped — so even
    at-least-once delivery (a torn checkpoint, a second pipeline fed the
    same files) leaves the index contents unchanged.  Returns the
    started ``StreamingQuery``.

    The index must already exist (``build_dedup_index`` on the seed
    corpus); sketch parameters come from the index metadata, never this
    caller, so every micro-batch is banded identically.

    ``compact_every=N`` runs :func:`compact_dedup_index` after every Nth
    processed micro-batch: each upsert appends one part file per touched
    bucket per table, so a long-running stream otherwise fragments the
    index without bound (the 1M-doc A/B in BENCH_SCALE prices the
    fragmentation tax at ~26% of probe latency after 40 batches).
    Compaction runs inside ``foreachBatch`` between triggers — the same
    single-writer discipline as the upserts, no separate maintenance
    job to schedule."""
    _check_scheme(_load_params(index_path), index_path)
    return _stream_index(
        spark,
        docs_path,
        f"{id_col} long, {text_col} string",
        checkpoint,
        lambda batch_df: dedup_index_upsert(
            spark,
            batch_df,
            index_path,
            id_col=id_col,
            text_col=text_col,
            max_bucket_size=max_bucket_size,
        ),
        lambda: compact_dedup_index(
            spark, index_path, min_files=compact_min_files
        ),
        compact_every,
        available_now,
        max_files_per_trigger,
    )


def dedup_index_remove(
    spark: SparkSession,
    ids,
    path: str,
    id_col: str = "doc_id",
) -> int:
    """Remove documents from a persisted dedup index — the takedown path
    (DMCA/GDPR/licensing removals are routine against a long-lived
    production corpus index).  ``ids`` is a Python sequence (an ``isin``
    literal up to 1024 ids; larger lists auto-switch to the DataFrame
    form — a 10^4-element isin literal measured 3-16x slower than the
    broadcast anti-join at a 10M-doc index, BENCH_SCALE r9) or a
    single-column DataFrame (broadcast anti-join; the backfill-scale
    form).  Returns the number of index documents actually removed.

    On an id-bucketed index (``id_buckets`` in _meta.json — the default
    layout since round 8) only the hive partitions that CONTAIN removed
    ids are rewritten: a k-id takedown touches at most
    ``min(k, id_buckets)`` partitions per table, never the whole index.
    Flat (pre-bucketed) indexes rewrite each table whole.  Either way
    the rewrite is the tmp-dir + rename swap of :func:`_rewrite_parts`,
    the engine every persisted index (text, media, IVF) shares.
    Serializes on the table write lock.

    Semantics stated precisely (tested): removal is NOT retroactive —
    documents that were dropped in earlier batches because they
    duplicated a now-removed doc stay dropped (their content was a dup
    at ingest time; the index holds no record of them to resurrect).
    Future batches simply stop matching the removed doc's fingerprint /
    bands / shingles, so its re-ingest (or a near-dup of it) would be
    accepted again."""
    p = _load_params(path)
    return _remove_ids(
        spark,
        ids,
        path,
        _TABLES,
        id_col,
        *_bucket_layout(p.get("id_buckets")),
    )


#: longest id list a takedown filters with an ``isin`` literal.  A
#: 10^4-element literal is a codegen/eval bomb: measured at a 10M-doc
#: index (BENCH_SCALE r9), the 10k-id list form cost 96.6 s (bucketed) /
#: 37.5 s (flat) vs ~6 s for the equivalent 1k batch — the filter, not
#: the rewrite.  Longer lists take the broadcast anti-join.
_ISIN_MAX_IDS = 1024


def _removal_set(spark: SparkSession, ids, id_col: str):
    """Id triage of every takedown: a list of at most ``_ISIN_MAX_IDS``
    ids stays a Python list (an ``isin`` literal); a longer list or a
    single-column DataFrame becomes a localCheckpointed one-column
    ``id_col`` frame (a broadcast join side).  The checkpoint severs
    lineage BEFORE any rewrite: a caller naturally derives the removal
    set from the index's own tables, and the broadcast is re-evaluated
    once per rewritten table — after the first swap the old part files
    are gone and a lazy plan over them throws FILE_NOT_EXIST (the
    round-6 refreshByPath hazard, caught by
    test_no_cartesian_product[dedup_index_takedown])."""
    if not isinstance(ids, DataFrame):
        ids = [int(i) for i in ids]
        if len(ids) <= _ISIN_MAX_IDS:
            return ids
        from fastdb_spark.localrel import tiny_local_df

        ids = tiny_local_df(spark, [(i,) for i in ids], f"{id_col} long")
    return ids.select(F.col(ids.columns[0]).alias(id_col)).localCheckpoint(
        eager=True
    )


def _id_hits(df: DataFrame, rm, id_col: str, hit: bool = True) -> DataFrame:
    """Rows of ``df`` whose ``id_col`` is in the removal set ``rm`` of
    :func:`_removal_set` (``hit``), or the rest.  A null id is never
    hit, in either form."""
    if isinstance(rm, DataFrame):
        how = "left_semi" if hit else "left_anti"
        return df.join(F.broadcast(rm), on=id_col, how=how)
    m = F.coalesce(F.col(id_col).isin(rm), F.lit(False))
    return df.filter(m if hit else ~m)


def _hit_flag(df: DataFrame, rm, id_col: str) -> tuple[DataFrame, Column]:
    """``df`` (its rows unfiltered) and a non-null boolean column: the
    row's ``id_col`` is in the removal set ``rm`` of :func:`_removal_set`.
    A DataFrame set is left-joined as a broadcast flag side."""
    if isinstance(rm, DataFrame):
        flag = rm.distinct().withColumn("_hit", F.lit(True))
        joined = df.join(F.broadcast(flag), on=id_col, how="left")
        return joined, F.col("_hit").isNotNull()
    return df, F.coalesce(F.col(id_col).isin(rm), F.lit(False))


def _bucket_layout(nb: int | None) -> tuple:
    """``(part_col, locate)`` of the id-bucket layout for
    :func:`_remove_ids`: the partitions a removal set can touch are
    ``pmod(id, nb)`` of its ids, computed without scanning the index
    (so the removed rows are left for the engine to count).  A flat
    index (``nb=None``) is ``(None, None)``."""
    if not nb:
        return None, None

    def locate(rm) -> tuple[list, None, tuple]:
        if isinstance(rm, DataFrame):
            # bounded collect: distinct pmod values, at most nb rows
            b = F.pmod(F.col(rm.columns[0]), F.lit(nb)).cast("int")
            rows = rm.select(b).distinct().collect()
            return sorted(r[0] for r in rows if r[0] is not None), None, ()
        # Python % matches Spark pmod for positive moduli
        return sorted({i % nb for i in rm}), None, ()

    return "id_bucket", locate


def _remove_ids(
    spark: SparkSession,
    ids,
    path: str,
    tables: tuple,
    id_col: str,
    part_col: str | None,
    locate,
) -> int:
    """Shared takedown engine of every persisted index (text, media,
    IVF): drop ``ids`` from every table named in ``tables`` under
    ``path`` and return the number of rows removed from the FIRST table
    (the one-row-per-item one).  ``locate(rm)`` is the one per-family
    input: it returns the ``part_col`` values of the partitions that
    can hold the removal set ``rm`` (id buckets computed from the ids,
    :func:`_bucket_layout`; IVF clusters from one aggregate over the hit
    rows), and the first table's hit-row count when its lookup already
    counted them, else None — the engine then counts them on the first
    table's source partitions before that table's rewrite — and the
    partitions the removal empties, when its lookup counted their rows
    too (else ``()``): those are deleted by their swap, unread and
    unwritten.
    ``part_col=None`` is a flat index, each table rewritten whole.  The
    tables rewrite disjoint directory trees, so their
    :func:`_rewrite_parts` calls overlap from a bounded driver pool
    (guide §2.6).  Serializes on the table write lock."""
    from fastdb_spark.parallel import run_independent_jobs

    with table_write_lock(path):
        rm = _removal_set(spark, ids, id_col)
        parts, removed, emptied = locate(rm) if part_col else (None, None, ())
        if part_col and not parts:
            return 0

        def count(src: DataFrame) -> int:
            return _id_hits(src, rm, id_col).count()

        def _drop_from(item) -> int | None:
            i, table = item
            return _rewrite_parts(
                spark, path, table, part_col, parts,
                lambda df: _id_hits(df, rm, id_col, hit=False),
                before=count if i == 0 and removed is None else None,
                emptied=emptied,
            )

        counted = run_independent_jobs(_drop_from, list(enumerate(tables)))[0]
        spark.catalog.refreshByPath(path)
    return (counted or 0) if removed is None else removed


def _rewrite_parts(
    spark: SparkSession,
    path: str,
    table: str,
    part_col: str | None,
    parts,
    transform,
    before=None,
    emptied=(),
):
    """THE directory rewrite of every persisted index, takedown and
    compaction alike: the ``part_col`` partitions ``parts`` of
    ``path/table`` become ``transform`` of their rows, and every other
    partition dir is untouched (mtime-asserted in tests).
    ``part_col=None`` rewrites a flat table whole.  The rows carry every
    column of the table's recorded schema (:func:`_open`).
    ``before(src)``, when given, runs on the source rows before the
    write; its result is returned.  Partitions in ``emptied`` are known
    to end with no rows: they are not read and their swap deletes them
    (``before`` does not see their rows).  The caller holds the table
    write lock.

    One read + one write job over all the partitions together (a
    per-partition loop pays job-launch latency per partition — measured
    3x slower on the takedown gate).  The rows are repartitioned on
    ``part_col`` first: the multi-dir read bin-packs files of several
    partitions into one task, and ``partitionBy`` then SORTS every task
    by the partition column (30+ s on a 4M-doc shingles table); after
    the shuffle each task holds one partition, which lands as one file.
    The write goes to a tmp dir OUTSIDE the partitioned tree (partition
    discovery never sees it, and writing over a directory a live plan
    reads is the refreshByPath recomputation hazard), then each
    partition is swapped in with two renames, so an unlocked reader can
    at worst miss one partition for the span of its swap.  A partition
    left with no rows has no tmp dir, so its swap deletes it (a table
    left with no partitions reads as zero rows).  A failed write swaps
    nothing."""
    import shutil

    tdir = os.path.join(path, table)
    tmp = os.path.join(path, f"_tmp_{table}")
    if part_col is None:
        swaps = [(tdir, tmp)]
        src = _open(spark, path, table)
    else:
        parts = [
            v for v in parts
            if os.path.isdir(os.path.join(tdir, f"{part_col}={v}"))
        ]
        if not parts:
            return None
        swaps = [
            (os.path.join(tdir, d), os.path.join(tmp, d))
            for d in (f"{part_col}={v}" for v in parts)
        ]
        read = [cur for (cur, _), v in zip(swaps, parts) if v not in emptied]
        src = _open(spark, path, table, dirs=read) if read else None
    out = w = None
    if src is not None:
        out = before(src) if before else None
        rows = transform(src)
        w = (
            rows.repartition(part_col).write.partitionBy(part_col)
            if part_col
            else rows.write
        )
    try:
        if w is not None:
            w.option("maxRecordsPerFile", 10_000_000).mode(
                "overwrite"
            ).parquet(tmp)
        for cur, new in swaps:
            old = os.path.join(
                path, "_old_" + os.path.relpath(cur, path).replace(os.sep, "_")
            )
            os.rename(cur, old)
            if os.path.isdir(new):
                os.rename(new, cur)
            shutil.rmtree(old, ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def compact_dedup_index(
    spark: SparkSession,
    path: str,
    min_files: int = 8,
) -> dict:
    """Compact the small files a long-lived index accretes: every upsert
    appends one part file per touched id_bucket per table, so a daily
    ingest puts ~365 files/bucket/year in front of every probe's scan
    (footer opens + scheduler overhead dominate long before data size
    does — the classic small-files failure at 100 TB).  Rewrites ONLY
    the partitions holding more than ``min_files`` part files, one
    read+write job per table over the affected partitions together
    (:func:`_rewrite_parts`, the engine the takedown uses).  Content is
    untouched — pure file-count hygiene.  Serializes on the table write
    lock.  Returns per-table ``{buckets_compacted, files_before,
    files_after}``."""
    p = _load_params(path)
    return _compact_tables(
        spark, path, _TABLES, _bucket_layout(p.get("id_buckets"))[0], min_files
    )


def _compact_tables(
    spark: SparkSession,
    path: str,
    tables: tuple,
    part_col: str | None,
    min_files: int,
) -> dict:
    """Shared compaction engine (text dedup index, perceptual media
    index, IVF vector index): :func:`_rewrite_parts` with an identity
    transform over the ``part_col`` partitions holding more than
    ``min_files`` part files; on a flat layout (``part_col=None``) the
    whole table, coalesced to one file, when it does.  ``tables`` names
    the tables."""
    from fastdb_spark.parallel import run_independent_jobs

    def _compact_one(table: str) -> tuple[str, dict | None]:
        tdir = os.path.join(path, table)
        if not os.path.isdir(tdir):
            return table, None
        if part_col is None:
            units = {None: tdir}
        else:
            units = {
                d.split("=", 1)[1]: os.path.join(tdir, d)
                for d in os.listdir(tdir)
                if d.startswith(f"{part_col}=")
                and os.path.isdir(os.path.join(tdir, d))
            }
        before = {v: _part_files(d) for v, d in units.items()}
        hit = [v for v, n in before.items() if n > min_files]
        if hit:
            _rewrite_parts(
                spark, path, table, part_col, hit,
                (lambda df: df) if part_col else (lambda df: df.coalesce(1)),
            )
        return table, {
            "buckets_compacted": len(hit),
            "files_before": sum(before[v] for v in hit),
            "files_after": sum(_part_files(units[v]) for v in hit),
        }

    out: dict = {}
    with table_write_lock(path):
        # per-table compactions rewrite disjoint directory trees —
        # independent jobs, overlapped from a bounded driver pool
        # (guide §2.6)
        for table, stats in run_independent_jobs(_compact_one, list(tables)):
            if stats is not None:
                out[table] = stats
        spark.catalog.refreshByPath(path)
    return out


def _align_id_buckets(df: DataFrame, id_col: str, nb: int | None) -> DataFrame:
    """``df`` plus ``id_bucket = pmod(id, nb)``, repartitioned on it so
    each bucket lands in exactly one task: one file per bucket per write
    (a raw ``partitionBy`` write emits tasks x buckets tiny files, which
    made the first-cut layout 2-3.5x slower than flat at 1M docs).  A
    caller that writes several tables from one materialized frame aligns
    BEFORE materializing, so every write is shuffle-free.  ``nb=None``
    (flat layout) returns ``df`` unchanged."""
    if not nb:
        return df
    return df.withColumn(
        "id_bucket", F.pmod(F.col(id_col), F.lit(nb)).cast("int")
    ).repartition("id_bucket")


def _write_id_bucketed(
    df: DataFrame, tdir: str, nb: int | None, overwrite: bool
) -> None:
    """Shared table writer of the id-bucket layout (text and media
    indexes): ``df`` from :func:`_align_id_buckets` is hive-partitioned
    by ``id_bucket`` so the takedown prunes its rewrites to the
    partitions holding removed ids; ``nb=None`` writes flat.
    ``maxRecordsPerFile`` re-splits pathological buckets at backfill
    scale.  An overwrite is forced static: under a dynamic session
    ``partitionOverwriteMode`` a rebuild would replace only the
    partitions present in the new frame, and bucket partitions of a
    previous larger index at the same path would survive, resurrecting
    stale (possibly taken-down) entries (ADVICE r8).  A zero-row write
    leaves no part files; the table still reads as zero rows, because
    every open declares the recorded schema (:func:`_open`)."""
    mode = "overwrite" if overwrite else "append"
    if not nb:
        df.write.mode(mode).parquet(tdir)
        return
    w = df.write.option("maxRecordsPerFile", 10_000_000)
    if overwrite:
        w = w.option("partitionOverwriteMode", "static")
    w.partitionBy("id_bucket").mode(mode).parquet(tdir)


def _stream_index(
    spark: SparkSession,
    source_path: str,
    schema: str,
    checkpoint: str,
    upsert,
    compact,
    compact_every: int | None,
    available_now: bool,
    max_files_per_trigger: int | None,
):
    """Shared ``foreachBatch`` loop of the index streams (text, media,
    semantic, IVF): ``readStream`` over a parquet file source with the
    explicit ``schema`` (file-source streams need one), ``upsert(batch)``
    per micro-batch and ``compact()`` after every ``compact_every``-th
    one — compaction runs between triggers under the same single-writer
    discipline as the upserts, no separate maintenance job to schedule.
    Micro-batches are batch-sized, not table-sized, so the shuffle width
    is tuned down first (same rationale as ``streaming/ingest.py``;
    'auto'-safe shared helper, ADVICE r8).  Returns the started
    ``StreamingQuery``."""
    from fastdb_spark.session import tune_micro_batch_shuffle

    tune_micro_batch_shuffle(spark)
    n_batches = 0

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        nonlocal n_batches
        upsert(batch_df)
        n_batches += 1
        if compact_every and n_batches % compact_every == 0:
            compact()

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = (
        reader.parquet(source_path)
        .writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        stream = stream.trigger(availableNow=True)
    return stream.start()


#: audit of the most recent upsert's candidate-cap truncation: docs whose
#: vs-index candidate set was cut at ``max_bucket_size`` MIGHT have had
#: their one true near-dup dropped.  ``truncated_docs`` is a FLOOR capped
#: at 101 (one bounded limit-collect, not a full count — the exact tally
#: would add a second driver-blocking job inside the write lock);
#: ``sample`` holds at most 100 ids.  Reset at the top of every
#: :func:`dedup_index_upsert` call, so an uncapped run reports zeros
#: rather than a previous call's values (ADVICE r5).
LAST_UPSERT_AUDIT: dict = {"truncated_docs": 0, "sample": []}


def _near_dups_vs_index(
    fresh: DataFrame,
    old_bands: DataFrame,
    old_sh: DataFrame,
    threshold: float,
    id_col: str,
    max_bucket_size: int | None,
    audit: dict | None = None,
) -> DataFrame:
    """Ids of ``fresh`` docs whose Jaccard vs ANY indexed document meets
    ``threshold`` — the vs-index near-dup leg of :func:`_classify`
    (probe and upsert alike).  ``fresh`` carries (id, sh, bands) from
    :func:`_sketch`; ``old_bands`` and ``old_sh`` are the opened
    ``bands/`` and ``shingles/`` index tables.  ``max_bucket_size``
    caps candidates PER NEW doc (the refine only needs one hit; never
    the index side); truncated docs are recorded in ``audit`` when one
    is passed (one bounded limit-collect on a cachereg-staged frame —
    the caller's ``release_staged()`` frees it; without an audit the
    capped frame is not staged)."""
    from fastdb_spark.cachereg import stage

    new_banded = fresh.select(id_col, F.explode("bands").alias("band"))
    cand = (
        new_banded.join(
            old_bands.select(F.col("band"), F.col(id_col).alias("_old_id")),
            on="band",
        )
        .select(id_col, "_old_id")
        .dropDuplicates([id_col, "_old_id"])
    )
    if max_bucket_size is not None:
        # guard mirrors _candidate_pairs: a pathological band (e.g. the
        # batch re-ingests a boilerplate bomb) would blow the join; cap
        # candidates per new doc instead of per bucket here — the
        # refine only needs ONE hit.  _cnt rides the same window
        # partition (no extra shuffle) so truncated docs can be flagged.
        w = Window.partitionBy(id_col).orderBy("_old_id")
        wc = Window.partitionBy(id_col)
        cand = (
            cand.withColumn("_rn", F.row_number().over(w))
            .withColumn("_cnt", F.count("*").over(wc))
            .filter(F.col("_rn") <= max_bucket_size)
        )
        if audit is not None:
            # staged only for the audit, the one second reader; without
            # it the refine below reads the capped frame once (inside
            # the caller's `near` checkpoint), and a stage would add a
            # persist and an eager count job for nothing — the rule
            # imagededup.hash_matches follows
            cand = stage(cand)
            trunc = (
                cand.filter(F.col("_cnt") > max_bucket_size)
                .select(id_col)
                .distinct()
                .limit(101)
                .collect()
            )
            audit["truncated_docs"] = len(trunc)
            audit["sample"] = sorted(r[id_col] for r in trunc[:100])
        cand = cand.drop("_rn", "_cnt")
    scored = (
        cand.join(fresh.select(id_col, "sh"), on=id_col)
        .join(
            old_sh.select(
                F.col(id_col).alias("_old_id"),
                F.col("sh").alias("_old_sh"),
            ),
            on="_old_id",
        )
        .withColumn(
            "jac", F.round(jaccard(F.col("sh"), F.col("_old_sh")), 6)
        )
    )
    return (
        scored.filter(F.col("jac") >= threshold)
        .select(id_col)
        .distinct()
    )


def _classify(
    spark: SparkSession,
    sk: DataFrame,
    path: str,
    p: dict,
    id_col: str,
    max_bucket_size: int | None,
    audit: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """``(verdicts, surv)`` for the staged sketch ``sk`` of a batch vs
    the index at ``path`` — the one classification behind
    :func:`dedup_index_probe` and :func:`dedup_index_upsert`.

    verdicts: one ``(id, verdict)`` row per batch document, verdict in
    ``exact`` / ``in_batch_exact`` / ``near`` / ``in_batch_near`` /
    ``fresh`` (first match wins, in that order).  surv: the ``fresh``
    documents with every ``sk`` column — what an upsert appends.
    ``audit`` is forwarded to :func:`_near_dups_vs_index` (one extra
    bounded collect; the probe passes none).  Caller holds the lock and
    releases the staged frames.

    The exact leg (:func:`_exact_leg`) is staged once; the near-dup id
    sets come back to it as left-joined flags, so the verdict is one
    ``coalesce`` column and ``surv`` is its ``fresh`` filter."""
    from fastdb_spark.cachereg import stage

    fps, old_bands, old_sh = (_open(spark, path, t) for t in _TABLES)
    # (a) exact vs index + in-batch keep-min-id, staged once
    ex = stage(_exact_leg(sk, id_col, fps))
    keepmin = ex.filter(F.col("_v").isNull())
    # (b) near-dup vs index: band-bucket join against the stored
    # buckets, shingle refine against the stored shingle sets.  The
    # checkpoint keeps (c) and the verdict join from re-running the
    # chain (exchange reuse does not cross actions).  It is lazy only in
    # its final stage: under AQE, which every get_spark session enables,
    # localCheckpoint(eager=False) runs every shuffle-map stage of the
    # chain at this call (3 jobs in a traced 1000-document dedup_index
    # probe); only the tiny id frame is stored.
    near = _near_dups_vs_index(
        keepmin, old_bands, old_sh, p["threshold"], id_col,
        max_bucket_size, audit=audit,
    ).localCheckpoint(eager=False)
    # (c) in-batch greedy-MIS near-dup (replay-idempotent rule)
    in_batch_near = _inbatch_drops(
        keepmin.join(near, on=id_col, how="left_anti"),
        id_col, p["threshold"], max_bucket_size,
    )
    flagged = (
        ex.join(near.withColumn("_near", F.lit("near")), on=id_col, how="left")
        .join(
            in_batch_near.withColumn("_ibn", F.lit("in_batch_near")),
            on=id_col,
            how="left",
        )
        .withColumn(
            "verdict",
            F.coalesce("_v", "_near", "_ibn", F.lit("fresh")),
        )
    )
    verdicts = flagged.select(id_col, "verdict")
    surv = flagged.filter(F.col("verdict") == "fresh").select(*sk.columns)
    return verdicts, surv


def dedup_index_probe(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Classify ``new_docs`` against the index WITHOUT mutating it — the
    dry-run dedup REPORT (what a curation review wants before committing
    a crawl increment, and what a dedup-rate dashboard samples).
    Returns ``(id_col, verdict)`` with verdict one of:

    - ``exact``          — fingerprint already in the index
    - ``in_batch_exact`` — fingerprint collides in the batch, not min id
    - ``near``           — Jaccard vs an indexed doc >= threshold
    - ``in_batch_near``  — dropped by the in-batch greedy pass
    - ``fresh``          — would be appended by an upsert

    Probe and :func:`dedup_index_upsert` run the same classification
    (:func:`_classify`), so the ``fresh`` set EQUALS the id set the
    upsert would return for the same batch by construction (and
    property-tested).  The result is materialized (lineage severed)
    under the table write lock, so a concurrent takedown's partition
    swap cannot invalidate the returned frame; the index is untouched
    (mtime-asserted in tests)."""
    p = _load_params(path)
    _check_scheme(p, path)
    from fastdb_spark.cachereg import release_staged

    with table_write_lock(path):
        # pre-hash_impl indexes carry no key: they were md5
        sk = _staged_sketch(
            new_docs, id_col, text_col,
            p["shingle_k"], p["n_hashes"], p["bands"],
            p.get("hash_impl", "md5"),
        )
        try:
            verdicts, _ = _classify(spark, sk, path, p, id_col, max_bucket_size)
            out = verdicts.localCheckpoint(eager=True)
        finally:
            release_staged()
    return out


def dedup_index_upsert(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    id_ceiling: int = DEFAULT_ID_CEILING,
) -> list | None:
    """Dedup ``new_docs`` against the index AND append the survivors —
    exactly the documents :func:`dedup_index_probe` calls ``fresh``
    (both run :func:`_classify`).

    Returns the sorted surviving ids (materialized inside the write
    lock — the check-then-append must be atomic vs other writers), or
    ``None`` when the batch survives with more than ``id_ceiling``
    documents (a backfill-scale batch is staged to a scratch parquet
    instead of the driver; read the index to enumerate).  Sketch
    parameters come from the index metadata, never the caller, so every
    increment is banded identically.  Documents whose candidate set hit
    the ``max_bucket_size`` cap are flagged in ``LAST_UPSERT_AUDIT``
    (floor capped at 101 — see the audit docstring)."""
    p = _load_params(path)
    _check_scheme(p, path)
    from fastdb_spark.cachereg import release_staged

    # reset BEFORE the cap branch: an uncapped (max_bucket_size=None) run
    # must not leave a previous call's truncation counts standing
    LAST_UPSERT_AUDIT["truncated_docs"] = 0
    LAST_UPSERT_AUDIT["sample"] = []
    with table_write_lock(path):
        # pre-hash_impl indexes carry no key: they were md5
        sk = _staged_sketch(
            new_docs, id_col, text_col,
            p["shingle_k"], p["n_hashes"], p["bands"],
            p.get("hash_impl", "md5"),
        )
        try:
            _, surv = _classify(
                spark, sk, path, p, id_col, max_bucket_size,
                audit=LAST_UPSERT_AUDIT,
            )
            ids, _n = _append_survivors(
                surv, path, id_col, overwrite=False, id_ceiling=id_ceiling,
                id_buckets=p.get("id_buckets"),
            )
        finally:
            release_staged()
    return ids
