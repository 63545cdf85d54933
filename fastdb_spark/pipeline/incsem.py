"""Incremental SEMANTIC dedup against a persisted embedding index — the
fourth index family (text ``incdedup``, media ``incmedia``, vectors
``ann.ivf_index_*``), with ZERO new storage: the semantic index IS the
``ann.build_ivf_index`` layout (``centroids/`` + ``vectors/cluster=N/``
+ optional PQ ``codebooks/``), so ONE embedding store serves ANN
retrieval (``ivf_search_index``/``ivfpq_search_index``), replay-safe
streaming ingest, partition-pruned takedown, small-file compaction,
AND SemDeDup-style admission.  At 100 TB you do not store the corpus
embeddings twice to get both capabilities.

Admission semantics (stated precisely, tested): a new item is dropped
iff

- (a) some INDEXED vector in its assigned cluster has round-6 cosine
  >= ``eps`` with it (verdict ``dup``), or
- (b) the in-batch greedy-MIS pass drops it: some KEPT batch item with
  a LOWER id, same cluster, not itself a ``dup``, is within ``eps``
  (verdict ``in_batch_dup`` — the replay-idempotent rule shared by all
  index families, ``dedup.greedy_mis_drops``; NOT the batch operator
  :func:`semdedup.semantic_dedup`'s transitive keeper election, which
  is not idempotent under increments).

Removal is NOT retroactive (items dropped for duplicating a
now-removed vector stay dropped; a re-ingest is accepted again), and
quantizers stay frozen between rebuilds — both inherited from the IVF
layout's contract.

Guarded-regime carve-out (stated, audited): items landing in a cluster
over ``max_cluster_size`` skip the CONTENT probe — both in-batch and
vs-index — and are admitted as singletons (UNDER-dedup, surfaced in
``semdedup.LAST_SEMDEDUP_AUDIT``; the guard exists to bound the GEMM
task, and the right fix for a persistently-oversized cluster is a
higher k, not a wider task).  Replay idempotency still holds for them:
the ID guard (partition-pruned, id column only) always runs for
guard-skipped rows, so a re-delivered batch classifies them ``dup``
instead of re-appending (ADVICE r9).  What the guard regime does NOT
catch is a content duplicate under a NEW id inside an oversized
cluster — that is the documented under-dedup, not an idempotency hole.

Scale shape: assignment is a map (the Arrow GEMM under frozen
centroids, the one assignment kernel of the IVF layout — an index built
with the retired expression assignment is refused maintenance, see
``ann._refuse_expr_built``); the vs-index probe reads ONLY the batch's
touched ``cluster=N/`` partitions (plan-assertable PartitionFilters — the
``nprobe`` trick applied to dedup); scoring is one Arrow GEMM cogroup
task per touched cluster, never all-pairs; appends touch only the
batch's own cluster directories; takedown rewrites only clusters
holding removed ids (``ann.ivf_index_remove``).

Provenance: the admission choreography mirrors the reference's
first-seen ingest dedup (reference ``src/services/source_importer.py``
1-arcsec association) re-expressed for embedding space; the method is
SemDeDup (Abbas et al. 2023, arXiv:2303.09540) made incremental.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastdb_spark.functions.vectors import as_double_array
from fastdb_spark.locks import table_write_lock
from fastdb_spark.pipeline.ann import _load_centroids, _refuse_expr_built
from fastdb_spark.pipeline.incdedup import _open, _write_sidecar
from fastdb_spark.pipeline.semdedup import (
    DEFAULT_MAX_CLUSTER,
    assign_clusters,
)

_SEM_META = "_sem_meta.json"


def _sem_params(path: str) -> dict:
    with open(os.path.join(path, _SEM_META)) as f:
        return json.load(f)


def _inbatch_drops(
    keyed: DataFrame, id_col: str, eps: float, strategy: str
) -> DataFrame:
    """Ids dropped by the in-batch greedy-MIS admission pass (the
    replay-idempotent rule — see ``dedup.greedy_mis_drops``).
    ``keyed`` carries (id, v, cluster)."""
    from fastdb_spark.pipeline.dedup import greedy_mis_drops
    from fastdb_spark.pipeline.semdedup import _pairs

    return greedy_mis_drops(_pairs(keyed, id_col, eps, strategy), id_col)


def _vs_index_dups(
    new_keyed: DataFrame,
    old: DataFrame,
    id_col: str,
    eps: float,
    strategy: str,
) -> DataFrame:
    """New ids with a stored eps-neighbor in their cluster.

    ``strategy='gemm'``: one Arrow cogroup GEMM per touched cluster
    (new side x stored side — a two-frame probe, never all-pairs).
    ``strategy='expr'``: the column-expression twin."""
    if strategy == "expr":
        from fastdb_spark.functions.vectors import dot, norm

        # norms hoisted below the join (r12, guide §1.2): one fold per
        # input row per side instead of two per candidate pair;
        # dot/(nn*on) is cosine()'s exact op order, scores bit-identical
        j = new_keyed.select(
            "cluster",
            F.col(id_col).alias("_nid"),
            F.col("v").alias("_nv"),
        ).withColumn("_nn", norm(F.col("_nv"))).join(
            old.select("cluster", F.col("v").alias("_ov")).withColumn(
                "_on", norm(F.col("_ov"))
            ),
            ["cluster"],
        )
        hits = j.filter(
            F.round(
                dot(F.col("_nv"), F.col("_ov"))
                / (F.col("_nn") * F.col("_on")),
                6,
            )
            >= F.lit(eps)
        )
        return hits.select(F.col("_nid").alias(id_col)).distinct()
    if strategy != "gemm":
        raise ValueError(f"unknown probe strategy {strategy!r}")
    import numpy as np
    import pandas as pd

    from fastdb_spark.pipeline import semdedup as _sd

    # bound driver-side, session conf > module default (see _pairs_gemm)
    block, _ = _sd.gemm_block_sizes(new_keyed.sparkSession)

    def kernel(key, npdf: "pd.DataFrame", opdf: "pd.DataFrame"):
        if not len(npdf) or not len(opdf):
            return pd.DataFrame({id_col: []}).astype({id_col: np.int64})
        nm = np.array(npdf["v"].tolist(), dtype=np.float64)
        om = np.array(opdf["_ov"].tolist(), dtype=np.float64)
        nn = np.sqrt((nm * nm).sum(axis=1))
        on = np.sqrt((om * om).sum(axis=1))
        ids = npdf[id_col].to_numpy()
        # blocked over the NEW side: memory O(block * stored), not
        # O(new * stored) — a backfill batch against a fat cluster is
        # exactly where the unblocked matrix blows up (round-10 audit)
        hits = []
        for s in range(0, len(ids), block):
            e = min(s + block, len(ids))
            cos = np.round((nm[s:e] @ om.T) / np.outer(nn[s:e], on), 6)
            hits.append(ids[s:e][(cos >= eps).any(axis=1)])
        return pd.DataFrame({id_col: np.concatenate(hits)})

    return (
        new_keyed.select("cluster", id_col, "v")
        .groupby("cluster")
        .cogroup(
            old.select("cluster", F.col("v").alias("_ov")).groupby("cluster")
        )
        .applyInPandas(kernel, schema=f"{id_col} long")
    )


def _classify(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    strategy: str,
    max_cluster_size: int | None,
) -> tuple[DataFrame, DataFrame]:
    """(verdicts, fresh_keyed) for ``batch`` vs the index at ``path``.

    verdicts: one ``(id, verdict)`` row per batch item, verdict in
    ``dup`` / ``in_batch_dup`` / ``fresh``.  fresh_keyed carries the
    fresh items as ``(id, v, cluster, cos_c)``.  Caller holds the lock.
    ``strategy`` picks the pair kernel; assignment is always the GEMM.
    """
    from fastdb_spark.cachereg import stage_adaptive
    from fastdb_spark.pipeline.semdedup import _guarded_keyed

    _refuse_expr_built(path)
    eps = _sem_params(path)["eps"]
    cents = _load_centroids(spark, path)
    # `guarded` comes from the RETURN VALUE, never from the process-
    # global LAST_SEMDEDUP_AUDIT: a concurrent _guarded_keyed call (a
    # second index's stream, a batch semantic_dedup) resets the global
    # between our computation and our read, and a wrong False here
    # silently skips the replay id-guard (round-10 review finding)
    full, pair_side, guarded = _guarded_keyed(
        batch, cents, id_col, vec_col, max_cluster_size, "gemm"
    )
    if max_cluster_size is None:
        # guard off -> _guarded_keyed did not stage; still share one
        # assignment computation across the probe/in-batch/fresh branches
        # (assigned WIDE for the GEMM, consumed as a size-matched narrow
        # view by the maintenance choreography — r13, VERDICT r12 #5)
        full = stage_adaptive(full)
        pair_side = full
    if guarded:
        # restrict the VECTOR read to unguarded clusters — a guarded
        # (degenerate, over-max_cluster_size) cluster's stored side can
        # be huge, and its new side is empty by construction, so reading
        # its embeddings would be pure waste
        touched_pair = [
            int(r["cluster"])
            for r in pair_side.select("cluster").distinct().collect()
        ]
    else:
        touched_pair = [
            int(r["cluster"])
            for r in full.select("cluster").distinct().collect()
        ]  # bounded by the centroid count
    old = (
        _open(spark, path, "vectors")
        .filter(F.col("cluster").isin(touched_pair))  # partition-pruned
        .select("cluster", as_double_array(F.col(vec_col)).alias("v"))
    )
    # lazy checkpoint: the vs-index pass (per-cluster GEMM cogroup on
    # the 'gemm' strategy) is otherwise evaluated twice — inside the
    # in-batch greedy-MIS fixpoint actions (via rest -> pairs) and again
    # when the verdict union materializes; compute it once and store
    # only the tiny id frame (r13)
    dup = _vs_index_dups(
        pair_side.select("cluster", id_col, "v"), old, id_col, eps, strategy
    ).localCheckpoint(eager=False)
    rest = pair_side.join(dup, on=id_col, how="left_anti")
    in_batch = _inbatch_drops(rest, id_col, eps, strategy)
    fresh = rest.join(in_batch, on=id_col, how="left_anti")
    # guard-skipped items (in `full` but not `pair_side`) skip the
    # CONTENT probe (the guard exists to bound the GEMM task) and pass
    # through as fresh — UNDER-dedup, audited in LAST_SEMDEDUP_AUDIT,
    # mirroring the batch operator's singleton semantics — EXCEPT that
    # the cheap ID guard always runs for them (ADVICE r9: without it a
    # replayed guarded batch re-appends every row under the
    # dedup_ids=False default, silently breaking replay idempotency
    # exactly where the content guard already can't see).  The id check
    # is partition-pruned and reads only the id column.
    skipped = full.join(
        pair_side.select(id_col), on=id_col, how="left_anti"
    )
    if guarded:
        from fastdb_spark.pipeline.ann import _stored_ids_for_clusters

        skipped_clusters = [
            int(r["cluster"])
            for r in skipped.select("cluster").distinct().collect()
        ]
        # checkpoint: the pruned id scan feeds TWO joins (left_semi +
        # left_anti) — materialize it once instead of scanning twice
        stored_ids = _stored_ids_for_clusters(
            spark, path, skipped_clusters, id_col
        ).localCheckpoint(eager=True)
        replayed = skipped.join(stored_ids, on=id_col, how="left_semi")
        skipped = skipped.join(stored_ids, on=id_col, how="left_anti")
        dup_verdict = dup.select(id_col).unionByName(
            replayed.select(id_col)
        )
    else:
        dup_verdict = dup.select(id_col)
    fresh_keyed = fresh.unionByName(skipped)
    verdicts = (
        dup_verdict.select(id_col, F.lit("dup").alias("verdict"))
        .unionByName(
            in_batch.select(id_col, F.lit("in_batch_dup").alias("verdict"))
        )
        .unionByName(
            fresh_keyed.select(id_col, F.lit("fresh").alias("verdict"))
        )
    )
    return verdicts, fresh_keyed


def build_semantic_index(
    df: DataFrame,
    path: str,
    n_clusters: int = 8,
    eps: float = 0.92,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "gemm",
    centroid_strategy: str = "seed",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    max_cluster_size: int | None = DEFAULT_MAX_CLUSTER,
    pq_m: int | None = None,
) -> int:
    """Build the semantic index: train (or accept) the coarse quantizer,
    run the one-shot in-batch admission at ``eps``, and persist the
    SURVIVORS as a standard ``ann.build_ivf_index`` layout (so every IVF
    search/maintenance entry point works on it unchanged) plus
    ``_sem_meta.json`` recording the admission parameters.  Admission
    and layout share one GEMM assignment under the frozen quantizer.

    Returns the number of vectors admitted.  The quantizer is trained on
    the FULL input (pre-admission) so the oracle and a rebuild replay it
    without knowing the admission outcome; admission then never admits
    an empty index from a non-empty corpus (each eps-group keeps its
    minimum id)."""
    from fastdb_spark.pipeline.ann import build_ivf_index, ivf_centroids
    from fastdb_spark.pipeline.semdedup import _guarded_keyed

    cents = centroids if centroids is not None else ivf_centroids(
        df, n_clusters, id_col, vec_col,
        strategy=centroid_strategy, seed=seed,
    )
    full, pair_side, _guarded = _guarded_keyed(
        df, cents, id_col, vec_col, max_cluster_size, "gemm"
    )
    drops = _inbatch_drops(pair_side, id_col, eps, strategy)
    # survivors KEEP the cluster tag the admission pass already computed
    # (frozen centroids, one assignment kernel): pre_assigned=True lets
    # build_ivf_index skip its own assignment — the r11 build re-ran a
    # full redundant assignment pass over the survivors (r12, guide
    # §1.2 "don't compute things you throw away")
    survivors = full.join(drops, on=id_col, how="left_anti").select(
        F.col(id_col), F.col("v").alias(vec_col), "cluster"
    )
    build_ivf_index(
        survivors, path, n_clusters=len(cents), id_col=id_col,
        vec_col=vec_col, centroids=cents, pq_m=pq_m, pre_assigned=True,
    )
    _write_sidecar(
        os.path.join(path, _SEM_META), {"eps": eps, "n_clusters": len(cents)}
    )
    # the build just wrote exactly the survivor set: count the persisted
    # layout (parquet footer metadata — no data read, no recompute of
    # the admission pipeline) instead of re-running the survivor plan
    n = _open(df.sparkSession, path, "vectors").count()
    from fastdb_spark.cachereg import release_staged

    release_staged()
    return n


def semantic_index_probe(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "gemm",
    max_cluster_size: int | None = DEFAULT_MAX_CLUSTER,
) -> DataFrame:
    """Classify ``batch`` against the index WITHOUT mutating it — the
    dry-run report (``(id, verdict)``; verdict ``dup`` /
    ``in_batch_dup`` / ``fresh``).  Precedence is exactly the upsert's;
    the ``fresh`` set EQUALS what :func:`semantic_index_upsert` would
    append (property-tested).  Materialized under the write lock so a
    concurrent takedown's partition swap cannot invalidate the frame."""
    from fastdb_spark.cachereg import release_staged

    with table_write_lock(path):
        verdicts, _ = _classify(
            spark, batch, path, id_col, vec_col,
            strategy, max_cluster_size,
        )
        out = verdicts.localCheckpoint(eager=True)
        release_staged()
        return out


def semantic_index_upsert(
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "gemm",
    max_cluster_size: int | None = DEFAULT_MAX_CLUSTER,
    dedup_ids: bool = False,
) -> int:
    """Admit ``batch`` against the index and append the survivors —
    classify + append under ONE write lock (no admit-then-append race
    with a concurrent upsert).  Returns the number appended.

    ``dedup_ids=True`` additionally drops batch rows whose id is
    already stored (the at-least-once replay guard, partition-pruned —
    see ``ann.ivf_index_upsert``); content-level admission already
    absorbs replays whose vectors duplicate stored ones, so the id
    guard matters for replayed items that were FRESH last time."""
    from fastdb_spark.cachereg import release_staged
    from fastdb_spark.pipeline.ann import _ivf_upsert_unlocked

    spark = batch.sparkSession
    with table_write_lock(path):
        _, fresh_keyed = _classify(
            spark, batch, path, id_col, vec_col,
            strategy, max_cluster_size,
        )
        fresh = fresh_keyed.select(
            F.col(id_col), F.col("v").alias(vec_col)
        ).localCheckpoint(eager=True)  # sever: the append writes vectors/
        release_staged()
        return _ivf_upsert_unlocked(
            fresh, path, id_col=id_col, vec_col=vec_col,
            dedup_ids=dedup_ids,
        )


def semantic_index_remove(spark: SparkSession, ids, path: str,
                          id_col: str = "vec_id") -> int:
    """Takedown — delegates to the IVF engine (rewrites only the
    clusters holding removed ids, quantizers frozen, non-retroactive)."""
    from fastdb_spark.pipeline.ann import ivf_index_remove

    return ivf_index_remove(spark, ids, path, id_col=id_col)


def compact_semantic_index(
    spark: SparkSession, path: str, min_files: int = 8
) -> dict:
    """Small-file compaction — delegates to the IVF engine."""
    from fastdb_spark.pipeline.ann import ivf_index_compact

    return ivf_index_compact(spark, path, min_files=min_files)


def stream_semantic_index(
    spark: SparkSession,
    vectors_path: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vec_type: str = "array<float>",
    strategy: str = "gemm",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
    compact_min_files: int = 8,
):
    """Structured-Streaming ingest with SEMANTIC admission — the fourth
    index family's stream (same transport as ``ann.stream_ivf_index``,
    same layout, plus the eps-dedup admission): ``readStream`` over a
    parquet file source of ``(id, vector)`` rows, ``foreachBatch``
    applying :func:`semantic_index_upsert` per micro-batch under the
    index write lock.  The checkpoint gives exactly-once over the
    transport; re-delivery of a torn micro-batch is absorbed twice over
    — content admission drops replayed rows that duplicate stored ones,
    and the ``dedup_ids`` guard drops replayed rows that were FRESH
    last time.  ``compact_every=N`` runs
    :func:`compact_semantic_index` between triggers, inside the same
    single-writer discipline.  The index must already exist
    (:func:`build_semantic_index`).  Returns the StreamingQuery."""
    if not os.path.exists(os.path.join(index_path, _SEM_META)):
        raise ValueError(
            f"no semantic index at {index_path}; build_semantic_index first"
        )
    from fastdb_spark.pipeline.incdedup import _stream_index

    return _stream_index(
        spark,
        vectors_path,
        f"{id_col} long, {vec_col} {vec_type}",
        checkpoint,
        lambda batch_df: semantic_index_upsert(
            batch_df, index_path, id_col=id_col, vec_col=vec_col,
            strategy=strategy, dedup_ids=True,
        ),
        lambda: compact_semantic_index(
            spark, index_path, min_files=compact_min_files
        ),
        compact_every,
        available_now,
        max_files_per_trigger,
    )
