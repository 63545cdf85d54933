"""Approximate-nearest-neighbor search over an embedding column.

- ``cosine_topk``      — exact brute-force top-k (the correctness baseline;
                         one pass + a top-k sort, no shuffle of the corpus).
- ``lsh_bucketed_topk``— random-hyperplane LSH: deterministic pseudo-random
                         hyperplanes (seeded from md5, no RNG state), sign
                         bits -> bucket key; probe the query's bucket and
                         its single-bit-flip neighbors.  At 100 TB the
                         bucket key is the stored partition column, so a
                         query touches a handful of partitions instead of
                         the full corpus.
- ``ivf_topk``         — inverted-file index: coarse quantizer (MLlib
                         k-means, or deterministic seed centroids) assigns
                         every vector a cluster id; a query scores only the
                         ``nprobe`` clusters whose centroids are nearest.
                         At scale the cluster id is the table's partition
                         column (same layout trick as the LSH bucket), and
                         the centroid table is broadcast.

The persisted IVF layout (``build_ivf_index`` and its upsert, stream,
takedown and compaction) has one nearest-centroid assignment, the Arrow
batch GEMM of ``semdedup.assign_clusters``; the column-expression
argmax ``with_ivf_cluster`` serves the per-query ``*_topk`` paths.
"""

from __future__ import annotations

import hashlib
import json
import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastdb_spark.functions.vectors import (
    as_double_array,
    cosine,
    cosine_to_lit,
    dot,
    double_array_lit,
    int_array_lit,
    let1,
    nested_double_array_lit,
    norm,
    norm_py,
)
from fastdb_spark.localrel import tiny_local_df
from fastdb_spark.pipeline.incdedup import _open, _record_schemas

def _refuse_expr_built(path: str) -> None:
    """Raise ``ValueError`` if a leftover build sidecar of the index at
    ``path`` records the retired ``assign_strategy="expr"``: maintenance
    assigns by GEMM only, and a rounded-cosine tie could put a replayed
    row in another cluster than the one it is stored in, where the
    partition-pruned replay guards miss it.  Search does not call this."""
    import os

    for name in ("_ivf_meta.json", "_sem_meta.json"):
        try:
            with open(os.path.join(path, name)) as f:
                built = json.load(f).get("assign_strategy")
        except FileNotFoundError:
            continue
        if built == "expr":
            raise ValueError(
                f"index at {path!r} was built with assign_strategy='expr'"
                "; rebuild it (maintenance assigns by GEMM only)"
            )


def _load_centroids(spark, path: str) -> list[list[float]]:
    """The persisted coarse quantizer of the index at ``path``, in
    cluster order (KBs, ranked on the driver)."""
    rows = _open(spark, path, "centroids").orderBy("cluster").collect()
    return [list(map(float, r["centroid"])) for r in rows]


def _round9_py(x: float) -> float:
    """Driver-side twin of ``F.round(col, 9)`` (HALF_UP over the
    shortest decimal repr — Spark rounds doubles via
    ``BigDecimal.valueOf``, i.e. ``Double.toString``, which is the same
    shortest round-trip decimal ``repr`` produces).  Used by the LSH
    sign test so the query bucket computed here and the corpus buckets
    computed by the SQL engines quantize identically (ADVICE r11 #1:
    an unrounded ``> 0`` could flip on a last-ulp reassociation
    difference between engines)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(x))).quantize(
            Decimal("1E-9"), rounding=ROUND_HALF_UP
        )
    )


def _hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane weights in
    [-0.5, 0.5), seeded via md5 (no RNG, reproducible across runs)."""
    out = []
    for i in range(dim):
        h = hashlib.md5(f"plane{plane}:dim{i}".encode()).digest()[:8]
        (v,) = struct.unpack(">Q", h)
        out.append((v % 10_000) / 10_000.0 - 0.5)
    return out


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.

    The query is a literal array (broadcast by construction); Spark plans a
    TakeOrderedAndProject — no full sort, no shuffle beyond the top-k
    combine."""
    scored = embeddings.select(
        F.col(id_col),
        # query-side norm folded once on the driver (bit-identical —
        # see cosine_to_lit); the corpus-side fold is per row either way
        F.round(
            cosine_to_lit(as_double_array(F.col(vec_col)), query_vec), 6
        ).alias("cos"),
    )
    return scored.orderBy(F.desc("cos"), F.col(id_col)).limit(k)


def with_lsh_bucket(
    embeddings: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Attach the random-hyperplane sign-bucket key (persisted layout
    column at scale; replaces a full-corpus scan with bucket pruning).

    The sign test quantizes the plane dot at 9 decimals first (ADVICE
    r11 #1): with the raw ``> 0`` a near-zero dot could land on
    different sides of zero across engines (duckdb's
    ``list_dot_product`` may reassociate the sum), making the exact
    oracle flaky in the last ulp; rounding makes a flip require the
    true dot to sit within ~1e-16 of the 0.5e-9 grid boundary — the
    same guarantee every round-9 assignment comparison has relied on
    since round 9."""
    if n_planes > 31:
        # the plane weight is a 32-bit shiftleft(1, p): plane 31 would
        # produce Integer.MIN_VALUE and higher planes wrap (VERDICT r12
        # nit) — refuse instead of silently folding buckets together
        raise ValueError(
            f"with_lsh_bucket supports at most 31 planes (the bucket is "
            f"a 32-bit int; shiftleft(1, {n_planes - 1}) would wrap), "
            f"got n_planes={n_planes}"
        )
    v = as_double_array(F.col(vec_col))
    planes = nested_double_array_lit(
        [_hyperplane(p, dim) for p in range(n_planes)]
    )
    # ONE transform lambda over a nested plane literal (r12, same move as
    # with_ivf_cluster): per-plane arithmetic unchanged — round-9 dot
    # sign test, weight 1 << p, integer sum — so buckets are
    # bit-identical to the per-plane expression chain it replaces.
    bucket = F.aggregate(
        F.transform(
            planes,
            lambda p, i: F.when(
                F.round(dot(v, p), 9) > 0,
                # SQL shiftleft accepts a column exponent; the python
                # wrapper F.shiftleft only takes an int literal
                F.call_function("shiftleft", F.lit(1), i),
            ).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return embeddings.withColumn(bucket_col, bucket.cast("int"))


def lsh_bucketed_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe_bits: int = 1,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket and
    (multiprobe) the buckets one bit-flip away — 1/2^n_planes * (1 +
    n_planes) of the corpus instead of all of it."""
    from itertools import combinations

    dim = len(query_vec)
    qbucket = 0
    for p in range(n_planes):
        plane = _hyperplane(p, dim)
        # same round-at-9 sign test as with_lsh_bucket (the query's own
        # corpus row must hash into the bucket this probe set targets)
        if _round9_py(sum(a * b for a, b in zip(query_vec, plane))) > 0:
            qbucket |= 1 << p
    # probe every bucket within hamming distance <= multiprobe_bits of the
    # query's bucket (sum_{i<=m} C(n_planes, i) probes)
    probes = [qbucket]
    for m in range(1, multiprobe_bits + 1):
        for bits in combinations(range(n_planes), m):
            flip = 0
            for b in bits:
                flip |= 1 << b
            probes.append(qbucket ^ flip)

    bucketed = with_lsh_bucket(embeddings, n_planes, dim, vec_col)
    cand = bucketed.filter(F.col("bucket").isin(probes))
    scored = cand.select(
        F.col(id_col),
        F.round(
            cosine_to_lit(as_double_array(F.col(vec_col)), query_vec), 6
        ).alias("cos"),
    )
    return scored.orderBy(F.desc("cos"), F.col(id_col)).limit(k)


def with_recall(
    approx: DataFrame, exact: DataFrame, k: int, id_col: str = "vec_id"
) -> DataFrame:
    """Append recall@k against the exact top-k as a constant column.

    Lazy (no driver action): left-join the approximate result to the exact
    id set and window-sum the hit flags — the window spans <= k rows, so
    the 'global' window is trivially cheap.  Surfaced by the rows-only ANN
    gate queries so every driver artifact records the achieved recall
    alongside the rows."""
    from pyspark.sql import Window

    hits = exact.select(F.col(id_col)).withColumn("_hit", F.lit(1))
    flagged = approx.join(hits, on=id_col, how="left")
    w = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return flagged.withColumn(
        f"recall{k}",
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).over(w) / F.lit(float(k)),
    ).drop("_hit")


def _cosine_py(a: list[float], b: list[float]) -> float:
    num = sum(x * y for x, y in zip(a, b))
    da = sum(x * x for x in a) ** 0.5
    db = sum(y * y for y in b) ** 0.5
    return num / (da * db) if da > 0 and db > 0 else 0.0


def _seed_training_vectors(
    embeddings: DataFrame, k: int, id_col: str, vec_col: str,
    strict: bool = True,
) -> list[list[float]]:
    """``k`` deterministic, evenly-spread corpus vectors for seed-style
    quantizer training — by id QUANTILE PROBES, not ``id % stride``.

    The modulo filter assumed dense ids starting near 0; with sparse or
    hashed ids (xxhash64 doc/vec ids) it can match far fewer than k rows
    or none, silently yielding underfull codebooks.  Here: one min/max
    aggregate, then for each of k probe points evenly spaced over
    [lo, hi] a conditional-min aggregate picks the first id at/after the
    probe (a single distributed agg job — no global sort, no single-task
    window), and one ``isin`` filter fetches the vectors.  Probes that
    collapse on a clustered id space fall back to the k smallest ids
    (distributed TakeOrdered).  Raises when the corpus genuinely has
    fewer than k vectors.
    """
    df = embeddings.select(
        F.col(id_col).alias("_id"), as_double_array(F.col(vec_col)).alias("_tv")
    )
    first = df.agg(F.min("_id"), F.max("_id")).first()
    lo, hi = first[0], first[1]
    if lo is None:
        raise ValueError("cannot train a quantizer on an empty corpus")
    lo, hi = int(lo), int(hi)
    probes = sorted({lo + (hi - lo) * i // max(1, k - 1) for i in range(k)})
    row = df.agg(
        *[
            F.min(F.when(F.col("_id") >= p, F.col("_id"))).alias(f"q{i}")
            for i, p in enumerate(probes)
        ]
    ).first()
    ids = sorted({row[i] for i in range(len(probes)) if row[i] is not None})
    if len(ids) < k:
        ids = [r["_id"] for r in df.select("_id").orderBy("_id").limit(k).collect()]
    if strict and len(ids) < k:
        raise ValueError(
            f"only {len(ids)} training vectors available, need {k} — "
            "shrink n_clusters/pq_k or grow the corpus"
        )
    rows = (
        df.filter(F.col("_id").isin([int(x) for x in ids[:k]]))
        .orderBy("_id")
        .limit(k)
        .collect()
    )
    if strict and len(rows) < k:
        raise ValueError(
            f"training sample resolved to {len(rows)} rows, need {k}"
        )
    return [list(map(float, r["_tv"])) for r in rows]


def _hash_sample_vectors(
    embeddings: DataFrame, n: int, id_col: str, vec_col: str
) -> list[list[float]]:
    """Deterministic pseudo-random training sample: the ``n`` rows with
    the smallest ``xxhash64(id)`` — a distributed TakeOrdered (per-
    partition top-n, tiny merge), one job, no RNG state, and agnostic to
    the id space (dense, sparse, or hashed).  Used for the larger PQ
    codebook training sets where an evenly-spread quantile probe would
    need an n-column aggregate."""
    df = embeddings.select(
        F.col(id_col).alias("_id"), as_double_array(F.col(vec_col)).alias("_tv")
    )
    rows = (
        df.orderBy(F.xxhash64(F.col("_id")), F.col("_id")).limit(n).collect()
    )
    return [list(map(float, r["_tv"])) for r in rows]


def _lloyd_codebook(X, k: int, iters: int = 10):
    """Deterministic per-subspace Lloyd k-means (numpy, driver-side):
    init = k evenly-spaced training rows (id order), then standard
    assign/mean iterations; empty cells keep their previous center.  This
    is the real PQ train step — a codebook that is just k raw sample
    subvectors quantizes badly whenever the corpus has more modes than
    samples."""
    import numpy as np

    n = len(X)
    idx = sorted({round(i * (n - 1) / max(1, k - 1)) for i in range(k)})
    while len(idx) < k:  # tiny training sets: pad with wraparound picks
        idx.append(idx[len(idx) % n])
    C = X[np.array(idx[:k], dtype=np.int64)].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        for j in range(k):
            sel = a == j
            if sel.any():
                C[j] = X[sel].mean(axis=0)
    return C


def _pq_codebooks_from(mat, m: int, k: int) -> list[list[list[float]]]:
    """Split a training matrix into M subspaces and Lloyd-train a K-entry
    codebook per subspace."""
    d = mat.shape[1]
    sub = d // m
    return [
        [
            list(map(float, row))
            for row in _lloyd_codebook(mat[:, i * sub : (i + 1) * sub], k)
        ]
        for i in range(m)
    ]


def ivf_centroids(
    embeddings: DataFrame,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "seed",
    seed: int = 42,
    max_iter: int = 5,
) -> list[list[float]]:
    """Coarse-quantizer centroids for the IVF index.

    ``strategy='kmeans'``: MLlib k-means (k-means|| init) — the trained
    index build; one fit job, run once when (re)building the layout.
    ``strategy='seed'``: every ``ceil(n/k)``-th corpus vector by id rank —
    deterministic, zero training cost, the oracle-friendly variant.
    Either way the result is a tiny driver-side list that downstream
    assignment broadcasts as literals.
    """
    if strategy == "kmeans":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat = embeddings.withColumn(
            "_feat", array_to_vector(as_double_array(F.col(vec_col)))
        )
        model = KMeans(
            k=n_clusters, seed=seed, maxIter=max_iter,
            featuresCol="_feat", predictionCol="_cluster",
        ).fit(feat)
        return [list(map(float, c)) for c in model.clusterCenters()]
    # seed strategy: k id-quantile-probed vectors (works for dense,
    # sparse, and hashed id spaces alike)
    return _seed_training_vectors(embeddings, n_clusters, id_col, vec_col)


def with_ivf_cluster(
    embeddings: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
) -> DataFrame:
    """Attach the nearest-centroid id (argmax cosine, tie -> lowest id).
    Centroids ride along as literals — no join, no shuffle; at scale this
    column is the stored partition key of the embedding table.

    The k cosines are ONE ``transform`` lambda over a single nested
    literal (r12: the per-centroid expression subtrees made plan
    analysis O(k·dim) driver-side); element order and arithmetic are
    unchanged — the same left-to-right ``zip_with``/``aggregate`` fold
    per centroid, round-9, ``array_max`` over (cos, -idx) structs with
    the identical lowest-id tie rule — so assignments are bit-identical
    to the pre-r12 shape (regression-tested)."""
    v = as_double_array(F.col(vec_col))
    cents = nested_double_array_lit(centroids)
    cnorms = [norm_py(c) for c in centroids]
    import math as _math

    if all(_math.isfinite(n) for n in cnorms):
        # centroid norms folded once on the driver (bit-identical twin
        # of the JVM fold, see norm_py) instead of re-folded per row per
        # centroid: dot/(norm(v)*cn) is cosine()'s exact op order with
        # the constant norm(c) subtree replaced by its value, so
        # assignments are unchanged to the last ulp (r12, guide §1.2).
        # r13 (VERDICT r12 #6): the ROW norm is hoisted too — let1 binds
        # norm(v) to a lambda variable evaluated once per row, where the
        # r12 tree re-folded it once per centroid inside this lambda
        # (CollapseProject defeats the pre-projection form; the lambda
        # variable it cannot inline).  Same value, same rounding, same
        # tie rule — pinned bit-exact in tests/test_round13_opt.py.
        cn = double_array_lit(cnorms)
        scored = let1(
            norm(v),
            lambda nv: F.transform(
                cents,
                lambda c, i: F.struct(
                    F.round(
                        dot(v, c) / (nv * F.element_at(cn, i + F.lit(1))),
                        9,
                    ).alias("cos"),
                    (-i).alias("negidx"),
                ),
            ),
        )
    else:
        scored = F.transform(
            cents,
            lambda c, i: F.struct(
                F.round(cosine(v, c), 9).alias("cos"),
                (-i).alias("negidx"),
            ),
        )
    best = F.array_max(scored)
    return embeddings.withColumn(cluster_col, (-best["negidx"]).cast("int"))


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "seed",
    seed: int = 42,
    pq_m: int | None = None,
    pq_k: int = 16,
    pq_residual: bool = True,
    centroids: list[list[float]] | None = None,
    pre_assigned: bool = False,
) -> None:
    """Materialize the IVF index as an engine-owned layout: a tiny
    ``centroids`` parquet table plus the corpus rewritten partitioned by
    its nearest-centroid id (``vectors/cluster=N/``).

    ``pre_assigned=True`` (r12): the input ALREADY carries the
    ``cluster`` column produced by the same quantizer's GEMM
    assignment — skip the assignment pass entirely.  The semantic-index
    build assigns once for its admission pass and then built the layout
    from the post-admission survivors; re-deriving their clusters here
    was a full redundant pass over the corpus (identical values by
    construction: frozen centroids, one assignment kernel).  Requires
    ``centroids`` (the quantizer is not re-derivable from a tagged
    frame) and is the caller's assertion that the tags came from
    exactly that quantizer.

    ``centroids`` (optional) skips the ``ivf_centroids`` fit and freezes
    the given quantizer directly — callers that already own a trained or
    deterministic centroid set (the semantic dedup index trains BEFORE
    its admission pass so admission and layout share one quantizer)
    persist it unchanged.

    Build and upsert assign every vector by the vectorized Arrow batch
    GEMM (``semdedup.assign_clusters``), the one nearest-centroid kernel
    of the index families: the column-expression argmax embeds k array
    literals in the plan (measured 136 s vs ~3 s per 1M rows at k=256,
    plus ~8 s of driver-side plan analysis per materialization even at
    k=25).  Every input column passes through, so payload columns
    survive.  Cluster membership equals the expression argmax's
    (regression-tested), which the index gates' oracles replay.

    Train-once/query-many: the coarse quantizer is fit ONCE here (one
    k-means job, or the deterministic seed pick) instead of per query, and
    every subsequent ``ivf_search_index`` probe prunes whole partitions
    via the directory layout before a single file opens — at 100 TB a
    query touches ``nprobe/n_clusters`` of the files, and the centroid
    table it ranks on the driver is a few KB.

    With ``pq_m`` set the PQ half is persisted too (the FAISS IVF-PQ
    build): codebooks land in ``codebooks/`` (M×K rows, KBs) and every
    vector row carries its ``pq_code`` column — ONE Arrow encode pass,
    reusing the cluster assignment the layout is partitioned by, so
    ``ivfpq_search_index`` runs ZERO training jobs at query time.
    ``pq_residual`` selects residual codebooks (codes over v_norm − c —
    more accurate at the same budget) vs raw-vector codebooks."""
    import os

    cents = centroids if centroids is not None else ivf_centroids(
        embeddings, n_clusters, id_col, vec_col, strategy=strategy, seed=seed
    )
    spark = embeddings.sparkSession
    cent_df = tiny_local_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cluster long, centroid array<double>",
    )
    cent_df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "centroids")
    )
    if pre_assigned:
        if centroids is None or "cluster" not in embeddings.columns:
            raise ValueError(
                "pre_assigned=True requires explicit centroids and a "
                "'cluster' column on the input"
            )
        tagged = embeddings.withColumn(
            vec_col, as_double_array(F.col(vec_col))
        )
    else:
        tagged = _assign(embeddings, cents, id_col, vec_col)
    tables = {"centroids": cent_df.schema}
    if pq_m is not None:
        if pq_residual:
            books = train_pq_residual(
                embeddings, cents, m=pq_m, k=pq_k, id_col=id_col,
                vec_col=vec_col,
            )
            tagged = encode_pq_residual(
                tagged, cents, books, id_col=id_col, vec_col=vec_col,
                cluster_col="cluster", keep_vec=vec_col,
            )
        else:
            books = train_pq(
                embeddings, m=pq_m, k=pq_k, id_col=id_col, vec_col=vec_col
            )
            tagged = encode_pq(
                tagged, books, id_col=id_col, vec_col=vec_col,
                keep=["cluster"], keep_vec=vec_col,
            )
        book_df = tiny_local_df(
            spark,
            [
                (i, j, books[i][j], bool(pq_residual))
                for i in range(len(books))
                for j in range(len(books[i]))
            ],
            "subspace int, code int, vec array<double>, residual boolean",
        )
        book_df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "codebooks")
        )
        tables["codebooks"] = book_df.schema
    vectors = _align(tagged)
    vectors.write.option("maxRecordsPerFile", 10_000_000).mode(
        "overwrite"
    ).partitionBy("cluster").parquet(os.path.join(path, "vectors"))
    _record_schemas(path, {**tables, "vectors": vectors.schema})


def _align(df: DataFrame) -> DataFrame:
    """Shuffle on the cluster key before a ``partitionBy("cluster")``
    write so each cluster's rows land in ONE writer task — file count
    per write becomes (touched clusters), not (tasks x touched
    clusters).  Without it a 100k-row upsert at k=2500 writes up to
    32 x 2500 = 80,000 sliver files, and build fragmentation grows with
    the task count (the round-9 1M/256 series ended at 11,165 files
    before compaction; the text-index 10M A/B measured the same
    alignment shuffle PAYING for itself even at build time, 634 s
    bucketed vs 759 s flat).  Cost: one hash shuffle of the written
    batch.  Pathologically large clusters are re-split by the writes'
    ``maxRecordsPerFile`` (the incdedup discipline); clusters are
    k-bounded by construction (raise k, the same knob that bounds the
    GEMM task), so whole-cluster writers are the right default."""
    return df.repartition("cluster")


def _assign(
    df: DataFrame,
    cents: list[list[float]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Nearest-centroid tagging for the index build/upsert paths: the
    Arrow batch GEMM, keeping every input column."""
    from fastdb_spark.pipeline.semdedup import assign_clusters

    return assign_clusters(df, cents, id_col, vec_col, "gemm").drop("cos_c")


def _stored_ids_for_clusters(
    spark: SparkSession, path: str, clusters: list, id_col: str
) -> DataFrame:
    """The ids already stored in the given ``cluster=N/`` partitions —
    the read side of :func:`ivf_index_upsert`'s ``dedup_ids`` replay
    guard.  The ``isin`` filter lands in the scan's PartitionFilters
    (plan-audited in tests/test_round9.py): at a 100 TB index the guard
    reads only the batch's own clusters and only the id column, never
    the whole table."""
    return (
        _open(spark, path, "vectors")
        .filter(F.col("cluster").isin(clusters))  # partition-pruned
        .select(id_col)
    )


def ivf_index_upsert(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dedup_ids: bool = False,
) -> int:
    """Append a vector batch to an existing ``build_ivf_index`` layout
    WITHOUT retraining or a rebuild — the incremental-maintenance half of
    train-once/query-many: the persisted centroids (and codebooks, for a
    PQ index) are read back (KBs), the batch is assigned and encoded with
    the SAME immutable quantizers, and its rows append into their cluster
    directories only — untouched partitions are never read or written.

    Quantizers stay frozen between rebuilds (the FAISS model: drift is
    handled by periodic re-train, not per-batch mutation, or queries
    would see codes from mixed codebooks).  Concurrent upserts serialize
    on the index's write lock; callers supply new ids (idempotency via
    deterministic ids, same policy as the ingest path).  Returns the
    number of rows appended.

    ``dedup_ids=True`` drops batch rows whose id is ALREADY stored
    before appending — the at-least-once replay guard
    :func:`stream_ivf_index` needs (a torn checkpoint re-delivers a
    micro-batch; a bare append would double every vector in it, and
    duplicated rows skew every top-k).  The check is partition-pruned:
    cluster assignment is deterministic under the frozen centroids, so a
    replayed row lands in the same ``cluster=N/`` partition it was
    stored in, and the anti-join reads ONLY the batch's own clusters —
    never the whole index."""
    from fastdb_spark.locks import table_write_lock

    with table_write_lock(path):
        return _ivf_upsert_unlocked(
            new_vectors, path, id_col, vec_col, dedup_ids
        )


def _ivf_upsert_unlocked(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dedup_ids: bool = False,
) -> int:
    """:func:`ivf_index_upsert` body for callers that ALREADY hold the
    index write lock (``incsem.semantic_index_upsert`` classifies and
    appends under one lock — the file lock is not reentrant).  An
    index built with the retired expression assignment is refused
    (:func:`_refuse_expr_built`)."""
    import os

    _refuse_expr_built(path)
    spark = new_vectors.sparkSession
    cents = _load_centroids(spark, path)
    base = new_vectors.select(
        F.col(id_col), as_double_array(F.col(vec_col)).alias(vec_col)
    )
    tagged = _assign(base, cents, id_col, vec_col)
    if dedup_ids:
        clusters = [
            r["cluster"]
            for r in tagged.select("cluster").distinct().collect()
        ]  # bounded by n_clusters
        stored = _stored_ids_for_clusters(spark, path, clusters, id_col)
        # sever lineage: the anti-join READS vectors/ and the append
        # below WRITES it — the refreshByPath recomputation hazard
        tagged = tagged.join(
            stored, on=id_col, how="left_anti"
        ).localCheckpoint(eager=True)
    if os.path.exists(os.path.join(path, "codebooks")):
        _, books, residual = _read_ivfpq_index(spark, path)
        if residual:
            out = encode_pq_residual(
                tagged, cents, books, id_col=id_col, vec_col=vec_col,
                cluster_col="cluster", keep_vec=vec_col,
            )
        else:
            out = encode_pq(
                tagged, books, id_col=id_col, vec_col=vec_col,
                keep=["cluster"], keep_vec=vec_col,
            )
    else:
        out = tagged
    # the stored layout may carry payload columns beyond
    # (id, vector, cluster[, pq_code]) — an append missing them would
    # leave files with diverging schemas that read back inconsistently
    missing = set(_open(spark, path, "vectors").columns) - set(out.columns)
    if missing:
        raise ValueError(
            f"index layout at {path} stores columns {sorted(missing)} "
            "the upsert batch does not provide; select the same "
            "payload columns before upserting"
        )
    # count the cheap projection, not `out` — counting the encoded
    # frame would run the Arrow encode pass twice.  Under dedup_ids
    # the count must be the SURVIVORS (tagged is checkpointed, so
    # this is a local count, and `out` derives from the same
    # checkpoint — no recompute)
    n = tagged.count() if dedup_ids else base.count()
    _align(out).write.option("maxRecordsPerFile", 10_000_000).partitionBy(
        "cluster"
    ).mode("append").parquet(os.path.join(path, "vectors"))
    return n


def ivf_index_remove(
    spark: SparkSession,
    ids,
    path: str,
    id_col: str = "vec_id",
) -> int:
    """Remove vectors from a persisted IVF(-PQ) index — the takedown path
    (the embedding twin of ``incdedup.dedup_index_remove``: DMCA/GDPR/
    licensing removals are routine against a long-lived retrieval index).
    ``ids`` is a Python sequence (an ``isin`` literal up to 1024 ids;
    larger lists auto-switch to the anti-join — the isin-literal lesson
    of BENCH_SCALE r9) or a single-column DataFrame (broadcast
    anti-join, the backfill-scale form).  Returns the number of vectors
    actually removed.

    Partition-pruned: one aggregate over the hit rows names (and
    counts) the cluster partitions holding removed ids, and only those
    are rewritten, by the takedown engine the text and media indexes
    share (``incdedup._remove_ids``): one write job into a tmp dir
    outside the partitioned tree, then a two-rename swap per cluster,
    however many clusters the ids spread over.  A fully-emptied cluster
    directory is deleted, which the probe paths already tolerate (an
    empty cluster is a probe that returns no candidates).  Centroids and
    codebooks are untouched: quantizers stay frozen between rebuilds,
    and removal never changes what the remaining codes mean.
    Serializes on the index write lock.

    Reader isolation (ADVICE r9): an UNLOCKED concurrent reader can at
    worst miss one cluster partition for the span of its two renames,
    and may see some clusters before and some after the takedown.
    Readers that need a consistent view during takedowns serialize on
    the index write lock (the engine's own probe entry points —
    ``semantic_index_probe`` and the foreachBatch stream upserts —
    already do); an ad-hoc ``ivf_search_index`` call does not."""
    from fastdb_spark.pipeline.incdedup import _hit_flag, _remove_ids

    def clusters(rm) -> tuple[list, int, set]:
        # bounded by n_clusters (the KB-sized centroid table's row count);
        # a cluster whose rows are all hit is emptied
        vecs, hit = _hit_flag(_open(spark, path, "vectors"), rm, id_col)
        rows = (
            vecs.groupBy("cluster")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(hit.cast("long")).alias("hits"),
            )
            .filter(F.col("hits") > 0)
            .collect()
        )
        return (
            sorted(r["cluster"] for r in rows),
            sum(r["hits"] for r in rows),
            {r["cluster"] for r in rows if r["hits"] == r["n"]},
        )

    return _remove_ids(
        spark, ids, path, ("vectors",), id_col, "cluster", clusters
    )


def ivf_index_compact(
    spark: SparkSession,
    path: str,
    min_files: int = 8,
) -> dict:
    """Small-file compaction for the persisted IVF(-PQ) index — the
    vector twin of ``incdedup.compact_dedup_index``: every
    ``ivf_index_upsert`` appends one part file per touched
    ``cluster=N/`` partition, so a long-lived index puts an ever-growing
    file count in front of every probe.  Rewrites only the cluster
    partitions holding more than ``min_files`` part files (shared
    engine; tmp+swap outside the partitioned tree, under the index
    write lock).  Content, centroids, and codebooks untouched.  Returns
    ``{"vectors": {buckets_compacted, files_before, files_after}}``."""
    from fastdb_spark.pipeline.incdedup import _compact_tables

    return _compact_tables(spark, path, ("vectors",), "cluster", min_files)


def ivf_index_stats(
    spark: SparkSession,
    path: str,
    vec_col: str = "embedding",
    with_drift: bool = True,
) -> DataFrame:
    """Operational health report for a persisted IVF index — the
    "when to retrain" signal the frozen-quantizer model needs (FAISS
    practice: quantizers never mutate per batch; drift is handled by
    periodic retrain, and THIS is how an operator notices it's due).
    Returns one row per cluster:

    - ``n_rows`` — fill count.  A long-lived index whose upserts skew
      into a few clusters degrades nprobe pruning (a probe of the hot
      cluster scans a growing fraction of the corpus);
      ``max/mean n_rows`` is the skew headline.
    - ``mean_dist`` (``with_drift=True``) — mean Euclidean distance of
      stored vectors to their own centroid.  Rising distance vs the
      build-time value means the data moved under the frozen centroids
      (assignment is still consistent — every batch uses the same
      quantizer — but the partitions are getting baggy and recall at a
      given nprobe decays).

    One partition-parallel aggregate over the vectors table (the
    centroid map rides as a broadcast literal); no driver loops, no
    mutation, no lock — safe to run against a live index."""
    cents_rows = _open(spark, path, "centroids").orderBy("cluster").collect()
    vecs = _open(spark, path, "vectors")
    if not with_drift or vec_col not in vecs.columns:
        return (
            vecs.groupBy("cluster")
            .agg(F.count("*").alias("n_rows"))
            .orderBy("cluster")
        )
    # centroid lookup as ONE map literal keyed by cluster id (r12: the
    # per-cluster CASE chain built k*dim literal leaves through py4j —
    # O(k*dim) driver calls per plan, minutes at production k — while a
    # single expr string is one call; same per-row centroid, still a
    # broadcast constant, no join, no shuffle beyond the final agg)
    cent_expr = F.element_at(
        F.map_from_arrays(
            int_array_lit(int(r["cluster"]) for r in cents_rows),
            nested_double_array_lit(r["centroid"] for r in cents_rows),
        ),
        F.col("cluster").cast("int"),
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                as_double_array(F.col(vec_col)),
                cent_expr,
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        vecs.withColumn("_d", dist)
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.avg("_d"), 6).alias("mean_dist"),
        )
        .orderBy("cluster")
    )


def stream_ivf_index(
    spark: SparkSession,
    vectors_path: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vec_type: str = "array<float>",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
    compact_min_files: int = 8,
):
    """Structured-Streaming vector ingest into the persisted IVF(-PQ)
    index — the third index family's stream, completing the set
    (``incdedup.stream_dedup_index``, ``incmedia.stream_media_index``):
    ``readStream`` over a parquet file source of ``(id, vector)`` rows,
    ``foreachBatch`` applying :func:`ivf_index_upsert` per micro-batch
    under the index write lock.  The checkpoint gives exactly-once over
    the transport; re-delivery of a torn micro-batch is absorbed by the
    upsert's ``dedup_ids`` guard (partition-pruned id anti-join — the
    text/media streams absorb replays by content fingerprint, vectors
    by id), so at-least-once delivery leaves the index unchanged.
    Quantizers stay frozen: every micro-batch is assigned and encoded
    with the index's stored centroids/codebooks, never retrained.

    The index must already exist (``build_ivf_index`` on the seed
    corpus).  ``vec_type`` is the stored element type of the incoming
    vector column (file-source streams need an explicit schema).
    ``compact_every=N`` runs :func:`ivf_index_compact` after every Nth
    micro-batch — each upsert appends one part file per touched cluster
    partition, so a long-running stream otherwise fragments the index
    without bound (same discipline as the other two index streams).
    Returns the started ``StreamingQuery``."""
    import os

    if not os.path.exists(os.path.join(index_path, "centroids")):
        raise ValueError(
            f"no IVF index at {index_path}; build_ivf_index first"
        )

    from fastdb_spark.pipeline.incdedup import _stream_index

    return _stream_index(
        spark,
        vectors_path,
        f"{id_col} long, {vec_col} {vec_type}",
        checkpoint,
        lambda batch_df: ivf_index_upsert(
            batch_df,
            index_path,
            id_col=id_col,
            vec_col=vec_col,
            dedup_ids=True,
        ),
        lambda: ivf_index_compact(
            spark, index_path, min_files=compact_min_files
        ),
        compact_every,
        available_now,
        max_files_per_trigger,
    )


def _adc_score(
    codebooks: list[list[list[float]]],
    q_norm: list[float],
    code_col: str = "pq_code",
):
    """ADC inner-product Column over a stored code column: the query's
    M×K subspace-inner-product LUT rides as a broadcast literal and each
    row costs M ``element_at`` probes — pure codegen, no UDF."""
    m = len(codebooks)
    kk = len(codebooks[0])
    sub = len(codebooks[0][0])
    flat_lut = [
        sum(q_norm[i * sub + t] * codebooks[i][j][t] for t in range(sub))
        for i in range(m)
        for j in range(kk)
    ]
    lut = double_array_lit(flat_lut)
    subspace_idx = int_array_lit(range(m))
    return F.aggregate(
        F.zip_with(
            F.col(code_col),
            subspace_idx,
            lambda c, i: F.element_at(lut, i * kk + c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivfpq_search_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k probe against a ``build_ivf_index(..., pq_m=...)`` layout
    with ZERO training jobs in the query path: centroids and codebooks
    are KB-sized parquet reads ranked/assembled on the driver, the ADC
    scan reads ONLY the ``nprobe`` nearest cluster partitions
    (PartitionFilters prune before file IO) over the STORED ``pq_code``
    column, and the exact rerank re-scores the stored vectors of the top
    ``rerank`` candidates.  This is the train-once/query-many twin of
    ``ivfpq_topk``/``ivfpq_residual_topk`` (which train per call — fine
    for one-shot exploration, wrong for a query service)."""
    import math

    cents, books, residual = _read_ivfpq_index(spark, path)
    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0
    q = [x / qn for x in query_vec]
    order = sorted(
        range(len(cents)), key=lambda i: (-_cosine_py(query_vec, cents[i]), i)
    )
    probes = order[:nprobe]

    cand = _open(spark, path, "vectors").filter(F.col("cluster").isin(probes))
    score = _adc_score(books, q)
    if residual:
        # normalized-centroid offset, matching the stored residual codes
        qc = {}
        for c in probes:
            cnorm = math.sqrt(sum(x * x for x in cents[c])) or 1.0
            qc[int(c)] = float(
                sum(q[t] * cents[c][t] for t in range(len(q))) / cnorm
            )
        offset_map = F.create_map(
            *[F.lit(v) for c in sorted(qc) for v in (c, qc[c])]
        )
        score = offset_map[F.col("cluster")] + score
    scored = cand.select(F.col(id_col), score.alias("adc_score"))
    candtop = scored.orderBy(F.desc("adc_score"), F.col(id_col)).limit(rerank)
    exact = cand.join(F.broadcast(candtop.select(id_col)), on=id_col).select(
        F.col(id_col),
        F.round(
            cosine_to_lit(as_double_array(F.col(vec_col)), query_vec), 6
        ).alias("cos"),
    )
    return exact.orderBy(F.desc("cos"), F.col(id_col)).limit(k)


def ivfpq_search_index_many(
    spark,
    path: str,
    queries: dict,
    k: int = 10,
    nprobe: int = 2,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batched IVF-PQ probe: the WHOLE query batch rides ONE pass over
    the union of probed cluster partitions — the query-service shape
    (cosine_topk_many's batching applied to the persisted index).

    ``queries`` maps query_id -> vector (a driver-side batch — the API a
    retrieval service actually has).  Per query the centroids rank on the
    driver (Q x C tiny); each query's ADC lookup table and q-c offset
    become rows of a BROADCAST probe table ``(query_id, cluster, lut,
    offset, qvec)``, so the broadcast-join against the pruned corpus scan
    replicates each stored vector only for the queries probing its
    cluster.  ADC stays a pure column expression (``element_at`` into the
    joined lut column), per-query top-``rerank``/top-k are rank windows
    keyed by query id (state per group ≤ rerank rows).  Zero training
    jobs; one scan however many queries ride along.

    Returns ``(query_id, vec_id, cos)`` — each query's exact-reranked
    top-k.
    """
    import math

    from pyspark.sql import Window

    cents, books, residual = _read_ivfpq_index(spark, path)
    m = len(books)
    kk = len(books[0])
    sub = len(books[0][0])

    probe_rows = []
    for qid, vec in queries.items():
        qn = math.sqrt(sum(x * x for x in vec)) or 1.0
        q = [x / qn for x in vec]
        lut = [
            sum(q[i * sub + t] * books[i][j][t] for t in range(sub))
            for i in range(m)
            for j in range(kk)
        ]
        order = sorted(
            range(len(cents)), key=lambda i: (-_cosine_py(vec, cents[i]), i)
        )
        for c in order[:nprobe]:
            if residual:
                cnorm = math.sqrt(sum(x * x for x in cents[c])) or 1.0
                off = sum(q[t] * cents[c][t] for t in range(len(q))) / cnorm
            else:
                off = 0.0
            probe_rows.append(
                (
                    str(qid),
                    int(c),
                    lut,
                    float(off),
                    [float(x) for x in vec],
                    # query norm folded once on the driver (bit-identical
                    # twin of the JVM fold — norm_py): the exact rerank
                    # then skips re-folding norm(qvec) per candidate row
                    norm_py(vec),
                )
            )
    # Arrow-backed LocalRelation (r12): the pickled-list form is an
    # opaque LogicalRDD whose broadcast build runs a Spark job over
    # defaultParallelism Python partitions per evaluation
    probes = tiny_local_df(
        spark,
        probe_rows,
        "query_id string, cluster int, lut array<double>, "
        "q_offset double, qvec array<double>, qnorm double",
    )
    all_clusters = sorted({r[1] for r in probe_rows})
    cand = _open(spark, path, "vectors").filter(
        F.col("cluster").isin(all_clusters)
    )
    subspace_idx = int_array_lit(range(m))
    adc = F.col("q_offset") + F.aggregate(
        F.zip_with(
            F.col("pq_code"),
            subspace_idx,
            lambda c, i: F.element_at(F.col("lut"), i * kk + c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = cand.join(F.broadcast(probes), on="cluster").select(
        "query_id",
        F.col(id_col),
        adc.alias("adc_score"),
        as_double_array(F.col(vec_col)).alias("_v"),
        F.col("qvec"),
        F.col("qnorm"),
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.desc("adc_score"), F.col(id_col)
    )
    pool = scored.withColumn("_ar", F.row_number().over(wa)).filter(
        F.col("_ar") <= rerank
    )
    # exact rerank ONLY on the surviving pool (≤ rerank rows per query) —
    # full-vector cosine for every ADC candidate would defeat the codes.
    # dot/(norm(_v)*qnorm): same ops/order as cosine() with the query
    # fold replaced by its driver-side bit-identical value
    exact = pool.select(
        "query_id",
        F.col(id_col),
        F.round(
            dot(F.col("_v"), F.col("qvec"))
            / (norm(F.col("_v")) * F.col("qnorm")),
            6,
        ).alias("cos"),
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col(id_col))
    return (
        exact.withColumn("_rk", F.row_number().over(wc))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def _read_ivfpq_index(spark, path: str):
    """Driver-side load of the KB-sized index tables: (centroids, books,
    residual flag)."""
    cents = _load_centroids(spark, path)
    book_rows = (
        _open(spark, path, "codebooks").orderBy("subspace", "code").collect()
    )
    residual = bool(book_rows[0]["residual"])
    m = 1 + max(r["subspace"] for r in book_rows)
    kk = 1 + max(r["code"] for r in book_rows)
    books = [[None] * kk for _ in range(m)]
    for r in book_rows:
        books[r["subspace"]][r["code"]] = list(map(float, r["vec"]))
    return cents, books, residual


def ivf_search_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k probe against a ``build_ivf_index`` layout: rank the persisted
    centroids on the driver, read ONLY the ``nprobe`` nearest cluster
    partitions (PartitionFilters — pruned before file listing IO), score,
    take k."""
    cents = _load_centroids(spark, path)
    order = sorted(
        range(len(cents)), key=lambda i: (-_cosine_py(query_vec, cents[i]), i)
    )
    probes = order[:nprobe]
    cand = _open(spark, path, "vectors").filter(F.col("cluster").isin(probes))
    scored = cand.select(
        F.col(id_col),
        F.round(
            cosine_to_lit(as_double_array(F.col(vec_col)), query_vec), 6
        ).alias("cos"),
    )
    return scored.orderBy(F.desc("cos"), F.col(id_col)).limit(k)


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_clusters: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "seed",
) -> DataFrame:
    """Approximate top-k via the IVF index: rank centroids against the
    query on the driver (tiny), then score only the vectors assigned to
    the ``nprobe`` nearest clusters — ``nprobe/n_clusters`` of the corpus
    instead of all of it (with partition pruning at scale)."""
    cents = ivf_centroids(
        embeddings, n_clusters, id_col, vec_col, strategy=strategy
    )
    order = sorted(
        range(len(cents)), key=lambda i: (-_cosine_py(query_vec, cents[i]), i)
    )
    probes = order[:nprobe]
    cand = with_ivf_cluster(embeddings, cents, vec_col).filter(
        F.col("cluster").isin(probes)
    )
    scored = cand.select(
        F.col(id_col),
        F.round(
            cosine_to_lit(as_double_array(F.col(vec_col)), query_vec), 6
        ).alias("cos"),
    )
    return scored.orderBy(F.desc("cos"), F.col(id_col)).limit(k)


# --- product quantization (IVF-PQ's compression half) ----------------------
#
# The classic memory lever for billion-vector ANN (Jégou et al., "Product
# Quantization for Nearest Neighbor Search", public literature): split the
# d-dim vector into M subvectors, quantize each against a K-entry codebook,
# store M small codes instead of d floats (64 doubles -> 8 bytes at
# M=8/K=256-).  Queries scan codes with an ADC lookup table — here a pure
# Column expression over a broadcast literal LUT, so the scan stays inside
# whole-stage codegen; only the train/encode build step uses Arrow batches.


def train_pq(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_train: int | None = None,
) -> list[list[list[float]]]:
    """Per-subspace codebooks (M x K x d/M): ``n_train`` (default 32·K,
    capped at 2048) evenly-id-spread corpus vectors are collected once
    (KBs on the driver) and each subspace gets a deterministic Lloyd
    k-means codebook — the standard PQ train.  Raises when the corpus has
    fewer than K vectors (a K-entry codebook needs K distinct modes)."""
    import numpy as np

    n_train = n_train or max(k, min(32 * k, 2048))
    sample = _hash_sample_vectors(embeddings, n_train, id_col, vec_col)
    if len(sample) < k:
        raise ValueError(
            f"only {len(sample)} training vectors available, need >= {k}"
        )
    mat = np.array(sample, dtype=np.float64)
    # normalize so inner-product ADC approximates cosine
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
    return _pq_codebooks_from(mat, m, k)


def encode_pq(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    keep: list[str] | None = None,
    keep_vec: str | None = None,
) -> DataFrame:
    """Attach the M-byte PQ code (argmin subspace distance per codebook) —
    an Arrow batch job run once at index-build time; at scale the codes are
    a stored column of the embedding table.

    ``keep`` passes input columns through unchanged (e.g. a precomputed
    ``cluster`` assignment); ``keep_vec`` additionally emits the original
    vector (as array<double>) under that name — both exist so the
    index-build path can persist (id, cluster, code, vector) in ONE Arrow
    pass with no re-join."""
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    sub = len(codebooks[0][0])
    books = [np.array(b, dtype=np.float64) for b in codebooks]
    keep = list(keep or [])

    keyed = embeddings.select(
        F.col(id_col),
        as_double_array(F.col(vec_col)).alias("_v"),
        *[F.col(c) for c in keep],
    )
    dtypes = dict(keyed.dtypes)
    schema = f"{id_col} long, {code_col} array<int>"
    schema += "".join(f", {c} {dtypes[c]}" for c in keep)
    if keep_vec:
        schema += f", {keep_vec} array<double>"

    def op(batches):
        for pdf in batches:
            vmat = np.array(pdf["_v"].tolist(), dtype=np.float64)
            vn = vmat / np.maximum(
                np.linalg.norm(vmat, axis=1, keepdims=True), 1e-30
            )
            codes = np.empty((len(vn), m), dtype=np.int32)
            for i in range(m):
                seg = vn[:, i * sub : (i + 1) * sub]
                d2 = ((seg[:, None, :] - books[i][None, :, :]) ** 2).sum(axis=2)
                codes[:, i] = d2.argmin(axis=1)
            out = {id_col: pdf[id_col], code_col: list(codes.tolist())}
            for c in keep:
                out[c] = pdf[c]
            if keep_vec:
                out[keep_vec] = pdf["_v"]
            yield pd.DataFrame(out)

    return keyed.mapInPandas(op, schema=schema)


def pq_topk(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    rerank: int = 0,
    embeddings: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Approximate top-k by asymmetric-distance (ADC) inner product.

    The query builds an M*K lookup table of subspace inner products; each
    row's score is the sum of M ``element_at`` probes into that literal —
    pure Column expression (zip_with + aggregate), no UDF, broadcast by
    construction, TakeOrderedAndProject plan.  With ``rerank > 0`` the
    ADC top-``rerank`` candidates are exactly re-scored against the full
    vectors (requires ``embeddings``) — the standard PQ-then-refine
    pipeline; returns (id, cos).  Without rerank returns (id, adc_score).
    """
    import math

    m = len(codebooks)
    kk = len(codebooks[0])
    sub = len(codebooks[0][0])
    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0
    q = [x / qn for x in query_vec]
    flat_lut = [
        sum(q[i * sub + t] * codebooks[i][j][t] for t in range(sub))
        for i in range(m)
        for j in range(kk)
    ]
    lut = double_array_lit(flat_lut)
    subspace_idx = int_array_lit(range(m))
    score = F.aggregate(
        F.zip_with(
            F.col(code_col),
            subspace_idx,
            lambda c, i: F.element_at(lut, i * kk + c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = encoded.select(F.col(id_col), score.alias("adc_score"))
    if not rerank:
        return scored.orderBy(F.desc("adc_score"), F.col(id_col)).limit(k)
    if embeddings is None:
        raise ValueError("rerank needs the full-vector frame")
    cand = scored.orderBy(F.desc("adc_score"), F.col(id_col)).limit(rerank)
    exact = embeddings.join(F.broadcast(cand.select(id_col)), on=id_col).select(
        F.col(id_col),
        F.round(
            cosine_to_lit(as_double_array(F.col(vec_col)), query_vec), 6
        ).alias("cos"),
    )
    return exact.orderBy(F.desc("cos"), F.col(id_col)).limit(k)


def ivfpq_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_clusters: int = 8,
    nprobe: int = 2,
    m: int = 8,
    pq_k: int = 16,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ivf_strategy: str = "seed",
) -> DataFrame:
    """IVF-PQ: the two halves composed — the coarse quantizer prunes to
    ``nprobe`` clusters (a partition-pruned directory read on the stored
    layout) and the PQ ADC expression scores only the surviving codes,
    with an exact rerank of the top candidates.  At 100 TB this is the
    canonical billion-vector shape: scan nprobe/n_clusters of the corpus,
    touch M bytes per vector, re-read full vectors only for ``rerank``
    rows."""
    cents = ivf_centroids(
        embeddings, n_clusters, id_col, vec_col, strategy=ivf_strategy
    )
    order = sorted(
        range(len(cents)), key=lambda i: (-_cosine_py(query_vec, cents[i]), i)
    )
    probes = order[:nprobe]
    cand = with_ivf_cluster(embeddings, cents, vec_col).filter(
        F.col("cluster").isin(probes)
    )
    books = train_pq(embeddings, m=m, k=pq_k, id_col=id_col, vec_col=vec_col)
    enc = encode_pq(cand, books, id_col=id_col, vec_col=vec_col)
    return pq_topk(
        enc,
        books,
        query_vec,
        k=k,
        rerank=rerank,
        embeddings=cand,
        id_col=id_col,
        vec_col=vec_col,
    )


def train_pq_residual(
    embeddings: DataFrame,
    centroids: list[list[float]],
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_train: int | None = None,
) -> list[list[list[float]]]:
    """Codebooks trained on IVF residuals (v_norm − NORMALIZED nearest
    centroid) — the FAISS IVF-PQ shape.  Residuals against c_norm are
    small (norm ~ the intra-cluster angle between two unit vectors), so
    the M×K budget quantizes them far more accurately than raw vectors;
    against the RAW centroid (seed centroids are corpus vectors of norm
    ~sqrt(d)) the residual would be dominated by the shared −c term and
    quantization error would swamp the member-to-member signal.  The
    score decomposition stays exact: q·v_norm = q·c_norm + q·r.
    Training matches ``train_pq``: ``n_train`` evenly-id-spread samples,
    deterministic per-subspace Lloyd."""
    import numpy as np

    n_train = n_train or max(k, min(32 * k, 2048))
    cents = np.array(centroids, dtype=np.float64)
    sample = _hash_sample_vectors(embeddings, n_train, id_col, vec_col)
    if len(sample) < k:
        raise ValueError(
            f"only {len(sample)} training vectors available, need >= {k}"
        )
    mat = np.array(sample, dtype=np.float64)
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-30)
    assign = (mat @ cn.T).argmax(axis=1)
    res = mat - cn[assign]
    return _pq_codebooks_from(res, m, k)


def encode_pq_residual(
    embeddings: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str | None = None,
    keep_vec: str | None = None,
) -> DataFrame:
    """(id, cluster, pq_code) with codes over the residual v_norm − c —
    one Arrow pass at index-build time (stored columns at scale).

    ``cluster_col`` names an EXISTING assignment column to reuse (the
    ``with_ivf_cluster`` output).  Always pass it when the input was
    filtered by that assignment: re-deriving the argmax here (unrounded
    numpy) can disagree with ``with_ivf_cluster``'s rounded tie-break on
    near-ties, encoding a vector to a cluster outside the probed set —
    its q·c offset then resolves NULL and the vector silently drops from
    the rerank pool.  ``keep_vec`` additionally emits the original vector
    under that name (index-build persistence, no re-join)."""
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    sub = len(codebooks[0][0])
    books = [np.array(b, dtype=np.float64) for b in codebooks]
    cents = np.array(centroids, dtype=np.float64)
    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-30)

    sel = [F.col(id_col), as_double_array(F.col(vec_col)).alias("_v")]
    if cluster_col is not None:
        sel.append(F.col(cluster_col).cast("int").alias("_c"))
    keyed = embeddings.select(*sel)
    schema = f"{id_col} long, cluster int, pq_code array<int>"
    if keep_vec:
        schema += f", {keep_vec} array<double>"

    from fastdb_spark.pipeline import semdedup as _sd

    # bound driver-side, session conf > module default
    _rb, _cb = _sd.gemm_block_sizes(embeddings.sparkSession)

    def op(batches):
        for pdf in batches:
            vmat = np.array(pdf["_v"].tolist(), dtype=np.float64)
            vmat = vmat / np.maximum(
                np.linalg.norm(vmat, axis=1, keepdims=True), 1e-30
            )
            if "_c" in pdf:
                assign = pdf["_c"].to_numpy(dtype=np.int64)
            else:
                # fallback only (callers pass cluster_col at build);
                # chunked running argmax bounds the (batch x k) score
                # matrix like semdedup.assign_clusters (round-10 audit);
                # strict > keeps the plain-argmax first-max tie rule
                assign = np.empty(len(vmat), dtype=np.int64)
                rb, cb = _rb, _cb
                for rs in range(0, len(vmat), rb):
                    re_ = min(rs + rb, len(vmat))
                    best = np.full(re_ - rs, -np.inf)
                    bidx = np.zeros(re_ - rs, dtype=np.int64)
                    for cs in range(0, len(cn), cb):
                        ce = min(cs + cb, len(cn))
                        S = vmat[rs:re_] @ cn[cs:ce].T
                        a = S.argmax(axis=1)
                        mx = S[np.arange(len(a)), a]
                        upd = mx > best
                        bidx[upd] = a[upd] + cs
                        best[upd] = mx[upd]
                    assign[rs:re_] = bidx
            # normalized-centroid residual — see train_pq_residual
            res = vmat - cn[assign]
            codes = np.empty((len(vmat), m), dtype=np.int32)
            for i in range(m):
                seg = res[:, i * sub : (i + 1) * sub]
                d2 = ((seg[:, None, :] - books[i][None, :, :]) ** 2).sum(axis=2)
                codes[:, i] = d2.argmin(axis=1)
            out = {
                id_col: pdf[id_col],
                "cluster": assign.astype("int32"),
                "pq_code": list(codes.tolist()),
            }
            if keep_vec:
                out[keep_vec] = pdf["_v"]
            yield pd.DataFrame(out)

    return keyed.mapInPandas(op, schema=schema)


def ivfpq_residual_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_clusters: int = 8,
    nprobe: int = 2,
    m: int = 8,
    pq_k: int = 16,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ivf_strategy: str = "seed",
) -> DataFrame:
    """IVF-PQ with residual encoding — exact decomposition
    ``q·v ≈ q·c + q·r`` where ``r = v_norm − c``: the per-cluster term is
    a broadcast map literal, the residual term is the same ADC lookup
    expression as ``pq_topk`` (codebooks shared across clusters, so ONE
    query table serves every probed cluster), and the top candidates are
    exactly re-scored.  Everything after the Arrow encode pass is pure
    Column expressions over ``nprobe/n_clusters`` of the corpus."""
    import math

    cents = ivf_centroids(
        embeddings, n_clusters, id_col, vec_col, strategy=ivf_strategy
    )
    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0
    q = [x / qn for x in query_vec]
    order = sorted(
        range(len(cents)), key=lambda i: (-_cosine_py(query_vec, cents[i]), i)
    )
    probes = order[:nprobe]

    books = train_pq_residual(
        embeddings, cents, m=m, k=pq_k, id_col=id_col, vec_col=vec_col
    )
    cand = with_ivf_cluster(embeddings, cents, vec_col).filter(
        F.col("cluster").isin(probes)
    )
    # carry the filter's own assignment into the encode pass — recomputing
    # it could disagree on near-ties and encode a candidate to an
    # un-probed cluster (NULL offset -> silently dropped from rerank)
    enc = encode_pq_residual(
        cand, cents, books, id_col=id_col, vec_col=vec_col,
        cluster_col="cluster",
    )

    kk = len(books[0])
    sub = len(books[0][0])
    flat_lut = [
        sum(q[i * sub + t] * books[i][j][t] for t in range(sub))
        for i in range(m)
        for j in range(kk)
    ]
    lut = double_array_lit(flat_lut)
    subspace_idx = int_array_lit(range(m))
    # offset against the NORMALIZED centroid (residuals are v_norm -
    # c_norm; see train_pq_residual)
    qc = {}
    for c in probes:
        cnorm = math.sqrt(sum(x * x for x in cents[c])) or 1.0
        qc[int(c)] = float(
            sum(q[t] * cents[c][t] for t in range(len(q))) / cnorm
        )
    offset_map = F.create_map(
        *[F.lit(v) for c in sorted(qc) for v in (c, qc[c])]
    )
    score = offset_map[F.col("cluster")] + F.aggregate(
        F.zip_with(
            F.col("pq_code"),
            subspace_idx,
            lambda c, i: F.element_at(lut, i * kk + c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = enc.select(F.col(id_col), score.alias("adc_score"))
    candtop = scored.orderBy(F.desc("adc_score"), F.col(id_col)).limit(rerank)
    qcol = double_array_lit(query_vec)
    exact = cand.join(F.broadcast(candtop.select(id_col)), on=id_col).select(
        F.col(id_col),
        F.round(cosine(as_double_array(F.col(vec_col)), qcol), 6).alias("cos"),
    )
    return exact.orderBy(F.desc("cos"), F.col(id_col)).limit(k)


def cosine_topk_many(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k neighbors for a BATCH of query vectors — the shape a
    training pipeline actually runs (dedup a new shard against anchors,
    mine hard negatives for a whole batch).

    The query set broadcasts against the corpus scan (one pass over the
    big side however many queries ride along), and per-query top-k is a
    rank window partitioned by query id — state per group is k rows.
    At 100 TB compose with the bucket/cluster prefilters (probe each
    query's LSH bucket or IVF clusters first) exactly as the single-query
    variants do."""
    from pyspark.sql import Window

    # norms hoisted BELOW the join (guide §1.2): each side's norm fold
    # runs once per input row on its own side of the broadcast join —
    # the joined-row cosine then pays only the cross dot.  Folding
    # norm() inside cosine() after the join re-ran the corpus-side fold
    # once per (row x query) and the query-side fold once per corpus
    # row.  dot/( _vn * _qn ) is the same primitive ops in the same
    # order as cosine(_v, _qv), so scores are bit-identical.
    q = queries.select(
        F.col(query_id_col),
        as_double_array(F.col(query_vec_col)).alias("_qv"),
    ).withColumn("_qn", norm(F.col("_qv")))
    scored = embeddings.select(
        F.col(id_col), as_double_array(F.col(vec_col)).alias("_v")
    ).withColumn("_vn", norm(F.col("_v"))).join(F.broadcast(q)).select(
        query_id_col,
        id_col,
        F.round(
            dot(F.col("_v"), F.col("_qv"))
            / (F.col("_vn") * F.col("_qn")),
            6,
        ).alias("cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), F.col(id_col))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )
