"""Document deduplication operators.

Every operator returns DataFrames (lazily composed) and is built from
shuffle-conscious primitives:

- **exact**: one hash-aggregate on the content fingerprint.
- **blocked n-gram Jaccard**: equi-join on a cheap blocking key (prefix
  fingerprint), exact Jaccard refine — no quadratic blowup.
- **MinHash + LSH**: signature projection (no shuffle) -> band explode ->
  band-bucket self-join -> exact Jaccard refine on candidates only.
- **SimHash**: 60-bit sketch -> band-bucket join -> hamming refine.
- **embedding cosine**: exact threshold self-join (baseline) — the ANN
  module provides the LSH-bucketed scale path.

At 100 TB the only full-data shuffles are the band-bucket groupings whose
keys are uniform hashes (no skew); candidate refinement touches candidate
pairs only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from fastdb_spark.functions.sketches import (
    hamming60,
    simhash60,
    simhash_bands,
    sketch_impl,
)
from fastdb_spark.functions.text import (
    char_shingles,
    doc_fingerprint,
    prefix_fingerprint,
    word_shingles,
)
from fastdb_spark.functions.vectors import as_double_array, cosine


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter / F.greatest(union, F.lit(1))


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups: md5 of normalized text, keep the minimum id
    as the canonical representative.  One map-side-combined aggregate."""
    keyed = df.select(
        F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fingerprint")
    )
    return keyed.groupBy("fingerprint").agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("group_size"),
        F.array_sort(F.collect_list(id_col)).alias("members"),
    )


def _stage(df: DataFrame) -> DataFrame:
    """Persist a sketch frame that downstream branches read more than once
    (bucket join + payload re-attach).  Without this the md5-heavy
    signature projection re-executes once per branch — the reference
    stages the same way with temp tables (SURVEY.md Q3).  MEMORY_AND_DISK:
    at 100 TB the signature frame is a small fraction of the corpus and
    spills gracefully rather than OOMing.

    Tracked in ``fastdb_spark.cachereg``: the consumer releases the cache
    with ``release_staged()`` once its result is materialized.
    """
    from fastdb_spark.cachereg import stage_adaptive

    return stage_adaptive(df)


def _candidate_pairs(
    buckets: DataFrame,
    payload: DataFrame | None,
    id_col: str,
    bucket_col: str,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing a bucket value.  The self-join
    is an equi-join on the bucket key — co-candidates are co-partitioned.

    Two-phase for shuffle economy: the bucket join and pair-dedup move
    only (bucket, id) — the heavy payloads (shingle arrays) re-attach via
    two id-equi-joins on the deduped candidate list, which is orders of
    magnitude smaller than the banded row set.  ``payload`` (already
    staged by the caller) carries ``id_col`` + the refine columns.

    ``max_bucket_size`` is the quadratic-blowup guard: a bucket of b ids
    emits O(b²) pairs, so one pathological bucket (e.g. 10⁵ byte-identical
    documents that exact-dedup should have removed, all landing in every
    band) would emit ~10¹⁰ pairs and stall the join.  Buckets larger than
    the cap are dropped wholesale before the self-join (the standard LSH
    frequency filter — an over-full bucket carries no discriminating
    signal anyway); audit what a cap would drop with
    :func:`oversized_buckets`.  ``None`` disables the guard (exact
    banding semantics — only safe after an exact-dedup pre-pass, as
    ``curate_corpus`` runs).
    """
    ids = buckets.select(F.col(bucket_col).alias("_bkt"), F.col(id_col))
    if max_bucket_size is not None:
        # bucket sizes via a COUNT window over the banded frame: the
        # window's hash-partitioning on _bkt is exactly the distribution
        # the self-join below needs, so the guard rides the exchange the
        # join pays anyway.  (The previous aggregate+filter-join shape
        # cost a separate count pass + join — measured +17-69% on the
        # sf0.1 dedup gates, round-5 quiet-host A/B.)
        from pyspark.sql import Window

        w = Window.partitionBy("_bkt")
        ids = (
            ids.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    left = ids.select("_bkt", F.col(id_col).alias("id_a"))
    right = ids.select("_bkt", F.col(id_col).alias("id_b"))
    pairs = (
        left.join(right, on="_bkt")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if payload is None:
        return pairs
    payload_cols = [c for c in payload.columns if c != id_col]
    pa = payload.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in payload_cols],
    )
    pb = payload.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in payload_cols],
    )
    return pairs.join(pa, on="id_a").join(pb, on="id_b")


# A bucket this full is pathological on any exact-deduped corpus: the gate
# datasets top out at bucket sizes in the tens, and a 4096-id bucket already
# means ~8.4M candidate pairs from one key.  Large enough never to touch
# legitimate banding output; small enough that a duplicate-bomb corpus
# (10⁵ identical docs -> every band bucket holds all 10⁵ ids -> ~10¹⁰
# pairs uncapped) degrades to zero pairs from those buckets instead of a
# quadratic stall.
DEFAULT_MAX_BUCKET = 4096


def greedy_mis_drops(
    pairs: DataFrame, id_col: str, max_rounds: int | None = None
) -> DataFrame:
    """Ids dropped by SEQUENTIAL-GREEDY admission over a near-dup edge
    list ``(id_a, id_b)`` with ``id_a < id_b``: process ids ascending,
    keep x iff no already-KEPT neighbor precedes it (the greedy maximal
    independent set), return the dropped ids as one ``id_col`` column.

    This — not the older one-shot "drop the higher id of every pair" —
    is the in-batch rule that makes an at-least-once index upsert
    IDEMPOTENT.  Greedy-MIS invariant: every dropped item has a KEPT
    (hence indexed) neighbor, so a torn-checkpoint replay classifies
    every row as a duplicate.  The one-shot rule over-drops chain tails
    (A<B<C with only A~B and B~C: C is dropped by the never-admitted
    B), and on replay the tail has NO indexed neighbor and is suddenly
    admitted — reproduced on all three index families (round 9, second
    extension session).  On the CLIQUES real duplicate families form,
    the two rules coincide (every member neighbors the minimum).

    Computed as a fixpoint on the EDGE list only (never the payloads):
    round r drops every ``id_b`` whose ``id_a`` is currently kept.  The
    iteration is antitone, consecutive iterates are nested, and the
    DAG-ordered edges give a unique fixpoint — the greedy set — reached
    in O(longest dropped-kept alternation) rounds: 1 for cliques, a few
    for chains.  Each round is one anti-join + distinct on the edge
    frame; equal consecutive drop-counts imply equal sets (nesting), so
    the count is a sound stop signal.

    The ``localCheckpoint(eager=False)`` calls are not lazy under AQE,
    which every ``session.get_spark`` session enables: the call runs
    every shuffle-map stage of its plan as Spark jobs, and only the
    final stage waits for the first action.  The edge checkpoint
    therefore runs the whole candidate-pair and refine chain of the
    caller at the call (12 jobs inside it in a traced 1000-document
    ``dedup_index`` probe), and each round's checkpoint runs its
    anti-join and distinct shuffles before its ``count`` stores the
    drop set; later rounds read the stored blocks, not the earlier
    rounds' plans.

    The loop ALWAYS runs to the count-stable fixpoint — nesting makes
    the per-round count strictly decreasing until convergence, so
    termination is data-bounded (<= first-round drop count, in practice
    the dropped/kept alternation depth) and needs no truncation.
    ``max_rounds`` is an optional circuit-breaker for callers that want
    a hard ceiling: exhausting it RAISES rather than returning a
    non-converged iterate (ADVICE r9 — an even iterate over-drops,
    re-introducing the replay phantom-admission bug this function
    exists to fix; never a silent cap).

    The fixpoint argument REQUIRES the DAG orientation ``id_a < id_b``;
    a contract-violating symmetric pair ((1,2) and (2,1)) would make
    the iterate oscillate forever (ADVICE r10).  The orientation is
    CANONICALIZED on entry — least/greatest, then drop self-loops —
    rather than filtered: a reversed edge (5,4) still means "4 and 5
    are near-dups" and silently discarding it would re-introduce the
    phantom-admission class this function exists to fix (round-11
    review).  Free: the expressions fuse into the edge scan, and the
    per-round ``distinct`` already absorbs any duplicate a mirrored
    pair produces."""
    edges = (
        pairs
        # explicit contract (ADVICE r11 #4): an edge with a NULL
        # endpoint carries no admission information and is DROPPED
        # here, visibly — without this filter least/greatest would turn
        # it into a degenerate pair that the id_a < id_b cut discards
        # as an accident of null semantics rather than a stated rule
        .where(F.col("id_a").isNotNull() & F.col("id_b").isNotNull())
        .select(
            F.least(F.col("id_a"), F.col("id_b")).alias("id_a"),
            F.greatest(F.col("id_a"), F.col("id_b")).alias("id_b"),
        )
        .where(F.col("id_a") < F.col("id_b"))
        .localCheckpoint(eager=False)
    )
    dropped = None
    prev = -1
    rounds = 0
    while True:
        if dropped is None:
            cand = edges
        else:
            cand = edges.join(
                dropped.withColumnRenamed(id_col, "id_a"),
                on="id_a",
                how="left_anti",
            )
        nxt = (
            cand.select(F.col("id_b").alias(id_col))
            .distinct()
            .localCheckpoint(eager=False)
        )
        n = nxt.count()
        if dropped is None and n == 0:
            # first round empty means the edge list itself is empty —
            # fixpoint reached without a confirmation round (a later
            # round going empty does NOT imply convergence: f(empty) is
            # the full one-shot drop set)
            return nxt
        if n == prev:
            return dropped
        dropped, prev = nxt, n
        rounds += 1
        # `>` not `>=`: data converging in exactly max_rounds productive
        # rounds still gets its confirmation round (n == prev above) —
        # the ceiling only fires when the count is STILL moving after
        # max_rounds moves (round-10 review finding)
        if max_rounds is not None and rounds > max_rounds:
            raise RuntimeError(
                f"greedy_mis_drops: no fixpoint within max_rounds="
                f"{max_rounds} (drop count still moving, last {n}); "
                "an intermediate iterate is NOT a valid drop set — "
                "raise max_rounds or leave it unbounded"
            )


def cap_bucket_sizes(
    df: DataFrame,
    bucket_cols: list[str],
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """The quadratic-blowup guard as a reusable shape: drop every row
    whose ``bucket_cols`` value occurs more than ``max_bucket_size``
    times, via a COUNT window (the window's hash-partitioning on the
    bucket key is exactly the distribution a downstream self-equi-join
    on that key needs, so the guard rides the join's own exchange —
    measured free on the text path, round-7 A/B: capped 19.06 s vs
    uncapped 19.94 s / 1M docs).

    Used by the media pair joins (``imagededup.image_dup_pairs`` /
    ``video_dup_pairs``, ``audiodedup.audio_dup_pairs``): a real corpus
    has millions of degenerate payloads (solid-color thumbnails,
    silence, black clips) that collapse to ONE fingerprint, and a bucket
    of m members emits m²/2 pairs.  ``None`` disables (exact pair
    semantics).  Audit what the cap dropped with
    :func:`oversized_buckets` on the same frame."""
    if max_bucket_size is None:
        return df
    from pyspark.sql import Window

    w = Window.partitionBy(*[F.col(c) for c in bucket_cols])
    return (
        df.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("_bsz") <= max_bucket_size)
        .drop("_bsz")
    )


def oversized_buckets(
    buckets: DataFrame,
    id_col: str,
    bucket_col: str,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Audit frame for the LSH frequency filter: (bucket, size) for every
    bucket the cap in :func:`_candidate_pairs` would drop — run it on the
    same banded frame to account for what the capped pair generation
    skipped (lazy; one map-side-combined count aggregate)."""
    return (
        buckets.groupBy(F.col(bucket_col))
        .agg(F.count(F.lit(1)).alias("size"))
        .filter(F.col("size") > max_bucket_size)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 8,
    block_tokens: int = 5,
    threshold: float = 0.5,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs via prefix blocking + exact char-n-gram Jaccard."""
    keyed = _stage(
        df.select(
            F.col(id_col),
            prefix_fingerprint(F.col(text_col), block_tokens).alias("block"),
            char_shingles(F.col(text_col), shingle_k).alias("sh"),
        )
    )
    pairs = _candidate_pairs(
        keyed.select(id_col, "block"), keyed.select(id_col, "sh"), id_col,
        "block", max_bucket_size=max_bucket_size,
    )
    out = pairs.withColumn(
        "jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6)
    )
    return out.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    n_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    hash_impl: str = "md5",
) -> DataFrame:
    """Near-dup pairs via MinHash signatures + LSH banding + exact Jaccard
    refine (shingle->minhash->band->bucket-join).

    ``hash_impl``: ``"md5"`` (default — cross-engine oracle parity) or
    ``"fast"`` (single string hash per shingle + integer permutations,
    ~3x cheaper signatures; same refined-pair semantics in expectation,
    different banding buckets — no duckdb twin).  The Jaccard refine is
    identical either way, and exact duplicates collide in every band
    under both."""
    impl = sketch_impl(hash_impl)
    rows = n_hashes // bands
    # stage pre-explode: the banded set duplicates the shingle payload
    # `bands` times; caching the compact (id, sh, sig) frame instead keeps
    # the cache footprint minimal while still computing signatures once
    keyed = _stage(
        df.select(
            F.col(id_col),
            word_shingles(F.col(text_col), shingle_k).alias("sh"),
        ).withColumn("sig", impl.signature("sh", n_hashes))
    )
    banded = keyed.select(
        id_col,
        F.explode(impl.bands("sig", bands, rows)).alias("band"),
    )
    pairs = _candidate_pairs(
        banded, keyed.select(id_col, "sh"), id_col, "band",
        max_bucket_size=max_bucket_size,
    )
    out = pairs.withColumn(
        "jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6)
    )
    return out.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    max_hamming: int = 16,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs via 60-bit SimHash band buckets + hamming refine."""
    sh = df.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_k).alias("sh")
    )
    hashed = _stage(simhash60(sh, id_col, "sh"))
    banded = hashed.select(
        id_col,
        F.posexplode(simhash_bands(F.col("simhash"))).alias("_pos", "_bval"),
    ).select(
        id_col,
        F.concat_ws(":", F.col("_pos"), F.col("_bval")).alias("band_key"),
    )
    pairs = _candidate_pairs(
        banded, hashed.select(id_col, "simhash"), id_col, "band_key",
        max_bucket_size=max_bucket_size,
    )
    out = pairs.withColumn(
        "hamming", hamming60(F.col("simhash_a"), F.col("simhash_b"))
    )
    return out.filter(F.col("hamming") <= max_hamming).select(
        "id_a", "id_b", "hamming"
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    strategy: str = "block",
    n_blocks: int = 8,
    lsh_planes: int = 8,
    dim: int = 64,
    max_bucket_size: int | None = 65536,
) -> DataFrame:
    """Cosine near-dup pairs over an embedding corpus.

    ``strategy='block'`` (default, exact, distributed): sqrt-decomposition
    of the all-pairs GEMM.  Rows hash into ``n_blocks`` blocks; each of the
    B(B+1)/2 unordered block pairs becomes one cogroup task whose two sides
    are Arrow-batched into numpy and scored with a single matmul.  Nothing
    is ever materialized on the driver, per-task memory is two blocks (~2
    n/B rows), and replication is ~B copies of the corpus across the
    cluster — the standard distributed exact-all-pairs shape.  Raise
    ``n_blocks`` with corpus size so a block fits executor memory.

    ``strategy='lsh'`` (approximate, the 100 TB path): the same GEMM kernel
    per random-hyperplane LSH bucket (``ann.with_lsh_bucket`` — the stored
    layout column at scale), so candidate scoring touches only intra-bucket
    pairs.  Misses cross-bucket pairs by design; recall is governed by
    ``lsh_planes``.

    ``strategy='expr'``: pure Column-expression nested-loop join — JVM-only,
    no Arrow; the portable fallback and oracle twin (~100x slower per pair:
    interpreted higher-order aggregate vs one GEMM).
    """
    if strategy == "expr":
        keyed = df.select(
            F.col(id_col), as_double_array(F.col(vec_col)).alias("v")
        )
        a = keyed.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"))
        b = keyed.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
        out = pairs.withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 6))
        return out.filter(F.col("cos") >= threshold).select("id_a", "id_b", "cos")

    import numpy as np
    import pandas as pd

    from fastdb_spark.pipeline import semdedup as _sd

    # bound driver-side, session conf > module default (see _pairs_gemm)
    _gemm_block, _ = _sd.gemm_block_sizes(df.sparkSession)

    def _score(apdf: "pd.DataFrame", bpdf: "pd.DataFrame", upper: bool):
        """GEMM one side against the other; emit (min_id, max_id, cos).
        Sides carry distinct column names (v/rv, id/rid) — see below.
        Row-blocked (``semdedup.GEMM_ROW_BLOCK``) so per-task transient
        memory is O(block * |b-side|), not O(|a| * |b|) — the cos
        matrix, not the input rows, is what blows up on a fat block or
        bucket (round-10 audit)."""
        if not len(apdf) or not len(bpdf):
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []}).astype(
                {"id_a": np.int64, "id_b": np.int64, "cos": np.float64}
            )
        am = np.array(apdf["v"].tolist(), dtype=np.float64)
        bm = np.array(bpdf["rv" if "rv" in bpdf else "v"].tolist(), dtype=np.float64)
        aid = apdf[id_col].to_numpy(dtype=np.int64)
        bid = bpdf["rid" if "rid" in bpdf else id_col].to_numpy(dtype=np.int64)
        an = np.sqrt((am * am).sum(axis=1))
        bn = np.sqrt((bm * bm).sum(axis=1))
        out = []
        for s in range(0, len(aid), _gemm_block):
            e = min(s + _gemm_block, len(aid))
            cos = np.round((am[s:e] @ bm.T) / np.outer(an[s:e], bn), 6)
            # one emission per unordered pair: the diagonal block sees
            # both orders of each pair, off-diagonal blocks see each once
            asl = aid[s:e]
            keep = (cos >= threshold) & (asl[:, None] < bid[None, :])
            if not upper:
                keep |= (cos >= threshold) & (asl[:, None] > bid[None, :])
            r, c = np.nonzero(keep)
            out.append(
                (np.minimum(asl[r], bid[c]), np.maximum(asl[r], bid[c]),
                 cos[r, c])
            )
        return pd.DataFrame(
            {
                "id_a": np.concatenate([t[0] for t in out]),
                "id_b": np.concatenate([t[1] for t in out]),
                "cos": np.concatenate([t[2] for t in out]),
            }
        )

    spark = df.sparkSession
    keyed = df.select(F.col(id_col), as_double_array(F.col(vec_col)).alias("v"))

    if strategy == "lsh":
        from fastdb_spark.pipeline.ann import with_lsh_bucket

        bucketed = with_lsh_bucket(keyed, lsh_planes, dim, "v")
        if max_bucket_size is not None:
            # same frequency filter as _candidate_pairs, but here the cap
            # also bounds the PER-TASK GEMM: one bucket is one Arrow
            # cogroup task whose memory is O(b·d) and compute O(b²·d) —
            # an unbounded bucket is an executor OOM, not just a slow
            # join.  Audit drops with oversized_buckets(..., "bucket").
            keep = (
                bucketed.groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("_bsz"))
                .filter(F.col("_bsz") <= max_bucket_size)
                .select("bucket")
            )
            bucketed = bucketed.join(keep, on="bucket")

        def per_bucket(pdf: "pd.DataFrame") -> "pd.DataFrame":
            return _score(pdf, pdf, upper=True)

        return bucketed.groupBy("bucket").applyInPandas(
            per_bucket, schema="id_a long, id_b long, cos double"
        )

    # exact blocked all-pairs ("block" / legacy "blas")
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    from fastdb_spark.localrel import tiny_local_df

    pairs_meta = F.broadcast(
        tiny_local_df(
            spark,
            [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
            "blk_i int, blk_j int",
        )
    )
    tagged = keyed.withColumn("blk", blk)
    # each row fans out to every block pair it participates in: as the A
    # side of (blk, j>=blk), as the B side of (i<=blk, blk) — explode of a
    # generated sequence, no self-join, ~B-fold replication.  The two
    # sides share lineage, so the RIGHT side gets DISTINCT column names
    # (rid/rv): with identical names, attribute resolution can bind a
    # side's column to the other plan's exprId under default analyzer
    # settings and the right batch arrives without its columns.
    left = tagged.select(
        F.col(id_col),
        "v",
        F.explode(
            F.expr(f"transform(sequence(blk, {n_blocks - 1}), j -> struct(blk AS blk_i, j AS blk_j))")
        ).alias("bp"),
    ).select(id_col, "v", "bp.blk_i", "bp.blk_j")
    right = tagged.select(
        F.col(id_col).alias("rid"),
        F.col("v").alias("rv"),
        F.explode(
            F.expr("transform(sequence(0, blk), i -> struct(i AS blk_i, blk AS blk_j))")
        ).alias("bp"),
    ).select("rid", "rv", "bp.blk_i", "bp.blk_j")

    def gemm(key, apdf: "pd.DataFrame", bpdf: "pd.DataFrame") -> "pd.DataFrame":
        return _score(apdf, bpdf, upper=key[0] == key[1])

    # the two sides share lineage (one scan, two explodes); Spark's
    # ambiguous-self-join heuristic cannot see that the cogroup keys are
    # disjoint projections, so gate it off just while building this plan
    sess = df.sparkSession
    flag = sess.conf.get("spark.sql.analyzer.failAmbiguousSelfJoin", "true")
    sess.conf.set("spark.sql.analyzer.failAmbiguousSelfJoin", "false")
    try:
        return (
            left.groupby("blk_i", "blk_j")
            .cogroup(right.groupby("blk_i", "blk_j"))
            .applyInPandas(gemm, schema="id_a long, id_b long, cos double")
        )
    finally:
        sess.conf.set("spark.sql.analyzer.failAmbiguousSelfJoin", flag)
