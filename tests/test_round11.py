"""Round-11 structural tests: exact oracles for the approximate-ANN
gates (VERDICT r10 #2), the ADVICE-r10 fixes (greedy-MIS edge-contract
guard, zero-norm assignment guard, oracle cache eviction), and the r11
rotation invariant."""

import json
import os

import pytest

import __spark_entry__ as em
from tests.test_round10 import LAGGARDS_R11

#: r9-green gates squeezed out of the r11 window — they lead the r12
#: window.  Chosen for lowest drift risk: astronomy/TPC-H query shapes
#: and stable text operators untouched by this round's changes (the ANN
#: oracle work, the assign_strategy persistence, the greedy-MIS guard
#: and the zero-norm guard all live in pipeline/{ann,incsem,semdedup,
#: dedup,oracles}.py — every r9 gate exercising those modules stays
#: INSIDE the adjudicated r11 window).
LAGGARDS_R12 = {
    "ltcv_patch", "snana_load_roundtrip", "priority_dedup",
    "versioned_dedup", "first_seen_dedup", "ltcv_detections_cut",
    "crossmatch", "spectrum_workflow", "range_join", "cone_search",
    "ltcv_nested_probe", "asof_latest_forced", "object_search",
    "versioned_count", "hot_ltcvs", "skewed_aggregate",
    "corpus_quantiles", "pii_redaction", "bm25_search",
    "multimodal_codec_roundtrip", "multimodal_features",
    # displaced from the r11 window by the born-this-round
    # ann_ivfpq_batch / hybrid_search_rrf gates; r9-green, untouched
    # this round
    "alert_reconstruct", "objstats_combined",
}


def test_rotation_invariant_r11():
    """Three-round coverage invariant, r11 edition (artifact-based —
    the registry has since rotated forward to the r12 order): the r10
    and r11 DRIVER windows, from the recorded CORRECTNESS artifacts,
    cover every gate registered at r11 except exactly the named r12
    laggards, which now LEAD the r12 window (asserted structurally in
    tests/test_round12.py).  Rules held at r11: the two gates born
    that round headed its artifact (a), the 15 r11-named laggards led
    the rest (b), and the six newly-oracled ANN gates were all
    adjudicated in-window."""
    # exclude gates born after r11 and the r12-retired trained-W2V gate
    # (doc_similar_w2v — registry policy rule 1, queries() header),
    # which was registered at r11
    registry_r11 = (set(em.queries())
                    - {"hybrid_search_rrf_batch", "query_expansion_rm"}) | {
        "doc_similar_w2v"
    }
    root = os.path.dirname(os.path.abspath(em.__file__))
    with open(os.path.join(root, "CORRECTNESS_r10.json")) as f:
        window_r10 = set(json.load(f))
    with open(os.path.join(root, "CORRECTNESS_r11.json")) as f:
        artifact_r11 = list(json.load(f))
    uncovered = registry_r11 - window_r10 - set(artifact_r11)
    assert uncovered == LAGGARDS_R12
    # rule (a) held at r11: the born gates headed that window
    assert artifact_r11[:2] == ["ann_ivfpq_batch", "hybrid_search_rrf"]
    # rule (b) held at r11: the 15 r11-named laggards led the rest
    assert set(artifact_r11[2:17]) == LAGGARDS_R11
    # the six newly-oracled ANN gates were adjudicated at r11
    newly_oracled = {
        "ann_lsh_topk", "ann_ivf_topk", "ann_ivf_index",
        "ann_pq_topk", "ann_ivfpq_topk", "ann_ivfpq_res_topk",
    }
    assert newly_oracled <= set(artifact_r11)


# ---------------------------------------------------------------------------
# exact ANN oracles (VERDICT r10 #2)


def test_ann_gates_now_carry_exact_oracles():
    """The six approximate-ANN gates flip from rows-only to exact this
    round: each has an oracle_sql entry, and the SQL carries the recall
    column and the literal replay artifacts."""
    oracles = em.oracle_sql()
    for g in (
        "ann_lsh_topk", "ann_ivf_topk", "ann_ivf_index", "ann_pq_topk",
        "ann_ivfpq_topk", "ann_ivfpq_res_topk",
    ):
        assert g in oracles, g
        assert "recall10" in oracles[g], g
    # ivf_topk and ivf_index share one deterministic quantizer, hence
    # one oracle
    assert oracles["ann_ivf_topk"] == oracles["ann_ivf_index"]


def test_python_xxhash64_matches_spark(spark):
    """The oracle's hash-ordered training-sample replay depends on a
    bit-exact xxhash64: verify the pure-python implementation against
    F.xxhash64 on a range covering negatives and large magnitudes."""
    from pyspark.sql import functions as F

    from fastdb_spark.pipeline.oracles import _spark_xxhash64_long

    df = spark.range(-500, 500).union(
        spark.createDataFrame(
            [(2**62,), (-(2**62),), (2**63 - 1,), (-(2**63),)], "id long"
        )
    )
    rows = df.select("id", F.xxhash64(F.col("id")).alias("h")).collect()
    for r in rows:
        assert _spark_xxhash64_long(r["id"]) == r["h"], r["id"]


def test_ann_oracle_cache_evicts_per_sf_dir(tmp_path):
    """The ANN oracle caches hold ONE entry per sf_dir (ADVICE r10):
    regenerating a corpus replaces the entry instead of accumulating."""
    import shutil

    from fastdb_spark.pipeline import oracles as po

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
    alt = tmp_path / "sfalt"
    alt.mkdir()
    shutil.copy(
        os.path.join(sf, "embeddings.parquet"), alt / "embeddings.parquet"
    )
    sql1 = po.ann_ivf_oracle_sql(sf_dir=str(alt))
    before = os.stat(alt / "embeddings.parquet").st_mtime_ns
    os.utime(alt / "embeddings.parquet", ns=(before + 10**9, before + 10**9))
    sql2 = po.ann_ivf_oracle_sql(sf_dir=str(alt))
    assert sql1 == sql2  # same content -> same SQL
    # but only ONE cache entry for the dir, keyed on the NEW identity
    key, _ = po._ANN_SQL_CACHE[f"{str(alt)}|ivf"]
    assert key[-2] == before + 10**9


def test_missing_corpus_parquet_names_the_file(tmp_path):
    """ADVICE r10: a missing corpus parquet raises a clear error naming
    the file, not a bare os.stat FileNotFoundError."""
    from fastdb_spark.pipeline import oracles as po

    with pytest.raises(FileNotFoundError, match="oracle corpus missing"):
        po.ann_ivf_oracle_sql(sf_dir=str(tmp_path))
    with pytest.raises(FileNotFoundError, match="embeddings.parquet"):
        po.semindex_values_sql(sf_dir=str(tmp_path))
    with pytest.raises(FileNotFoundError, match="documents.parquet"):
        po.bpe_train_values_sql(sf_dir=str(tmp_path))


# ---------------------------------------------------------------------------
# greedy-MIS edge-contract guard (ADVICE r10)


def test_greedy_mis_terminates_on_symmetric_edges(spark):
    """A contract-violating symmetric pair ((1,2) AND (2,1)) used to
    make the unbounded fixpoint oscillate forever; the entry filter
    keeps only the DAG orientation, so the iterate terminates and drops
    exactly {2}."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 1)], "id_a long, id_b long"
    )
    from fastdb_spark.pipeline.dedup import greedy_mis_drops

    out = greedy_mis_drops(pairs, "doc_id")
    assert [r["doc_id"] for r in out.collect()] == [2]


def test_greedy_mis_canonicalizes_reversed_and_drops_self_loops(spark):
    """A reversed edge (5,4) still MEANS "4 and 5 are near-dups" — it
    is canonicalized to (4,5), not silently discarded (round-11 review:
    discarding would re-admit 5 on replay, the phantom-admission class
    the function exists to fix).  Self-loops (x,x) carry no constraint
    and are dropped."""
    pairs = spark.createDataFrame(
        [(3, 3), (5, 4), (1, 2), (2, 3)], "id_a long, id_b long"
    )
    from fastdb_spark.pipeline.dedup import greedy_mis_drops

    out = greedy_mis_drops(pairs, "doc_id")
    # chain 1-2-3 keeps {1, 3} and drops {2}; canonicalized (4,5)
    # keeps 4 and drops 5; (3,3) is ignored
    assert sorted(r["doc_id"] for r in out.collect()) == [2, 5]


# ---------------------------------------------------------------------------
# zero-norm assignment guard (ADVICE r10)


def test_assign_clusters_zero_norm_vector(spark):
    """A zero-norm vector must not emit cluster=0/cos_c=-inf (which
    would always win 'farthest from centroid' keeper ranking): with the
    eps-guarded normalization it scores 0.0 everywhere and lands in
    cluster 0 with cos_c=0.0."""
    import math

    from fastdb_spark.pipeline.semdedup import assign_clusters

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = assign_clusters(df, [[1.0, 0.0], [0.0, 1.0]], strategy="gemm")
    rows = {r["vec_id"]: r for r in out.collect()}
    assert rows[1]["cluster"] == 0
    assert rows[1]["cos_c"] == 0.0
    assert math.isfinite(rows[1]["cos_c"])
    assert rows[2]["cluster"] == 1 and rows[2]["cos_c"] == 1.0


# ---------------------------------------------------------------------------
# GEMM block knobs via session conf (VERDICT r10 #4)


def test_gemm_blocks_tunable_via_session_conf(spark):
    """spark.fastdb.gemm.rowBlock / .centroidChunk override the module
    defaults; forcing 1-row slabs and 1-centroid chunks through the conf
    must leave assignment membership and cos_c identical to the expr
    twin (the blocked kernels are value-preserving whatever the block)."""
    from fastdb_spark.pipeline import semdedup as sd

    df = spark.createDataFrame(
        [(i, [float((i * 7) % 11), float((i * 3) % 5), 1.0])
         for i in range(1, 40)],
        "vec_id long, embedding array<double>",
    )
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.5, 0.5, 1.0]]
    try:
        spark.conf.set("spark.fastdb.gemm.rowBlock", "1")
        spark.conf.set("spark.fastdb.gemm.centroidChunk", "1")
        assert sd.gemm_block_sizes(spark) == (1, 1)
        gemm = {
            r["vec_id"]: (r["cluster"], r["cos_c"])
            for r in sd.assign_clusters(df, cents, strategy="gemm").collect()
        }
    finally:
        spark.conf.unset("spark.fastdb.gemm.rowBlock")
        spark.conf.unset("spark.fastdb.gemm.centroidChunk")
    assert sd.gemm_block_sizes(spark) == (
        sd.GEMM_ROW_BLOCK, sd.CENTROID_CHUNK
    )
    expr = {
        r["vec_id"]: (r["cluster"], r["cos_c"])
        for r in sd.assign_clusters(df, cents, strategy="expr").collect()
    }
    assert gemm == expr


# ---------------------------------------------------------------------------
# hybrid RRF retrieval (born r11)


def test_hybrid_rrf_one_sided_and_fusion_arithmetic(spark):
    """RRF semantics pinned on a corpus where the lexical and semantic
    sides disagree: a doc present in only one list contributes only
    that list's 1/(rrf_k+rank); absent ranks surface as 0; a doc
    ranked well in BOTH lists outscores a doc that tops one list."""
    from fastdb_spark.pipeline.retrieval import hybrid_topk_rrf

    docs = spark.createDataFrame(
        [
            (0, "vector merge filter vector"),     # strong lexical
            (1, "vector merge something"),         # mid lexical + sem
            (2, "unrelated words entirely here"),  # no lexical hits
            (3, "merge filter"),                   # lexical only (no vec)
        ],
        "doc_id long, text string",
    )
    embs = spark.createDataFrame(
        [
            (0, [0.1, 1.0]),   # off-query
            (1, [1.0, 0.09]),  # near query
            (2, [1.0, 0.0]),   # the query itself
        ],
        "vec_id long, embedding array<double>",
    )
    out = hybrid_topk_rrf(
        docs, embs, ["vector", "merge", "filter"], [1.0, 0.0],
        k=10, pool=3, rrf_k=60,
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    # doc 3 is lexical-only: sem_rank sentinel 0, contribution only
    # from the lexical side
    assert rows[3]["sem_rank"] == 0 and rows[3]["lex_rank"] > 0
    assert rows[3]["rrf"] == round(1.0 / (60 + rows[3]["lex_rank"]), 9)
    # doc 2 is semantic-only (exactly the query vector -> sem rank 1)
    assert rows[2]["lex_rank"] == 0 and rows[2]["sem_rank"] == 1
    # doc 1 appears in BOTH lists and must outscore every one-sided doc
    assert rows[1]["lex_rank"] > 0 and rows[1]["sem_rank"] > 0
    assert rows[1]["rrf"] > rows[2]["rrf"] and rows[1]["rrf"] > rows[3]["rrf"]
    expected = round(
        1.0 / (60 + rows[1]["lex_rank"]) + 1.0 / (60 + rows[1]["sem_rank"]), 9
    )
    assert rows[1]["rrf"] == expected


def test_hybrid_rrf_many_equals_single(spark):
    """The batched hybrid fusion must equal per-query single-query
    calls — same ranks, same sentinels, same fusion values."""
    from fastdb_spark.pipeline.retrieval import (
        hybrid_topk_rrf,
        hybrid_topk_rrf_many,
    )

    docs = spark.createDataFrame(
        [
            (i, " ".join(
                (["vector"] * (i % 3)) + (["merge"] * (i % 2))
                + (["filter"] if i % 5 == 0 else ["noise"])
                + [f"w{i % 7}", f"w{i % 11}"]
            ))
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    embs = spark.createDataFrame(
        [(i, [float((i * 3) % 7), float((i * 5) % 11), 1.0])
         for i in range(30)],  # 10 lexical-only docs exercise one-sided
        "vec_id long, embedding array<double>",
    )
    queries = {
        "a": (["vector", "merge"], [1.0, 0.0, 0.5]),
        "b": (["filter", "noise"], [0.0, 1.0, 0.25]),
    }
    many = hybrid_topk_rrf_many(docs, embs, queries, k=8, pool=12)
    got = {
        (r["query_id"], r["doc_id"]): (
            r["lex_rank"], r["sem_rank"], r["rrf"]
        )
        for r in many.collect()
    }
    want = {}
    for qid, (terms, vec) in queries.items():
        single = hybrid_topk_rrf(docs, embs, terms, vec, k=8, pool=12)
        for r in single.collect():
            want[(qid, r["doc_id"])] = (
                r["lex_rank"], r["sem_rank"], r["rrf"]
            )
    assert got == want
    assert len(got) == 16  # 8 per query
