"""Round-12 structural tests: the ADVICE-r11 fixes (quantized LSH sign
test, null-safe bench sentinels, explicit greedy-MIS null-edge
contract), the doc_similar_w2v retirement, the
batched-hybrid born gate, and the r12 rotation invariant."""

import json
import os

from pyspark.sql import functions as F

import __spark_entry__ as em
from tests.test_round11 import LAGGARDS_R12

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# ADVICE r11 #1 — quantized LSH sign test


def test_round9_py_matches_spark_round(spark):
    """_round9_py is the driver-side twin of F.round(col, 9): HALF_UP
    over the shortest decimal repr.  Checked on values straddling the
    grid boundary (the sign-test regime) and ordinary dots."""
    from fastdb_spark.pipeline.ann import _round9_py

    vals = [
        0.0, 1e-9, -1e-9, 4.9e-10, 5e-10, 5.1e-10, -5e-10,
        1.5e-9, 2.5e-9, -2.5e-9, 0.123456789123, -0.987654321987,
        12.3456789015, 1e-18, -1e-18, 3.14159265358979,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double").select(
        F.col("x"), F.round("x", 9).alias("r")
    )
    got = {r["x"]: r["r"] for r in df.collect()}
    for v in vals:
        assert _round9_py(v) == got[v], v


def test_lsh_sign_test_is_quantized(spark):
    """with_lsh_bucket's sign test rounds the plane dot at 9 before
    comparing: a vector whose dot with plane 0 is +2e-10 (inside the
    round-to-zero band) must NOT set bit 0, while +1e-9 must."""
    import numpy as np

    from fastdb_spark.pipeline.ann import _hyperplane, with_lsh_bucket

    plane = np.array(_hyperplane(0, 4))
    # build vectors v with dot(v, plane0) == target exactly:
    # v = (target / plane[0], 0, 0, 0)
    def vec_for(target: float) -> list[float]:
        return [float(target / plane[0]), 0.0, 0.0, 0.0]

    rows = [(0, vec_for(2e-10)), (1, vec_for(1e-9)), (2, vec_for(-2e-10))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["bucket"]
        for r in with_lsh_bucket(df, n_planes=1, dim=4).collect()
    }
    assert got[0] & 1 == 0  # +2e-10 rounds to 0 -> not > 0
    assert got[1] & 1 == 1  # +1e-9 survives the round
    assert got[2] & 1 == 0


# ---------------------------------------------------------------------------
# ADVICE r11 #3 — bench host sentinel: absence != contention


def test_host_cpu_sample_unreadable_returns_none(monkeypatch):
    import builtins

    import bench

    real_open = builtins.open

    def deny(path, *a, **kw):
        if path == "/proc/stat":
            raise OSError("denied")
        return real_open(path, *a, **kw)

    monkeypatch.setattr(builtins, "open", deny)
    assert bench._host_cpu_sample() is None


def test_contended_gates_flagging():
    """VERDICT r11 #7: a gate is flagged iff its run spread exceeds
    1.5x AND its best time is non-trivial (>0.5 s) — sub-second noise
    and tight spreads stay unflagged."""
    import bench

    samples = {
        "slow_spread": [9.0, 3.0],      # 3x spread, non-trivial -> flag
        "slow_tight": [3.1, 3.0],       # tight spread -> no flag
        "fast_spread": [0.9, 0.2],      # 4.5x spread but trivial -> no
        "edge": [0.76, 0.5],            # 1.52x spread at 0.5 s -> no
    }
    timings = {k: min(v) for k, v in samples.items()}
    assert bench._contended_gates(samples, timings) == ["slow_spread"]


def test_host_cpu_sample_shape():
    import bench

    s = bench._host_cpu_sample()
    # on this host /proc/stat is readable; the tuple is (total, idle,
    # steal) with total >= idle + steal
    assert s is not None and len(s) == 3
    assert s[0] >= s[1] + s[2] > 0


# ---------------------------------------------------------------------------
# ADVICE r11 #4 — greedy-MIS null-endpoint contract


def test_greedy_mis_drops_null_endpoints_explicitly(spark):
    """An edge with a NULL endpoint is dropped by the explicit
    null filter (stated contract), and the remaining well-formed edges
    still produce the greedy-MIS drop set."""
    from fastdb_spark.pipeline.dedup import greedy_mis_drops

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 7), (8, None), (None, None), (3, 4)],
        "id_a long, id_b long",
    )
    got = sorted(
        r["doc_id"] for r in greedy_mis_drops(pairs, "doc_id").collect()
    )
    # chain 1-2-3-4: greedy keeps 1 and 3, drops 2 and 4; the null
    # edges contribute nothing (7 and 8 are NOT dropped)
    assert got == [2, 4]


# ---------------------------------------------------------------------------
# r12 rotation invariant (VERDICT r11 next-round #1, executed as pinned)

#: r10-green gates squeezed out of the r12 window — they lead the r13
#: window.  All are untouched by this round's changes (the round's code
#: touched pipeline/{ann,oracles,dedup,retrieval}.py and bench.py; the
#: r10-window gates exercising those modules — tfidf_topk,
#: dedup_index_roundtrip, dedup_index_takedown, ann_index_takedown —
#: were pulled INSIDE the r12 window instead; video_frame_sample was
#: displaced by the second born gate, query_expansion_rm).
LAGGARDS_R13 = {
    "video_frame_sample",
    "media_probe", "epoch_mix", "dp1_load", "ltcv_export_roundtrip",
    "export_sinks_roundtrip", "avro_alert_roundtrip",
    "load_alert_batch", "bulk_upsert_roundtrip", "pack_sequences",
    "pack_manifest", "pack_materialize", "leakage_safe_split",
    "domain_mix_sample", "doc_perplexity", "doc_perplexity_bigram",
    "versioned_dedup_bucketed", "ltcv_patch_bucketed",
    "cone_search_layout",
}


def test_rotation_invariant_r12():
    """The r11 driver window union the r12 window covers every
    registered gate EXCEPT exactly the named r13 laggards (all
    r10-green); the two gates born this round (hybrid_search_rrf_batch,
    query_expansion_rm) sit at the window head (rule a); the 23
    r12-named laggards lead the rest (rule b — VERDICT r11 #1
    executed); ann_lsh_topk re-adjudicates in-window because its
    oracle's sign test changed this round (rule c — ADVICE r11 #1);
    and with doc_similar_w2v retired, the expected rows-only set is
    EMPTY: every registered gate has an exact oracle."""
    registry = list(em.queries())
    window_r12 = set(registry[:50])
    root = os.path.dirname(os.path.abspath(em.__file__))
    with open(os.path.join(root, "CORRECTNESS_r11.json")) as f:
        window_r11 = set(json.load(f))
    uncovered = set(registry) - window_r11 - window_r12
    assert uncovered == LAGGARDS_R13
    # rule (a): the born gates head the window
    assert registry[:2] == ["hybrid_search_rrf_batch", "query_expansion_rm"]
    # rule (b): the 23 r12-named laggards lead the rest
    assert set(registry[2:25]) == LAGGARDS_R12
    # rule (c): the oracle-touched LSH gate re-adjudicates this round
    assert registry[25] == "ann_lsh_topk"
    # every remaining window slot is an r10-window gate (the oldest
    # evidence after the r9-green laggards)
    with open(os.path.join(root, "CORRECTNESS_r10.json")) as f:
        window_r10 = set(json.load(f))
    assert set(registry[26:50]) <= window_r10
    # the named r13 laggards head the tail so a plain rotation forward
    # covers them first — and each is r10-green
    assert set(registry[50:69]) == LAGGARDS_R13
    assert LAGGARDS_R13 <= window_r10
    # zero rows-only gates remain: every registered gate has an oracle
    oracles = em.oracle_sql()
    assert set(registry) <= set(oracles)


def test_doc_similar_w2v_retired():
    """Registry policy rule 1 executed (VERDICT r11 #2): the trained
    Word2Vec gate is gone from the registry, its exact frozen-vector
    twin remains registered, and the trained operator itself keeps
    working (direct coverage, replacing the retired gate's smoke)."""
    assert "doc_similar_w2v" not in em.queries()
    assert "doc_similar_w2v_exact" in em.queries()


def test_similar_documents_trained_path(spark):
    """The retired gate's body, as a pytest: MLlib Word2Vec trained on
    the corpus, JVM-side mean pooling, brute-force cosine top-k — the
    full trained path still runs end to end and returns the query doc's
    neighbourhood."""
    from fastdb_spark.pipeline.embed import similar_documents

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(80)
    out = similar_documents(docs, query_doc_id=0, k=5, dim=8).collect()
    assert len(out) == 5
    assert all(r["cos"] is not None for r in out)


# ---------------------------------------------------------------------------
# born gate: batched hybrid RRF (VERDICT r11 next-round #3)


def test_hybrid_batch_contains_single_gate_result(spark):
    """The batched gate's q0 group equals the r11-adjudicated
    single-query gate's rows exactly (same terms, same query vector,
    same k/pool) — the batch provably contains the single result."""
    sf = "/root/testdata/sf0.01"
    single = [
        (r["doc_id"], r["lex_rank"], r["sem_rank"], r["rrf"])
        for r in em.queries()["hybrid_search_rrf"](spark, sf).collect()
    ]
    batch = em.queries()["hybrid_search_rrf_batch"](spark, sf)
    q0 = [
        (r["doc_id"], r["lex_rank"], r["sem_rank"], r["rrf"])
        for r in batch.filter(F.col("query_id") == "q0")
        .orderBy(F.col("rrf").desc(), "doc_id")
        .collect()
    ]
    assert q0 == single
    # and every query in the fixed log produced a full top-k group
    counts = {
        r["query_id"]: r["n"]
        for r in batch.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert counts == {"q0": 10, "q1": 10, "q2": 10, "q3": 10}


# ---------------------------------------------------------------------------
# born gate: pseudo-relevance-feedback query expansion


def test_expansion_terms_rm_hand_checkable(spark):
    """RM1 expansion on a hand-built corpus: the pool for query 'apple'
    is the two apple docs; among non-query terms, 'pear' carries the
    most pool token mass (2/3 + 1/3 = 1.0) and 'plum' less (1/3);
    'iron' never appears in the pool."""
    from fastdb_spark.pipeline.retrieval import expansion_terms_rm

    rows = [
        (0, "apple pear pear"),
        (1, "apple pear plum"),
        (2, "iron zinc lead"),
        (3, "zinc lead lead"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = [
        (r["term"], r["weight_q"])
        for r in expansion_terms_rm(
            docs, ["apple"], fb_docs=2, fb_terms=2
        ).collect()
    ]
    assert out == [("pear", 1_000_000), ("plum", 333_333)]


def test_expanded_bm25_with_zero_feedback_terms_is_plain_bm25(spark):
    """fb_terms=0 degenerates to the original query: the expanded run
    must equal bm25_topk exactly."""
    from fastdb_spark.pipeline.retrieval import bm25_topk, bm25_topk_expanded

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = ["vector", "merge"]
    plain = [tuple(r) for r in bm25_topk(docs, q, k=8).collect()]
    exp = [
        tuple(r)
        for r in bm25_topk_expanded(docs, q, fb_docs=5, fb_terms=0, k=8).collect()
    ]
    assert exp == plain


def test_expansion_changes_the_ranking(spark):
    """The expanded query must actually DO something on the real corpus:
    the top-10 for original vs expanded differ (the expansion terms pull
    in docs the original 3 terms miss)."""
    from fastdb_spark.pipeline.retrieval import bm25_topk, bm25_topk_expanded

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = ["vector", "merge", "filter"]
    plain = [r["doc_id"] for r in bm25_topk(docs, q, k=10).collect()]
    exp = [
        r["doc_id"]
        for r in bm25_topk_expanded(
            docs, q, fb_docs=10, fb_terms=5, k=10
        ).collect()
    ]
    assert exp != plain
