"""Tests for the round-4 additions: trained BPE tokenizer, deterministic
shard shuffle, token-budget selection, and TF-IDF top terms.

The BPE trainer/encoder is verified against an INDEPENDENT naive
reference implementation written here (different code path: per-corpus
symbol-sequence training without the histogram, encode by sequential
full-pass merge application) so an engine bug and a test bug cannot
cancel out.
"""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from fastdb_spark.pipeline import shards as sh
from fastdb_spark.pipeline import tokenizer as tok
from fastdb_spark.pipeline.retrieval import tfidf_oracle_sql, tfidf_topk

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# naive reference BPE (independent implementation)


def _ref_train(texts: list[str], n_merges: int) -> list[tuple[str, str]]:
    """Reference trainer: keep every word occurrence as its own symbol
    sequence (no histogram), count pairs over all occurrences, merge the
    max-count / lexicographically-smallest pair, sequentially."""
    seqs = [list(w) for t in texts for w in t.split(" ") if w]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for s in seqs:
            for p in zip(s, s[1:]):
                counts[p] = counts.get(p, 0) + 1
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        for s in seqs:
            i = 0
            while i < len(s) - 1:
                if s[i] == a and s[i + 1] == b:
                    s[i : i + 2] = [a + b]
                else:
                    i += 1
    return merges


def _ref_encode(text: str, merges: list[tuple[str, str]]) -> list[str]:
    """Reference encoder: sequential full-pass application of each merge
    in list order (Sennrich-style), per word."""
    out: list[str] = []
    for w in text.split(" "):
        if not w:
            continue
        s = list(w)
        for a, b in merges:
            i = 0
            while i < len(s) - 1:
                if s[i] == a and s[i + 1] == b:
                    s[i : i + 2] = [a + b]
                else:
                    i += 1
        out.extend(s)
    return out


TOY = [
    "low lower lowest low low",
    "new newer newest new",
    "wide wider widest wide wide wide",
    "low newer wide lowest",
]


def test_bpe_train_matches_reference(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TOY)], "doc_id long, text string")
    got = tok.train_bpe(df, n_merges=12, max_words=1000)
    want = _ref_train(TOY, 12)
    assert got == want


def test_bpe_train_histogram_vs_occurrences():
    # the histogram trainer must equal the occurrence trainer (weighting
    # by count == enumerating occurrences)
    from collections import Counter

    words = Counter(w for t in TOY for w in t.split(" ") if w)
    got = tok.train_bpe_from_histogram(words.items(), 12)
    assert got == _ref_train(TOY, 12)


def test_bpe_encode_matches_reference(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TOY)], "doc_id long, text string")
    merges = tok.train_bpe(df, n_merges=8, max_words=1000)
    enc = {
        r["doc_id"]: (list(r["bpe_tokens"]), r["n_bpe_tokens"])
        for r in tok.encode_bpe(df, merges).collect()
    }
    for i, t in enumerate(TOY):
        want = _ref_encode(t, merges)
        assert enc[i][0] == want, f"doc {i}: {enc[i][0]} != {want}"
        assert enc[i][1] == len(want)


def test_bpe_encode_roundtrip_property(spark):
    # concatenating the pieces of every word reconstructs the text's words
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    merges = tok.train_bpe(df, n_merges=30)
    rows = (
        tok.encode_bpe(df, merges)
        .join(df.select("doc_id", "text"), "doc_id")
        .collect()
    )
    assert rows
    for r in rows:
        assert "".join(r["bpe_tokens"]) == r["text"].replace(" ", "")


def test_bpe_fixed_merges_self_consistent():
    produced = set()
    for a, b in tok.FIXED_MERGES:
        for el in (a, b):
            assert len(el) == 1 or el in produced, f"element {el!r} unproduced"
        produced.add(a + b)


def test_bpe_encoded_flat_oracle_parity(spark):
    """The encode gate's exact cross-engine check, locally: real Pandas-UDF
    encoder vs the duckdb chained-replace twin, on real documents."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    flat = tok.encoded_flat(docs, tok.FIXED_MERGES)
    got = {
        r["doc_id"]: (r["encoded"], r["n_bpe_tokens"])
        for r in flat.collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    oracle = con.execute(
        tok.bpe_encode_oracle_sql(tok.FIXED_MERGES)
    ).fetchall()
    assert len(oracle) == len(got)
    import hashlib

    for doc_id, enc_md5, n in oracle:
        enc, n_spark = got[doc_id]
        assert hashlib.md5(enc.encode()).hexdigest() == enc_md5, doc_id
        assert n_spark == n, doc_id


def test_bpe_histogram_cap_and_min_count(spark):
    df = spark.createDataFrame(
        [(0, "aa aa aa bb bb cc")], "doc_id long, text string"
    )
    hist = tok.word_histogram(df, max_words=2)
    assert hist == [("aa", 3), ("bb", 2)]
    hist2 = tok.word_histogram(df, min_count=2)
    assert ("cc", 1) not in hist2


# ---------------------------------------------------------------------------
# shard shuffle


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    return con


def test_shuffle_to_shards_parity(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = sh.shuffle_to_shards(docs.select("doc_id"), 8).collect()
    got = sorted((r["doc_id"], r["shard"], r["pos"]) for r in out)
    want = sorted(
        _duck(SF_DIR)
        .execute(
            sh.shards_oracle_sql("documents", 8, select_cols="doc_id")
        )
        .fetchall()
    )
    assert got == want


def test_shuffle_to_shards_shape(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = sh.shuffle_to_shards(docs, 4)
    rows = out.select("shard", "pos").collect()
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= set(range(4))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss))), f"shard {shard} gap"
    # deterministic: second run identical
    again = sh.shuffle_to_shards(docs, 4).select("shard", "pos").collect()
    assert sorted((r["shard"], r["pos"]) for r in rows) == sorted(
        (r["shard"], r["pos"]) for r in again
    )


def test_shuffle_decorrelates_ids(spark):
    # adjacent doc ids should land in different shards (that's the point)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = {
        r["doc_id"]: r["shard"]
        for r in sh.shuffle_to_shards(docs, 8).collect()
    }
    ids = sorted(out)
    same = sum(1 for a, b in zip(ids, ids[1:]) if out[a] == out[b])
    # random expectation 1/8; flag only gross failure (e.g. mod on raw id)
    assert same < 0.5 * len(ids)


def test_write_shards_layout(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    path = str(tmp_path / "shards")
    sh.write_shards(docs, path, 4)
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    assert set(r["shard"] for r in back.select("shard").distinct().collect()) <= set(
        range(4)
    )


def test_shards_rejects_bad_n(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    with pytest.raises(ValueError):
        sh.shuffle_to_shards(docs, 0)


# ---------------------------------------------------------------------------
# token budget


def test_token_budget_global_parity(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = sh.token_budget_select(docs, budget=2000).select(
        "doc_id", "n_tokens", "cum_tokens"
    )
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(
        _duck(SF_DIR)
        .execute(
            sh.token_budget_oracle_sql("documents", 2000, select_cols="doc_id")
        )
        .fetchall()
    )
    assert got == want
    assert got, "budget selected nothing"


def test_token_budget_per_stratum(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    budgets = {"en": 1500, "fr": 400}
    out = sh.token_budget_select(
        docs, budget=budgets, stratum_col="lang"
    ).select("doc_id", "lang", "n_tokens", "cum_tokens")
    rows = out.collect()
    assert rows
    per = {}
    for r in rows:
        per.setdefault(r["lang"], 0)
        per[r["lang"]] += r["n_tokens"]
    for lang, tot in per.items():
        assert tot <= budgets.get(lang, 0), f"{lang} over budget"
    assert set(per) <= set(budgets)
    # oracle parity too
    want = sorted(
        _duck(SF_DIR)
        .execute(
            sh.token_budget_oracle_sql(
                "documents", budgets, stratum_col="lang",
                select_cols="doc_id, lang",
            )
        )
        .fetchall()
    )
    got = sorted(
        (r["doc_id"], r["lang"], r["n_tokens"], r["cum_tokens"]) for r in rows
    )
    assert got == want


def test_token_budget_never_exceeds(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for budget in (0, 1, 137, 10**9):
        out = sh.token_budget_select(docs, budget=budget)
        mx = out.agg(F.max("cum_tokens")).collect()[0][0]
        assert mx is None or mx <= budget


# ---------------------------------------------------------------------------
# tf-idf


def test_tfidf_parity(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = sorted(tuple(r) for r in tfidf_topk(docs, k=5).collect())
    want = sorted(_duck(SF_DIR).execute(tfidf_oracle_sql(5)).fetchall())
    assert got == want
    assert got


def test_tfidf_k_and_rank(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    out = tfidf_topk(docs, k=3).collect()
    per: dict[int, list[int]] = {}
    for r in out:
        per.setdefault(r["doc_id"], []).append(r["rk"])
    for doc, rks in per.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))
        assert len(rks) <= 3


# ---------------------------------------------------------------------------
# composed training-set assembly


_TS_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_TS_BUDGETS = {"en": 2000, "fr": 800}


def test_build_training_set_parity(spark):
    from fastdb_spark.pipeline.trainset import build_training_set, trainset_oracle_sql

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = build_training_set(
        docs, _TS_WEIGHTS, _TS_BUDGETS, stratum_col="lang", n_shards=4
    )
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(
        _duck(SF_DIR)
        .execute(trainset_oracle_sql(_TS_WEIGHTS, _TS_BUDGETS, n_shards=4))
        .fetchall()
    )
    assert got == want
    assert got, "empty training set"


def test_training_set_determinism_and_budget(spark):
    from fastdb_spark.pipeline.trainset import build_training_set

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = build_training_set(docs, _TS_WEIGHTS, _TS_BUDGETS, n_shards=4).collect()
    b = build_training_set(docs, _TS_WEIGHTS, _TS_BUDGETS, n_shards=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    per: dict[str, int] = {}
    for r in a:
        per[r["lang"]] = per.get(r["lang"], 0) + r["n_tokens"]
    for lang, tot in per.items():
        assert tot <= _TS_BUDGETS[lang]


def test_materialize_training_set(spark, tmp_path):
    from fastdb_spark.pipeline.trainset import (
        build_training_set,
        materialize_training_set,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    path = str(tmp_path / "ts")
    materialize_training_set(docs, path, _TS_WEIGHTS, _TS_BUDGETS, n_shards=4)
    back = spark.read.parquet(path)
    want = build_training_set(docs, _TS_WEIGHTS, _TS_BUDGETS, n_shards=4)
    assert back.count() == want.count()
    assert {r["shard"] for r in back.select("shard").distinct().collect()} <= set(
        range(4)
    )


# ---------------------------------------------------------------------------
# word/document embeddings (pipeline.embed)


def test_doc_embeddings_exact_mean(spark):
    from fastdb_spark.pipeline.embed import doc_embeddings

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b b c"), (3, "zzz")], "doc_id long, text string"
    )
    wv = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0]), ("c", [2.0, 2.0])],
        "word string, vector array<float>",
    )
    out = {r["doc_id"]: list(r["embedding"]) for r in doc_embeddings(docs, wv).collect()}
    assert out[1] == pytest.approx([0.5, 0.5])
    assert out[2] == pytest.approx([2.0 / 3.0, 4.0 / 3.0])
    assert 3 not in out  # no known words -> no embedding row


def test_train_word_vectors_deterministic(spark):
    from fastdb_spark.pipeline.embed import train_word_vectors

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(40)
    a = {r["word"]: list(r["vector"]) for r in train_word_vectors(docs, dim=8).collect()}
    b = {r["word"]: list(r["vector"]) for r in train_word_vectors(docs, dim=8).collect()}
    assert a.keys() == b.keys() and len(a) > 5
    for w in a:
        assert a[w] == pytest.approx(b[w])
        assert len(a[w]) == 8


def test_similar_documents_topical(spark):
    from fastdb_spark.pipeline.embed import similar_documents

    # two disjoint-vocabulary topics with hand-built word vectors: the
    # nearest neighbours of a topic-A doc must all be topic-A docs
    rows = [
        (0, "apple pear plum"),
        (1, "pear plum apple apple"),
        (2, "plum apple pear pear"),
        (10, "iron zinc lead"),
        (11, "zinc lead iron iron"),
        (12, "lead iron zinc zinc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    wv = spark.createDataFrame(
        [
            ("apple", [1.0, 0.1]), ("pear", [0.9, 0.0]), ("plum", [1.1, -0.1]),
            ("iron", [0.0, 1.0]), ("zinc", [-0.1, 0.9]), ("lead", [0.1, 1.1]),
        ],
        "word string, vector array<float>",
    )
    out = similar_documents(docs, query_doc_id=0, k=2, word_vectors=wv).collect()
    assert [r["vec_id"] for r in out] and all(r["vec_id"] in (1, 2) for r in out)


def test_embeddings_feed_ann_index(spark, tmp_path):
    from fastdb_spark.pipeline.ann import build_ivf_index, ivf_search_index
    from fastdb_spark.pipeline.embed import doc_embeddings, train_word_vectors

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60)
    wv = train_word_vectors(docs, dim=8)
    embs = doc_embeddings(docs, wv).withColumnRenamed("doc_id", "vec_id")
    path = str(tmp_path / "docvec_idx")
    build_ivf_index(embs, path, n_clusters=4, strategy="seed")
    q = embs.head()
    out = ivf_search_index(spark, path, list(q["embedding"]), k=5, nprobe=2)
    assert out.count() == 5


# ---------------------------------------------------------------------------
# intra-document block dedup


def test_dedup_doc_blocks_removes_doubled_text(spark):
    from fastdb_spark.pipeline.spans import dedup_doc_blocks

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(32))),          # no dups
            (2, " ".join(f"w{i%8}" for i in range(16)) ),       # blocks of 8: two identical
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_doc_blocks(docs, n=8).collect()}
    assert out[1]["n_blocks"] == 4 and out[1]["n_kept"] == 4
    assert out[1]["clean_text"] == " ".join(f"w{i}" for i in range(32))
    assert out[2]["n_blocks"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["clean_text"] == " ".join(f"w{i%8}" for i in range(8))


def test_dedup_doc_blocks_parity(spark):
    from fastdb_spark.pipeline.corpus import INTRADUP_DOCS_SQL, intradup_docs
    from fastdb_spark.pipeline.spans import dedup_doc_blocks, dedup_doc_blocks_oracle_sql

    docs = intradup_docs(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    got = sorted(tuple(r) for r in dedup_doc_blocks(docs, n=16).collect())
    want = sorted(
        _duck(SF_DIR)
        .execute(
            dedup_doc_blocks_oracle_sql(n=16, table=f"({INTRADUP_DOCS_SQL})")
        )
        .fetchall()
    )
    assert got == want
    # the planted block-aligned copies must actually collapse
    doubled = [r for r in got if r[0] >= 3000000]
    collapsed = [r for r in doubled if r[3] < r[2]]
    assert doubled and collapsed, "planted intra-doc dups did not collapse"


# ---------------------------------------------------------------------------
# incremental dedup index (pipeline.incdedup)


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_BASE_TEXTS = [
    (0, "alpha beta gamma delta epsilon zeta eta theta"),
    (1, "one two three four five six seven eight nine"),
    (2, "red orange yellow green blue indigo violet"),
]


def test_incdedup_build_and_exact_increment(spark, tmp_path):
    from fastdb_spark.pipeline.incdedup import build_dedup_index, dedup_index_upsert

    path = str(tmp_path / "didx")
    n = build_dedup_index(_mk_docs(spark, _BASE_TEXTS), path)
    assert n == 3
    # batch 2: one exact dup of doc 0, one near-dup of doc 1 (one word
    # swapped), one genuinely new doc
    batch = _mk_docs(
        spark,
        [
            (10, "alpha beta gamma delta epsilon zeta eta theta"),
            (11, "one two three four five six seven eight ten"),
            (12, "lorem ipsum dolor sit amet consectetur adipiscing"),
        ],
    )
    surv = dedup_index_upsert(spark, batch, path)
    assert surv == [12], surv


def test_incdedup_idempotent_replay(spark, tmp_path):
    from fastdb_spark.pipeline.incdedup import build_dedup_index, dedup_index_upsert

    path = str(tmp_path / "didx2")
    build_dedup_index(_mk_docs(spark, _BASE_TEXTS), path)
    batch = _mk_docs(spark, [(20, "lorem ipsum dolor sit amet consectetur")])
    assert dedup_index_upsert(spark, batch, path) == [20]
    # replaying the same batch: everything is already indexed
    assert dedup_index_upsert(spark, batch, path) == []


def test_incdedup_inbatch_rules(spark, tmp_path):
    from fastdb_spark.pipeline.incdedup import build_dedup_index, dedup_index_upsert

    path = str(tmp_path / "didx3")
    build_dedup_index(_mk_docs(spark, _BASE_TEXTS), path)
    # batch with an internal exact pair (keep min id) and an internal
    # near pair (drop higher id)
    batch = _mk_docs(
        spark,
        [
            (31, "apple banana cherry date elderberry fig grape"),
            (30, "apple banana cherry date elderberry fig grape"),
            (32, "apple banana cherry date elderberry fig melon"),
        ],
    )
    surv = dedup_index_upsert(spark, batch, path)
    assert surv == [30], surv


def test_incdedup_id_ceiling_scratch_path(spark, tmp_path):
    """A batch whose survivors exceed ``id_ceiling`` must NOT be
    collected on the driver: the upsert returns None, but the index
    contents are identical to the collected path and a replay still
    dedups everything."""
    from fastdb_spark.pipeline.incdedup import build_dedup_index, dedup_index_upsert

    path = str(tmp_path / "didx5")
    build_dedup_index(_mk_docs(spark, _BASE_TEXTS), path)
    batch = _mk_docs(
        spark,
        [
            (40, "quark lepton boson gluon photon neutrino muon"),
            (41, "stack queue heap trie graph matrix tensor"),
            (42, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup
        ],
    )
    got = dedup_index_upsert(spark, batch, path, id_ceiling=1)
    assert got is None
    idx_ids = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "didx5" / "fingerprints")).collect()
    }
    assert idx_ids == {0, 1, 2, 40, 41}
    assert not (tmp_path / "didx5" / "_scratch_batch").exists()
    # replay: the scratch-path append must have indexed both survivors
    assert dedup_index_upsert(spark, batch, path) == []


def test_incdedup_truncation_audit(spark, tmp_path):
    """Docs whose vs-index candidate set hits max_bucket_size are
    flagged in LAST_UPSERT_AUDIT (the cap can drop the one true match)."""
    import copy

    from fastdb_spark.pipeline import incdedup

    path = str(tmp_path / "didx6")
    # three near-identical indexed docs (threshold high enough that they
    # all survive the build) -> a new near-dup shares single-row band
    # buckets (bands=12, rows=1) with more than one of them
    base = [
        (0, "apple banana cherry date elderberry fig grape kiwi"),
        (1, "apple banana cherry date elderberry fig grape lime"),
        (2, "apple banana cherry date elderberry fig grape pear"),
    ]
    incdedup.build_dedup_index(
        _mk_docs(spark, base), path, threshold=0.95, bands=12
    )
    batch = _mk_docs(
        spark, [(50, "apple banana cherry date elderberry fig grape mango")]
    )
    incdedup.dedup_index_upsert(spark, batch, path, max_bucket_size=1)
    assert incdedup.LAST_UPSERT_AUDIT["truncated_docs"] >= 1
    assert 50 in incdedup.LAST_UPSERT_AUDIT["sample"]
    # a probe shares the upsert's classification but never writes the
    # upsert audit, capped or not
    before = copy.deepcopy(incdedup.LAST_UPSERT_AUDIT)
    probe = _mk_docs(
        spark, [(60, "apple banana cherry date elderberry fig grape plum")]
    )
    for cap in (1, None):
        incdedup.dedup_index_probe(spark, probe, path, max_bucket_size=cap)
        assert incdedup.LAST_UPSERT_AUDIT == before


def test_incdedup_matches_oneshot_on_single_batch(spark, tmp_path):
    """Building an index from a corpus must keep exactly the documents
    curate_corpus keeps (same dedup semantics), checked on the planted
    curation corpus."""
    from fastdb_spark.pipeline.corpus import curate_docs
    from fastdb_spark.pipeline.curate import curate_corpus
    from fastdb_spark.pipeline.incdedup import build_dedup_index

    docs = curate_docs(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    path = str(tmp_path / "didx4")
    n = build_dedup_index(docs, path)
    want = curate_corpus(docs, min_tokens=0, min_quality=0.0)
    from fastdb_spark.cachereg import release_staged

    try:
        n_want = want.count()
    finally:
        release_staged()
    assert n == n_want
    got_ids = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "didx4" / "fingerprints")).collect()
    }
    try:
        want_ids = {r["doc_id"] for r in want.collect()}
    finally:
        release_staged()
    assert got_ids == want_ids


def test_corpus_card_parity(spark):
    from fastdb_spark.cachereg import release_staged
    from fastdb_spark.pipeline.textstats import corpus_card, corpus_card_oracle_sql

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    try:
        got = [tuple(r) for r in corpus_card(docs).collect()]
    finally:
        release_staged()
    want = _duck(SF_DIR).execute(corpus_card_oracle_sql()).fetchall()
    assert got == want and len(got) == 1
    row = got[0]
    assert row[0] > 0 and row[1] > 0 and row[3] >= 1


# ---------------------------------------------------------------------------
# chunking + boilerplate removal


def test_chunk_documents_shapes(spark):
    from fastdb_spark.pipeline.spans import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10)))], "doc_id long, text string"
    )
    # size 4, overlap 0 -> chunks of 4/4/2
    out = sorted(
        (r["chunk"], r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(docs, size=4).collect()
    )
    assert [o[2] for o in out] == [4, 4, 2]
    assert out[0][1] == "w0 w1 w2 w3" and out[2][1] == "w8 w9"
    # overlap 2 -> stride 2: windows 0..2..6 + final partials
    out2 = chunk_documents(docs, size=4, overlap=2).collect()
    texts = {r["chunk"]: r["chunk_text"] for r in out2}
    assert texts[0] == "w0 w1 w2 w3" and texts[1] == "w2 w3 w4 w5"
    with pytest.raises(ValueError):
        chunk_documents(docs, size=4, overlap=4)


def test_chunk_documents_parity(spark):
    from fastdb_spark.pipeline.spans import chunk_documents, chunk_documents_oracle_sql

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = sorted(tuple(r) for r in chunk_documents(docs, size=12, overlap=4).collect())
    want = sorted(
        _duck(SF_DIR).execute(chunk_documents_oracle_sql(size=12, overlap=4)).fetchall()
    )
    assert got == want and got


def test_remove_boilerplate_blocks(spark):
    from fastdb_spark.pipeline.spans import remove_boilerplate_blocks

    boiler = " ".join(f"b{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (1, boiler + " " + " ".join(f"x{i}" for i in range(8))),
            (2, boiler + " " + " ".join(f"y{i}" for i in range(8))),
            (3, " ".join(f"z{i}" for i in range(16))),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_boilerplate_blocks(docs, n=8, max_docs=1).collect()}
    assert out[1]["clean_text"] == " ".join(f"x{i}" for i in range(8))
    assert out[2]["clean_text"] == " ".join(f"y{i}" for i in range(8))
    assert out[3]["n_kept"] == 2  # untouched


def test_remove_boilerplate_parity(spark):
    from fastdb_spark.pipeline.corpus import EXACTDUP_DOCS_SQL, exactdup_docs
    from fastdb_spark.pipeline.spans import (
        remove_boilerplate_blocks,
        remove_boilerplate_oracle_sql,
    )

    docs = exactdup_docs(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    got = sorted(
        tuple(r) for r in remove_boilerplate_blocks(docs, n=16, max_docs=1).collect()
    )
    want = sorted(
        _duck(SF_DIR)
        .execute(
            remove_boilerplate_oracle_sql(
                n=16, max_docs=1, table=f"({EXACTDUP_DOCS_SQL})"
            )
        )
        .fetchall()
    )
    assert got == want
    # the planted exact-dup docs must have lost their shared blocks
    n_docs = docs.count()
    assert len(got) < n_docs


def test_bpe_save_load_roundtrip(spark, tmp_path):
    merges = tok.train_bpe(
        spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(30), n_merges=20
    )
    path = str(tmp_path / "bpe")
    tok.save_bpe(spark, merges, path)
    assert tok.load_bpe(spark, path) == merges
    vocab = tok.bpe_vocab(merges)
    assert all(a + b in vocab for a, b in merges)
    assert len(vocab) == len(set(vocab))


# ---------------------------------------------------------------------------
# fast-hash MinHash path


def test_minhash_fast_path_finds_planted_dups(spark):
    from fastdb_spark.cachereg import release_staged
    from fastdb_spark.pipeline.corpus import curate_docs
    from fastdb_spark.pipeline.dedup import minhash_lsh_pairs

    docs = curate_docs(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    try:
        fast = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(docs, hash_impl="fast").collect()
        }
        md5p = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(docs, hash_impl="md5").collect()
        }
    finally:
        release_staged()
    # exact duplicates collide in every band under ANY hash: all planted
    # +2000000 exact-dup pairs must appear in both
    exact = {p for p in md5p if p[1] - p[0] == 2000000}
    assert exact and exact <= fast
    # candidate banding differs but the refined sets should agree almost
    # everywhere on this corpus (both are >=0.5-Jaccard verified)
    inter = len(fast & md5p)
    assert inter / max(len(md5p), 1) > 0.9
    with pytest.raises(ValueError):
        minhash_lsh_pairs(docs, hash_impl="sha9000")


def test_curate_fast_hash_equivalent_on_planted(spark):
    from fastdb_spark.cachereg import release_staged
    from fastdb_spark.pipeline.corpus import curate_docs
    from fastdb_spark.pipeline.curate import curate_corpus

    docs = curate_docs(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    try:
        a = {r["doc_id"] for r in curate_corpus(docs).collect()}
        b = {r["doc_id"] for r in curate_corpus(docs, hash_impl="fast").collect()}
    finally:
        release_staged()
    # different banding, same refined semantics: survivors should agree
    # almost everywhere on the planted corpus
    assert len(a & b) / max(len(a), 1) > 0.95


def test_argument_guards(spark):
    from fastdb_spark.pipeline.spans import dedup_doc_blocks, remove_boilerplate_blocks

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        dedup_doc_blocks(docs, n=0)
    with pytest.raises(ValueError):
        remove_boilerplate_blocks(docs, n=-1)
    with pytest.raises(ValueError):
        remove_boilerplate_blocks(docs, max_docs=0)
    with pytest.raises(ValueError):
        sh.token_budget_select(docs, budget={"en": 10})  # dict w/o stratum
