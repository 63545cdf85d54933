"""Property-based tests (hypothesis) — beyond the reference's test
strategy (SURVEY.md §5 notes it has none): operator invariants over
randomized small frames."""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from fastdb_spark.operators.dedup import dedup_first_seen, dedup_top_priority
from fastdb_spark.operators.patch import patch_lightcurve

ROWS = st.lists(
    st.tuples(
        st.integers(0, 4),       # key
        st.integers(0, 3),       # priority
        st.integers(0, 10_000),  # unique-ish id (tiebreak)
        st.floats(-100, 100, allow_nan=False),
    ),
    min_size=1,
    max_size=30,
)

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_dedup_matches_pandas_argmax(spark, rows):
    # de-dup the tiebreak id so ordering is total
    seen, uniq = set(), []
    for k, p, i, v in rows:
        if i not in seen:
            seen.add(i)
            uniq.append((k, p, i, float(v)))
    df = spark.createDataFrame(uniq, ["k", "p", "i", "v"])
    got = {
        r["k"]: (r["p"], r["i"])
        for r in dedup_top_priority(df, ["k"], ["p", "i"]).collect()
    }
    pdf = pd.DataFrame(uniq, columns=["k", "p", "i", "v"])
    exp = (
        pdf.sort_values(["k", "p", "i"], ascending=[True, False, False])
        .groupby("k")
        .first()
    )
    assert got == {k: (row.p, row.i) for k, row in exp.iterrows()}

    first = {
        r["k"]: (r["p"], r["i"])
        for r in dedup_first_seen(df, ["k"], ["p", "i"]).collect()
    }
    expf = pdf.sort_values(["k", "p", "i"]).groupby("k").first()
    assert first == {k: (row.p, row.i) for k, row in expf.iterrows()}


@given(
    fkeys=st.sets(st.integers(0, 15), max_size=10),
    skeys=st.sets(st.integers(0, 15), max_size=10),
)
@settings(**_SETTINGS)
def test_patch_join_key_algebra(spark, fkeys, skeys):
    """Patch output keys == union; isdet == source-side membership;
    ispatch == forced-side absence — for every random key split."""
    if not fkeys and not skeys:
        return
    forced = spark.createDataFrame(
        [(1, k, float(k)) for k in fkeys] or [(1, -999, 0.0)],
        ["rootid", "visit", "flux"],
    ).filter("visit >= 0")
    sources = spark.createDataFrame(
        [(1, k, float(k) * 10) for k in skeys] or [(1, -999, 0.0)],
        ["rootid", "visit", "flux"],
    ).filter("visit >= 0")
    out = patch_lightcurve(forced, sources, ("rootid", "visit"), ["flux"]).collect()
    got = {r["visit"]: (r["isdet"], r["ispatch"], r["flux"]) for r in out}
    assert set(got) == fkeys | skeys
    for v, (isdet, ispatch, flux) in got.items():
        assert isdet == (v in skeys)
        assert ispatch == (v not in fkeys)
        assert flux == (float(v) if v in fkeys else float(v) * 10)


TOKENS = st.lists(
    st.text(alphabet="abcdefghij0123456789,.", min_size=0, max_size=8),
    min_size=0,
    max_size=20,
)


@given(toks=TOKENS)
@settings(**_SETTINGS)
def test_rolling_fingerprint_matches_python_fold(spark, toks):
    """Spark's aggregate() fold must equal the plain-Python Rabin-Karp
    fold for arbitrary token lists (int64-exactness of the modulus)."""
    from pyspark.sql import functions as F

    from fastdb_spark.functions.text import rolling_fingerprint

    text = " ".join(toks)
    # reference fold over single-space tokens (split('', ' ') -> [''])
    expected = 0
    for w in text.split(" "):
        val = (ord(w[0]) if w else 0) * 256 + len(w)
        expected = (expected * 1000003 + val) % 2147483647
    got = (
        spark.createDataFrame([(text,)], ["text"])
        .select(rolling_fingerprint(F.col("text")).alias("fp"))
        .head()["fp"]
    )
    assert got == expected


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    toks=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=40),
    seq_len=st.integers(min_value=1, max_value=17),
)
def test_pack_sequences_invariants(spark, toks, seq_len):
    """Ledger invariants for arbitrary token-count shapes: starts are the
    exact prefix sums in id order, offsets < seq_len, span counts match
    ceil arithmetic, zero-token docs span nothing."""
    from fastdb_spark.pipeline.packing import pack_sequences

    rows = [(i, n) for i, n in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = (
        pack_sequences(df, seq_len=seq_len, token_col="n_tokens", num_ranges=3)
        .orderBy("doc_id")
        .collect()
    )
    start = 0
    for r in out:
        n = r["n_tokens"]
        assert r["seq_id"] == start // seq_len
        assert r["seq_offset"] == start % seq_len
        if n == 0:
            assert r["n_seqs_spanned"] == 0
        else:
            assert (
                r["n_seqs_spanned"]
                == (start + n - 1) // seq_len - start // seq_len + 1
            )
        start += n


# ---------------------------------------------------------------------------
# BPE tokenizer properties (pure-Python core: no Spark in the loop, so
# hypothesis can afford many examples)


from fastdb_spark.pipeline import tokenizer as _tok

_WORD = st.text(alphabet="abcde", min_size=1, max_size=6)
_CORPUS = st.lists(
    st.lists(_WORD, min_size=1, max_size=8).map(" ".join),
    min_size=1,
    max_size=10,
)


@given(_CORPUS, st.integers(0, 12))
@settings(max_examples=40, deadline=None)
def test_bpe_roundtrip_and_greedy_equals_sequential(texts, n_merges):
    """(a) piece concatenation reconstructs every word; (b) the greedy
    lowest-rank encoder equals sequential full-pass merge application —
    the equivalence the chained-replace oracle rests on."""
    from collections import Counter

    freqs = Counter(w for t in texts for w in t.split(" ") if w)
    merges = _tok.train_bpe_from_histogram(freqs.items(), n_merges)
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    for w in freqs:
        greedy = list(_tok._encode_word(w, ranks))
        seq = [*w]
        # sequential full-pass application in rank order
        s = list(w)
        for a, b in merges:
            i = 0
            while i < len(s) - 1:
                if s[i] == a and s[i + 1] == b:
                    s[i : i + 2] = [a + b]
                else:
                    i += 1
        assert greedy == s, (w, merges)
        assert "".join(greedy) == w


@given(_CORPUS, st.integers(1, 10))
@settings(max_examples=25, deadline=None)
def test_bpe_oracle_framing_matches_encoder(texts, n_merges):
    """The duckdb chained-replace framing equals the real encoder on
    ARBITRARY corpora and TRAINED merges (not just the fixed gate list) —
    exercises the boundary-safety argument, including multi-space and
    shared-prefix token edge cases."""
    import duckdb
    from collections import Counter

    freqs = Counter(w for t in texts for w in t.split(" ") if w)
    merges = _tok.train_bpe_from_histogram(freqs.items(), n_merges)
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    sep2 = _tok.SEP * 2
    con = duckdb.connect()
    for t in texts:
        # python-side framing (mirrors encoded_flat's enc_doc)
        parts = [sep2]
        n = 0
        words = t.split(" ")
        for wi, w in enumerate(words):
            if w:
                pieces = _tok._encode_word(w, ranks)
                for p in pieces:
                    parts.append(p)
                    parts.append(sep2)
                n += len(pieces)
            if wi < len(words) - 1:
                parts.append(" ")
                parts.append(sep2)
        py = "".join(parts)
        sql = _tok.bpe_encode_oracle_sql(
            merges, table="(SELECT 0 AS doc_id, ? AS text)"
        )
        doc_id, md5, n_sql = con.execute(sql, [t]).fetchone()
        import hashlib

        assert hashlib.md5(py.encode()).hexdigest() == md5, (t, merges)
        assert n == n_sql, (t, merges)
