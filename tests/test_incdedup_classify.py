"""``incdedup._classify`` (staged exact leg + one verdict column) against
the five-branch ``unionByName`` classification it replaced, kept here as
the reference: same (id, verdict) multiset from the probe, same upsert
ids, audit and index contents, and strictly fewer Spark jobs per probe.

The batch is adversarial for the verdict precedence
(exact > in_batch_exact > near > in_batch_near > fresh): an in-batch
exact family whose min id is a near-dup of an indexed doc, an A~B~C
Jaccard chain (greedy-MIS keeps A and C), a shingle-less document, a
null-id document and, under a small ``max_bucket_size``, a document
whose vs-index candidate set is truncated."""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pytest
from pyspark.sql import functions as F

from fastdb_spark.cachereg import release_staged
from fastdb_spark.pipeline import incdedup
from fastdb_spark.pipeline.dedup import DEFAULT_MAX_BUCKET

from .conftest import count_jobs

PARAMS = {"n_hashes": 32, "bands": 16, "threshold": 0.5}


def _words(prefix: str, n: int) -> list[str]:
    return [f"{prefix}{i}" for i in range(n)]


def _swap(words: list[str], at: dict[int, str]) -> str:
    return " ".join(at.get(i, w) for i, w in enumerate(words))


_D1 = _words("d", 16)
_CHAIN = _words("c", 30)
_CORE = _words("k", 12)

# indexed: doc 1, and five docs sharing a 12-word core (pairwise Jaccard
# 0.29, so the build keeps all five; each is 0.45 from the bare core)
INDEX_DOCS = [(1, " ".join(_D1)), (2, " ".join(_words("e", 20)))] + [
    (10 + j, " ".join(_CORE + _words(f"x{j}_", 12))) for j in range(5)
]

_NEAR_D1 = _swap(_D1, {15: "zz"})  # Jaccard 13/15 vs doc 1
_A = " ".join(_CHAIN)
_B = _swap(_CHAIN, {6: "b6", 20: "b20"})  # A~B 0.65
_C = _swap(_CHAIN, {6: "b6", 20: "b20", 13: "z13", 26: "z26"})  # B~C 0.65, A~C 0.4

BATCH = [
    (101, _NEAR_D1),  # min id of an exact family, near doc 1
    (102, _NEAR_D1),
    (103, _NEAR_D1),
    (110, " ".join(_words("e", 20))),  # exact vs doc 2
    (111, " ".join(_words("e", 20))),  # exact vs doc 2, in-batch twin
    (201, _A),
    (202, _B),
    (203, _C),
    (301, "tiny doc"),  # fewer words than the shingle size
    (None, " ".join(_words("n", 10))),
    (401, " ".join(_CORE)),  # candidate of all five core docs
    (501, " ".join(_words("f", 10))),
    (502, " ".join(_words("f", 10))),
]

EXPECTED = {
    101: "near",
    102: "in_batch_exact",
    103: "in_batch_exact",
    110: "exact",
    111: "exact",
    201: "fresh",
    202: "in_batch_near",
    203: "fresh",
    301: "fresh",
    None: "in_batch_exact",
    401: "fresh",
    501: "fresh",
    502: "in_batch_exact",
}


def _reference_classify(spark, sk, path, p, id_col, max_bucket_size, audit=None):
    """The classification before the staged exact leg: a join chain for
    the exact leg, the three index tables opened one after another, and
    a five-branch ``unionByName`` for the verdicts."""
    fps = spark.read.parquet(os.path.join(path, "fingerprints")).select(
        "fingerprint"
    )
    exact = sk.join(fps, on="fingerprint", how="left_semi").select(id_col)
    rest = sk.join(fps, on="fingerprint", how="left_anti")
    canon = rest.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    keepmin = rest.join(canon, on=[id_col, "fingerprint"], how="left_semi")
    in_batch_exact = rest.join(
        keepmin.select(id_col), on=id_col, how="left_anti"
    ).select(id_col)
    near = incdedup._near_dups_vs_index(
        keepmin,
        spark.read.parquet(os.path.join(path, "bands")),
        spark.read.parquet(os.path.join(path, "shingles")),
        p["threshold"],
        id_col,
        max_bucket_size,
        audit=audit,
    ).localCheckpoint(eager=False)
    rest2 = keepmin.join(near, on=id_col, how="left_anti")
    in_batch_near = incdedup._inbatch_drops(
        rest2, id_col, p["threshold"], max_bucket_size
    )
    surv = rest2.join(in_batch_near, on=id_col, how="left_anti")
    verdicts = (
        exact.select(id_col, F.lit("exact").alias("verdict"))
        .unionByName(
            in_batch_exact.select(
                id_col, F.lit("in_batch_exact").alias("verdict")
            )
        )
        .unionByName(near.select(id_col, F.lit("near").alias("verdict")))
        .unionByName(
            in_batch_near.select(
                id_col, F.lit("in_batch_near").alias("verdict")
            )
        )
        .unionByName(surv.select(id_col, F.lit("fresh").alias("verdict")))
    )
    return verdicts, surv


def _sketch_of(batch, p):
    return incdedup._staged_sketch(
        batch, "doc_id", "text", p["shingle_k"], p["n_hashes"], p["bands"],
        p["hash_impl"],
    )


def _reference_probe(spark, batch, path, cap):
    p = incdedup._load_params(path)
    sk = _sketch_of(batch, p)
    try:
        verdicts, _ = _reference_classify(spark, sk, path, p, "doc_id", cap)
        return verdicts.localCheckpoint(eager=True).collect()
    finally:
        release_staged()


def _reference_upsert(spark, batch, path, cap):
    p = incdedup._load_params(path)
    audit = {"truncated_docs": 0, "sample": []}
    sk = _sketch_of(batch, p)
    try:
        _, surv = _reference_classify(
            spark, sk, path, p, "doc_id", cap, audit=audit
        )
        ids, _n = incdedup._append_survivors(
            surv, path, "doc_id", overwrite=False,
            id_buckets=p.get("id_buckets"),
        )
    finally:
        release_staged()
    return ids, audit


def _index_rows(spark, path):
    return sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(path, "fingerprints"))
        .select("doc_id", "fingerprint")
        .collect()
    )


def _multiset(rows):
    return Counter((r["doc_id"], r["verdict"]) for r in rows)


@pytest.mark.parametrize("hash_impl", ["md5", "fast"])
def test_classify_matches_union_reference(spark, tmp_path, hash_impl):
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    seed = str(tmp_path / "seed")
    assert incdedup.build_dedup_index(
        mk(INDEX_DOCS), seed, hash_impl=hash_impl, **PARAMS
    ) == len(INDEX_DOCS)
    batch = mk(BATCH)

    for cap in (DEFAULT_MAX_BUCKET, 2):
        ref = _reference_probe(spark, batch, seed, cap)
        new = incdedup.dedup_index_probe(
            spark, batch, seed, max_bucket_size=cap
        ).collect()
        assert _multiset(new) == _multiset(ref)
        assert len(new) == len(BATCH)
        if cap == DEFAULT_MAX_BUCKET:
            assert {r["doc_id"]: r["verdict"] for r in new} == EXPECTED

        a, b = (str(tmp_path / f"{side}_{cap}") for side in ("ref", "new"))
        shutil.copytree(seed, a)
        shutil.copytree(seed, b)
        ref_ids, ref_audit = _reference_upsert(spark, batch, a, cap)
        new_ids = incdedup.dedup_index_upsert(
            spark, batch, b, max_bucket_size=cap
        )
        assert new_ids == ref_ids
        assert new_ids == sorted(
            r["doc_id"] for r in new if r["verdict"] == "fresh"
        )
        assert incdedup.LAST_UPSERT_AUDIT == ref_audit
        if cap == 2:
            assert 401 in ref_audit["sample"]
        assert _index_rows(spark, b) == _index_rows(spark, a)

    # job-count guard: one session, one batch, one index
    n_ref = count_jobs(
        spark, f"ref-probe-{hash_impl}",
        lambda: _reference_probe(spark, batch, seed, DEFAULT_MAX_BUCKET),
    )
    n_new = count_jobs(
        spark, f"new-probe-{hash_impl}",
        lambda: incdedup.dedup_index_probe(spark, batch, seed).collect(),
    )
    assert n_new < n_ref, (n_new, n_ref)
