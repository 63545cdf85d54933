"""MinHash/LSH builder contract (``functions.sketches``): a plain column
name in, one SQL expression out, and the ``hash_impl`` table whose
scheme tags are persisted in dedup-index metadata."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from fastdb_spark.functions import sketches as sk

BUILDERS = {
    "minhash_signature": lambda c: sk.minhash_signature(c, 8),
    "lsh_band_hashes": lambda c: sk.lsh_band_hashes(c, 4, 2),
    "minhash_signature_fast": lambda c: sk.minhash_signature_fast(c, 8),
    "lsh_band_hashes_fast": lambda c: sk.lsh_band_hashes_fast(c, 4, 2),
}


@pytest.mark.parametrize("builder", sorted(BUILDERS))
@pytest.mark.parametrize(
    "bad", ["column", "a.b", "not an identifier!"]
)
def test_builders_reject_anything_but_a_plain_name(spark, builder, bad):
    arg = F.col("sh") if bad == "column" else bad
    with pytest.raises((TypeError, ValueError)):
        BUILDERS[builder](arg)


def test_sketch_impl_table():
    # persisted in index metadata: these tags must never change
    assert sk.sketch_impl("md5").scheme == "md5x"
    assert sk.sketch_impl("fast").scheme == "xx-fast"
    assert sk.sketch_impl("md5").signature is sk.minhash_signature
    assert sk.sketch_impl("fast").bands is sk.lsh_band_hashes_fast
    with pytest.raises(ValueError, match="unknown hash_impl"):
        sk.sketch_impl("sha1")


_BASE = " ".join(f"w{i}" for i in range(20))


@pytest.mark.parametrize(
    "hash_impl,scheme", [("md5", "md5x"), ("fast", "xx-fast")]
)
def test_index_metadata_written_with_literal_tags_still_opens(
    spark, tmp_path, hash_impl, scheme
):
    """An index whose metadata carries the scheme tags as literal strings
    (the on-disk format every earlier build wrote) passes the scheme
    check and serves a probe and an upsert, near-dup detection intact."""
    from fastdb_spark.pipeline import incdedup

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / f"didx_{hash_impl}")
    incdedup.build_dedup_index(
        mk([(0, _BASE)]), path, hash_impl=hash_impl
    )
    meta = {
        "shingle_k": 3,
        "n_hashes": 12,
        "bands": 4,
        "threshold": 0.5,
        "hash_impl": hash_impl,
        "id_buckets": 32,
        "sketch_scheme": scheme,
    }
    with open(path + "/_meta.json", "w") as f:
        json.dump(meta, f)
    incdedup._check_scheme(incdedup._load_params(path), path)

    batch = mk([
        (1, _BASE.replace("w19", "z19")),  # near-dup of doc 0
        (2, "completely different words in this one document here"),
        (3, _BASE),  # exact dup of doc 0
    ])
    verdicts = {
        r["doc_id"]: r["verdict"]
        for r in incdedup.dedup_index_probe(spark, batch, path).collect()
    }
    assert verdicts == {1: "near", 2: "fresh", 3: "exact"}
    assert incdedup.dedup_index_upsert(spark, batch, path) == [2]
