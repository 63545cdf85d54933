"""Round-6 additions: epoch-mix materializer verification (the one piece
of round-5 code that shipped unverified — VERDICT r5 "what's wrong" #1),
plus regression tests for the four ADVICE r5 fixes (oracle ``ep`` leak,
paginate auto narrowness guard, incdedup audit reset, gate scratch-dir
scoping).
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from fastdb_spark.pipeline.sample import (
    epoch_mix_materialize,
    epoch_mix_oracle_sql,
)

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")

# ---------------------------------------------------------------------------
# epoch_mix_materialize


def _docs(spark):
    rows = [
        (i, ["wiki", "web", "code"][i % 3], f"payload-{i}") for i in range(300)
    ]
    return spark.createDataFrame(rows, "doc_id long, dom string, body string")


def test_epoch_mix_integer_epochs_exact_copies(spark):
    """e=2.0 -> exactly two copies of every row, epoch indices {0,1};
    e=1.0 is the identity leg (one copy, epoch 0)."""
    out = epoch_mix_materialize(
        _docs(spark), "dom", {"wiki": 2.0, "web": 1.0}, "doc_id"
    )
    per = {
        (r["dom"], r["epoch"]): r["n"]
        for r in out.groupBy("dom", "epoch").agg(F.count("*").alias("n")).collect()
    }
    assert per[("wiki", 0)] == 100 and per[("wiki", 1)] == 100
    assert per[("web", 0)] == 100
    assert ("web", 1) not in per and ("wiki", 2) not in per


def test_epoch_mix_fractional_epoch_is_floor_plus_bernoulli(spark):
    """e=1.4: every row appears at least once, the epoch-1 extras are the
    rows whose deterministic uniform < 0.4, and the total lands near
    100*1.4 (deterministic, so the count is reproducible)."""
    from fastdb_spark.pipeline.sample import hash_uniform

    out = epoch_mix_materialize(
        _docs(spark), "dom", {"wiki": 1.4}, "doc_id", salt="s6"
    )
    base = out.filter("epoch = 0").count()
    extra = {r["doc_id"] for r in out.filter("epoch = 1").collect()}
    assert base == 100
    expected_extra = {
        r["doc_id"]
        for r in _docs(spark)
        .filter("dom = 'wiki'")
        .withColumn("u", hash_uniform(F.col("doc_id"), "s6"))
        .filter("u < 0.4")
        .collect()
    }
    assert extra == expected_extra
    assert 20 <= len(extra) <= 60  # Bernoulli(0.4) over 100 ids


def test_epoch_mix_absent_stratum_emits_nothing(spark):
    out = epoch_mix_materialize(_docs(spark), "dom", {"wiki": 1.0}, "doc_id")
    assert out.filter("dom != 'wiki'").count() == 0


def test_epoch_mix_negative_epoch_raises(spark):
    with pytest.raises(ValueError, match="must be >= 0"):
        epoch_mix_materialize(_docs(spark), "dom", {"wiki": -0.5}, "doc_id")


def test_epoch_mix_zero_epoch_drops_stratum(spark):
    out = epoch_mix_materialize(
        _docs(spark), "dom", {"wiki": 0.0, "web": 1.0}, "doc_id"
    )
    assert out.filter("dom = 'wiki'").count() == 0
    assert out.filter("dom = 'web'").count() == 100


def test_epoch_mix_oracle_parity_default_star(spark, tmp_path):
    """The duckdb oracle with the DEFAULT select_cols='*' must produce the
    exact multiset of rows AND the exact schema of the materializer — in
    particular NO internal ``ep``/``_em_ep`` column may leak (ADVICE r5)."""
    pq = str(tmp_path / "docs.parquet")
    _docs(spark).write.mode("overwrite").parquet(pq)
    epochs = {"wiki": 2.4, "web": 0.9}
    got = (
        epoch_mix_materialize(
            spark.read.parquet(pq), "dom", epochs, "doc_id", salt="p6"
        )
        .toPandas()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW t AS SELECT * FROM read_parquet('{pq}/*.parquet')"
    )
    want = con.execute(
        epoch_mix_oracle_sql("t", "dom", epochs, "doc_id", salt="p6")
    ).df()
    assert sorted(got.columns) == sorted(want.columns) == [
        "body", "doc_id", "dom", "epoch",
    ]
    key = ["doc_id", "epoch"]
    g = got.sort_values(key, ignore_index=True)[sorted(got.columns)]
    w = want.sort_values(key, ignore_index=True)[sorted(got.columns)]
    assert len(g) == len(w) > 100
    assert (g.astype(str).values == w.astype(str).values).all()


def test_epoch_mix_oracle_parity_explicit_cols(spark, tmp_path):
    pq = str(tmp_path / "docs2.parquet")
    _docs(spark).write.mode("overwrite").parquet(pq)
    got = (
        epoch_mix_materialize(
            spark.read.parquet(pq), "dom", {"code": 1.5}, "doc_id"
        )
        .select("doc_id", "dom", "epoch")
        .toPandas()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW t AS SELECT * FROM read_parquet('{pq}/*.parquet')"
    )
    want = con.execute(
        epoch_mix_oracle_sql(
            "t", "dom", {"code": 1.5}, "doc_id", select_cols="doc_id, dom"
        )
    ).df()
    assert sorted(got.columns) == sorted(want.columns)
    g = got.sort_values(["doc_id", "epoch"], ignore_index=True)
    w = want.sort_values(["doc_id", "epoch"], ignore_index=True)[got.columns]
    assert (g.values == w.values).all()


def test_epoch_mix_copies_spread_by_shards(spark):
    """The (id, epoch) copy index composes with shuffle_to_shards: the two
    copies of one doc land in (generally) different shards — the explicit
    epoch column is what makes the repetition shardable."""
    from fastdb_spark.pipeline.shards import shuffle_to_shards

    out = epoch_mix_materialize(
        _docs(spark), "dom", {"wiki": 2.0, "web": 2.0, "code": 2.0}, "doc_id"
    )
    sharded = shuffle_to_shards(
        out.withColumn(
            "copy_key", F.concat_ws("#", F.col("doc_id"), F.col("epoch"))
        ),
        n_shards=16,
        id_col="copy_key",
    )
    per_doc = (
        sharded.groupBy("doc_id")
        .agg(F.countDistinct("shard").alias("ns"))
        .filter("ns = 2")
        .count()
    )
    # with 16 shards, ~15/16 of doc pairs split across two shards
    assert per_doc > 200


def test_epoch_mix_plan_is_shuffle_free(spark):
    """Scale shape: the materializer adds NO Exchange — broadcast map
    literal + explode stay in the scan stage."""
    out = epoch_mix_materialize(
        _docs(spark), "dom", {"wiki": 2.4}, "doc_id"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# ADVICE r5 regression: paginate auto narrowness guard


def test_paginate_auto_rejects_wide_plans(spark, tmp_path):
    """A self-join / explode over one small file must NOT take the
    single-task window path: _single_small_file requires a narrow plan."""
    from fastdb_spark.operators.paginate import _single_small_file

    pq = str(tmp_path / "small.parquet")
    spark.range(100).withColumnRenamed("id", "k").coalesce(1).write.parquet(pq)
    plain = spark.read.parquet(pq)
    assert _single_small_file(plain) is True
    joined = plain.alias("a").join(plain.alias("b"), on="k")
    assert _single_small_file(joined) is False
    exploded = plain.withColumn(
        "x", F.explode(F.sequence(F.lit(0), F.lit(99)))
    )
    assert _single_small_file(exploded) is False


# ---------------------------------------------------------------------------
# ADVICE r5 regression: incdedup audit reset


def test_incdedup_audit_resets_on_uncapped_run(spark, tmp_path):
    """An uncapped upsert must zero LAST_UPSERT_AUDIT rather than leave a
    previous capped call's truncation counts standing."""
    from fastdb_spark.pipeline import incdedup

    path = str(tmp_path / "didx_r6")
    incdedup.build_dedup_index(
        spark.createDataFrame(
            [(0, "alpha beta gamma delta epsilon zeta")],
            "doc_id long, text string",
        ),
        path,
    )
    incdedup.LAST_UPSERT_AUDIT["truncated_docs"] = 7
    incdedup.LAST_UPSERT_AUDIT["sample"] = [1, 2, 3]
    incdedup.dedup_index_upsert(
        spark,
        spark.createDataFrame(
            [(9, "one two three four five six seven")],
            "doc_id long, text string",
        ),
        path,
        max_bucket_size=None,
    )
    assert incdedup.LAST_UPSERT_AUDIT == {"truncated_docs": 0, "sample": []}


# ---------------------------------------------------------------------------
# ADVICE r5 regression: gate scratch dirs are per-process, not predictable


def test_gate_scratch_root_is_private_and_reused():
    import __spark_entry__ as em

    a = em._scratch("x")
    b = em._scratch("x")
    assert a == b  # within-process reuse (bucketed-table cache depends on it)
    root = em._SCRATCH_ROOT
    assert os.path.isdir(root)
    assert (os.stat(root).st_mode & 0o777) == 0o700
    import tempfile

    assert root.startswith(tempfile.gettempdir())
    assert os.path.basename(root) != "fastdb_gate_"  # mkdtemp suffix present


# ---------------------------------------------------------------------------
# DP1 nested loader (S7)


def _dp1_fixture(spark, tmp_path):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (
                1,
                10.0,
                -5.0,
                60000.0,
                "junk",
                [(100, "r", 60001.0, 7.0, "dropme")],
                [(0.5, 8.0, 9.0, 100, 60001.0, "r")],
            ),
            (
                2,
                20.0,
                -6.0,
                60000.0,
                "junk",
                [
                    (200, "g", 60002.0, 3.0, "dropme"),
                    (201, "i", 60003.0, 4.0, "dropme"),
                ],
                [],
            ),
        ],
        "diaObjectId long, ra double, dec double, radecMjdTai double, "
        "junkObjCol string, "
        "diaSource array<struct<visit:long, band:string, "
        "midpointMjdTai:double, psfFlux:double, pixelJunk:string>>, "
        "diaObjectForcedSource array<struct<coord_ra:double, "
        "psfDiffFlux:double, psfFlux:double, visit:long, "
        "midpointMjdTai:double, band:string>>",
    )
    path = str(tmp_path / "dp1")
    df.write.parquet(path)
    return path


def test_dp1_nested_loader_flattens_and_applies_column_policy(spark, tmp_path):
    from fastdb_spark.sources.loaders import load_dp1_nested

    out = load_dp1_nested(spark, _dp1_fixture(spark, tmp_path), "bpv9")
    obj, src, frc = (
        out["diaobject"], out["diasource"], out["diaforcedsource"]
    )
    # keep-list -> lowercase; everything else dropped
    assert set(obj.columns) == {
        "diaobjectid", "ra", "dec", "radecmjdtai", "base_procver_id"
    }
    assert "pixeljunk" not in {c.lower() for c in src.columns}
    # mapper renames: psfDiffFlux->psfflux, psfFlux->scienceflux,
    # coord_ra->ra
    assert {"ra", "psfflux", "scienceflux"} <= set(frc.columns)
    assert src.count() == 3 and frc.count() == 1 and obj.count() == 2
    row = frc.collect()[0]
    assert row["ra"] == 0.5 and row["psfflux"] == 8.0
    assert row["scienceflux"] == 9.0 and row["base_procver_id"] == "bpv9"
    # empty nested array -> object contributes no child rows (explode)
    assert frc.filter("diaobjectid = 2").count() == 0


def test_dp1_loader_scan_prunes_unused_nested_column(spark, tmp_path):
    """Reading only the diasource frame must NOT scan the forced-source
    nested column: column pruning reaches the parquet schema."""
    from fastdb_spark.sources.loaders import load_dp1_nested

    out = load_dp1_nested(spark, _dp1_fixture(spark, tmp_path))
    plan = out["diasource"]._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and "diaObjectForcedSource" not in scan[0]


def test_export_sinks_roundtrip_gate_formats_agree(spark):
    """The jsonl and csv legs of the S9 gate must carry identical rows."""
    import __spark_entry__ as em

    df = em.queries()["export_sinks_roundtrip"](spark, SF_DIR)
    j = sorted(map(tuple, df.filter("fmt='jsonl'").drop("fmt").collect()))
    c = sorted(map(tuple, df.filter("fmt='csv'").drop("fmt").collect()))
    assert j == c and len(j) > 0


def test_dedup_index_gate_is_replay_stable(spark):
    """The incremental-index gate rebuilds from scratch each call; two
    runs must produce the identical indexed set (every phase of the
    build+upsert choreography is deterministic)."""
    import __spark_entry__ as em

    q = em.queries()["dedup_index_roundtrip"]
    a = sorted(map(tuple, q(spark, SF_DIR).collect()))
    b = sorted(map(tuple, q(spark, SF_DIR).collect()))
    assert a == b and len(a) > 100


# ---------------------------------------------------------------------------
# incdedup fast-hash production path


def test_incdedup_fast_hash_impl_inherited_and_equivalent(spark, tmp_path):
    """hash_impl='fast' is recorded in the index metadata, upserts sketch
    with it automatically, and the dedup decisions on exact + clear
    near-dups match the md5 path."""
    import json

    from fastdb_spark.pipeline import incdedup

    base = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "one two three four five six seven eight nine"),
    ]
    batch = [
        (10, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup
        (11, "one two three four five six seven eight ten"),  # near dup
        (12, "lorem ipsum dolor sit amet consectetur adipiscing"),  # new
    ]
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    survivors = {}
    for impl in ("md5", "fast"):
        path = str(tmp_path / f"didx_{impl}")
        incdedup.build_dedup_index(mk(base), path, hash_impl=impl)
        meta = json.load(open(path + "/_meta.json"))
        assert meta["hash_impl"] == impl
        survivors[impl] = incdedup.dedup_index_upsert(spark, mk(batch), path)
    assert survivors["md5"] == survivors["fast"] == [12]


def test_incdedup_pre_hash_impl_index_defaults_to_md5(spark, tmp_path):
    """Indexes written before the hash_impl key existed must upsert with
    md5 sketches (metadata back-compat)."""
    import json

    from fastdb_spark.pipeline import incdedup

    path = str(tmp_path / "didx_old")
    incdedup.build_dedup_index(
        spark.createDataFrame(
            [(0, "alpha beta gamma delta epsilon zeta")],
            "doc_id long, text string",
        ),
        path,
    )
    meta = json.load(open(path + "/_meta.json"))
    del meta["hash_impl"]  # simulate a pre-upgrade index
    json.dump(meta, open(path + "/_meta.json", "w"))
    got = incdedup.dedup_index_upsert(
        spark,
        spark.createDataFrame(
            [(5, "alpha beta gamma delta epsilon zeta")],  # exact dup
            "doc_id long, text string",
        ),
        path,
    )
    assert got == []


def test_incdedup_unknown_hash_impl_raises(spark, tmp_path):
    import pytest as _pytest

    from fastdb_spark.pipeline import incdedup

    with _pytest.raises(ValueError, match="unknown hash_impl"):
        incdedup.build_dedup_index(
            spark.createDataFrame([(0, "a b c")], "doc_id long, text string"),
            str(tmp_path / "didx_bad"),
            hash_impl="sha512",
        )


# ---------------------------------------------------------------------------
# epochs_from_shares (mixture -> epochs bridge)


def test_epochs_from_shares_realizes_target_mixture(spark):
    """e_s = E * t_s / p_s: materializing the derived epochs yields the
    target proportions in expectation; integer-friendly inputs make it
    exact here."""
    from fastdb_spark.pipeline.sample import (
        epoch_mix_materialize,
        epochs_from_shares,
    )

    # 200 wiki / 600 web -> natural shares 0.25 / 0.75
    rows = [(i, "wiki" if i < 200 else "web") for i in range(800)]
    df = spark.createDataFrame(rows, "doc_id long, dom string")
    eps = epochs_from_shares(
        df, "dom", {"wiki": 0.5, "web": 0.5}, total_epochs=1.0
    )
    assert eps == {"web": pytest.approx(2 / 3), "wiki": pytest.approx(2.0)}
    out = epoch_mix_materialize(df, "dom", eps, "doc_id")
    n_wiki = out.filter("dom = 'wiki'").count()
    n_web = out.filter("dom = 'web'").count()
    # wiki: exactly 2 epochs = 400 rows; web: Bernoulli(2/3) of 600
    assert n_wiki == 400
    assert 340 <= n_web <= 460


def test_epochs_from_shares_cap_and_missing_strata(spark):
    from fastdb_spark.pipeline.sample import epochs_from_shares

    # 90 'a' docs (i < 90), 10 'b' docs (90 <= i < 100)
    rows = [(i, "a" if i < 90 else "b") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, dom string")
    eps = epochs_from_shares(
        df, "dom", {"b": 0.9, "a": 0.1}, total_epochs=1.0, max_epochs=4.0
    )
    # b natural share 0.1, target 0.9 -> 9 epochs, capped at 4
    assert eps["b"] == 4.0
    assert eps["a"] == pytest.approx(1.0 / 9.0)
    # strata absent from target_shares -> 0.0
    assert all(v == 0.0 for k, v in eps.items() if k not in ("a", "b"))


def test_epochs_from_shares_negative_budget_raises(spark):
    from fastdb_spark.pipeline.sample import epochs_from_shares

    df = spark.createDataFrame([(1, "a")], "doc_id long, dom string")
    with pytest.raises(ValueError, match="total_epochs"):
        epochs_from_shares(df, "dom", {"a": 1.0}, total_epochs=-1)


# ---------------------------------------------------------------------------
# md5x minhash scheme: cross-implementation property test


def _md5x_sig_py(shingles: list[str], n_hashes: int = 12) -> list[int]:
    """Pure-python reimplementation of the md5x signature (the arithmetic
    contract shared by functions/sketches.minhash_signature and the
    duckdb oracle builders): one md5 per shingle -> 32-bit int, element
    i = min over shingles of (x*(2i+1) + b_i) mod 2^32, sentinel 2^32
    for empty sets."""
    import hashlib

    from fastdb_spark.functions.sketches import (
        MD5X_EMPTY,
        MD5X_MOD,
        md5x_offsets,
    )

    offs = md5x_offsets(n_hashes)
    xs = [
        int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in shingles
    ]
    return [
        min(
            ((x * (2 * i + 1) + offs[i]) % MD5X_MOD for x in xs),
            default=MD5X_EMPTY,
        )
        for i in range(n_hashes)
    ]


def test_md5x_signature_matches_reference_python(spark):
    """Spark's fold-based signature equals the straightforward python
    computation on hand-built shingle sets, including the empty set."""
    from pyspark.sql import functions as F

    from fastdb_spark.functions.sketches import minhash_signature

    cases = [
        ["alpha beta gamma", "beta gamma delta"],
        ["x"],
        [],
        ["héllo wörld ünïcode", "a b c", "a b c"],  # dup shingle is a no-op
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)],
                               "i long, sh array<string>")
    got = {
        r["i"]: list(r["sig"])
        for r in df.select("i", minhash_signature("sh", 8).alias("sig"))
        .collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == _md5x_sig_py(c, 8), (i, c)


def test_md5x_signature_matches_duckdb_oracle_arithmetic(spark, tmp_path):
    """The duckdb twin (_md5x_sig_elems over the _MD5X_XS base) produces
    byte-identical signatures to the Spark expression for real shingled
    text — the parity contract every minhash oracle rests on."""
    import duckdb
    from pyspark.sql import functions as F

    from fastdb_spark.functions.text import word_shingles
    from fastdb_spark.functions.sketches import minhash_signature
    from fastdb_spark.pipeline.oracles import _MD5X_XS, _md5x_sig_elems

    texts = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "pack my box with five dozen liquor jugs"),
        (2, ""),
        (3, "one two"),  # shorter than the shingle width -> empty set
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    pq = str(tmp_path / "t.parquet")
    df.write.parquet(pq)
    got = {
        r["doc_id"]: list(r["sig"])
        for r in df.select(
            "doc_id", word_shingles(F.col("text"), 3).alias("sh")
        )
        .select("doc_id", minhash_signature("sh", 12).alias("sig"))
        .collect()
    }
    con = duckdb.connect()
    want = {
        row[0]: list(row[1])
        for row in con.execute(f"""
            WITH t AS (SELECT * FROM read_parquet('{pq}/*.parquet')),
            sh AS (SELECT doc_id,
                          list_distinct(list_transform(
                            generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
                            i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))
                          AS sh FROM t),
            x AS (SELECT doc_id, {_MD5X_XS} AS xs FROM sh)
            SELECT doc_id, [{_md5x_sig_elems(12)}] AS sig FROM x
        """).fetchall()
    }
    assert got == want


def test_minhash_pipeline_survives_short_documents(spark):
    """Documents with fewer than k tokens produced an illegal-sequence
    crash before the round-6 shingle guard; they must now flow through
    the near-dup pipeline as shingle-less documents (never near-dup,
    still exact-dedup-able)."""
    from fastdb_spark.pipeline.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [
            (0, ""),
            (1, "one"),
            (2, "one two"),
            (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (4, "alpha beta gamma delta epsilon zeta eta theta iota kappa mu"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs).collect()
    }
    assert pairs == {(3, 4)}  # only the real near-dups; short docs inert


def test_incdedup_upserted_docs_get_band_and_shingle_coverage(spark, tmp_path):
    """REGRESSION (shipped bug): the parquet appends invalidate the
    cached survivor plan (refreshByPath), and before the localCheckpoint
    fix the bands/shingles writes recomputed against the already-updated
    fingerprints — appending EMPTY batches, so near-dups of upserted
    documents were silently missed forever after."""
    from fastdb_spark.pipeline import incdedup

    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "didx_cov")
    incdedup.build_dedup_index(
        mk([(0, "alpha beta gamma delta epsilon zeta")]), path
    )
    assert incdedup.dedup_index_upsert(
        spark, mk([(10, "one two three four five six seven eight")]), path
    ) == [10]
    # the upserted doc must be present in ALL THREE index tables
    for t in ("fingerprints", "bands", "shingles"):
        ids = {
            r["doc_id"]
            for r in spark.read.parquet(str(tmp_path / "didx_cov" / t))
            .select("doc_id")
            .distinct()
            .collect()
        }
        assert ids == {0, 10}, (t, ids)
    # and a third batch near-dupping the UPSERTED doc must be dropped
    assert incdedup.dedup_index_upsert(
        spark, mk([(20, "one two three four five six seven nine")]), path
    ) == []


def test_ingest_second_batch_keeps_positions_and_stats(spark, tmp_path):
    """REGRESSION (shipped bug, same refreshByPath class as the dedup
    index): the silver merges append to tables that new_objs/assoc READ,
    so with cache() the position merge and the new_objects stat
    recomputed AFTER the diaobject append and saw empty sets — batch-2+
    objects silently lost their diaobject_position rows.  With the
    lineage severed, every new object must land in BOTH diaobject and
    diaobject_position, and the stat must count it."""
    import datetime as dt

    from tests import test_ingest as ti
    from fastdb_spark.sources.alerts import reject_solar_system, wrangle_alerts
    from fastdb_spark.streaming.ingest import SilverCatalog, ingest_batch

    silver = SilverCatalog(spark, str(tmp_path / "silver"))
    b1 = spark.createDataFrame(
        [ti._alert(1, 50001, 1001, 100, 60000.0, 10.0, -5.0)], ti.ALERT_SCHEMA
    )
    ingest_batch(
        silver,
        reject_solar_system(wrangle_alerts(b1, ti.BPV, savetime=F.lit(ti.T0))),
    )
    b2 = spark.createDataFrame(
        [ti._alert(2, 50002, 3001, 101, 60001.0, 50.0, 20.0)], ti.ALERT_SCHEMA
    )
    stats = ingest_batch(
        silver,
        reject_solar_system(
            wrangle_alerts(
                b2, ti.BPV,
                savetime=F.lit(ti.T0 + dt.timedelta(hours=1)),
            )
        ),
    )
    assert stats["new_objects"] == 1
    objs = {r["diaobjectid"] for r in silver.table("diaobject").read().collect()}
    pos = {
        r["diaobjectid"]
        for r in silver.table("diaobject_position").read().collect()
    }
    assert objs == {1001, 3001}
    assert pos == {1001, 3001}, "batch-2 object lost its position row"


def test_incdedup_pre_md5x_index_is_refused(spark, tmp_path):
    """An index persisted before the md5x scheme change has band keys the
    new sketches can never match — upserting into it would silently
    disable near-dup detection, so it must be REFUSED with a rebuild
    message (review finding)."""
    import json

    from fastdb_spark.pipeline import incdedup

    path = str(tmp_path / "didx_legacy")
    incdedup.build_dedup_index(
        spark.createDataFrame(
            [(0, "alpha beta gamma delta epsilon zeta")],
            "doc_id long, text string",
        ),
        path,
    )
    meta = json.load(open(path + "/_meta.json"))
    del meta["sketch_scheme"]  # simulate a pre-md5x index
    json.dump(meta, open(path + "/_meta.json", "w"))
    with pytest.raises(ValueError, match="rebuild"):
        incdedup.dedup_index_upsert(
            spark,
            spark.createDataFrame([(5, "x y z")], "doc_id long, text string"),
            path,
        )


def test_sentinel_signatures_emit_no_bands(spark):
    """Shingle-less documents must NOT band together (one shared sentinel
    bucket is quadratic in their count); they emit an empty band array on
    the Spark side and no band rows in the duckdb twin."""
    import duckdb

    from fastdb_spark.functions.sketches import (
        MD5X_EMPTY,
        lsh_band_hashes,
        minhash_signature,
    )
    from fastdb_spark.pipeline.oracles import _md5x_band_selects

    df = spark.createDataFrame(
        [(0, []), (1, ["a b c", "b c d"])], "doc_id long, sh array<string>"
    )
    out = {
        r["doc_id"]: list(r["bands"])
        for r in df.withColumn("sig", minhash_signature("sh", 12))
        .select("doc_id", lsh_band_hashes("sig", 4, 3).alias("bands"))
        .collect()
    }
    assert out[0] == []  # sentinel -> no bands
    assert len(out[1]) == 4 and all(b.startswith("b") for b in out[1])
    # duckdb twin drops sentinel rows the same way
    con = duckdb.connect()
    rows = con.execute(f"""
        WITH sig AS (
          SELECT 0 AS doc_id, [{", ".join([str(MD5X_EMPTY)] * 12)}] AS sig
          UNION ALL SELECT 1, [{", ".join(["7"] * 12)}])
        SELECT doc_id FROM ({_md5x_band_selects("sig", 4, 3)})
    """).fetchall()
    assert {r[0] for r in rows} == {1}


def test_epochs_from_shares_null_stratum_is_safe(spark):
    """NULL stratum values arrive as a None groupBy key; the helper must
    not crash sorting None against strings (review finding) and must give
    them zero epochs."""
    from fastdb_spark.pipeline.sample import epochs_from_shares

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a")], "doc_id long, dom string"
    )
    eps = epochs_from_shares(df, "dom", {"a": 1.0}, total_epochs=1.0)
    assert eps[None] == 0.0 and eps["a"] > 0
