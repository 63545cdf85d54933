"""Incremental semantic index (pipeline/incsem.py) regressions.

The index IS the IVF layout — so beyond the admission semantics
(probe==upsert, replay absorption, non-retroactive takedown) these also
pin the unified-layout claim: ANN search and the IVF maintenance
entry points work unchanged on a semantic index.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from fastdb_spark.pipeline.ann import _hyperplane
from fastdb_spark.pipeline.corpus import clustered_embs
from fastdb_spark.pipeline.incsem import (
    build_semantic_index,
    compact_semantic_index,
    semantic_index_probe,
    semantic_index_remove,
    semantic_index_upsert,
    stream_semantic_index,
)

SF_DIR = "/root/testdata/sf0.01"
CENTS = [_hyperplane(1000 + c, 64) for c in range(25)]


def _corpus(spark):
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return clustered_embs(embs, spread=0.8)


@pytest.fixture()
def built(spark, tmp_path):
    path = str(tmp_path / "semidx")
    corpus = _corpus(spark)
    n = build_semantic_index(
        corpus.filter("vec_id % 2 = 0"), path, eps=0.92, centroids=CENTS
    )
    return path, corpus, n


def test_probe_fresh_equals_upsert_survivors(spark, built):
    path, corpus, _ = built
    odds = corpus.filter("vec_id % 2 = 1")
    verdicts = semantic_index_probe(spark, odds, path).toPandas()
    assert set(verdicts.verdict) <= {"dup", "in_batch_dup", "fresh"}
    assert len(verdicts) == odds.count()  # one verdict per item
    before = {
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(path, "vectors")).collect()
    }
    n = semantic_index_upsert(odds, path)
    after = {
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(path, "vectors")).collect()
    }
    fresh = set(verdicts[verdicts.verdict == "fresh"].vec_id)
    assert after - before == fresh
    assert n == len(fresh)
    # the probe did not mutate the index
    assert before == after - fresh


def test_replay_is_absorbed(spark, built):
    path, corpus, _ = built
    odds = corpus.filter("vec_id % 2 = 1")
    n1 = semantic_index_upsert(odds, path)
    assert n1 > 0
    # full replay: every row now either duplicates stored content or is
    # an already-stored id — content admission alone absorbs it
    n2 = semantic_index_upsert(odds, path)
    assert n2 == 0
    # and with the id guard on top (the stream configuration)
    n3 = semantic_index_upsert(odds, path, dedup_ids=True)
    assert n3 == 0


def test_takedown_unblocks_reingest(spark, built):
    """Non-retroactive removal: a vector dropped as a dup of a stored
    one is accepted after that stored vector is taken down."""
    path, corpus, _ = built
    odds = corpus.filter("vec_id % 2 = 1")
    v = semantic_index_probe(spark, odds, path).toPandas()
    dup_ids = sorted(v[v.verdict == "dup"].vec_id)
    assert dup_ids, "gate corpus must produce vs-index dups"
    probe_one = corpus.filter(F.col("vec_id") == int(dup_ids[0]))
    # remove EVERY stored even (its eps-neighbors among them included)
    removed = semantic_index_remove(
        spark,
        spark.read.parquet(os.path.join(path, "vectors")).select("vec_id"),
        path,
    )
    assert removed > 0
    n = semantic_index_upsert(probe_one, path)
    assert n == 1  # accepted now — removal is not retroactive


def test_ann_search_works_on_semantic_index(spark, built):
    """The unified-layout claim: the semantic index IS an IVF index."""
    from fastdb_spark.pipeline.ann import ivf_index_stats, ivf_search_index

    path, corpus, _ = built
    q = corpus.filter("vec_id = 0").select("embedding").head()[0]
    top = ivf_search_index(spark, path, list(q), k=5, nprobe=25).collect()
    assert len(top) == 5
    assert top[0]["vec_id"] == 0  # the query vector itself is stored
    stats = ivf_index_stats(spark, path)
    assert stats.count() > 0


def test_probe_reads_are_partition_pruned(spark, built):
    """The vs-index read must reach only the batch's touched clusters
    (the nprobe trick applied to dedup admission)."""
    path, corpus, _ = built
    # a batch confined to one generating center -> one assigned cluster
    one = corpus.filter("vec_id % 25 = 3 AND vec_id % 2 = 1")
    import io
    from contextlib import redirect_stdout

    from fastdb_spark.pipeline.incsem import _classify

    verdicts, _ = _classify(
        spark, one, path, "vec_id", "embedding", "gemm", "expr", 65536
    )
    # the plan of the classify output embeds the pruned vectors/ scan
    buf = io.StringIO()
    with redirect_stdout(buf):
        verdicts.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "cluster#" in plan
    from fastdb_spark.cachereg import release_staged

    release_staged()


def test_gemm_probe_equals_expr_probe(spark, built):
    path, corpus, _ = built
    odds = corpus.filter("vec_id % 2 = 1")
    a = (
        semantic_index_probe(spark, odds, path, strategy="gemm")
        .toPandas()
        .sort_values("vec_id", ignore_index=True)
    )
    b = (
        semantic_index_probe(spark, odds, path, strategy="expr")
        .toPandas()
        .sort_values("vec_id", ignore_index=True)
    )
    assert (a.verdict == b.verdict).all()
    with pytest.raises(ValueError):
        semantic_index_probe(spark, odds, path, strategy="nope")


def test_stream_semantic_index_end_to_end(spark, tmp_path, built):
    path, corpus, _ = built
    src = str(tmp_path / "vec_in")
    os.makedirs(src)
    odds = corpus.filter("vec_id % 2 = 1")
    # 3 micro-batch files; the middle one replays file 0's content under
    # NEW ids (content admission must absorb every row of it)
    f0 = odds.filter("vec_id % 3 = 0")
    f0.coalesce(1).write.mode("append").parquet(src)
    f0.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    ).coalesce(1).write.mode("append").parquet(src)
    odds.filter("vec_id % 3 = 1").coalesce(1).write.mode("append").parquet(
        src
    )
    q = stream_semantic_index(
        spark, src, path, str(tmp_path / "ckpt"),
        vec_type="array<double>", max_files_per_trigger=1,
        compact_every=2, compact_min_files=1,
    )
    q.awaitTermination(300)
    stored = spark.read.parquet(os.path.join(path, "vectors"))
    ids = {r["vec_id"] for r in stored.select("vec_id").collect()}
    # no renamed replay survived (its every vector duplicates a stored one)
    assert not {i for i in ids if i >= 1_000_000}
    # a second stream over the same files is a checkpointed no-op
    n_before = stored.count()
    q2 = stream_semantic_index(
        spark, src, path, str(tmp_path / "ckpt"),
        vec_type="array<double>",
    )
    q2.awaitTermination(300)
    assert (
        spark.read.parquet(os.path.join(path, "vectors")).count()
        == n_before
    )
    # compaction bounded the per-cluster file count
    for cdir in glob.glob(os.path.join(path, "vectors", "cluster=*")):
        files = [f for f in os.listdir(cdir) if f.startswith("part-")]
        assert len(files) <= 4, (cdir, files)


def test_stream_requires_built_index(spark, tmp_path):
    with pytest.raises(ValueError):
        stream_semantic_index(
            spark, str(tmp_path / "in"), str(tmp_path / "nope"),
            str(tmp_path / "ckpt"),
        )


def test_compact_preserves_membership(spark, built):
    path, corpus, _ = built
    semantic_index_upsert(corpus.filter("vec_id % 2 = 1"), path)
    before = sorted(
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(path, "vectors")).collect()
    )
    out = compact_semantic_index(spark, path, min_files=1)
    assert out["vectors"]["files_after"] <= out["vectors"]["files_before"]
    after = sorted(
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(path, "vectors")).collect()
    )
    assert before == after


def test_semantic_index_upsert_vs_remove_two_processes(spark, tmp_path):
    """Two separate Spark PROCESSES race an admission upsert (fresh,
    far-from-everything vectors) against a takedown (stored ids) on the
    SAME semantic index.  The shared write lock must serialize
    classify-then-append vs the per-cluster partition swaps: whatever
    the interleaving, the final index holds exactly the untouched
    survivors plus the admitted items, stays readable, and loses no
    cluster partition."""
    import subprocess
    import sys
    import textwrap

    from fastdb_spark.pipeline.incsem import build_semantic_index

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = str(tmp_path / "raceidx")
    # 4 well-separated axis centroids, one stored vector per cluster
    cents = [[3.0 if j == c else 0.0 for j in range(4)] for c in range(4)]
    seed = spark.createDataFrame(
        [(i, [3.0 if j == i else 0.01 for j in range(4)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    n = build_semantic_index(seed, path, eps=0.95, centroids=cents)
    assert n == 4
    script = textwrap.dedent(
        """
        import sys
        op, path = sys.argv[1], sys.argv[2]
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.ui.enabled", "false")
                 .getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        from fastdb_spark.pipeline import incsem
        if op == "upsert":
            # fresh vectors: same clusters, orthogonal-ish offsets keep
            # cosine vs stored below eps
            rows = [
                (100 + c, [3.0 if j == c else (2.5 if j == (c + 1) % 4
                 else 0.0) for j in range(4)])
                for c in range(4)
            ]
            batch = spark.createDataFrame(
                rows, "vec_id long, embedding array<double>"
            )
            n = incsem.semantic_index_upsert(batch, path)
            assert n == 4, n
        else:
            n = incsem.semantic_index_remove(spark, [0, 1], path)
            assert n == 2, n
        print("DONE", op)
        """
    )
    env = dict(os.environ, PYTHONPATH=repo)
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, op, path],
            cwd=repo,
            env=env,
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        for op in ("upsert", "remove")
    ]
    outs = [p.communicate(timeout=600) for p in procs]
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0, err.decode()[-2000:]
    got = sorted(
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(path, "vectors")).collect()
    )
    assert got == [2, 3, 100, 101, 102, 103]


def test_wide_takedown_bulk_path(spark, tmp_path):
    """A takedown spread over many clusters (36 partially affected, one
    emptied) is still one rewrite job with a rename swap per cluster
    (the serial per-cluster job loop it replaced measured 70 s for a
    1k-id removal over 256 clusters): membership exact, emptied
    clusters deleted, partially-affected clusters rewritten, untouched
    clusters untouched (mtime-asserted)."""
    from fastdb_spark.pipeline.ann import build_ivf_index, ivf_index_remove

    k, per = 40, 3
    cents = [
        [5.0 if j == c else 0.0 for j in range(k)] for c in range(k)
    ]
    rows = []
    for c in range(k):
        for m in range(per):
            v = [0.01 * (m + 1) if j != c else 5.0 for j in range(k)]
            rows.append((c * 10 + m, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "wideidx")
    build_ivf_index(df, path, n_clusters=k, centroids=cents)
    vdir = os.path.join(path, "vectors")
    # clusters 0..35: remove one member (partially affected);
    # cluster 36: remove all three (emptied); 37-39 untouched
    rm = [c * 10 for c in range(36)] + [360, 361, 362]
    mt_untouched = {
        c: os.path.getmtime(os.path.join(vdir, f"cluster={c}"))
        for c in (37, 38, 39)
    }
    n = ivf_index_remove(spark, rm, path)
    assert n == len(rm)
    got = sorted(
        r["vec_id"] for r in spark.read.parquet(vdir).collect()
    )
    want = sorted(
        i for i, _ in ((c * 10 + m, None) for c in range(k) for m in range(per))
        if i not in set(rm)
    )
    assert got == want
    assert not os.path.exists(os.path.join(vdir, "cluster=36"))
    for c, mt in mt_untouched.items():
        assert os.path.getmtime(os.path.join(vdir, f"cluster={c}")) == mt


def test_semantic_index_with_pq_codes(spark, tmp_path):
    """The unified layout extends to IVF-PQ: a semantic index built with
    pq_m carries codes alongside the raw vectors, admission still works
    (probe reads the raw vector column), and the PQ search path runs on
    the same store."""
    from fastdb_spark.pipeline.ann import ivfpq_search_index

    corpus = _corpus(spark)
    path = str(tmp_path / "sempq")
    n = build_semantic_index(
        corpus.filter("vec_id % 2 = 0"), path, eps=0.92,
        centroids=CENTS, pq_m=8,
    )
    assert n > 0
    stored = spark.read.parquet(os.path.join(path, "vectors"))
    assert "pq_code" in stored.columns
    odds = corpus.filter("vec_id % 2 = 1")
    v = semantic_index_probe(spark, odds, path).toPandas()
    assert (v.verdict == "dup").any()
    appended = semantic_index_upsert(odds, path)
    assert appended == int((v.verdict == "fresh").sum())
    # appended rows carry codes too (upsert encodes with the frozen
    # codebooks), so the PQ search sees a consistent store
    assert (
        spark.read.parquet(os.path.join(path, "vectors"))
        .filter(F.col("pq_code").isNull())
        .count()
        == 0
    )
    q = corpus.filter("vec_id = 0").select("embedding").head()[0]
    top = ivfpq_search_index(spark, path, list(q), k=5, nprobe=25)
    assert top.count() == 5
