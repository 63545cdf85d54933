"""Table storage with MERGE/upsert semantics.

The reference upserts via COPY-into-temp + ``INSERT ... ON CONFLICT DO
NOTHING / DO UPDATE`` (reference ``src/db.py:1406-1515``; SURVEY.md S5/Q6).
The Spark-native equivalent is Delta ``MERGE INTO`` — gated behind an
import-try because the runtime image may not carry the Delta jars.  The
portable fallback emulates MERGE on plain parquet:

    read target -> (DO NOTHING: left-anti new rows  |  DO UPDATE:
    target-minus-matched + updates) -> union -> atomic directory swap

The emulation rewrites the table (fine for dimension/workflow tables and
micro-batch silver tables at test scale); at 100 TB the real deployment
uses Delta/Iceberg MERGE with partition pruning on the join keys — the
call-site API is identical.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from fastdb_spark.locks import table_write_lock

try:  # pragma: no cover - delta not in the test image
    from delta.tables import DeltaTable  # noqa: F401

    HAVE_DELTA = True
except ImportError:
    HAVE_DELTA = False


class ParquetTable:
    """A parquet-backed table directory with upsert support.

    With a declared ``schema`` (``schemas.TABLES``) the table is read
    with it, so a read submits no schema-inference job, and an upsert
    stores exactly the declared columns, in declared order."""

    def __init__(
        self, spark: SparkSession, path: str, schema: StructType | None = None
    ):
        self.spark = spark
        self.path = path
        self.schema = schema

    def exists(self) -> bool:
        return os.path.exists(self.path)

    def read(self) -> DataFrame:
        if self.schema is not None:
            return self.spark.read.schema(self.schema).parquet(self.path)
        return self.spark.read.parquet(self.path)

    def overwrite(self, df: DataFrame) -> None:
        # write-then-swap: never leave a half-written table behind
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(tmp)
        old = f"{self.path}.old-{uuid.uuid4().hex[:8]}"
        if os.path.exists(self.path):
            os.rename(self.path, old)
        os.rename(tmp, self.path)
        if os.path.exists(old):
            shutil.rmtree(old)

    def append(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self.path)

    def compact(self, target_partitions: int | None = None) -> None:
        """Rewrite the table into few large files (the OPTIMIZE analog —
        append-only ingest accumulates small files per micro-batch)."""
        df = self.read()
        n = target_partitions or max(
            1, self.spark.sparkContext.defaultParallelism // 4
        )
        self.overwrite(df.coalesce(n))

    def file_count(self) -> int:
        import glob

        return len(glob.glob(os.path.join(self.path, "*.parquet")))

    def upsert(
        self,
        updates: DataFrame,
        keys: Sequence[str],
        on_conflict: str = "nothing",
    ) -> None:
        """MERGE semantics (reference bulk_insert_or_upsert):

        - ``on_conflict='nothing'`` — insert rows whose key is absent
          (``ON CONFLICT DO NOTHING``); existing rows untouched.  New rows
          are appended (no table rewrite).
        - ``on_conflict='update'``  — replace matched rows with the update
          and insert the rest (``DO UPDATE SET col = EXCLUDED.col``).

        ``updates`` must be key-unique (dedup upstream — the reference
        requires the same, its temp table carries no duplicate PKs).

        Concurrent writers serialize on a per-table lockfile (the
        read-merge-write would otherwise lose the first of two racing
        batches; see :mod:`fastdb_spark.locks`) — the Postgres-row-lock
        analog of the reference's upsert.  Delta deployments get real
        optimistic concurrency instead (:class:`DeltaTableStore`).
        """
        ks = list(keys)
        if on_conflict not in ("nothing", "update"):
            raise ValueError(f"unknown on_conflict={on_conflict!r}")
        if self.schema is not None:
            updates = updates.select(*self.schema.fieldNames())
        with table_write_lock(self.path):
            if not self.exists():
                self.overwrite(updates)
                return
            target = self.read()
            if on_conflict == "nothing":
                fresh = updates.join(target.select(*ks), on=ks, how="left_anti")
                # append-only: cheap, idempotent under re-run of same batch
                self.append(fresh.select(*target.columns))
            else:
                kept = target.join(updates.select(*ks), on=ks, how="left_anti")
                self.overwrite(
                    kept.unionByName(updates.select(*target.columns))
                )


class DeltaTableStore:
    """Delta-backed table with REAL ``MERGE INTO`` — the transactional
    multi-writer half of the 100 TB write-path story that the parquet
    emulation approximates (the reference gets the same guarantees from
    Postgres row locks around COPY + ``ON CONFLICT``, ``src/db.py:
    1406-1515``).  Requires the ``delta-spark`` package AND a session
    built with the Delta SQL extension + catalog; both are env-gated here
    (the test image carries no Delta jars), but the call-site API is
    byte-identical to :class:`ParquetTable` so deployments flip the
    engine flag and nothing else."""

    def __init__(self, spark: SparkSession, path: str):
        if not HAVE_DELTA:
            raise ImportError(
                "delta-spark is not installed; use ParquetTable or "
                "merge_upsert(engine='parquet')"
            )
        self.spark = spark
        self.path = path

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.path, "_delta_log"))

    def read(self) -> DataFrame:
        return self.spark.read.format("delta").load(self.path)

    def overwrite(self, df: DataFrame) -> None:
        # Delta's own transaction log makes the write atomic — no
        # directory-swap dance needed
        df.write.format("delta").mode("overwrite").option(
            "overwriteSchema", "true"
        ).save(self.path)

    def append(self, df: DataFrame) -> None:
        df.write.format("delta").mode("append").save(self.path)

    def upsert(
        self,
        updates: DataFrame,
        keys: Sequence[str],
        on_conflict: str = "nothing",
    ) -> None:
        """Real MERGE INTO with optimistic-concurrency retry semantics
        handled by Delta — safe under concurrent writers, unlike the
        single-writer parquet emulation."""
        from delta.tables import DeltaTable

        if not self.exists():
            self.overwrite(updates)
            return
        cond = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
        m = (
            DeltaTable.forPath(self.spark, self.path)
            .alias("t")
            .merge(updates.alias("s"), cond)
        )
        if on_conflict == "nothing":
            m.whenNotMatchedInsertAll().execute()
        elif on_conflict == "update":
            m.whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
        else:
            raise ValueError(f"unknown on_conflict={on_conflict!r}")

    def compact(self, target_partitions: int | None = None) -> None:
        n = target_partitions or max(
            1, self.spark.sparkContext.defaultParallelism // 4
        )
        # dataChange=false: readers see the same rows, files consolidate
        self.read().coalesce(n).write.format("delta").mode("overwrite").option(
            "dataChange", "false"
        ).save(self.path)


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: Sequence[str],
    on_conflict: str = "nothing",
    engine: str = "auto",
) -> None:
    """Functional facade over the MERGE implementations.

    ``engine='auto'`` (default) uses Delta ``MERGE INTO`` when the
    delta-spark package is importable and falls back to the portable
    parquet emulation otherwise; ``'delta'`` / ``'parquet'`` force a
    branch (forcing delta without the package raises ImportError).
    """
    use_delta = engine == "delta" or (engine == "auto" and HAVE_DELTA)
    if engine not in ("auto", "delta", "parquet"):
        raise ValueError(f"unknown engine={engine!r}")
    if use_delta:
        DeltaTableStore(spark, path).upsert(updates, keys, on_conflict)
    else:
        ParquetTable(spark, path).upsert(updates, keys, on_conflict)


class BucketedParquetTable:
    """Hash-bucket-partitioned parquet table with INCREMENTAL upsert — the
    100 TB write path on plain parquet (reference COPY + ``ON CONFLICT``,
    ``src/db.py:1406-1515``; SURVEY.md S5).

    Layout: ``<path>/_bucket=K/`` directories keyed by
    ``pmod(xxhash64(keys), n_buckets)``.  An upsert computes the buckets
    its update keys hash into (at most ``n_buckets`` values, collected
    from the update side only), reads ONLY those partitions (Spark prunes
    the directory scan), merges, and atomically swaps just those
    directories.  Partitions untouched by the batch are never read or
    written — a micro-batch whose keys land in 3 of 1024 buckets does 3
    partition rewrites, not a table rewrite.  DO-NOTHING appends new-key
    rows into their bucket directories without rewriting anything.

    The same layout co-partitions the table for key-equi merges: every
    matched key pair lives in the same bucket by construction.
    """

    BUCKET_COL = "_bucket"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str],
        n_buckets: int = 64,
    ):
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.n_buckets = n_buckets

    # -- helpers -----------------------------------------------------------

    def _bucket_expr(self):
        from pyspark.sql import functions as F

        return F.pmod(F.xxhash64(*self.keys), F.lit(self.n_buckets)).cast("int")

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(self.BUCKET_COL, self._bucket_expr())

    def exists(self) -> bool:
        return os.path.exists(self.path)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path).drop(self.BUCKET_COL)

    def _read_buckets(self, buckets: Sequence[int]) -> DataFrame:
        from pyspark.sql import functions as F

        # partition filter on the directory column: pruned before file IO
        return self.spark.read.parquet(self.path).filter(
            F.col(self.BUCKET_COL).isin(list(buckets))
        )

    def overwrite(self, df: DataFrame) -> None:
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
        self._with_bucket(df).write.partitionBy(self.BUCKET_COL).mode(
            "overwrite"
        ).parquet(tmp)
        old = f"{self.path}.old-{uuid.uuid4().hex[:8]}"
        if os.path.exists(self.path):
            os.rename(self.path, old)
        os.rename(tmp, self.path)
        if os.path.exists(old):
            shutil.rmtree(old)

    # -- incremental merge -------------------------------------------------

    def upsert(
        self,
        updates: DataFrame,
        on_conflict: str = "nothing",
    ) -> list[int]:
        """MERGE a key-unique update batch; returns the bucket ids that
        were touched (the incremental-write evidence tests assert on).

        Serialized against other writers AND the compactor via the
        per-table lockfile (:mod:`fastdb_spark.locks`): two racing
        read-merge-writes on overlapping buckets would lose the first
        batch, and a compactor swapping a directory mid-merge would drop
        the merge's files."""
        if on_conflict not in ("nothing", "update"):
            raise ValueError(f"unknown on_conflict={on_conflict!r}")
        with table_write_lock(self.path):
            return self._upsert_locked(updates, on_conflict)

    def _upsert_locked(
        self, updates: DataFrame, on_conflict: str
    ) -> list[int]:
        if not self.exists():
            self.overwrite(updates)
            return list(range(self.n_buckets))
        up = self._with_bucket(updates)
        affected = [
            r[self.BUCKET_COL]
            for r in up.select(self.BUCKET_COL).distinct().collect()
        ]
        if not affected:
            return []
        target = self._read_buckets(affected)
        if on_conflict == "nothing":
            fresh = up.join(
                target.select(*self.keys), on=self.keys, how="left_anti"
            )
            # append lands files under the right _bucket=K dirs; nothing
            # existing is read back or rewritten
            fresh.select(*target.columns).write.partitionBy(
                self.BUCKET_COL
            ).mode("append").parquet(self.path)
            return affected
        kept = target.join(
            up.select(*self.keys), on=self.keys, how="left_anti"
        )
        merged = kept.unionByName(up.select(*target.columns))
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
        merged.write.partitionBy(self.BUCKET_COL).mode("overwrite").parquet(tmp)
        # atomic per-partition swap: only affected dirs change
        for b in affected:
            src = os.path.join(tmp, f"{self.BUCKET_COL}={b}")
            dst = os.path.join(self.path, f"{self.BUCKET_COL}={b}")
            old = f"{dst}.old-{uuid.uuid4().hex[:8]}"
            if os.path.exists(dst):
                os.rename(dst, old)
            if os.path.exists(src):
                os.rename(src, dst)
            if os.path.exists(old):
                shutil.rmtree(old)
        shutil.rmtree(tmp, ignore_errors=True)
        return affected

    def compact(
        self, max_files_per_bucket: int = 4, target_files: int = 1
    ) -> list[int]:
        """OPTIMIZE analog: DO-NOTHING appends accumulate a file per
        micro-batch inside each bucket directory; rewrite only the buckets
        whose file count exceeds ``max_files_per_bucket`` (coalesced to
        ``target_files``), leaving every other partition untouched —
        incremental maintenance matching the incremental write path.
        Holds the same write lock as :meth:`upsert`, so compaction can run
        alongside live ingest without racing a merge's directory swap."""
        import glob

        from pyspark.sql import functions as F

        with table_write_lock(self.path):
            return self._compact_locked(max_files_per_bucket, target_files)

    def _compact_locked(
        self, max_files_per_bucket: int, target_files: int
    ) -> list[int]:
        import glob

        from pyspark.sql import functions as F

        todo = []
        for d in glob.glob(os.path.join(self.path, f"{self.BUCKET_COL}=*")):
            n = len(glob.glob(os.path.join(d, "*.parquet")))
            if n > max_files_per_bucket:
                todo.append(int(d.rsplit("=", 1)[1]))
        for b in sorted(todo):
            part = self.spark.read.parquet(self.path).filter(
                F.col(self.BUCKET_COL) == b
            )
            tmp = f"{self.path}.cmp-{uuid.uuid4().hex[:8]}"
            part.coalesce(target_files).write.partitionBy(
                self.BUCKET_COL
            ).mode("overwrite").parquet(tmp)
            src = os.path.join(tmp, f"{self.BUCKET_COL}={b}")
            dst = os.path.join(self.path, f"{self.BUCKET_COL}={b}")
            old = f"{dst}.old-{uuid.uuid4().hex[:8]}"
            os.rename(dst, old)
            os.rename(src, dst)
            shutil.rmtree(old)
            shutil.rmtree(tmp, ignore_errors=True)
        return sorted(todo)
