"""Catalog access — load parquet-backed tables as DataFrames.

The reference's storage is Postgres heap tables; ours is partitioned
parquet (Delta when its jars are on the classpath — gated, see
``fastdb_spark.storage``).  Layout policy for the big photometry tables at
100 TB:

- partition by a coarse spatial bucket (dec zone / HEALPix super-pixel) so
  cone searches prune partitions,
- sort/cluster within files by ``(diaobjectid, midpointmjdtai)`` so
  per-object lightcurve reads touch few row groups,
- dimension tables stay single-file.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from fastdb_spark import schemas

#: tables present in the driver-generated TPC-H-ish test data (TESTDATA.md)
TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


class Catalog:
    """A directory of parquet tables, one ``<name>.parquet`` file-or-dir per
    table."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, f"{table}.parquet")

    def table(self, table: str) -> DataFrame:
        """Open one table.  A table declared in ``schemas.TABLES`` is read
        with its declared schema, so the open submits no schema-inference
        job: a stored column of another type raises when the scan reads
        it (a widening one, int into bigint, reads), and a declared column
        missing from the files reads as NULL.  Other tables (``events``,
        the TPC-H-ish set) infer their schema from the files."""
        if table == "events":
            return self._events()
        if table in schemas.TABLES:
            return self.spark.read.schema(schemas.TABLES[table]).parquet(
                self.path(table)
            )
        return self.spark.read.parquet(self.path(table))

    def _events(self) -> DataFrame:
        """Read ``events`` with ``ts`` normalised to session-TZ TIMESTAMP.

        The test generator has written ``ts`` variously as TIMESTAMP(NANOS)
        (legacy long read path) and TIMESTAMP(MICROS, isAdjustedToUTC=false)
        (read as TIMESTAMP_NTZ).  Downstream operators use ``unix_micros``,
        which only accepts TIMESTAMP; with the session TZ pinned to UTC the
        NTZ->LTZ cast is instant-preserving, so normalising here keeps every
        call site engine-independent of how the file was written.
        """
        from pyspark.sql import functions as F

        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = self.spark.read.parquet(self.path("events"))
        dt = dict(df.dtypes).get("ts")
        if dt == "bigint":  # TIMESTAMP(NANOS) read as raw nanos
            df = df.withColumn("ts_ns", F.col("ts")).withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif dt == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df

    def exists(self, table: str) -> bool:
        p = self.path(table)
        return os.path.exists(p)

    def register_views(self, tables=TPCH_TABLES, prefix: str = "") -> None:
        """Register temp views for SQL-surface queries (SURVEY.md S11)."""
        for t in tables:
            if self.exists(t):
                self.table(t).createOrReplaceTempView(prefix + t)


def load_tpch(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the driver's synthetic tables (TESTDATA.md) as a dict."""
    cat = Catalog(spark, sf_dir)
    return {t: cat.table(t) for t in TPCH_TABLES if cat.exists(t)}
