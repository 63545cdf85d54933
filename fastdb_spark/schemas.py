"""Explicit StructType schemas for every catalog table.

The reference reflects its schema from Postgres ``information_schema`` at
runtime (reference ``src/db.py:874-903``); we instead declare one explicit
StructType per table (the schema is migration-managed and fixed, reference
``db/2026-02-02_refactor.sql``) and read stored tables with it
(``catalog.Catalog.table``, ``streaming.ingest.SilverCatalog.table``), so
opening a table infers nothing.

Type mapping follows SURVEY.md §1.3 (reference ``src/db.py:700-710``
``ColumnMeta.typedict``):

- uuid            -> StringType (canonical lowercase-hyphen form)
- bigint ids      -> LongType   (ids must never pass through doubles,
                     reference ``src/util.py:424-440``)
- real / double   -> FloatType / DoubleType
- jsonb           -> StringType holding JSON (broker ``info`` is schema-free;
                     parse with from_json at use sites)
- timestamptz     -> TimestampType with session TZ pinned UTC
"""

from __future__ import annotations

from pyspark.sql import types as T


def _f(name: str, dtype: T.DataType, nullable: bool = True) -> T.StructField:
    return T.StructField(name, dtype, nullable)


UUID = T.StringType()  # canonical-form uuid string

# --- version dimension tables (tiny; always broadcast) ----------------------

# reference db/2025-02-18_001_init.sql + db/2026-02-02_refactor.sql:14-101
PROCESSING_VERSION = T.StructType([
    _f("id", UUID, False),
    _f("description", T.StringType(), False),
])

PROCESSING_VERSION_ALIAS = T.StructType([
    _f("description", T.StringType(), False),
    _f("procver_id", UUID, False),
])

BASE_PROCESSING_VERSION = T.StructType([
    _f("id", UUID, False),
    _f("description", T.StringType(), False),
    _f("_table", T.StringType(), False),
])

BASE_PROCVER_OF_PROCVER = T.StructType([
    _f("procver_id", UUID, False),
    _f("base_procver_id", UUID, False),
    _f("_table", T.StringType(), False),
    _f("priority", T.IntegerType(), False),
])

# --- object tables -----------------------------------------------------------

# reference db/2025-02-18_001_init.sql:102 (+ ra/dec db/2026-03-04_rootposition.sql)
ROOT_DIAOBJECT = T.StructType([
    _f("id", UUID, False),
    _f("ra", T.DoubleType()),
    _f("dec", T.DoubleType()),
])

# reference db/2026-02-02_refactor.sql (diaobject), src/db.py:1748-1751
DIAOBJECT = T.StructType([
    _f("diaobjectid", T.LongType(), False),
    _f("base_procver_id", UUID, False),
    _f("rootid", UUID, False),
])

# reference db/2026-02-02_refactor.sql:172-200
DIAOBJECT_POSITION = T.StructType([
    _f("diaobjectid", T.LongType(), False),
    _f("base_procver_id", UUID, False),
    _f("ra", T.DoubleType(), False),
    _f("dec", T.DoubleType(), False),
    _f("raerr", T.FloatType()),
    _f("decerr", T.FloatType()),
    _f("ra_dec_cov", T.FloatType()),
])

# --- photometry tables (the big ones: 60M detections / 900M forced at
#     ELAsTiCC2 scale; TBs at LSST scale -> partition + sort, see catalog.py) --

# reference db/2026-02-02_refactor.sql:258-285
DIASOURCE = T.StructType([
    _f("diasourceid", T.LongType(), False),
    _f("base_procver_id", UUID, False),
    _f("diaobjectid", T.LongType(), False),
    _f("visit", T.LongType(), False),
    _f("band", T.StringType(), False),
    _f("midpointmjdtai", T.DoubleType(), False),
    _f("psfflux", T.FloatType(), False),
    _f("psffluxerr", T.FloatType(), False),
    _f("ra", T.DoubleType()),
    _f("dec", T.DoubleType()),
    _f("raerr", T.FloatType()),
    _f("decerr", T.FloatType()),
    _f("ra_dec_cov", T.FloatType()),
])

# reference db/2026-02-02_refactor.sql:395-417
DIAFORCEDSOURCE = T.StructType([
    _f("diaforcedsourceid", T.LongType()),
    _f("base_procver_id", UUID, False),
    _f("diaobjectid", T.LongType(), False),
    _f("visit", T.LongType(), False),
    _f("band", T.StringType(), False),
    _f("midpointmjdtai", T.DoubleType(), False),
    _f("psfflux", T.FloatType(), False),
    _f("psffluxerr", T.FloatType(), False),
    _f("ra", T.DoubleType()),
    _f("dec", T.DoubleType()),
])

# reference db/2026-02-02_refactor.sql:363-381 (PK widened per src/db.py:1842-1845)
DIASOURCE_BROKERINFO = T.StructType([
    _f("brokername", T.StringType(), False),
    _f("topic", T.StringType(), False),
    _f("diasourceid", T.LongType(), False),
    _f("base_procver_id", UUID, False),
    _f("diaobjectid", T.LongType()),
    _f("info", T.StringType()),  # jsonb -> JSON string
])

# reference db/2026-02-02_refactor.sql:113-167
HOST_GALAXY = T.StructType([
    _f("id", UUID, False),
    _f("host_catalog", T.StringType()),
    _f("host_id", T.StringType()),
    _f("base_procver_id", UUID, False),
    _f("ra", T.DoubleType()),
    _f("dec", T.DoubleType()),
    _f("info", T.StringType()),
])

DIAOBJECT_HOST_MATCH = T.StructType([
    _f("diaobjectid", T.LongType(), False),
    _f("host_galaxy_id", UUID, False),
    _f("base_procver_id", UUID, False),
    _f("prio", T.ShortType()),
])

# --- spectrum workflow tables (reference db/2025-04-25-spectrumcycle.sql) ----

WANTEDSPECTRA = T.StructType([
    _f("wantspec_id", T.StringType(), False),
    _f("root_diaobject_id", UUID, False),
    _f("wanttime", T.TimestampType()),
    _f("user_id", UUID, False),
    _f("requester", T.StringType()),
    _f("priority", T.ShortType()),
    _f("is_host", T.BooleanType(), False),
    _f("ra", T.DoubleType()),
    _f("dec", T.DoubleType()),
])

PLANNEDSPECTRA = T.StructType([
    _f("plannedspec_id", UUID, False),
    _f("root_diaobject_id", UUID, False),
    _f("facility", T.StringType()),
    _f("created_at", T.TimestampType()),
    _f("plantime", T.TimestampType()),
    _f("comment", T.StringType()),
    _f("is_host", T.BooleanType(), False),
])

SPECTRUMINFO = T.StructType([
    _f("specinfo_id", UUID, False),
    _f("root_diaobject_id", UUID),
    _f("facility", T.StringType()),
    _f("inserted_at", T.TimestampType()),
    _f("mjd", T.FloatType()),
    _f("z", T.FloatType()),
    _f("classid", T.IntegerType()),
    _f("ra", T.DoubleType(), False),
    _f("dec", T.DoubleType(), False),
    _f("is_host", T.BooleanType(), False),
    _f("class_description", T.StringType()),
])

# --- service tables ----------------------------------------------------------

# reference db/2025-02-18_001_init.sql query_queue
QUERY_QUEUE = T.StructType([
    _f("queryid", UUID, False),
    _f("userid", UUID, False),
    _f("submitted", T.TimestampType(), False),
    _f("started", T.TimestampType()),
    _f("finished", T.TimestampType()),
    _f("error", T.BooleanType()),
    _f("errortext", T.StringType()),
    _f("queries", T.ArrayType(T.StringType()), False),
    _f("subdicts", T.ArrayType(T.StringType())),  # jsonb[] -> JSON strings
    _f("format", T.StringType()),
])

# ingest watermark tables (reference src/services/source_importer.py:744,
# src/services/all_alerts_importer.py:54-103)
IMPORT_TIME = T.StructType([
    _f("t0", T.TimestampType(), False),
    _f("t1", T.TimestampType(), False),
    _f("imported_at", T.TimestampType(), False),
])

#: every managed table, keyed by name; mirrors reference src/db.py:59-68.
TABLES: dict[str, T.StructType] = {
    "processing_version": PROCESSING_VERSION,
    "processing_version_alias": PROCESSING_VERSION_ALIAS,
    "base_processing_version": BASE_PROCESSING_VERSION,
    "base_procver_of_procver": BASE_PROCVER_OF_PROCVER,
    "root_diaobject": ROOT_DIAOBJECT,
    "diaobject": DIAOBJECT,
    "diaobject_position": DIAOBJECT_POSITION,
    "diasource": DIASOURCE,
    "diaforcedsource": DIAFORCEDSOURCE,
    "diasource_brokerinfo": DIASOURCE_BROKERINFO,
    "host_galaxy": HOST_GALAXY,
    "diaobject_host_match": DIAOBJECT_HOST_MATCH,
    "wantedspectra": WANTEDSPECTRA,
    "plannedspectra": PLANNEDSPECTRA,
    "spectruminfo": SPECTRUMINFO,
    "query_queue": QUERY_QUEUE,
}

#: primary-key columns per table (reference src/db.py table classes).
PRIMARY_KEYS: dict[str, list[str]] = {
    "processing_version": ["id"],
    "processing_version_alias": ["description"],
    "base_processing_version": ["id"],
    "base_procver_of_procver": ["procver_id", "base_procver_id", "_table"],
    "root_diaobject": ["id"],
    "diaobject": ["diaobjectid", "base_procver_id"],
    "diaobject_position": ["diaobjectid", "base_procver_id"],
    "diasource": ["diasourceid", "base_procver_id"],
    "diaforcedsource": ["base_procver_id", "diaobjectid", "visit"],
    "diasource_brokerinfo": ["brokername", "topic", "diasourceid", "base_procver_id"],
    "host_galaxy": ["id"],
    "diaobject_host_match": ["diaobjectid", "host_galaxy_id", "base_procver_id"],
    "wantedspectra": ["wantspec_id"],
    "plannedspectra": ["plannedspec_id"],
    "spectruminfo": ["specinfo_id"],
    "query_queue": ["queryid"],
}


def assert_schema(df_schema: T.StructType, table: str) -> None:
    """Assert a stored table matches the declared schema (names + types).

    Nullability is not compared: parquet round-trips relax it and Spark
    columns are natively nullable (SURVEY.md §1.3).
    """
    expected = TABLES[table]
    got = [(f.name, f.dataType) for f in df_schema.fields]
    want = [(f.name, f.dataType) for f in expected.fields]
    if got != want:
        raise ValueError(f"schema mismatch for {table}: got {got}, want {want}")
