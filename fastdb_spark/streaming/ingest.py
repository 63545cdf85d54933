"""Micro-batch silver-layer ingest: the reference's Mongo->Postgres import
(reference ``src/services/source_importer.py:681-772``; SURVEY.md §3.4)
as an idempotent ``foreachBatch`` pipeline:

1. **first-seen dedup** within the batch (at-least-once transport ->
   one row per id, earliest ``savetime`` wins; objects prefer rows with a
   position — reference ``source_importer.py:184-212``, A2),
2. **new-object detection** via left-anti join on the silver diaobject
   table (J4),
3. **spatial root association**: new objects within 1 arcsec of an
   existing root adopt it (J6); the remainder cluster among themselves
   (leader = min diaobjectid) and mint DETERMINISTIC root uuids (md5 of
   the leader id — re-running the same batch yields the same roots, which
   makes the whole pipeline replay-safe),
4. **idempotent merges** (S5/T4): ``ON CONFLICT DO NOTHING`` upserts into
   every table.  The merges run overlapped
   (:func:`fastdb_spark.parallel.run_independent_jobs`): those into
   ``diasource``, ``diaforcedsource``, ``diasource_brokerinfo`` and
   ``cutouts`` alongside steps 2-3, those into ``root_diaobject`` and
   ``diaobject_position`` once step 3 is done.  ``diaobject`` lands
   last, after all of them succeeded.  A reader in mid-batch may
   see a batch's photometry or positions before its ``diaobject`` row;
   the lightcurve and search queries inner-join through ``diaobject``,
   so they hide those rows until the batch is complete.

Exactly-once: transport offsets are the streaming checkpoint's job; the
merge layer is replay-safe by construction (same input -> same keys ->
DO NOTHING dedups).  A failed merge re-raises after the other merges
settle and leaves ``diaobject`` unwritten, so the batch's objects are
still new to a replay of the same batch, which repairs every table.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastdb_spark import schemas
from fastdb_spark.operators.dedup import dedup_first_seen
from fastdb_spark.operators.spatial import crossmatch
from fastdb_spark.parallel import run_independent_jobs
from fastdb_spark.storage import ParquetTable

ASSOC_RADIUS_DEG = 1.0 / 3600.0  # 1 arcsec (reference source_importer 1")


def _det_uuid(col):
    """Deterministic uuid-shaped id from a long id (md5-derived)."""
    h = F.md5(F.concat(F.lit("root:"), col.cast("string")))
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )


class SilverCatalog:
    """Directory of parquet silver tables for the ingest pipeline."""

    TABLES = (
        "root_diaobject",
        "diaobject",
        "diaobject_position",
        "diasource",
        "diaforcedsource",
        "diasource_brokerinfo",
        "cutouts",
    )

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def table(self, name: str) -> ParquetTable:
        """One silver table; a table in ``schemas.TABLES`` reads and
        merges through its declared schema (``cutouts`` infers)."""
        return ParquetTable(
            self.spark,
            os.path.join(self.root, f"{name}.parquet"),
            schemas.TABLES.get(name),
        )


def dedup_batch(wrangled: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """First-seen dedup per logical id (S4/A2)."""
    out = {}
    out["diasource"] = dedup_first_seen(
        wrangled["diasource"], ["diasourceid", "base_procver_id"], ["savetime"]
    )
    out["diaforcedsource"] = dedup_first_seen(
        wrangled["diaforcedsource"],
        ["diaobjectid", "visit", "base_procver_id"],
        ["savetime"],
    )
    # objects: prefer rows that carry a position (reference sorts on
    # "position is null" before $first)
    obj = wrangled["diaobject"].withColumn(
        "_posnull", F.col("ra").isNull().cast("int")
    )
    out["diaobject"] = dedup_first_seen(
        obj, ["diaobjectid", "base_procver_id"], ["_posnull", "savetime"]
    ).drop("_posnull")
    out["brokerinfo"] = dedup_first_seen(
        wrangled["brokerinfo"],
        ["brokername", "topic", "diasourceid", "base_procver_id"],
        ["savetime"],
    )
    return out


def associate_roots(
    new_objects: DataFrame,
    roots: DataFrame | None,
    radius_deg: float = ASSOC_RADIUS_DEG,
    intra_batch: str = "onehop",
) -> DataFrame:
    """Assign a rootid to each new object (J6 + W1 semantics).

    1. nearest existing root within the radius wins (tie -> smallest sep,
       then smallest root id),
    2. leftovers cluster intra-batch: with ``intra_batch='onehop'``
       (default) every object within the radius of a lower-id object
       follows that leader — single-link, one hop, the same approximation
       as the reference, which punts on transitivity
       (``src/ltcv.py:486-493``) and admits near-duplicate roots exist;
       ``intra_batch='transitive'`` resolves full chains (A~B~C with A
       and C beyond the radius of each other still share one root) via
       the distributed large-star/small-star connected-components
       operator — strictly better than the reference at the cost of a
       few bounded label-propagation rounds over the (tiny) batch pair
       set,
    3. leaders mint deterministic uuids.
    """
    objs = new_objects.select("diaobjectid", "ra", "dec")

    matched = None
    if roots is not None:
        pairs = crossmatch(
            objs,
            roots.select(F.col("id").alias("rootid_existing"), "ra", "dec"),
            radius_deg,
        )
        matched = dedup_first_seen(
            pairs.select(
                "diaobjectid", "rootid_existing", F.col("sep_deg")
            ),
            ["diaobjectid"],
            ["sep_deg", "rootid_existing"],
        ).select("diaobjectid", F.col("rootid_existing").alias("rootid"))

    if matched is not None:
        # matched holds at most one row per batch object (the crossmatch
        # broadcasts the batch too): broadcast it, so neither use of
        # unmatched shuffles the batch for the anti-join
        unmatched = objs.join(
            F.broadcast(matched), on="diaobjectid", how="left_anti"
        )
    else:
        unmatched = objs

    # intra-batch single-link: leader = min neighbor id (incl. self)
    self_pairs = crossmatch(
        unmatched,
        unmatched.select(
            F.col("diaobjectid").alias("nbr_id"),
            F.col("ra").alias("nra"),
            F.col("dec").alias("ndec"),
        ),
        radius_deg,
        left_cols=("ra", "dec"),
        right_cols=("nra", "ndec"),
        sep_col=None,
    ).select("diaobjectid", "nbr_id")
    if intra_batch == "transitive":
        from fastdb_spark.pipeline.cluster import connected_components

        labels = connected_components(
            self_pairs, src="diaobjectid", dst="nbr_id"
        )
        leaders = (
            unmatched.select("diaobjectid")
            .join(
                labels.withColumnRenamed("node", "diaobjectid"),
                "diaobjectid",
                "left",
            )
            .select(
                "diaobjectid",
                F.coalesce(F.col("component"), F.col("diaobjectid")).alias(
                    "leader"
                ),
            )
        )
    else:
        leaders = self_pairs.groupBy("diaobjectid").agg(
            F.min("nbr_id").alias("leader")
        )
    minted = leaders.select(
        "diaobjectid", _det_uuid(F.col("leader")).alias("rootid")
    )

    return minted if matched is None else matched.unionByName(minted)


def _upsert(silver: SilverCatalog, table: str, rows: DataFrame, keys) -> None:
    silver.table(table).upsert(rows, keys, "nothing")


def _merge_new_objects(
    silver: SilverCatalog, objects: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """New-object detection and root association for one batch, then the
    root and position merges; returns ``(new_objs, assoc)`` for the
    diaobject merge, which the caller runs last."""
    obj_t = silver.table("diaobject")
    roots_t = silver.table("root_diaobject")

    existing_objs = obj_t.read() if obj_t.exists() else None
    if existing_objs is not None:
        new_objs = objects.join(
            existing_objs.select("diaobjectid", "base_procver_id"),
            on=["diaobjectid", "base_procver_id"],
            how="left_anti",
        )
    else:
        new_objs = objects
    # new_objs/assoc read the silver tables the merges below APPEND to,
    # and each append's refreshByPath invalidates any cached plan reading
    # that path — a cache() here would silently RECOMPUTE against the
    # already-updated tables after the first merge (the anti-join then
    # drops every just-inserted object, so the position merge and the
    # new_objects stat saw EMPTY sets — a real shipped bug, regression-
    # tested in test_round6.py).  localCheckpoint severs the lineage so
    # later merges cannot recompute.  (The batch frames, ``objects``
    # among them, derive only from the wrangled input — no silver reads —
    # so plain cache is safe for them.)
    new_objs = new_objs.localCheckpoint(eager=True)

    roots = roots_t.read() if roots_t.exists() else None
    assoc = associate_roots(new_objs, roots).localCheckpoint(eager=True)

    # new roots = minted ids not already present
    minted_roots = (
        assoc.join(
            new_objs.select("diaobjectid", "ra", "dec"), on="diaobjectid"
        )
        .groupBy("rootid")
        .agg(F.first("ra").alias("ra"), F.first("dec").alias("dec"))
        .select(F.col("rootid").alias("id"), "ra", "dec")
    )
    pos_rows = new_objs.filter(F.col("ra").isNotNull()).select(
        "diaobjectid",
        "base_procver_id",
        "ra",
        "dec",
        F.lit(None).cast("float").alias("raerr"),
        F.lit(None).cast("float").alias("decerr"),
        F.lit(None).cast("float").alias("ra_dec_cov"),
    )
    run_independent_jobs(
        lambda m: _upsert(silver, *m),
        [
            ("root_diaobject", minted_roots, ["id"]),
            ("diaobject_position", pos_rows, ["diaobjectid", "base_procver_id"]),
        ],
    )
    return new_objs, assoc


def ingest_batch(
    silver: SilverCatalog,
    wrangled: dict[str, DataFrame],
    collect_stats: bool = True,
) -> dict[str, int]:
    """One micro-batch through dedup -> association -> idempotent merges.

    ``collect_stats=True`` returns the per-stage row counts the reference
    logs; streaming callers pass False — each count is an extra Spark
    action, and at alert-rate throughput the merge writes should be the
    only jobs per micro-batch.
    """
    batch = dedup_batch(wrangled)
    # cache: each frame feeds multiple joins below
    for df in batch.values():
        df.cache()
    try:
        src = batch["diasource"].drop("savetime")
        frc = batch["diaforcedsource"].drop("savetime")
        brk = batch["brokerinfo"].drop("savetime")
        merges = [
            ("diasource", src, ["diasourceid", "base_procver_id"]),
            ("diaforcedsource", frc, ["diaobjectid", "visit", "base_procver_id"]),
            (
                "diasource_brokerinfo",
                brk,
                ["brokername", "topic", "diasourceid", "base_procver_id"],
            ),
        ]
        # binary cutout payloads (the reference's thumbnail collections ->
        # multimodal media rows; payloads stay opaque, see pipeline.multimodal)
        if "cutouts" in wrangled:
            cut = dedup_first_seen(
                wrangled["cutouts"], ["alertid"], ["savetime"]
            ).drop("savetime")
            merges.append(("cutouts", cut, ["alertid"]))
        jobs = [functools.partial(_merge_new_objects, silver, batch["diaobject"])]
        jobs += [functools.partial(_upsert, silver, *m) for m in merges]
        # the merges land in disjoint tables, and the photometry merges do
        # not wait for the association: overlap them all.  diaobject goes
        # last, once they all succeeded — its rows are what the next
        # batch's new_objs treats as already ingested, so a failure
        # anywhere before it leaves the batch's objects "new" and a replay
        # of the batch repairs every table
        (new_objs, assoc), *_ = run_independent_jobs(lambda job: job(), jobs)
        obj_rows = new_objs.join(assoc, on="diaobjectid").select(
            "diaobjectid", "base_procver_id", "rootid"
        )
        _upsert(silver, "diaobject", obj_rows, ["diaobjectid", "base_procver_id"])

        if not collect_stats:
            return {}
        return {
            "sources": src.count(),
            "forced": frc.count(),
            "objects": batch["diaobject"].count(),
            "new_objects": new_objs.count(),
        }
    finally:
        # on a failed merge too: nothing cached outlives the batch
        for df in batch.values():
            df.unpersist()
        # new_objs/assoc are localCheckpoint()ed, not cache()d: unpersist()
        # on them is a no-op (ADVICE r6) — their blocks are freed by the
        # ContextCleaner when the per-batch references are GC'd, bounding
        # retained storage to the in-flight batch


def run_alert_file_stream(
    spark: SparkSession,
    alerts_path: str,
    silver_root: str,
    checkpoint: str,
    base_procver_id: str,
    available_now: bool = True,
):
    """Structured-Streaming ingest over a file source (the local-testable
    transport; the Kafka builder in sources.kafka yields the same nested
    frame).  ``foreachBatch`` applies the idempotent merge; the checkpoint
    provides exactly-once over the transport (T2/T4)."""
    from fastdb_spark.sources.alerts import ALERT_SCHEMA, reject_solar_system, wrangle_alerts

    # micro-batches are batch-sized, not table-sized: the default 200
    # shuffle partitions turn every merge into 200 tiny tasks on an
    # unconfigured session ('auto'-safe shared helper, ADVICE r8)
    from fastdb_spark.session import tune_micro_batch_shuffle

    tune_micro_batch_shuffle(spark)

    silver = SilverCatalog(spark, silver_root)

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        wrangled = reject_solar_system(
            wrangle_alerts(batch_df, base_procver_id)
        )
        ingest_batch(silver, wrangled, collect_stats=False)

    stream = (
        spark.readStream.schema(ALERT_SCHEMA)
        .parquet(alerts_path)
        .writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        stream = stream.trigger(availableNow=True)
    return stream.start()
