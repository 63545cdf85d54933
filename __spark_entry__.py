"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship lightcurve-patch query at sf0.001.
``queries()``   — one callable per implemented operator (SURVEY.md §2),
                  each exercising the real ``fastdb_spark`` operator code
                  over the driver's synthetic tables (TESTDATA.md) via the
                  deterministic derivations in ``fastdb_spark.tpch_adapter``.
``oracle_sql()``— the duckdb-equivalent ANSI SQL for each query.

Floating-point policy: values produced by a single deterministic expression
are emitted exactly; values produced by *aggregation* (order-dependent
summation) or libm-dependent functions (trig/log) are rounded so Spark and
duckdb hash identically.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from fastdb_spark import tpch_adapter as ad
from fastdb_spark.catalog import Catalog
from fastdb_spark.localrel import tiny_local_df
from fastdb_spark.operators.dedup import dedup_first_seen, dedup_top_priority
from fastdb_spark.operators.patch import patch_lightcurve
from fastdb_spark.operators.predicates import FieldSpec, apply_where
from fastdb_spark.operators.spatial import cone_search, crossmatch
from fastdb_spark.queries.objstats import per_band_stats, weighted_positions
from fastdb_spark.versions import versioned
from fastdb_spark.functions.photometry import flux2mag

SF0001 = "/root/testdata/sf0.001"

#: per-process scratch root for gate-side tables (bucketed twins, ANN
#: indexes, write-path round-trips).  ``tempfile.mkdtemp`` gives an
#: unpredictable, 0700, race-free directory, so concurrent adjudications
#: or different users on the same host never collide, and the gates never
#: ``rmtree`` a predictable world-writable /tmp name (ADVICE r5:
#: tmp-squatting hazard).  One root per process keeps the within-session
#: reuse of cached bucketed tables / persisted indexes.
_SCRATCH_ROOT: str | None = None


def _scratch(*parts: str) -> str:
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        import atexit
        import shutil
        import tempfile

        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="fastdb_gate_")
        # unlike the old fixed-name dirs (reused via mode=overwrite), a
        # per-process mkdtemp root would otherwise accumulate one copy
        # of the bucketed twins / ANN indexes per run — remove it when
        # the process exits
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return os.path.join(_SCRATCH_ROOT, *parts)

# ---------------------------------------------------------------------------
# flagship


def entry(spark: SparkSession) -> DataFrame:
    """Lightcurve patch query (SURVEY.md J3 + A1): forced photometry
    full-outer detections with row-level coalesce and isdet/ispatch flags."""
    return _q_ltcv_patch(spark, SF0001)


# ---------------------------------------------------------------------------
# helpers


def _pat(sql: str, *extra: str) -> str:
    """Compose WITH-prefixed oracle SQL over the shared derivations."""
    ctes = [f"p AS ({ad.PHOTOMETRY_SQL})", *extra]
    return "WITH " + ", ".join(ctes) + "\n" + sql


PV_MJD_CUT = 60050.0

# ---------------------------------------------------------------------------
# queries (spark side)


def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped aggregate (SURVEY.md A3/A5: grouped conditional
    aggregation with map-side combine)."""
    li = Catalog(spark, sf_dir).table("lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_priority_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: one row per (rootid, visit) from the highest-priority version,
    via the single-shuffle max_by aggregate."""
    li = Catalog(spark, sf_dir).table("lineitem")
    return dedup_top_priority(
        ad.versioned_photometry(li),
        ["rootid", "visit"],
        ["priority", "srcid", "band", "midpointmjdtai", "psfflux", "psffluxerr"],
    )


def _q_versioned_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 through the full processing-version path: base-version priority
    map + priority dedup (fastdb_spark.versions.versioned)."""
    li = Catalog(spark, sf_dir).table("lineitem")
    phot = ad.versioned_photometry(li).withColumn(
        "base_procver_id", F.concat(F.lit("bpv"), F.col("priority").cast("string"))
    ).drop("priority")
    return versioned(
        phot,
        {"bpv0": 0, "bpv1": 1, "bpv2": 2},
        keys=("rootid", "visit"),
        extra_order=("srcid", "band", "midpointmjdtai", "psfflux", "psffluxerr"),
    )


_BUCKETED_WRITTEN: set = set()


def _q_versioned_dedup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 over the ENGINE-OWNED bucketed layout (Q10 done right): the
    versioned photometry is written once bucketed by rootid
    (bucketBy+sortBy saveAsTable), so the priority dedup's groupBy
    (rootid, visit) is satisfied by the storage distribution — the plan
    has NO Exchange before the aggregate.  At 100 TB this is the
    difference between re-shuffling the photometry table on every read
    and never shuffling it at all.  Same rows as priority_dedup (same
    oracle)."""
    import os
    import tempfile

    tag = os.path.basename(os.path.normpath(sf_dir))
    tbl = f"versioned_phot_bucketed_{tag.replace('.', '_')}"
    if tbl not in _BUCKETED_WRITTEN:
        li = Catalog(spark, sf_dir).table("lineitem")
        path = _scratch(f"fastdb_bucketed_{tag}")
        (
            ad.versioned_photometry(li)
            .write.mode("overwrite")
            .option("path", path)
            .bucketBy(8, "rootid")
            .sortBy("rootid", "visit")
            .saveAsTable(tbl)
        )
        _BUCKETED_WRITTEN.add(tbl)
    phot = spark.table(tbl)
    return dedup_top_priority(
        phot,
        ["rootid", "visit"],
        ["priority", "srcid", "band", "midpointmjdtai", "psfflux", "psffluxerr"],
    )


def _q_first_seen_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/S4: first event per user (first-seen wins), min_by aggregate."""
    ev = Catalog(spark, sf_dir).table("events")
    first = dedup_first_seen(ev, ["user_id"], ["ts", "event_id"])
    return first.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "value",
    )


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + gap cumsum (classic window composition);
    events >30min apart start a new session per user."""
    ev = Catalog(spark, sf_dir).table("events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    with_new = ev.withColumn(
        "is_new", F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    )
    sess = with_new.withColumn(
        "session_seq",
        F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    # ordered double fold: one canonical addition order both engines
    # reproduce bit-for-bit (see objstats.ordered_sum)
    from fastdb_spark.queries.objstats import ordered_sum

    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(ordered_sum(F.col("value")), 6).alias("session_value"),
        F.min(F.unix_micros("ts")).alias("start_us"),
        F.max(F.unix_micros("ts")).alias("end_us"),
    )


def _q_ltcv_patch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: full-outer forced-vs-detections patch join."""
    li = Catalog(spark, sf_dir).table("lineitem")
    return patch_lightcurve(
        ad.forced(li),
        ad.detections(li),
        keys=("rootid", "visit"),
        value_cols=["srcid", "band", "midpointmjdtai", "psfflux", "psffluxerr"],
    )


def _q_ltcv_patch_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 over the ENGINE-OWNED co-bucketed layout: forced and detections
    both bucketed by rootid (bucketBy+sortBy), so the full-outer patch
    join reuses the storage distribution — NO Exchange on either side
    (needs spark.sql.requireAllClusterKeysForCoPartition=false, a session
    default; set here too for plain driver sessions).  Same rows as
    ltcv_patch (same oracle)."""
    import os
    import tempfile

    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    tables = {}
    for side, maker in (("frc", ad.forced), ("det", ad.detections)):
        tbl = f"phot_{side}_bucketed_{tag}"
        if tbl not in _BUCKETED_WRITTEN:
            li = Catalog(spark, sf_dir).table("lineitem")
            path = os.path.join(
                _scratch(f"fastdb_bucketed_{tag}"), side
            )
            (
                maker(li)
                .write.mode("overwrite")
                .option("path", path)
                .bucketBy(8, "rootid")
                .sortBy("rootid", "visit")
                .saveAsTable(tbl)
            )
            _BUCKETED_WRITTEN.add(tbl)
        tables[side] = spark.table(tbl)
    return patch_lightcurve(
        tables["frc"],
        tables["det"],
        keys=("rootid", "visit"),
        value_cols=["srcid", "band", "midpointmjdtai", "psfflux", "psffluxerr"],
    )


def _q_ltcv_nested_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/X1: per-root nested lightcurve assembly (collect_list struct +
    array_sort — the parquet-export format), probed back to scalars for
    the hash compare: the array's length, endpoints, and detection count
    must equal the oracle's flat aggregates (sort key = visit, the
    struct's leading field, unique per root in the patch output)."""
    from fastdb_spark.queries.ltcv import assemble_nested

    li = Catalog(spark, sf_dir).table("lineitem")
    flat = patch_lightcurve(
        ad.forced(li),
        ad.detections(li),
        keys=("rootid", "visit"),
        value_cols=["srcid", "band", "midpointmjdtai", "psfflux", "psffluxerr"],
    )
    nested = assemble_nested(flat)
    lc = F.col("lightcurve")
    return nested.select(
        "rootid",
        F.col("nobs").cast("long").alias("nobs"),
        lc[0]["visit"].alias("first_visit"),
        F.round(lc[0]["psfflux"], 6).alias("first_flux"),
        F.element_at(lc, -1)["visit"].alias("last_visit"),
        F.size(F.filter(lc, lambda x: x["isdet"])).cast("long").alias("n_det"),
    )


def _q_ltcv_detections_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3+P4+A1: band filter + mjd_now time-travel cut + priority dedup."""
    li = Catalog(spark, sf_dir).table("lineitem")
    phot = ad.versioned_photometry(li).filter(
        F.col("band").isin(["R", "A"]) & (F.col("midpointmjdtai") <= F.lit(PV_MJD_CUT))
    )
    return dedup_top_priority(
        phot,
        ["rootid", "visit"],
        ["priority", "srcid", "band", "midpointmjdtai", "psfflux", "psffluxerr"],
    )


def _q_objstats_per_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4-A6/J8: one-pass per-(root,band) stats (first/last/peak + counts)."""
    li = Catalog(spark, sf_dir).table("lineitem")
    stats = per_band_stats(ad.detections(li), tiebreak=["srcid", "psfflux", "psffluxerr"])
    # round libm-free but aggregate-computed floats defensively
    keep = ["rootid", "band"]
    rounded = [
        F.round(F.col(c), 6).alias(c)
        if c.endswith(("mjd", "flux", "fluxerr"))
        else F.col(c)
        for c in stats.columns
        if c not in keep
    ]
    return stats.select(*keep, *rounded)


def _q_objstats_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: cross-band rollup of the per-band stats (summed counts +
    cross-band argmin/argmax with band tiebreak)."""
    from fastdb_spark.queries.objstats import combined_stats

    li = Catalog(spark, sf_dir).table("lineitem")
    per_band = per_band_stats(
        ad.detections(li), tiebreak=["srcid", "psfflux", "psffluxerr"]
    )
    comb = combined_stats(per_band)
    rounded = [
        F.round(F.col(c), 6).alias(c)
        if c.endswith(("mjd", "flux", "fluxerr"))
        else F.col(c)
        for c in comb.columns
        if c != "rootid"
    ]
    return comb.select("rootid", *rounded)


def _q_hot_ltcvs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot transients: roots with a recent detection, with their full
    patched lightcurves (semi-join + patch, reference get_hot_ltcvs)."""
    li = Catalog(spark, sf_dir).table("lineitem")
    det = ad.detections(li)
    hot_roots = (
        det.filter(F.col("midpointmjdtai") >= F.lit(60095.0))
        .select("rootid")
        .distinct()
    )
    patched = patch_lightcurve(
        ad.forced(li),
        det,
        keys=("rootid", "visit"),
        value_cols=["srcid", "band", "midpointmjdtai", "psfflux", "psffluxerr"],
    )
    return patched.join(hot_roots, on="rootid", how="left_semi")


def _q_weighted_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: (S/N)^2-weighted mean/std/cov of detection positions."""
    li = Catalog(spark, sf_dir).table("lineitem")
    pos = weighted_positions(ad.detections(li), min_snr=3.0)
    return pos.select(
        "rootid",
        F.round("ra", 6).alias("ra"),
        F.round("dec", 6).alias("dec"),
        F.round("raerr", 6).alias("raerr"),
        F.round("decerr", 6).alias("decerr"),
        F.round("ra_dec_cov", 6).alias("ra_dec_cov"),
        "nposdets",
    )


def _q_cone_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 (fixed center): dec-band + ra-window prefilter + exact haversine."""
    part = Catalog(spark, sf_dir).table("part")
    hits = cone_search(ad.part_sky(part), 180.0, 0.0, 14.95)
    from fastdb_spark.operators.spatial import haversine_deg

    sep = haversine_deg(F.col("ra"), F.col("dec"), F.lit(180.0), F.lit(0.0))
    return hits.select("id", "ra", "dec", F.round(sep, 6).alias("sep_deg"))


_LAYOUT_WRITTEN: set = set()


def _q_cone_search_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 through the ENGINE-OWNED layout (Q10/Q11): the sky catalog is
    written once as a zone-partitioned table, and the cone search prunes
    partitions via the zone column before any file opens — same rows as
    ``cone_search`` over the raw derivation, which is what the oracle
    checks."""
    import os
    import tempfile

    from fastdb_spark.layout import read_cone, write_spatial
    from fastdb_spark.operators.spatial import haversine_deg

    tag = os.path.basename(os.path.normpath(sf_dir))
    path = _scratch(f"fastdb_layout_{tag}", "part_sky")
    if path not in _LAYOUT_WRITTEN:
        part = Catalog(spark, sf_dir).table("part")
        write_spatial(
            ad.part_sky(part), path, dec_col="dec", cluster_by=("id",), zone_deg=5.0
        )
        _LAYOUT_WRITTEN.add(path)
    hits = read_cone(spark, path, 180.0, 0.0, 14.95, zone_deg=5.0)
    sep = haversine_deg(F.col("ra"), F.col("dec"), F.lit(180.0), F.lit(0.0))
    return hits.select("id", "ra", "dec", F.round(sep, 6).alias("sep_deg"))


def _q_crossmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 (two-sided): zone-bucketed equi-join crossmatch at 0.95 deg."""
    cat = Catalog(spark, sf_dir)
    pairs = crossmatch(
        ad.part_sky(cat.table("part")),
        ad.customer_sky(cat.table("customer")),
        radius_deg=0.95,
    )
    return pairs.select(
        F.col("id").alias("part_id"),
        F.col("right_id").alias("cust_id"),
        F.round("sep_deg", 6).alias("sep_deg"),
    )


def _q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: left-anti — orders with no returned ('R') line items."""
    cat = Catalog(spark, sf_dir)
    li, orders = cat.table("lineitem"), cat.table("orders")
    returned = li.filter(F.col("l_returnflag") == "R")
    return orders.join(
        returned, orders.o_orderkey == returned.l_orderkey, "left_anti"
    ).select("o_orderkey", "o_custkey", "o_totalprice")


def _q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J5-shaped multi-join + aggregate with broadcast dimensions."""
    cat = Catalog(spark, sf_dir)
    li, orders = cat.table("lineitem"), cat.table("orders")
    cust, nation = cat.table("customer"), cat.table("nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(rev), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/O2: top-3 orders by totalprice per customer (ranked window)."""
    orders = Catalog(spark, sf_dir).table("orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.desc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def _q_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: the keyword-spec WHERE compiler (mult / substr / minmax)."""
    part = Catalog(spark, sf_dir).table("part")
    specs = {
        "p_brand": FieldSpec(mult=True),
        "p_type": FieldSpec(substr=True),
        "p_size": FieldSpec(minmax=True),
        "p_retailprice": FieldSpec(minmax=True),
    }
    return apply_where(
        part,
        specs,
        {
            "p_brand": ["Brand#13", "Brand#5", "Brand#21"],
            "p_type": "ECO",
            "p_size_min": 5,
            "p_size_max": 30,
        },
    ).select("p_partkey", "p_name", "p_brand", "p_type", "p_size")


def _q_flux_to_mag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: flux->mag with non-positive-flux sentinel."""
    li = Catalog(spark, sf_dir).table("lineitem")
    det = ad.detections(li)
    return det.select(
        "srcid", F.round(flux2mag(F.col("psfflux")), 6).alias("mag")
    )


def _q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: bounded time-interval join — per event, count of same-user
    events in the previous 24h (alert prv-history semantics)."""
    from fastdb_spark.operators.rangejoin import attach_history

    ev = Catalog(spark, sf_dir).table("events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    return attach_history(
        ev, ev, key="user_id", time_col="ts_us", lookback=86_400_000_000, gap=0
    )


def _q_spectrum_workflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectrum cycle anti-join chain (wanted minus planned minus observed)
    on order/lineitem-derived workflow frames."""
    from fastdb_spark.queries.spectrum import spectra_wanted

    cat = Catalog(spark, sf_dir)
    li, orders = cat.table("lineitem"), cat.table("orders")
    wanted = orders.select(
        F.col("o_orderkey").alias("root_diaobject_id"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("want_us"),
        F.col("o_totalprice").alias("priority_value"),
    )
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey)
    planned = lo.filter(
        (F.col("l_shipdate") > F.col("o_orderdate")) & (F.col("l_linestatus") == "O")
    ).select(F.col("l_orderkey").alias("root_diaobject_id"))
    observed = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("root_diaobject_id")
    )
    return spectra_wanted(wanted, planned, observed)


def _q_versioned_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A9: distinct-logical-key count + scalar extremes, one aggregate
    (the reference's slowest endpoint — BASELINE.md /count)."""
    li = Catalog(spark, sf_dir).table("lineitem")
    phot = ad.versioned_photometry(li)
    key = F.struct(F.col("rootid"), F.col("visit"))
    return phot.agg(
        F.count_distinct(key).alias("n"),
        F.round(F.min("midpointmjdtai"), 6).alias("min_t"),
        F.round(F.max("midpointmjdtai"), 6).alias("max_t"),
    )


def _q_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: OFFSET/LIMIT page over a total order (export chunking)."""
    from fastdb_spark.operators.paginate import paginate

    orders = Catalog(spark, sf_dir).table("orders")
    page = paginate(
        orders, [F.desc("o_totalprice"), F.col("o_orderkey")], offset=100, limit=50
    )
    return page.select("o_orderkey", "o_custkey", "o_totalprice")


def _q_pagination_ranged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 at scale: the same page as ``pagination`` through the
    range-partitioned path (distributed sort + partition-offset
    arithmetic, no single-task global window) — same oracle."""
    from fastdb_spark.operators.paginate import paginate_ranged

    orders = Catalog(spark, sf_dir).table("orders")
    page = paginate_ranged(
        orders, [F.desc("o_totalprice"), F.col("o_orderkey")], offset=100, limit=50
    )
    return page.select("o_orderkey", "o_custkey", "o_totalprice")


def _q_pseudorandom_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: deterministic 'ORDER BY random()' via md5 ordering."""
    from fastdb_spark.operators.paginate import pseudorandom_sample

    orders = Catalog(spark, sf_dir).table("orders")
    return pseudorandom_sample(orders, "o_orderkey", 7, salt="s1").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def _q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: union + distinct of two dimension name sets."""
    cat = Catalog(spark, sf_dir)
    a = cat.table("part").select(F.col("p_brand").alias("val"))
    b = cat.table("customer").select(F.col("c_mktsegment").alias("val"))
    return a.unionByName(b).distinct()


def _q_values_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: batch PK fetch via a literal id-list join (reference get_batch
    JOIN (VALUES ...))."""
    orders = Catalog(spark, sf_dir).table("orders")
    keys = [1, 5, 7, 11, 19, 100]
    # Arrow local relation (r12): the pickled-list form ran a Python-RDD
    # job per broadcast build; same rows, same bigint schema
    ids = tiny_local_df(spark, [(k,) for k in keys], "o_orderkey bigint")
    # the isin prefilter is what reaches the parquet scan (PushedFilters:
    # In(o_orderkey)) — row-group stats skip everything else; the broadcast
    # join alone would scan the full table
    orders = orders.filter(F.col("o_orderkey").isin(keys))
    return orders.join(F.broadcast(ids), on="o_orderkey").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


def _q_object_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """object_search: keyword criteria over the objstats gold table."""
    from fastdb_spark.queries.search import object_search

    li = Catalog(spark, sf_dir).table("lineitem")
    stats = per_band_stats(
        ad.detections(li), tiebreak=["srcid", "psfflux", "psffluxerr"]
    )
    found = object_search(
        stats, ndets_min=2, band=["A", "R"], maxdetmjd_max=60090.0
    )
    return found.select(
        "rootid",
        "band",
        "ndets",
        F.round("maxdetflux", 6).alias("maxdetflux"),
        F.round("maxdetmjd", 6).alias("maxdetmjd"),
    )


def _q_latest_mag_per_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectrum-cycle argmax: newest detection magnitude per (root, band)."""
    from fastdb_spark.queries.spectrum import latest_mag_per_band

    li = Catalog(spark, sf_dir).table("lineitem")
    det = ad.detections(li)
    return latest_mag_per_band(det, mjd_now=60090.0)


# ---------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings tables)


def _q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counts, quality score, language-ID heuristic,
    content fingerprint — one projection pass."""
    from fastdb_spark.pipeline.textstats import doc_stats

    # the corpus parquet arrives as one split; spread the expression-heavy
    # projection across all cores (at 100 TB the scan has thousands of
    # splits and this repartition is unnecessary — file count bounds it)
    docs = Catalog(spark, sf_dir).table("documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return doc_stats(docs)


def _q_corpus_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped EXACT percentiles (interpolated) of corpus quality metrics
    per predicted language — the distribution-cut operator a curation
    pipeline thresholds against.  At scale swap percentile() for
    percentile_approx() (t-digest sketch, mergeable partials)."""
    from fastdb_spark.pipeline.textstats import doc_stats

    docs = Catalog(spark, sf_dir).table("documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    ds = doc_stats(docs)
    return ds.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.expr("percentile(n_tokens, 0.5)"), 6).alias("p50_tokens"),
        F.round(F.expr("percentile(n_tokens, 0.9)"), 6).alias("p90_tokens"),
        F.round(F.expr("percentile(n_tokens, 0.99)"), 6).alias("p99_tokens"),
        F.round(F.expr("percentile(quality, 0.5)"), 6).alias("p50_quality"),
    )


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5-fingerprint hash-groupBy over a corpus with planted
    verbatim duplicates."""
    from fastdb_spark.pipeline.corpus import exactdup_docs
    from fastdb_spark.pipeline.dedup import exact_dedup

    docs = Catalog(spark, sf_dir).table("documents")
    return exact_dedup(exactdup_docs(docs)).select(
        "fingerprint", "keep_id", "group_size"
    )


def _q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup: shingle -> signature -> band -> bucket-join
    -> exact-Jaccard refine."""
    from fastdb_spark.pipeline.corpus import neardup_docs
    from fastdb_spark.pipeline.dedup import minhash_lsh_pairs

    docs = Catalog(spark, sf_dir).table("documents")
    # the corpus arrives as 1-2 parquet splits; spread the md5-heavy
    # signature projection across all cores before sketching
    corpus = neardup_docs(docs).repartition(spark.sparkContext.defaultParallelism)
    return minhash_lsh_pairs(corpus)


def _q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 60-bit sketch -> band buckets -> hamming refine."""
    from fastdb_spark.pipeline.corpus import neardup_docs
    from fastdb_spark.pipeline.dedup import simhash_pairs

    docs = Catalog(spark, sf_dir).table("documents")
    corpus = neardup_docs(docs).repartition(spark.sparkContext.defaultParallelism)
    return simhash_pairs(corpus)


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-blocked char-n-gram Jaccard near-dup."""
    from fastdb_spark.pipeline.corpus import neardup_docs
    from fastdb_spark.pipeline.dedup import ngram_jaccard_pairs

    docs = Catalog(spark, sf_dir).table("documents")
    corpus = neardup_docs(docs).repartition(spark.sparkContext.defaultParallelism)
    return ngram_jaccard_pairs(corpus)


def _q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup (exact threshold self-join baseline)."""
    from fastdb_spark.pipeline.corpus import neardup_embs
    from fastdb_spark.pipeline.dedup import embedding_neardup_pairs

    embs = Catalog(spark, sf_dir).table("embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    return embedding_neardup_pairs(neardup_embs(embs))


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023): frozen-
    centroid assignment, within-cluster cosine epsilon graph (one Arrow
    GEMM per cluster — the production path), transitive closure, and
    the paper's farthest-from-centroid keeper election.  Corpus is the
    clustered derivation at spread 0.8 (within-cluster cosines straddle
    eps=0.92: ~370 groups of size 1-20 at sf0.01, with multi-hop chains
    that make the closure non-trivial); centroids are the 25 generating
    centers as frozen literals, so the oracle reproduces the quantizer
    exactly."""
    from fastdb_spark.pipeline.ann import _hyperplane
    from fastdb_spark.pipeline.corpus import clustered_embs
    from fastdb_spark.pipeline.semdedup import semantic_dedup

    embs = Catalog(spark, sf_dir).table("embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    corpus = clustered_embs(embs, spread=0.8)
    centroids = [_hyperplane(1000 + c, 64) for c in range(25)]
    # assign_strategy="expr" pinned BY NAME (the r10 default-flip
    # discipline, same as max_bucket_size=None on the media gates): the
    # gate hashes cos_c, where a last-ULP GEMM-vs-fold difference could
    # survive round 9; production callers get the gemm default.
    return semantic_dedup(
        corpus, centroids, eps=0.92, keep="farthest", strategy="gemm",
        assign_strategy="expr",
    )


def _q_semantic_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental semantic index (SemDeDup admission over the IVF
    layout — ONE embedding store serves ANN search and dedup) under the
    exact gate: build -> takedown -> upsert -> membership readback.

    - build admits the EVEN half of the clustered corpus (one-shot
      in-batch rule at eps=0.92, frozen literal centroids);
    - ``semantic_index_remove`` takes down ``vec_id % 10 == 0`` (all
      even — partition-pruned cluster rewrites);
    - the upsert admits the ODD half: vs-index eps-neighbor drops
      (against the post-takedown index — non-retroactive semantics:
      odd twins of removed evens must be ACCEPTED), then the one-shot
      in-batch rule among the survivors.

    The oracle (``oracles.semindex_sql``) replays assignment, both
    admission passes, and the takedown in SQL; one wrong drop anywhere
    flips the membership hash."""
    import shutil

    from fastdb_spark.pipeline.ann import _hyperplane
    from fastdb_spark.pipeline.corpus import clustered_embs
    from fastdb_spark.pipeline.incsem import (
        build_semantic_index,
        semantic_index_remove,
        semantic_index_upsert,
    )
    from fastdb_spark.pipeline.incdedup import _open

    embs = Catalog(spark, sf_dir).table("embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    corpus = clustered_embs(embs, spread=0.8)
    centroids = [_hyperplane(1000 + c, 64) for c in range(25)]
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    path = _scratch("fastdb_incsem_gate", tag)
    shutil.rmtree(path, ignore_errors=True)  # fresh index per adjudication
    # The semantic index assigns by the Arrow GEMM, its only assignment
    # kernel, so this gate is the driver-adjudicated parity evidence for
    # the production path.  Safe for an exact gate because the hash
    # covers membership only (vec_id, cluster) — no cosine value — and
    # the oracle's expression argmax picks the same clusters as the
    # GEMM (regression-tested in tests/test_incsem.py).
    build_semantic_index(
        corpus.filter("vec_id % 2 = 0"), path, eps=0.92,
        centroids=centroids,
    )
    semantic_index_remove(
        spark, embs.filter("vec_id % 10 = 0").select("vec_id"), path
    )
    semantic_index_upsert(corpus.filter("vec_id % 2 = 1"), path)
    return _open(spark, path, "vectors").select(
        "vec_id", F.col("cluster").cast("int").alias("cluster")
    )


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the vec_id=0 query vector."""
    from fastdb_spark.pipeline.ann import cosine_topk

    embs = Catalog(spark, sf_dir).table("embeddings")
    qvec = embs.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return cosine_topk(embs, list(qvec), k=10)


def _ann_corpus(spark: SparkSession, sf_dir: str):
    """The approximate-ANN gate corpus + query vector: the embeddings
    table with deterministic NEIGHBORHOOD STRUCTURE imposed
    (pipeline.corpus.clustered_embs).  On the driver's raw uniform-random
    vectors recall@10 is data-noise — there are no neighborhoods to
    recall — so every approximate gate measures against this clustered
    derivation instead, making the emitted recall a property of the
    index, not of the dice.  (ann_cosine_topk stays on the raw table: it
    is exact and oracle-hashed.)"""
    from fastdb_spark.pipeline.corpus import clustered_embs

    embs = clustered_embs(Catalog(spark, sf_dir).table("embeddings"))
    qvec = list(embs.filter(F.col("vec_id") == 0).select("embedding").head()[0])
    return embs, qvec


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-10 (the 100 TB scale path) — rows-only
    check: approximate by design, no exact SQL oracle; the achieved
    recall@10 vs the exact scan is emitted as a column."""
    from fastdb_spark.pipeline.ann import cosine_topk, lsh_bucketed_topk, with_recall

    embs, qvec = _ann_corpus(spark, sf_dir)
    appr = lsh_bucketed_topk(embs, qvec, k=10, multiprobe_bits=2)
    return with_recall(appr, cosine_topk(embs, qvec, k=10), k=10)


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-indexed approximate top-10 (coarse-quantizer scale path) —
    rows-only check: approximate by design, no exact SQL oracle."""
    from fastdb_spark.pipeline.ann import cosine_topk, ivf_topk, with_recall

    embs, qvec = _ann_corpus(spark, sf_dir)
    appr = ivf_topk(embs, qvec, k=10, n_clusters=8, nprobe=2)
    return with_recall(appr, cosine_topk(embs, qvec, k=10), k=10)


_IVF_WRITTEN: set = set()

#: Gates that build a PERSISTED train-once index on their first run in a
#: process and probe it on later runs (the ``_IVF_WRITTEN`` memo above):
#: under min-of-N timing their min measures the DECLARED probe-against-
#: persisted-index semantics (build amortized away), not a rebuild.  No
#: state crosses processes — a fresh run starts with an empty memo and
#: rebuilds — but bench.py names these in its payload as ``probe_only``
#: so the timing contract is explicit in the artifact (VERDICT r12 #5).
PERSISTED_INDEX_GATES = (
    "ann_exhaustive_exact",
    "ann_ivf_index",
    "ann_ivfpq_batch",
    "ann_ivfpq_res_topk",
    "ann_ivfpq_topk",
)


def _q_ann_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe against the PERSISTED train-once index (build_ivf_index):
    centroids ranked on the driver from a KB-sized table, then only the
    nprobe nearest cluster partitions are read (PartitionFilters prune
    before file IO) — rows-only check, approximate by design."""
    import os
    import tempfile

    from fastdb_spark.pipeline.ann import (
        build_ivf_index,
        cosine_topk,
        ivf_search_index,
        with_recall,
    )

    embs, qvec = _ann_corpus(spark, sf_dir)
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = _scratch(f"fastdb_ivf_c_{tag}")
    if path not in _IVF_WRITTEN:
        build_ivf_index(embs, path, n_clusters=8, strategy="seed")
        _IVF_WRITTEN.add(path)
    appr = ivf_search_index(spark, path, qvec, k=10, nprobe=2)
    return with_recall(appr, cosine_topk(embs, qvec, k=10), k=10)


def _q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (ADC expression scan + exact rerank) —
    rows-only: approximate by design; recall@10 emitted as a column."""
    from fastdb_spark.pipeline.ann import (
        cosine_topk,
        encode_pq,
        pq_topk,
        train_pq,
        with_recall,
    )

    embs, qvec = _ann_corpus(spark, sf_dir)
    books = train_pq(embs, m=8, k=16)
    enc = encode_pq(embs, books)
    appr = pq_topk(enc, books, qvec, k=10, rerank=50, embeddings=embs)
    return with_recall(appr, cosine_topk(embs, qvec, k=10), k=10)


def _q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ against the PERSISTED index (build_ivf_index(pq_m=8)):
    codebooks + pq_code + cluster layout are stored, so the query path
    runs ZERO training jobs — driver reads two KB-sized tables, the ADC
    scan touches nprobe partition directories, exact rerank on the top
    candidates.  Rows-only, recall@10 emitted."""
    import os
    import tempfile

    from fastdb_spark.pipeline.ann import (
        build_ivf_index,
        cosine_topk,
        ivfpq_search_index,
        with_recall,
    )

    embs, qvec = _ann_corpus(spark, sf_dir)
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = _scratch(f"fastdb_ivfpq_{tag}")
    if path not in _IVF_WRITTEN:
        build_ivf_index(
            embs, path, n_clusters=8, strategy="seed",
            pq_m=8, pq_k=16, pq_residual=False,
        )
        _IVF_WRITTEN.add(path)
    appr = ivfpq_search_index(spark, path, qvec, k=10, nprobe=3, rerank=50)
    return with_recall(appr, cosine_topk(embs, qvec, k=10), k=10)


def _q_ann_ivfpq_res(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ against the PERSISTED index (the FAISS composition:
    q·c cluster offset + shared residual codebooks, all stored) — zero
    training jobs at query time.  Rows-only, recall@10 emitted."""
    import os
    import tempfile

    from fastdb_spark.pipeline.ann import (
        build_ivf_index,
        cosine_topk,
        ivfpq_search_index,
        with_recall,
    )

    embs, qvec = _ann_corpus(spark, sf_dir)
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = _scratch(f"fastdb_ivfpq_res_{tag}")
    if path not in _IVF_WRITTEN:
        build_ivf_index(
            embs, path, n_clusters=8, strategy="seed",
            pq_m=8, pq_k=16, pq_residual=True,
        )
        _IVF_WRITTEN.add(path)
    appr = ivfpq_search_index(spark, path, qvec, k=10, nprobe=3, rerank=50)
    return with_recall(appr, cosine_topk(embs, qvec, k=10), k=10)


def _q_ann_ivfpq_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED probe against the persisted IVF-PQ index
    (``ivfpq_search_index_many`` — born r11): the WHOLE query batch
    rides ONE pass over the union of probed cluster partitions, each
    query's ADC LUT and q·c offset broadcast as rows of a probe table —
    the query-service shape (a retrieval endpoint scores a request
    batch per scan, not per query).  Exact oracle via the r11 replay
    construction (pipeline/oracles.py:ann_ivfpq_batch_oracle_sql).
    Reference parity: the reference's random-sample/batched lookup
    endpoints (src/db.py VALUES-join idiom) applied to vector search."""
    import os

    from fastdb_spark.pipeline.ann import (
        build_ivf_index,
        ivfpq_search_index_many,
    )

    embs, _ = _ann_corpus(spark, sf_dir)
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = _scratch(f"fastdb_ivfpq_{tag}")
    if path not in _IVF_WRITTEN:
        build_ivf_index(
            embs, path, n_clusters=8, strategy="seed",
            pq_m=8, pq_k=16, pq_residual=False,
        )
        _IVF_WRITTEN.add(path)
    qrows = (
        embs.filter(F.col("vec_id") < 5)
        .select("vec_id", "embedding")
        .collect()
    )
    queries_map = {str(r["vec_id"]): list(r["embedding"]) for r in qrows}
    return ivfpq_search_index_many(
        spark, path, queries_map, k=5, nprobe=3, rerank=50
    )


def _q_ann_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive-parameter adjudication of every approximate-ANN code
    path (VERDICT r6 #2): each variant is configured so its candidate
    set provably covers the WHOLE corpus — LSH multiprobe flips all 8
    planes (probes every bucket), IVF probes nprobe = n_clusters, PQ /
    IVF-PQ rerank >= corpus size — so each output must EQUAL the exact
    clustered-corpus top-10, and the union is hash-adjudicated against
    the exact SQL oracle.  This drives the same index/probe code as the
    recall-emitting approximate gates (which stay registered alongside);
    the exhaustive configuration is an adjudication harness, not the
    scale path."""
    import os

    from fastdb_spark.pipeline.ann import (
        build_ivf_index,
        encode_pq,
        ivf_search_index,
        ivf_topk,
        ivfpq_search_index,
        lsh_bucketed_topk,
        pq_topk,
        train_pq,
    )

    embs, qvec = _ann_corpus(spark, sf_dir)
    n = embs.count()
    tag = os.path.basename(os.path.normpath(sf_dir))

    ivf_path = _scratch(f"fastdb_ivf_c_{tag}")
    pq_path = _scratch(f"fastdb_ivfpq_{tag}")
    res_path = _scratch(f"fastdb_ivfpq_res_{tag}")

    def _build(spec) -> None:
        bpath, kwargs = spec
        if bpath not in _IVF_WRITTEN:
            build_ivf_index(embs, bpath, n_clusters=8, strategy="seed", **kwargs)
            _IVF_WRITTEN.add(bpath)

    # three independent index builds against disjoint paths — overlap
    # them (guide §2.6) instead of the r11 serial sequence; contents
    # are unchanged
    from fastdb_spark.parallel import run_independent_jobs

    run_independent_jobs(
        _build,
        [
            (ivf_path, {}),
            (pq_path, {"pq_m": 8, "pq_k": 16, "pq_residual": False}),
            (res_path, {"pq_m": 8, "pq_k": 16, "pq_residual": True}),
        ],
        max_workers=3,
    )

    books = train_pq(embs, m=8, k=16)
    enc = encode_pq(embs, books)
    variants = {
        "lsh_allbuckets": lsh_bucketed_topk(
            embs, qvec, k=10, multiprobe_bits=8
        ),
        "ivf_allprobes": ivf_topk(
            embs, qvec, k=10, n_clusters=8, nprobe=8
        ),
        "ivf_index_allprobes": ivf_search_index(
            spark, ivf_path, qvec, k=10, nprobe=8
        ),
        "pq_rerank_all": pq_topk(
            enc, books, qvec, k=10, rerank=n, embeddings=embs
        ),
        "ivfpq_allprobes": ivfpq_search_index(
            spark, pq_path, qvec, k=10, nprobe=8, rerank=n
        ),
        "ivfpq_res_allprobes": ivfpq_search_index(
            spark, res_path, qvec, k=10, nprobe=8, rerank=n
        ),
    }
    out = None
    for name, df in variants.items():
        tagged = df.select(
            F.lit(name).alias("method"), F.col("vec_id"), F.col("cos")
        )
        out = tagged if out is None else out.unionByName(tagged)
    return out


def _q_ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 neighbors for a BATCH of 5 query vectors in ONE corpus
    pass (``cosine_topk_many``) — the shape a training pipeline actually
    runs (dedup a shard against anchors, mine hard negatives for a whole
    batch).  The query set broadcasts; per-query top-k is a rank window
    whose state is k rows per query.  Exact -> full SQL oracle."""
    from fastdb_spark.pipeline.ann import cosine_topk_many

    embs = Catalog(spark, sf_dir).table("embeddings")
    queries_df = embs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return cosine_topk_many(embs, queries_df, k=5)


#: method labels of _q_ann_exhaustive, shared with its oracle
_ANN_EXHAUSTIVE_METHODS = [
    "lsh_allbuckets",
    "ivf_allprobes",
    "ivf_index_allprobes",
    "pq_rerank_all",
    "ivfpq_allprobes",
    "ivfpq_res_allprobes",
]


def _q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (Rabin-Karp
    shape) next to the md5 content fingerprint."""
    from fastdb_spark.functions.text import doc_fingerprint, rolling_fingerprint

    docs = Catalog(spark, sf_dir).table("documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        rolling_fingerprint(t).alias("rolling_fp"),
        doc_fingerprint(t).alias("md5_fp"),
    )


def _q_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional corpus accounting: ROLLUP(lang, source) doc and
    char totals with grouping indicators — the partial-aggregation
    hierarchy (lang,source) -> (lang) -> () computed in ONE pass (Spark
    expands grouping sets before the exchange; map-side combine still
    applies).  Beyond the reference (it has no grouping sets at all)."""
    docs = Catalog(spark, sf_dir).table("documents")
    return (
        docs.rollup("lang", "source")
        .agg(
            F.grouping("lang").cast("int").alias("g_lang"),
            F.grouping("source").cast("int").alias("g_source"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select("lang", "source", "g_lang", "g_source", "n_docs", "total_chars")
    )


def _q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary stats: top-100 tokens by occurrence with document
    frequency — explode -> one hash aggregate (map-side combined) ->
    TakeOrdered; the tokenizer-side companion to doc_stats."""
    from fastdb_spark.functions.text import tokens

    docs = Catalog(spark, sf_dir).table("documents")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.count_distinct(F.col("doc_id")).alias("doc_freq"),
    )
    return counts.orderBy(F.desc("n_occ"), "tok").limit(100)


def _q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over a corpus with planted emails/IPs/account numbers
    (derived deterministically from doc_id so both engines build the same
    input): regexp_replace chain, no UDF."""
    from fastdb_spark.functions.text import redact_pii

    docs = Catalog(spark, sf_dir).table("documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 acct 900"),
            (F.col("doc_id") + 1000000).cast("string"),
        ).alias("text"),
    )
    return planted.select(
        "doc_id",
        redact_pii(F.col("text")).alias("clean"),
        F.length(redact_pii(F.col("text"))).alias("clean_len"),
    )


_SAMPLE_FRACTIONS = {"en": 0.3, "zh": 0.9, "es": 0.5}


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dataset-mixing downsample: per-language keep rates
    via the md5-hash uniform (pipeline/sample.py) — a scan-stage filter,
    reproducible across engines and runs (no RNG state)."""
    from fastdb_spark.pipeline.sample import hash_stratified_sample

    docs = Catalog(spark, sf_dir).table("documents")
    kept = hash_stratified_sample(
        docs,
        "lang",
        _SAMPLE_FRACTIONS,
        id_col="doc_id",
        salt="mix1",
        default_fraction=0.1,
    )
    return kept.select("doc_id", "lang", "source", "n_chars")


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing under the exact-correctness gate: documents'
    utf-8 bytes stand in as opaque binary payloads with typed metadata;
    feature extraction runs through the REAL Arrow mapInPandas path
    (pipeline/multimodal.py) with the deterministic md5 fake decoder,
    whose outputs duckdb reproduces bit-for-bit from md5 hex.  Features
    posexploded to scalar rows for the hash compare."""
    from fastdb_spark.pipeline.multimodal import extract_features

    docs = Catalog(spark, sf_dir).table("documents")
    m3 = F.col("doc_id") % 3
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(m3 == 0, "image")
        .when(m3 == 1, "audio")
        .otherwise("video")
        .alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    feats = extract_features(media, n_features=8)
    return feats.select(
        "media_id",
        "modality",
        "n_bytes",
        F.col("sha").alias("first_byte"),
        F.posexplode(F.transform(F.col("feat"), lambda x: F.round(x, 6))).alias(
            "pos", "feat_val"
        ),
    )


def _q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation pipeline: quality gate -> exact dedup -> minhash
    near-dedup."""
    from fastdb_spark.pipeline.corpus import curate_docs
    from fastdb_spark.pipeline.curate import curate_corpus

    docs = Catalog(spark, sf_dir).table("documents")
    corpus = curate_docs(docs).repartition(spark.sparkContext.defaultParallelism)
    return curate_corpus(corpus)


def _q_stream_windowed_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming under the exact-correctness gate: the events
    table is consumed as a FILE STREAM (readStream + availableNow) through
    the real watermarked tumbling-window operator
    (streaming/metrics.windowed_alert_rates), drained to a memory sink,
    and the final window rows are compared against a plain GROUP BY
    oracle — stream-vs-batch equivalence, the Dataflow-model invariant."""
    import tempfile
    import uuid as _uuid

    from fastdb_spark.streaming.metrics import windowed_alert_rates

    # match the stream schema to however this testdata writes ts (NANOS ->
    # legacy long; MICROS isAdjustedToUTC=false -> timestamp_ntz; else ltz).
    # The conf must hold until the stream drains (the file source reads
    # under the session conf snapshot taken at start), so restore it in
    # the finally below — a bare set would leak into every later query in
    # this session and silently turn other nanos-timestamp reads into
    # bigint (same pattern as the failAmbiguousSelfJoin gate in
    # pipeline/dedup.py).
    _NANOS_KEY = "spark.sql.legacy.parquet.nanosAsLong"
    _prior_nanos = spark.conf.get(_NANOS_KEY, None)
    spark.conf.set(_NANOS_KEY, "true")
    try:
        return _stream_windowed_rates_body(spark, sf_dir)
    finally:
        if _prior_nanos is None:
            spark.conf.unset(_NANOS_KEY)
        else:
            spark.conf.set(_NANOS_KEY, _prior_nanos)


def _stream_windowed_rates_body(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid as _uuid

    from fastdb_spark.streaming.metrics import windowed_alert_rates

    raw_ts = dict(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet")).dtypes
    )["ts"]
    schema = (
        f"event_id long, ts {raw_ts}, user_id long, event_type string, "
        "value double, props string"
    )
    # the file-stream source wants a directory; glob-filter to the events
    # table inside the sf dir (works for both file- and dir-shaped tables)
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if raw_ts == "bigint":
        ev = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        ev = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    rates = windowed_alert_rates(
        ev,
        time_col="ts",
        band_col="event_type",
        flux_col="value",
        window="1 hour",
        watermark="30 minutes",
        # exact-hash gate: integral-double quantized mean is accumulation-
        # order-deterministic (see windowed_alert_rates docstring)
        quantize_scale=1e6,
    )
    qname = f"stream_rates_{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="fastdb_stream_gate_")
    q = (
        rates.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(300)
    if not finished:
        q.stop()
        raise TimeoutError("stream_windowed_rates did not drain in 300s")
    import shutil

    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(qname).select(
        F.unix_micros("window_start").alias("win_start_us"),
        "event_type",
        "n_alerts",
        "mean_flux",
        "max_flux",
    )


def _q_sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: raw user SQL over registered views (same ANSI text runs on
    both engines)."""
    Catalog(spark, sf_dir).register_views()
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               round(avg(o_totalprice), 4) AS avg_price
        FROM orders
        WHERE o_orderstatus = 'O'
        GROUP BY o_orderpriority
        """
    )


def _q_alert_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/J9/X3: per-detection alert reconstruction with prv-history
    arrays (nested output -> rows-only check; scalar probes of the nested
    arrays are what the driver hashes)."""
    from fastdb_spark.queries.reconstruct import reconstruct_alerts

    # the testdata table is one parquet split; spreading it parallelizes
    # the tagged-history range join and the conditional collect aggregate
    # (at deployment the multi-file layout provides the splits natively)
    li = Catalog(spark, sf_dir).table("lineitem").repartition(
        spark.sparkContext.defaultParallelism
    )
    # stage the wrangled photometry ONCE: four plan branches consume it
    # (the probe, BOTH legs of the tagged-history union, and the objects
    # aggregate) — unstaged, each branch re-scanned and re-shuffled the
    # table (4.8 -> 3.7 s min-of-3 at sf0.1, rows identical; r12,
    # guide §5 "reused and recomputing is more expensive")
    from fastdb_spark.cachereg import stage

    phot = stage(ad.photometry(li))
    # the adapter's detections predicate verbatim (ADVICE r12: a
    # re-inlined literal would silently diverge if the definition moves)
    det = phot.filter(
        ad.DETECTIONS_PRED_SQL
    ).withColumnRenamed("srcid", "diasourceid").withColumnRenamed(
        "rootid", "diaobjectid"
    )
    hist = phot.withColumnRenamed("srcid", "diasourceid").withColumnRenamed(
        "rootid", "diaobjectid"
    ).withColumn("diaforcedsourceid", F.col("diasourceid"))
    objects = (
        phot.groupBy(F.col("rootid").alias("diaobjectid"))
        .agg(F.min("ra").alias("ra"), F.min("dec").alias("dec"))
    )
    alerts = reconstruct_alerts(
        det.filter(F.col("midpointmjdtai") >= 60090.0),
        hist,
        hist,
        objects,
    )
    return alerts.select(
        "alertId",
        F.col("diaSource.diaObjectId").alias("objid"),
        F.size("prvDiaSources").cast("long").alias("n_prv"),
        F.size("prvDiaForcedSources").cast("long").alias("n_prv_forced"),
        F.col("diaObject.ra").alias("ra"),
    )


def _q_asof_latest_forced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (J9 family): for each detection, the latest forced point
    more than 0.95 days older — the "last pre-discovery limit" query.
    Deterministic ties via srcid; NULLs where no earlier forced exists."""
    from fastdb_spark.operators.rangejoin import asof_latest

    li = Catalog(spark, sf_dir).table("lineitem")
    det = ad.detections(li).select(
        "rootid", "visit", "srcid", "midpointmjdtai"
    )
    frc = ad.forced(li).select(
        "rootid", F.col("srcid").alias("fsrcid"), "midpointmjdtai", "psfflux"
    )
    out = asof_latest(
        det,
        frc,
        key="rootid",
        time_col="midpointmjdtai",
        payload_cols=["fsrcid", "midpointmjdtai", "psfflux"],
        gap=0.95,
        tiebreak=["fsrcid"],
    )
    return out.select(
        "rootid",
        "visit",
        "srcid",
        F.round("midpointmjdtai", 6).alias("mjd"),
        F.col("prev_fsrcid").alias("prev_srcid"),
        F.round("prev_midpointmjdtai", 6).alias("prev_mjd"),
        F.round("prev_psfflux", 6).alias("prev_flux"),
    )


def _q_broker_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broker classification lookup (reference ltcvapp.py:280-329) through
    the operator ``FastdbAPI.get_broker_info`` runs: restrict messages to
    an id set, then ``versions.versioned`` restricts them to a processing
    version's mapped base versions (unmapped bpv0 drops out) and keeps the
    highest-priority message per (source, broker, topic), ``msgid``
    breaking ties; extract a typed field from the JSON info payload
    (F9)."""
    li = Catalog(spark, sf_dir).table("lineitem")
    bi = ad.brokerinfo(li).filter(F.col("diasourceid") % 50 == 0)
    out = versioned(
        bi,
        {"bpv1": 1, "bpv2": 2},
        keys=("diasourceid", "brokername", "topic"),
        extra_order=("msgid",),
    )
    return out.select(
        "diasourceid",
        "brokername",
        "topic",
        "info",
        F.get_json_object(F.col("info"), "$.classId").cast("int").alias("classid"),
    )


def _q_skewed_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation over a skewed grouping key (5 hot
    event types across all events)."""
    from fastdb_spark.operators.skew import salted_sum_count

    ev = Catalog(spark, sf_dir).table("events").select("event_type", "value")
    out = salted_sum_count(ev, ["event_type"], "value")
    return out.select(
        "event_type",
        F.round("sum_value", 4).alias("sum_value"),
        "n",
        F.round("avg_value", 6).alias("avg_value"),
    )


def _q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: JSON field extraction from the events props column."""
    ev = Catalog(spark, sf_dir).table("events")
    return ev.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("k"),
    )


def _q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters: minhash-LSH candidate pairs closed
    under connectivity by the large-star/small-star map-reduce CC
    algorithm (pipeline/cluster.py) — one label per transitive group even
    when the endpoints never shared an LSH bucket."""
    from fastdb_spark.pipeline.cluster import dup_cluster_labels
    from fastdb_spark.pipeline.corpus import neardup_docs
    from fastdb_spark.pipeline.dedup import minhash_lsh_pairs

    docs = Catalog(spark, sf_dir).table("documents")
    corpus = neardup_docs(docs).repartition(spark.sparkContext.defaultParallelism)
    return dup_cluster_labels(minhash_lsh_pairs(corpus)).select(
        "doc_id", "cluster_id", "cluster_size", "is_keeper"
    )


def _q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: top word/bigram coverage
    and duplicate-trigram fraction per document, as integral ppm."""
    from fastdb_spark.pipeline.textstats import repetition_stats

    docs = Catalog(spark, sf_dir).table("documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return repetition_stats(docs)


def _q_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity per document (CCNet-style fluency signal):
    LM trained on the corpus itself, broadcast back over the token
    stream; mean log-prob via the ordered canonical fold, quantized."""
    from fastdb_spark.pipeline.lm import doc_perplexity

    docs = Catalog(spark, sf_dir).table("documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return doc_perplexity(docs)


def _q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-span detection (token-level dedup signal): md5 of
    every 16-token window, hash-grouped; spans shared by >= 2 distinct
    documents of the planted exact-dup corpus surface with their doc-id
    lists."""
    from fastdb_spark.pipeline.corpus import exactdup_docs
    from fastdb_spark.pipeline.spans import duplicate_spans

    docs = Catalog(spark, sf_dir).table("documents")
    corpus = exactdup_docs(docs).repartition(
        spark.sparkContext.defaultParallelism
    )
    return duplicate_spans(corpus, n=16, min_docs=2)


def _q_doc_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram stupid-backoff perplexity (Brants et al.): seen transitions
    score cnt(w1 w2)/cnt(w1), unseen back off to the smoothed unigram —
    the stronger fluency cut a real curation pipeline thresholds on."""
    from fastdb_spark.pipeline.lm import doc_perplexity_bigram

    docs = Catalog(spark, sf_dir).table("documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return doc_perplexity_bigram(docs)


#: domain-mix targets: rebalance the lang-skewed corpus (en is ~40%)
#: toward an even five-way mixture at half the corpus budget
_MIX_SHARES = {"de": 0.2, "en": 0.2, "es": 0.2, "fr": 0.2, "zh": 0.2}
_MIX_BUDGET = 0.5


def _q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixing sampler: per-language keep rates derived from the
    corpus counts so the kept set approaches an even language mixture."""
    from fastdb_spark.pipeline.sample import domain_mix_sample

    docs = Catalog(spark, sf_dir).table("documents").select(
        "doc_id", "lang", "source"
    )
    out = domain_mix_sample(
        docs, "lang", _MIX_SHARES, _MIX_BUDGET, "doc_id", salt="mix2"
    )
    return out.select("doc_id", "lang", "source")


#: epoch-mix recipe (fractional epochs per stratum, the public mixing
#: convention): rare, high-value langs repeat >1 epoch, the bulk lang
#: subsamples below one, and one lang sits exactly at 1.0 (the identity
#: leg) — together they cover every branch of the copy-count arithmetic
_EPOCH_MIX = {"de": 2.4, "zh": 1.5, "fr": 1.0, "es": 0.75, "en": 0.3}


def _q_epoch_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsampling materializer (`epoch_mix_materialize`): each doc emits
    floor(e) copies plus a Bernoulli(frac(e)) extra, with an explicit
    0-based ``epoch`` copy index; strata follow _EPOCH_MIX.  Zero-shuffle
    scan-stage plan (broadcast map literal + explode(sequence))."""
    from fastdb_spark.pipeline.sample import epoch_mix_materialize

    docs = Catalog(spark, sf_dir).table("documents").select(
        "doc_id", "lang", "source"
    )
    out = epoch_mix_materialize(docs, "lang", _EPOCH_MIX, "doc_id", salt="em6")
    return out.select("doc_id", "lang", "source", "epoch")


def _split_oracle() -> str:
    from fastdb_spark.pipeline.corpus import EXACTDUP_DOCS_SQL
    from fastdb_spark.pipeline.sample import split_oracle_sql

    return (
        f"WITH corpus AS ({EXACTDUP_DOCS_SQL}) "
        + split_oracle_sql(
            "corpus",
            _SPLIT_WEIGHTS,
            group_sql="md5(regexp_replace(trim(text), ' +', ' ', 'g'))",
            select_cols="doc_id",
        )
    )


def _pack_oracle() -> str:
    from fastdb_spark.pipeline.packing import pack_oracle_sql

    return pack_oracle_sql(seq_len=2048)


def _perplexity_oracle() -> str:
    from fastdb_spark.pipeline.lm import perplexity_oracle_sql

    return perplexity_oracle_sql()


def _bigram_perplexity_oracle() -> str:
    from fastdb_spark.pipeline.lm import bigram_perplexity_oracle_sql

    return bigram_perplexity_oracle_sql()


def _spans_oracle() -> str:
    from fastdb_spark.pipeline.corpus import EXACTDUP_DOCS_SQL
    from fastdb_spark.pipeline.spans import duplicate_spans_oracle_sql

    return duplicate_spans_oracle_sql(
        n=16, min_docs=2, table=f"({EXACTDUP_DOCS_SQL})"
    )


def _pack_manifest_oracle() -> str:
    from fastdb_spark.pipeline.packing import pack_manifest_oracle_sql

    return pack_manifest_oracle_sql(seq_len=2048)


def _pack_materialize_oracle() -> str:
    from fastdb_spark.pipeline.packing import materialize_packed_oracle_sql

    return materialize_packed_oracle_sql(seq_len=2048)


def _decontam_oracle() -> str:
    from fastdb_spark.pipeline.decontam import contamination_oracle_sql

    return contamination_oracle_sql(n=8, eval_pred=_DECONTAM_EVAL_PRED)


def _bm25_oracle() -> str:
    from fastdb_spark.pipeline.retrieval import bm25_oracle_sql

    return bm25_oracle_sql(_BM25_QUERY, k=10)


def _po_hybrid_oracle() -> str:
    from fastdb_spark.pipeline.retrieval import hybrid_oracle_sql

    return hybrid_oracle_sql(_BM25_QUERY, query_vec_id=0, k=10, pool=50)


def _po_expansion_oracle() -> str:
    from fastdb_spark.pipeline.retrieval import expansion_oracle_sql

    return expansion_oracle_sql(_BM25_QUERY, fb_docs=10, fb_terms=5, k=10)


def _po_hybrid_many_oracle() -> str:
    from fastdb_spark.pipeline.retrieval import hybrid_many_oracle_sql

    return hybrid_many_oracle_sql(
        {qid: (terms, vid) for qid, (terms, vid) in _HYBRID_BATCH.items()},
        k=10,
        pool=50,
    )


#: fixed query log for the batched hybrid gate: four bag-of-words
#: queries over distinct mid-frequency corpus terms, each paired with a
#: corpus query vector (vec_id 0-3).  q0 repeats the single-query gate's
#: exact (terms, vector) so the batch provably contains it.
_HYBRID_BATCH = {
    "q0": (["vector", "merge", "filter"], 0),
    "q1": (["stream", "window", "batch"], 1),
    "q2": (["hash", "join", "key"], 2),
    "q3": (["sort", "scan", "table"], 3),
}


#: deterministic pseudo-benchmark split for the decontamination gate:
#: every 7th doc plays the role of a held-out eval set (wide enough that
#: the corpus's planted near-duplicates produce real 8-gram overlaps)
_DECONTAM_EVAL_PRED = "doc_id % 7 = 0"

#: fixed bag-of-words query for the BM25 gate (mid-frequency corpus terms)
_BM25_QUERY = ["vector", "merge", "filter"]


#: leakage-safe split shares for the gate query
_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


def _q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-consistent train/val/test assignment over the planted-
    duplicate corpus: the uniform hashes the content fingerprint, so
    byte-identical documents always share a split (no eval leakage)."""
    from fastdb_spark.pipeline.corpus import exactdup_docs
    from fastdb_spark.pipeline.sample import leakage_safe_split

    docs = exactdup_docs(Catalog(spark, sf_dir).table("documents"))
    return leakage_safe_split(docs, _SPLIT_WEIGHTS).select("doc_id", "split")


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing ledger at 2048 tokens: global
    token cumsum via range shuffle + partition-local windows + broadcast
    base offsets (no single-task global window)."""
    from fastdb_spark.pipeline.packing import pack_sequences

    docs = Catalog(spark, sf_dir).table("documents")
    return pack_sequences(docs, seq_len=2048)


def _q_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence packing manifest (the training-loader view): one row
    per (sequence, doc slice), tiling every sequence exactly."""
    from fastdb_spark.pipeline.packing import pack_manifest

    docs = Catalog(spark, sf_dir).table("documents")
    return pack_manifest(docs, seq_len=2048)


def _q_pack_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized packed sequences — the actual training artifact: each
    row is one seq_len-token sequence assembled from its manifest slices
    (space-joined token text, hash-exact across engines)."""
    from fastdb_spark.pipeline.packing import materialize_packed

    docs = Catalog(spark, sf_dir).table("documents")
    return materialize_packed(docs, seq_len=2048)


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any distinct word
    8-gram with the eval split, with distinct-hit counts (flag ledger).
    Eval-gram set broadcasts; the corpus is matched in one scan pass."""
    from fastdb_spark.pipeline.decontam import contamination

    docs = Catalog(spark, sf_dir).table("documents")
    ev = docs.filter(F.expr(_DECONTAM_EVAL_PRED))
    tr = docs.filter(~F.expr(_DECONTAM_EVAL_PRED))
    return contamination(tr, ev, n=8)


def _q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 ranked retrieval for a fixed 3-term query (Lucene idf,
    k1=1.2 b=0.75); scores floor-quantized to 1e-4 for cross-engine
    hashing, ties broken by doc_id."""
    from fastdb_spark.pipeline.retrieval import bm25_topk

    docs = Catalog(spark, sf_dir).table("documents")
    return bm25_topk(docs, _BM25_QUERY, k=10)


def _q_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback retrieval (born r12): BM25 top-10 pool
    for the fixed 3-term query -> RM1 relevance-model expansion terms
    (uniform-weight tf/dl mass over the pool, Lavrenko & Croft 2001,
    top-5) -> one final BM25 pass over original+expansion.  Two corpus
    scans; the expansion list crosses the driver as <= 5 strings.
    Exact oracle: retrieval.expansion_oracle_sql (fully in-SQL — the
    final leg joins a computed term CTE instead of the engine's literal
    list; same idf, same ordered-fold, same quantizations)."""
    from fastdb_spark.pipeline.retrieval import bm25_topk_expanded

    docs = Catalog(spark, sf_dir).table("documents")
    return bm25_topk_expanded(
        docs, _BM25_QUERY, fb_docs=10, fb_terms=5, k=10
    )


def _q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval via reciprocal-rank fusion
    (born r11): the BM25 top-50 for the fixed 3-term query fused with
    the cosine top-50 for the vec_id=0 query vector by
    sum 1/(60+rank) — the hard-negative-mining / contrastive-labeling
    shape.  Exact oracle: retrieval.hybrid_oracle_sql (same pools, same
    rank windows, same fusion arithmetic).  At sf0.1 documents (5000)
    outnumber embeddings (2000), so lexical-only docs exercise the
    one-sided RRF path."""
    from fastdb_spark.pipeline.retrieval import hybrid_topk_rrf

    docs = Catalog(spark, sf_dir).table("documents")
    embs = Catalog(spark, sf_dir).table("embeddings")
    qvec = list(
        embs.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    )
    return hybrid_topk_rrf(docs, embs, _BM25_QUERY, qvec, k=10, pool=50)


def _q_hybrid_search_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched hybrid retrieval (born r12; VERDICT r11 #3): the fixed
    four-query log ``_HYBRID_BATCH`` fused lexical+semantic in TWO
    corpus passes total — one ``bm25_topk_many`` pass (union-of-terms
    in-array filter, shared tf/df) and one ``cosine_topk_many`` pass
    (broadcast query-vector batch) — then per-query rank windows and
    RRF on <= 2*pool*|Q| rows.  The query-log labeling shape a
    training-data pipeline runs nightly.  Exact oracle:
    ``retrieval.hybrid_many_oracle_sql`` (the adjudicated single-query
    oracle per query, UNION ALL); q0 is the single gate's exact
    (terms, vector), so the batch provably contains the r11-adjudicated
    result as one of its groups."""
    from fastdb_spark.pipeline.retrieval import hybrid_topk_rrf_many

    docs = Catalog(spark, sf_dir).table("documents")
    embs = Catalog(spark, sf_dir).table("embeddings")
    vids = {vid: qid for qid, (_t, vid) in _HYBRID_BATCH.items()}
    vecs = {
        vids[r["vec_id"]]: list(r["embedding"])
        for r in embs.filter(
            F.col("vec_id").isin(list(vids))
        ).collect()
    }
    qs = {
        qid: (terms, vecs[qid]) for qid, (terms, _vid) in _HYBRID_BATCH.items()
    }
    return hybrid_topk_rrf_many(docs, embs, qs, k=10, pool=50)


def _q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-BPE encoding with a fixed merge table, adjudicated EXACTLY:
    the real Arrow-batched greedy-merge encoder vs a duckdb chained-
    replace twin over a double-separator framing whose boundary-safety is
    proved in ``pipeline/tokenizer.py`` (encoded-string md5 + token
    count per document)."""
    from fastdb_spark.pipeline.tokenizer import FIXED_MERGES, encoded_flat

    docs = Catalog(spark, sf_dir).table("documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    flat = encoded_flat(docs, FIXED_MERGES)
    return flat.select(
        "doc_id",
        F.md5(F.col("encoded")).alias("enc_md5"),
        "n_bpe_tokens",
    )


def _q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training: ONE corpus pass builds the word-type
    histogram (map-side combined), the merge loop runs on that bounded
    histogram — returns the learned merge table (rank, left, right).
    The iterative argmax has no tractable hand-written SQL twin, but the
    oracle is EXACT anyway (VERDICT r6 #5): an independent pure-Python
    occurrence trainer (the tests/test_tokenizer_shards.py reference
    algorithm) over a duckdb-computed histogram of the same corpus emits
    a literal-VALUES oracle at gate-build time."""
    from fastdb_spark.pipeline.tokenizer import merges_df, train_bpe

    docs = Catalog(spark, sf_dir).table("documents")
    merges = train_bpe(docs, n_merges=64)
    return merges_df(spark, merges)


def _q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into 8 fixed shards (training-data
    last mile): shard = md5-prefix mod n (scan-stage), pos = hash-order
    rank within the shard (the one exchange a sharded write needs)."""
    from fastdb_spark.pipeline.shards import shuffle_to_shards

    docs = Catalog(spark, sf_dir).table("documents").select("doc_id", "lang")
    return shuffle_to_shards(docs, 8, salt="shard1")


_TB_BUDGETS = {"en": 4000, "fr": 1500, "de": 1000}


def _q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-budget selection: docs taken in deterministic
    hash order until each language's whitespace-token budget fills;
    conservative cut (never exceeds the budget)."""
    from fastdb_spark.pipeline.shards import token_budget_select

    docs = Catalog(spark, sf_dir).table("documents")
    out = token_budget_select(
        docs, budget=_TB_BUDGETS, stratum_col="lang", salt="tb1"
    )
    return out.select("doc_id", "lang", "n_tokens", "cum_tokens")


def _q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by smoothed TF-IDF
    (keyword extraction): one (doc, term) tf aggregate, df broadcast
    back, floor-quantized scores, (score desc, term) tie-break."""
    from fastdb_spark.pipeline.retrieval import tfidf_topk

    docs = Catalog(spark, sf_dir).table("documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return tfidf_topk(docs, k=3)


def _q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking with overlap (context-window / RAG
    prep): pure scan-stage sequence+slice expressions, zero shuffle."""
    from fastdb_spark.pipeline.spans import chunk_documents

    docs = Catalog(spark, sf_dir).table("documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return chunk_documents(docs, size=24, overlap=8)


def _chunk_oracle() -> str:
    from fastdb_spark.pipeline.spans import chunk_documents_oracle_sql

    return chunk_documents_oracle_sql(size=24, overlap=8)


def _q_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate cut (C4-style): blocks occurring in >1
    distinct document are removed from every document — the planted
    exact-dup corpus makes the cut discriminative."""
    from fastdb_spark.pipeline.corpus import exactdup_docs
    from fastdb_spark.pipeline.spans import remove_boilerplate_blocks

    docs = Catalog(spark, sf_dir).table("documents")
    corpus = exactdup_docs(docs).repartition(
        spark.sparkContext.defaultParallelism
    )
    return remove_boilerplate_blocks(corpus, n=16, max_docs=1)


def _boilerplate_oracle() -> str:
    from fastdb_spark.pipeline.corpus import EXACTDUP_DOCS_SQL
    from fastdb_spark.pipeline.spans import remove_boilerplate_oracle_sql

    return remove_boilerplate_oracle_sql(
        n=16, max_docs=1, table=f"({EXACTDUP_DOCS_SQL})"
    )


def _q_multimodal_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media codecs under the exact gate: per document, deterministic
    pixel content is pushed through every dependency-free codec inside
    mapInPandas and the INTEGER pixel statistics of the decoded arrays
    are adjudicated against an oracle that computes them arithmetically —
    any pixel any codec corrupts flips the sums.

    Legs: PNG (8x8 grey, lossless), FITS (signed 16-bit HDU, lossless),
    JPEG (16x16 grey of four per-block constants at quality=100 — the
    all-ones-quant regime where constant DCT blocks round-trip
    bit-exactly; exercises Huffman DC categories incl. negatives, DC
    prediction across blocks, byte stuffing), raw-DIB AVI (3 arbitrary
    RGB frames, lossless container round-trip), and MJPEG AVI (2
    constant grey frames at quality=100, bit-exact)."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from fastdb_spark.sources import avicodec as av
    from fastdb_spark.sources import imagecodec as ic
    from fastdb_spark.sources import jpegcodec as jc

    # the id column is all the codec legs need; repartition it so the
    # per-doc Python codec work parallelizes even when the source table
    # is one parquet file (one scan partition = one serial mapInPandas
    # task otherwise — at corpus scale the input is many files, but the
    # gate shape shouldn't depend on that)
    docs = (
        Catalog(spark, sf_dir)
        .table("documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                k = np.arange(64, dtype=np.int64)
                arr = ((did * 31 + k) % 256).astype(np.uint8)
                arr = arr.reshape(8, 8)
                dec = ic.decode_any(ic.encode_png(arr))[:, :, 0]
                d = dec.astype(np.int64)
                # FITS leg: signed 16-bit values through the FITS codec
                fv = ((did * 17 + k) % 1000 - 500).astype(np.int16)
                fdec = ic.decode_fits_image(
                    ic.encode_fits_image(fv.reshape(8, 8))
                ).astype(np.int64)
                # JPEG leg: 16x16 of four 8x8 constant blocks, q100
                bvals = np.array(
                    [(did * 13 + 2 * i + 5 * j) % 256 for i in (0, 1) for j in (0, 1)],
                    dtype=np.int64,
                )
                jimg = (
                    bvals.reshape(2, 2).repeat(8, 0).repeat(8, 1).astype(np.uint8)
                )
                jdec = ic.decode_any(jc.encode_jpeg(jimg, quality=100)).astype(
                    np.int64
                )
                # raw-DIB AVI leg: 3 arbitrary 8x8 RGB frames, lossless
                f = np.arange(3, dtype=np.int64).reshape(3, 1, 1)
                c = np.arange(3, dtype=np.int64).reshape(1, 1, 3)
                pix = k.reshape(1, 64, 1)
                vid = ((did * 7 + f * 3 + pix + c) % 256).astype(np.uint8)
                vid = vid.reshape(3, 8, 8, 3)
                vdec, _fps = av.decode_avi(av.encode_avi(vid, codec="rgb"))
                # MJPEG AVI leg: 2 constant grey frames, q100 bit-exact
                mv = np.array([(did * 11) % 256, (did * 11 + 29) % 256], dtype=np.int64)
                mframes = (
                    mv.reshape(2, 1, 1)
                    .repeat(8, 1)
                    .repeat(8, 2)
                    .astype(np.uint8)
                )
                mdec, _ = av.decode_avi(
                    av.encode_avi(mframes, codec="mjpg", quality=100)
                )
                rows.append(
                    (
                        did,
                        dec.shape[0],
                        dec.shape[1],
                        int(d.sum()),
                        int((d * d).sum()),
                        int(d.min()),
                        int(d.max()),
                        int(fdec.sum()),
                        int(fdec.min()),
                        int(fdec.max()),
                        int(jdec.sum()),
                        int(jdec.min()),
                        int(jdec.max()),
                        int(vdec.astype(np.int64).sum()),
                        int(mdec.astype(np.int64).sum()),
                        int(mdec.min()),
                        int(mdec.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "height", "width",
                    "pix_sum", "pix_sq_sum", "pix_min", "pix_max",
                    "fits_sum", "fits_min", "fits_max",
                    "jpg_sum", "jpg_min", "jpg_max",
                    "avi_sum", "mjpg_sum", "mjpg_min", "mjpg_max",
                ],
            )

    return docs.mapInPandas(
        op,
        "doc_id long, height int, width int, pix_sum long, "
        "pix_sq_sum long, pix_min int, pix_max int, "
        "fits_sum long, fits_min int, fits_max int, "
        "jpg_sum long, jpg_min int, jpg_max int, "
        "avi_sum long, mjpg_sum long, mjpg_min int, mjpg_max int",
    )


_MM_CODEC_ORACLE = """
    WITH png_fits AS (
        SELECT doc_id,
               CAST(sum(v) AS BIGINT) AS pix_sum,
               CAST(sum(v*v) AS BIGINT) AS pix_sq_sum,
               CAST(min(v) AS INTEGER) AS pix_min,
               CAST(max(v) AS INTEGER) AS pix_max,
               CAST(sum(f) AS BIGINT) AS fits_sum,
               CAST(min(f) AS INTEGER) AS fits_min,
               CAST(max(f) AS INTEGER) AS fits_max
        FROM (SELECT doc_id,
                     (doc_id*31 + k.k) % 256 AS v,
                     (doc_id*17 + k.k) % 1000 - 500 AS f
              FROM documents, (SELECT unnest(range(0, 64)) AS k) k)
        GROUP BY doc_id
    ),
    jpg AS (
        SELECT doc_id,
               CAST(64 * sum(b) AS BIGINT) AS jpg_sum,
               CAST(min(b) AS INTEGER) AS jpg_min,
               CAST(max(b) AS INTEGER) AS jpg_max
        FROM (SELECT doc_id, (doc_id*13 + 2*i.i + 5*jj.j) % 256 AS b
              FROM documents,
                   (SELECT unnest(range(0, 2)) AS i) i,
                   (SELECT unnest(range(0, 2)) AS j) jj)
        GROUP BY doc_id
    ),
    avi AS (
        SELECT doc_id, CAST(sum(p) AS BIGINT) AS avi_sum
        FROM (SELECT doc_id, (doc_id*7 + 3*f.f + k.k + c.c) % 256 AS p
              FROM documents,
                   (SELECT unnest(range(0, 3)) AS f) f,
                   (SELECT unnest(range(0, 64)) AS k) k,
                   (SELECT unnest(range(0, 3)) AS c) c)
        GROUP BY doc_id
    ),
    mjpg AS (
        SELECT doc_id,
               CAST(64 * sum(v) AS BIGINT) AS mjpg_sum,
               CAST(min(v) AS INTEGER) AS mjpg_min,
               CAST(max(v) AS INTEGER) AS mjpg_max
        FROM (SELECT doc_id, (doc_id*11 + 29*f.f) % 256 AS v
              FROM documents, (SELECT unnest(range(0, 2)) AS f) f)
        GROUP BY doc_id
    )
    SELECT p.doc_id,
           8 AS height, 8 AS width,
           p.pix_sum, p.pix_sq_sum, p.pix_min, p.pix_max,
           p.fits_sum, p.fits_min, p.fits_max,
           j.jpg_sum, j.jpg_min, j.jpg_max,
           a.avi_sum, m.mjpg_sum, m.mjpg_min, m.mjpg_max
    FROM png_fits p
    JOIN jpg j USING (doc_id)
    JOIN avi a USING (doc_id)
    JOIN mjpg m USING (doc_id)
"""


def _q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card summary: one row of release-report numbers (sizes,
    language spread, exact-dup ppm, quantized mean quality) — one corpus
    pass + two tiny aggregates, integer/string outputs for bit-exact
    cross-engine adjudication."""
    from fastdb_spark.pipeline.textstats import corpus_card

    docs = Catalog(spark, sf_dir).table("documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return corpus_card(docs)


def _corpus_card_oracle() -> str:
    from fastdb_spark.pipeline.textstats import corpus_card_oracle_sql

    return corpus_card_oracle_sql()


def _q_intra_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition REMOVAL (block-aligned n-token dedup,
    keep-first): the planted corpus pastes a 16-token prefix twice, and
    the operator must collapse it back — clean_text adjudicated exactly
    against the duckdb slice-based twin."""
    from fastdb_spark.pipeline.corpus import intradup_docs
    from fastdb_spark.pipeline.spans import dedup_doc_blocks

    docs = Catalog(spark, sf_dir).table("documents")
    corpus = intradup_docs(docs).repartition(
        spark.sparkContext.defaultParallelism
    )
    return dedup_doc_blocks(corpus, n=16)


def _intra_doc_oracle() -> str:
    from fastdb_spark.pipeline.corpus import INTRADUP_DOCS_SQL
    from fastdb_spark.pipeline.spans import dedup_doc_blocks_oracle_sql

    return dedup_doc_blocks_oracle_sql(n=16, table=f"({INTRADUP_DOCS_SQL})")


# NOTE (round 12): the `doc_similar_w2v` gate — trained-Word2Vec
# similar_documents, the registry's one permanently rows-only entry —
# was RETIRED under registry policy rule 1 (see queries() header):
# doc_similar_w2v_exact adjudicates the same pooling/top-k arithmetic
# over frozen vectors with an exact oracle, and the trained operator
# (pipeline/embed.similar_documents / train_word_vectors) keeps direct
# pytest coverage (tests/test_tokenizer_shards.py, tests/test_round12).


_TS_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_TS_BUDGETS = {"en": 3000, "fr": 1200, "de": 800}


def _q_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data last mile, adjudicated EXACTLY end to
    end: curate (quality -> exact dedup -> minhash near-dedup) ->
    leakage-safe split by content fingerprint -> per-language token
    budget -> deterministic shard shuffle.  Four pipeline stages, one
    declarative program, one oracle assembled from the stage twins."""
    from fastdb_spark.pipeline.trainset import build_training_set

    docs = Catalog(spark, sf_dir).table("documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return build_training_set(
        docs, _TS_WEIGHTS, _TS_BUDGETS, stratum_col="lang", n_shards=4
    )


def _trainset_oracle() -> str:
    from fastdb_spark.pipeline.trainset import trainset_oracle_sql

    return trainset_oracle_sql(_TS_WEIGHTS, _TS_BUDGETS, n_shards=4)


def _bpe_encode_oracle() -> str:
    from fastdb_spark.pipeline.tokenizer import FIXED_MERGES, bpe_encode_oracle_sql

    return bpe_encode_oracle_sql(FIXED_MERGES)


def _shards_oracle() -> str:
    from fastdb_spark.pipeline.shards import shards_oracle_sql

    return shards_oracle_sql(
        "documents", 8, salt="shard1", select_cols="doc_id, lang"
    )


def _token_budget_oracle() -> str:
    from fastdb_spark.pipeline.shards import token_budget_oracle_sql

    return token_budget_oracle_sql(
        "documents",
        _TB_BUDGETS,
        stratum_col="lang",
        salt="tb1",
        select_cols="doc_id, lang",
    )


def _tfidf_oracle() -> str:
    from fastdb_spark.pipeline.retrieval import tfidf_oracle_sql

    return tfidf_oracle_sql(3)


# ---------------------------------------------------------------------------
# write-path gates (round 5): the wrangle/upsert/FITS-load paths get
# driver-visible rows by deriving a DETERMINISTIC batch from the gate
# tables, pushing it through the real write machinery, and reading the
# stored result back — the returned frame is the table on disk, not the
# in-memory plan, so the oracle adjudicates the write itself.


def _q_load_alert_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+S3+P6 under the exact gate: a nested alert batch derived from
    the events table is wrangled by the real alert wrangler
    (lowercase schema-filter, prvDiaSources explode, quality-flag
    bitmask, savetime watermark — reference
    src/services/brokerconsumer.py:463-649), run through the
    solar-system reject cascade (diaobjectid==0 dropped with children,
    reference src/services/source_importer.py:277-298), staged to a
    bronze ParquetTable and READ BACK.  All derived values are dyadic
    (floor/0.25/0.125 arithmetic) so float32 storage is exact."""
    import tempfile

    from fastdb_spark.sources.alerts import reject_solar_system, wrangle_alerts
    from fastdb_spark.storage import ParquetTable

    ev = Catalog(spark, sf_dir).table("events")
    nf = F.lit(None).cast("float")
    flux = F.floor("value").cast("float")
    mjd = F.lit(60000.0) + (F.col("event_id") % 1000) * F.lit(0.25)

    def _src(sid, visit, mjd_, flux_, flag_base):
        return F.struct(
            sid.cast("long").alias("diaSourceId"),
            (F.col("user_id") % 50).cast("long").alias("diaObjectId"),
            visit.cast("long").alias("visit"),
            F.col("event_type").alias("band"),
            mjd_.cast("double").alias("midpointMjdTai"),
            flux_.cast("float").alias("psfFlux"),
            (flux_ / 4).cast("float").alias("psfFluxErr"),
            (F.col("user_id") * 0.125).alias("ra"),
            (F.col("user_id") * 0.0625 - 10.0).alias("dec"),
            nf.alias("raErr"),
            nf.alias("decErr"),
            nf.alias("ra_dec_Cov"),
            (flag_base % 2 == 0).alias("psfFluxFlag"),
            (flag_base % 3 == 0).alias("pixelFlags"),
            (flag_base % 5 == 0).alias("centroidFlag"),
        )

    cur = _src(F.col("event_id"), F.col("event_id") % 1000, mjd, flux,
               F.col("event_id"))
    # one previous source per event_id%4==0 alert (exercises the explode);
    # prv flags all-false via a base with no small divisors (flag_base=1)
    prv = _src(F.col("event_id") + 10_000_000, F.col("event_id") % 1000 + 1,
               mjd + 0.25, flux + 1, F.lit(1))
    alerts = ev.select(
        F.col("event_id").alias("alertId"),
        F.lit("gatebroker").alias("brokername"),
        F.lit("gatetopic").alias("topic"),
        F.col("props").alias("classifications"),
        cur.alias("diaSource"),
        F.filter(F.array(prv), lambda _: F.col("event_id") % 4 == 0).alias(
            "prvDiaSources"
        ),
        F.lit(None).cast(
            "array<struct<diaForcedSourceId:long,diaObjectId:long,visit:long,"
            "band:string,midpointMjdTai:double,psfFlux:float,psfFluxErr:float,"
            "ra:double,dec:double>>"
        ).alias("prvDiaForcedSources"),
        F.struct(
            (F.col("user_id") % 50).cast("long").alias("diaObjectId"),
            (F.col("user_id") * 0.125).alias("ra"),
            (F.col("user_id") * 0.0625 - 10.0).alias("dec"),
            nf.alias("raErr"),
            nf.alias("decErr"),
        ).alias("diaObject"),
        F.lit(None).cast("binary").alias("cutoutDifference"),
        F.lit(None).cast("binary").alias("cutoutTemplate"),
    )
    w = reject_solar_system(
        wrangle_alerts(
            alerts, "gate-bpv",
            savetime=F.to_timestamp(F.lit("2026-01-01 00:00:00")),
        )
    )
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    path = _scratch(f"fastdb_alertbatch_{tag}")
    tbl = ParquetTable(spark, path)
    tbl.overwrite(w["diasource"])
    out = tbl.read()
    return out.select(
        "diasourceid",
        "diaobjectid",
        "visit",
        "band",
        "midpointmjdtai",
        F.col("psfflux").cast("double").alias("psfflux"),
        (F.col("psffluxerr").cast("double") * 4).cast("long").alias("fluxerr_x4"),
        "ra",
        F.col("dec").alias("decl"),
        "flags",
        F.date_format("savetime", "yyyy-MM-dd HH:mm:ss").alias("savetime_s"),
    )


def _q_bulk_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 under the exact gate: three deterministic conflicting batches
    derived from orders MERGE into a BucketedParquetTable — initial
    DO-NOTHING load, a DO-UPDATE batch on the even keys, an idempotent
    REPLAY of that update batch, then a DO-NOTHING batch that may only
    insert absent keys — and the final table is read back.  Proves the
    reference's COPY + ON CONFLICT semantics (src/db.py:1406-1515) on
    the partition-pruned incremental write path."""
    import shutil
    import tempfile

    from fastdb_spark.storage import BucketedParquetTable

    orders = Catalog(spark, sf_dir).table("orders")
    base = orders.select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100).alias("price_c"),
    )
    b1 = base.filter(F.col("o_orderkey") % 3 != 0).withColumn("ver", F.lit("v1"))
    b2 = (
        base.filter(F.col("o_orderkey") % 2 == 0)
        .withColumn("price_c", F.col("price_c") + 1)
        .withColumn("ver", F.lit("v2"))
    )
    b3 = base.filter(F.col("o_orderkey") % 5 == 0).withColumn("ver", F.lit("v3"))
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    path = _scratch(f"fastdb_upsert_gate_{tag}")
    shutil.rmtree(path, ignore_errors=True)  # fresh table per adjudication
    t = BucketedParquetTable(spark, path, keys=["o_orderkey"], n_buckets=8)
    t.upsert(b1, on_conflict="nothing")  # initial load
    t.upsert(b2, on_conflict="update")  # conflicting batch: matched rows update
    t.upsert(b2, on_conflict="update")  # replay: must be idempotent
    t.upsert(b3, on_conflict="nothing")  # only keys absent so far insert
    return t.read().select("o_orderkey", "o_custkey", "price_c", "ver")


def _q_snana_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 under the exact gate: a SNANA HEAD/PHOT FITS pair synthesized
    from the events table (user_id -> SNID, per-object 1-indexed
    PTROBS_MIN/MAX pointer slices, photflag detection bit) is written
    with the dependency-free BINTABLE writer and loaded back through the
    distributed ``read_snana_fits`` loader (reference
    src/admin/load_snana_fits.py:115-246).  The synthesis collect is
    KB-bounded (user_id <= 40, ~3k rows at every gate sf); the loader
    itself parallelizes by FILE PAIR, which is the real unit of work.
    ``snana_zeropoint=31.4`` makes the rescale factor exactly 1.0 and
    all derived values dyadic, so the float32 FITS round-trip is exact."""
    import tempfile

    import numpy as np

    from fastdb_spark.sources.fits import write_bintable
    from fastdb_spark.sources.loaders import read_snana_fits

    ev = Catalog(spark, sf_dir).table("events")
    rows = (
        ev.filter(F.col("user_id") <= 40)
        .select(
            "user_id",
            "event_id",
            F.col("event_type").alias("band"),
            F.floor("value").alias("fluxcal"),
            (F.lit(60000.0) + (F.col("event_id") % 1000) * F.lit(0.25)).alias(
                "mjd"
            ),
            (F.col("event_id") % 2 * 4096).alias("photflag"),
        )
        .orderBy("user_id", "event_id")
        .collect()
    )
    users = sorted({r["user_id"] for r in rows})
    per_user: dict[int, list] = {u: [] for u in users}
    for r in rows:
        per_user[r["user_id"]].append(r)
    ptr_min, ptr_max, pos = [], [], 1  # FITS pointers are 1-indexed
    for u in users:
        n = len(per_user[u])
        ptr_min.append(pos)
        ptr_max.append(pos + n - 1)
        pos += n
    d = tempfile.mkdtemp(prefix="fastdb_snana_gate_")
    head_path = os.path.join(d, "GATE_HEAD.FITS.gz")
    write_bintable(
        head_path,
        {
            "SNID": np.array(users, dtype=np.int64),
            "PTROBS_MIN": np.array(ptr_min, dtype=np.int64),
            "PTROBS_MAX": np.array(ptr_max, dtype=np.int64),
            "RA": np.array([u * 0.125 for u in users], dtype=np.float64),
            "DEC": np.array([u * 0.0625 - 10.0 for u in users], dtype=np.float64),
        },
    )
    write_bintable(
        os.path.join(d, "GATE_PHOT.FITS.gz"),
        {
            "MJD": np.array([r["mjd"] for r in rows], dtype=np.float64),
            "BAND": np.array([r["band"] for r in rows], dtype="U10"),
            "FLUXCAL": np.array([r["fluxcal"] for r in rows], dtype=np.float32),
            "FLUXCALERR": np.array(
                [r["fluxcal"] / 4 for r in rows], dtype=np.float32
            ),
            "PHOTFLAG": np.array([r["photflag"] for r in rows], dtype=np.int32),
        },
    )
    loaded = read_snana_fits(spark, [head_path], snana_zeropoint=31.4)
    return loaded.select(
        "diaobjectid",
        "diaforcedsourceid",
        "visit",
        "band",
        "midpointmjdtai",
        F.col("psfflux").cast("long").alias("psfflux_i"),
        (F.col("psffluxerr").cast("double") * 4).cast("long").alias("fluxerr_x4"),
        "ra",
        F.col("dec").alias("decl"),
        "is_detection",
    )


def _q_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture audit (the data-card row a mixing run publishes): per-lang
    row counts and achieved output share after epoch-mix
    materialization under the _EPOCH_MIX recipe.  The share divides two
    exact counts, so the oracle reproduces it bit-for-bit; the
    total-share window runs over the ALREADY-AGGREGATED frame (one row
    per stratum — bounded by domain cardinality, not corpus size)."""
    from pyspark.sql import Window

    from fastdb_spark.pipeline.sample import epoch_mix_materialize

    docs = Catalog(spark, sf_dir).table("documents").select("doc_id", "lang")
    out = epoch_mix_materialize(docs, "lang", _EPOCH_MIX, "doc_id", salt="em6")
    per = out.groupBy("lang").agg(F.count("*").alias("rows_out"))
    total = F.sum("rows_out").over(Window.partitionBy())
    return per.select(
        "lang",
        "rows_out",
        F.round(F.col("rows_out") / total, 6).alias("share"),
    )


def _q_uuid_minting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8/W1 under the exact gate: deterministic uuid-shaped root-id
    minting (md5-derived, ``streaming/ingest._det_uuid`` — the
    replay-stable replacement for the reference's row_number uuid
    pairing, ``src/services/source_importer.py``).  Each distinct user
    mints one stable root uuid, paired back onto every event row; the
    oracle reproduces the exact md5 slice-and-hyphenate arithmetic, so
    the ids are adjudicated verbatim (not just their shape), proving
    replay determinism by construction."""
    from fastdb_spark.streaming.ingest import _det_uuid

    ev = Catalog(spark, sf_dir).table("events").filter(F.col("user_id") <= 150)
    minted = (
        ev.select("user_id")
        .distinct()
        .withColumn("rootid", _det_uuid(F.col("user_id")))
    )
    return ev.join(F.broadcast(minted), "user_id").select(
        "event_id", "user_id", "rootid"
    )


#: avro schema for the S1 codec gate: long/double/string plus the branchy
#: shapes (nullable union, array, bytes) that distinguish a real Avro
#: binary codec from a happy-path one
_AVRO_GATE_SCHEMA = """{
  "type": "record", "name": "GateAlert", "fields": [
    {"name": "diaSourceId", "type": "long"},
    {"name": "band", "type": "string"},
    {"name": "midpointMjdTai", "type": "double"},
    {"name": "psfFlux", "type": "double"},
    {"name": "prvIds", "type": ["null", {"type": "array", "items": "long"}]},
    {"name": "reason", "type": ["null", "string"]},
    {"name": "cutout", "type": ["null", "bytes"]}
  ]}"""


def _q_avro_alert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 codec leg under the exact gate: a deterministic nested alert
    frame derived from events goes through ``encode_alert_frame`` (one
    binary Avro datum per row — the Kafka message shape, reference
    ``src/services/brokerconsumer.py``) and back through
    ``decode_alert_frame``, both as distributed Arrow ``mapInPandas``
    stages over the dependency-free spec codec (the JVM from_avro/to_avro
    path is auto-selected when the spark-avro jar exists; this image has
    none, so the gate adjudicates the pure-spec implementation).  The
    schema exercises unions, arrays, and bytes; every decoded value must
    hash-equal the oracle's direct derivation from events — a single
    zig-zag/varint/branch-index bug anywhere in the codec flips it."""
    from fastdb_spark.sources.kafka import decode_alert_frame, encode_alert_frame

    ev = Catalog(spark, sf_dir).table("events").filter(F.col("user_id") <= 100)
    nested = ev.select(
        F.col("event_id").alias("diaSourceId"),
        F.col("event_type").alias("band"),
        (F.lit(60000.0) + (F.col("event_id") % 1000) * F.lit(0.25)).alias(
            "midpointMjdTai"
        ),
        F.floor("value").cast("double").alias("psfFlux"),
        F.when(
            F.col("event_id") % 3 == 0, F.lit(None).cast("array<long>")
        ).otherwise(
            F.array(F.col("event_id") - 1, F.col("event_id") - 2)
        ).alias("prvIds"),
        F.when(F.col("event_id") % 2 == 0, F.concat(F.lit("r-"), "event_type"))
        .otherwise(F.lit(None).cast("string"))
        .alias("reason"),
        F.when(
            F.col("event_id") % 5 == 0, F.lit(None).cast("binary")
        ).otherwise(
            F.encode(F.concat(F.lit("px"), F.col("event_id").cast("string")),
                     "UTF-8")
        ).alias("cutout"),
    )
    back = decode_alert_frame(
        encode_alert_frame(nested, _AVRO_GATE_SCHEMA), _AVRO_GATE_SCHEMA
    )
    return back.select(
        "diaSourceId",
        "band",
        "midpointMjdTai",
        "psfFlux",
        F.coalesce(F.element_at("prvIds", 1), F.lit(-1)).alias("prv0"),
        F.coalesce(F.size("prvIds"), F.lit(-1)).cast("long").alias("nprv"),
        F.coalesce(F.col("reason"), F.lit("<null>")).alias("reason"),
        F.coalesce(F.decode(F.col("cutout"), "UTF-8"), F.lit("<null>")).alias(
            "cutout_s"
        ),
    )


def _q_dedup_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental dedup index under the exact gate (it was the one
    pipeline module with no driver row): build the index from the
    even-id half of documents, ``dedup_index_upsert`` the odd-id half
    with ``max_bucket_size=None`` (the uncapped curate-parity mode — the
    cap is the one piece SQL cannot express), then read the persisted
    fingerprints table back.  The oracle replays the full choreography —
    batch-1 exact keep-min + greedy near-dup, batch-2 exact-vs-index,
    near-vs-index, in-batch greedy — so one wrong drop anywhere in the
    lockfile-serialized write path flips the hash.  (References:
    incremental ingest vs PG MVCC upsert, src/db.py:1406-1515.)"""
    import shutil

    from fastdb_spark.pipeline.incdedup import (
        _open,
        build_dedup_index,
        dedup_index_upsert,
    )

    docs = Catalog(spark, sf_dir).table("documents").select("doc_id", "text")
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    path = _scratch("fastdb_incdedup_gate", tag)
    shutil.rmtree(path, ignore_errors=True)  # fresh index per adjudication
    build_dedup_index(docs.filter("doc_id % 2 = 0"), path)
    dedup_index_upsert(
        spark, docs.filter("doc_id % 2 = 1"), path, max_bucket_size=None
    )
    idx = _open(spark, path, "fingerprints")
    return idx.select("doc_id", "fingerprint")


def _q_dedup_index_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The takedown path under the exact gate: build the index from the
    even-id half of documents, ``dedup_index_remove`` every indexed doc
    with ``doc_id % 10 == 0`` (the tmp+swap three-table rewrite), then
    ``dedup_index_upsert`` the odd-id half uncapped and read the
    persisted fingerprints back.  The oracle replays build -> remove ->
    upsert (``incdedup_oracle_sql(remove_pred=...)``), so a removal that
    left band/shingle rows behind — or dropped too much — flips the
    hash: batch-2 near-dups of removed docs MUST be accepted."""
    import shutil

    from fastdb_spark.pipeline.incdedup import (
        _open,
        build_dedup_index,
        dedup_index_remove,
        dedup_index_upsert,
    )

    docs = Catalog(spark, sf_dir).table("documents").select("doc_id", "text")
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    path = _scratch("fastdb_incdedup_takedown", tag)
    shutil.rmtree(path, ignore_errors=True)  # fresh index per adjudication
    build_dedup_index(docs.filter("doc_id % 2 = 0"), path)
    rm = _open(spark, path, "fingerprints").filter(
        "doc_id % 10 = 0"
    ).select("doc_id")
    dedup_index_remove(spark, rm, path)
    dedup_index_upsert(
        spark, docs.filter("doc_id % 2 = 1"), path, max_bucket_size=None
    )
    idx = _open(spark, path, "fingerprints")
    return idx.select("doc_id", "fingerprint")


def _q_dedup_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-only classification under the exact gate (born round 9 —
    the dry-run dedup REPORT a curation review wants before committing a
    crawl increment): build the index from the even-id half of
    documents, then ``dedup_index_probe`` the odd-id half uncapped and
    return its ``(doc_id, verdict)`` rows — verdict in exact /
    in_batch_exact / near / in_batch_near / fresh, the upsert's exact
    precedence.  The oracle replays the identical CTE stages but
    CLASSIFIES instead of filters (``incdedup_oracle_sql(final=
    "probe")``), so the gate partitions every odd doc: one verdict
    swapped anywhere — a probe that admits what the upsert would drop,
    or vice versa — flips the hash.  The index itself must come back
    byte-identical (probe is read-only; mtime-asserted in
    tests/test_round9.py)."""
    import shutil

    from fastdb_spark.pipeline.incdedup import (
        build_dedup_index,
        dedup_index_probe,
    )

    docs = Catalog(spark, sf_dir).table("documents").select("doc_id", "text")
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    path = _scratch("fastdb_incdedup_probe_gate", tag)
    shutil.rmtree(path, ignore_errors=True)  # fresh index per adjudication
    build_dedup_index(docs.filter("doc_id % 2 = 0"), path)
    return dedup_index_probe(
        spark, docs.filter("doc_id % 2 = 1"), path, max_bucket_size=None
    ).select("doc_id", "verdict")


def _q_dedup_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction under the exact gate (born round 9): the
    roundtrip choreography — build even half, upsert odd half uncapped —
    then ``compact_dedup_index(min_files=1)`` rewrites every id_bucket
    partition the build+append left with more than one part file, and
    the gate returns the persisted fingerprints read AFTER the rewrite.
    Compaction is content-preserving by contract, so the oracle is the
    roundtrip twin verbatim: any row the tmp+swap rewrite drops,
    duplicates, or mutates flips the hash.  The gate also asserts the
    rewrite actually ran and shrank the file count (a no-op compactor
    must not adjudicate as green)."""
    import shutil

    from fastdb_spark.pipeline.incdedup import (
        _open,
        build_dedup_index,
        compact_dedup_index,
        dedup_index_upsert,
    )

    docs = Catalog(spark, sf_dir).table("documents").select("doc_id", "text")
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    path = _scratch("fastdb_incdedup_compact_gate", tag)
    shutil.rmtree(path, ignore_errors=True)  # fresh index per adjudication
    # odd bucket count: under the default 32, the even-id build and the
    # odd-id upsert land in DISJOINT pmod residues (even ids -> even
    # buckets), so no partition would ever hold two part files and the
    # compactor would correctly no-op; 31 makes both halves cover every
    # bucket and the rewrite touch all of them
    build_dedup_index(docs.filter("doc_id % 2 = 0"), path, id_buckets=31)
    dedup_index_upsert(
        spark, docs.filter("doc_id % 2 = 1"), path, max_bucket_size=None
    )
    stats = compact_dedup_index(spark, path, min_files=1)
    fp = stats["fingerprints"]
    if fp["buckets_compacted"] == 0 or fp["files_after"] >= fp["files_before"]:
        raise AssertionError(f"compaction did not run/shrink: {stats}")
    idx = _open(spark, path, "fingerprints")
    return idx.select("doc_id", "fingerprint")


def _q_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup under the exact gate: per document a seeded
    24x24 grayscale PNG; every fourth document also plants a
    brightness-shifted twin (+3 on every pixel, headroom-capped at
    encode time) under ``media_id = doc_id + 10_000_000``.  A uniform
    shift moves ONLY the DCT's DC coefficient (linearity), so the
    planted twin's pHash is EXACTLY equal and ``image_dup_pairs`` at
    hamming 0 must return exactly the planted pairs — an arithmetic
    oracle.  A decode bug, DCT bug, bit-packing bug, or join bug either
    loses planted pairs or invents false ones; both flip the hash."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from fastdb_spark.pipeline.imagededup import image_dup_pairs
    from fastdb_spark.sources import imagecodec as ic

    docs = (
        Catalog(spark, sf_dir)
        .table("documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                rng = np.random.default_rng(did)
                img = rng.integers(0, 248, (24, 24)).astype(np.uint8)
                rows.append((did, bytearray(ic.encode_png(img))))
                if did % 4 == 0:
                    rows.append(
                        (
                            did + 10_000_000,
                            bytearray(ic.encode_png(img + np.uint8(3))),
                        )
                    )
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = docs.mapInPandas(mk, "media_id long, payload binary")
    return image_dup_pairs(media, max_hamming=0)


def _q_audio_afp_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual audio dedup under the exact gate: per document a seeded
    sine-mix WAV (amplitudes sized so doubling never clips int16); every
    fourth document plants a gain-doubled twin under ``media_id = doc_id
    + 20_000_000``.  Power-of-two gain scaling is EXACTLY invariant for
    the Haitsma-Kalker sign bits (IEEE scaling is exact through the
    linear FFT), so ``audio_dup_pairs`` must return exactly the planted
    pairs — an arithmetic oracle.  Decode, framing, FFT banding,
    bit-packing, and join bugs all flip the hash."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from fastdb_spark.pipeline.audiodedup import audio_dup_pairs
    from fastdb_spark.sources import imagecodec as ic

    docs = (
        Catalog(spark, sf_dir)
        .table("documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                rng = np.random.default_rng(did)
                t = np.arange(2048)
                sig = (
                    2000 * np.sin(t * 0.05 * (1 + did % 5))
                    + 1500 * np.sin(t * 0.013 * (1 + did % 3))
                    + rng.normal(0, 300, 2048)
                ).astype(np.int16)
                rows.append(
                    (did, bytearray(ic.encode_wav(sig[:, None], rate=16000)))
                )
                if did % 4 == 0:
                    rows.append(
                        (
                            did + 20_000_000,
                            bytearray(
                                ic.encode_wav(
                                    (sig * np.int16(2))[:, None], rate=16000
                                )
                            ),
                        )
                    )
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = docs.mapInPandas(mk, "media_id long, payload binary")
    return audio_dup_pairs(media)


def _q_media_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata validation under the exact gate: per document one media
    payload of a rotating kind (PNG / WAV / AVI, dims and frame counts
    derived from doc_id) with DECLARED width/height that LIES for every
    fifth document.  ``probe_media`` reads only container headers (no
    pixel/sample decode) and must reproduce the actual dims, counts, and
    the lie verdict arithmetically."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from fastdb_spark.pipeline.multimodal import probe_media
    from fastdb_spark.sources import avicodec as av
    from fastdb_spark.sources import imagecodec as ic

    docs = (
        Catalog(spark, sf_dir)
        .table("documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                lie = 1 if did % 5 == 0 else 0
                if did % 3 == 0:
                    w, h = 8 + did % 5, 6 + did % 7
                    payload = ic.encode_png(
                        np.zeros((h, w), dtype=np.uint8)
                    )
                    rows.append(
                        (did, "image", bytearray(payload), w + lie, h)
                    )
                elif did % 3 == 1:
                    ch = 1 + did % 2
                    n = 300 + did % 100
                    payload = ic.encode_wav(
                        np.zeros((n, ch), dtype=np.int16), rate=8000
                    )
                    rows.append((did, "audio", bytearray(payload), None, None))
                else:
                    w, nf = 8 + 4 * (did % 2), 1 + did % 4
                    payload = av.encode_avi(
                        np.zeros((nf, 8, w, 3), dtype=np.uint8),
                        fps=4,
                        codec="rgb",
                    )
                    rows.append(
                        (did, "video", bytearray(payload), w + lie, 8)
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "modality", "payload", "width", "height"],
            )

    media = docs.mapInPandas(
        mk,
        "media_id long, modality string, payload binary, "
        "width int, height int",
    )
    probed = probe_media(media)
    # project the nullable boolean to a null-free verdict string: a
    # bool column that is NULL for undeclared rows round-trips through
    # pandas as None-vs-NaN depending on the engine, which the hash
    # compare must not depend on
    return probed.select(
        "media_id", "kind", "actual_width", "actual_height",
        "channels", "n_frames",
        F.when(F.col("metadata_ok").isNull(), "n/a")
        .when(F.col("metadata_ok"), "ok")
        .otherwise("lie")
        .alias("metadata_verdict"),
    )


def _q_image_banded_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded hamming>0 leg of ``image_dup_pairs`` under the exact
    gate (VERDICT r7 #6: only the hamming-0 regime had cross-engine
    adjudication; the banded candidate join + popcount refine was
    pigeonhole-argued and unit-tested only).

    Images are SYNTHESIZED IN THE DCT DOMAIN: on a 32x32 input the pHash
    pipeline is identity-resize -> orthonormal 2-D DCT -> low-freq 8x8
    block -> sign-vs-median, so an image built as
    ``idct(target_block) + 128`` reproduces a CHOSEN 63-bit pattern
    bit-exactly (block coefficients at ±30 dwarf uint8 rounding leakage;
    every pattern carries EXACTLY 32 zero bits so ``np.median`` — the
    32nd smallest of 63 — always lands on the zero cluster's maximum and
    no cluster member exceeds it; verified exact over 572 seeds and over
    every doc_id at all three SFs, where the only hamming<=3 pairs are
    the planted ones).  Per document: a base pattern with 31 one-bits;
    every fourth document plants a twin with one one-bit and one
    zero-bit SWAPPED (hamming exactly 2 — must pair at max_hamming=3);
    every fifth a decoy with four swaps (hamming exactly 8 — the banded
    join may surface it as a candidate, the popcount refine must reject
    it).  The oracle is the planted arithmetic list."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from fastdb_spark.pipeline.imagededup import _dct32, image_dup_pairs
    from fastdb_spark.sources import imagecodec as ic

    docs = (
        Catalog(spark, sf_dir)
        .table("documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = _dct32()

        def img_for(pattern: np.ndarray) -> bytes:
            block = np.where(pattern, 30.0, -30.0)
            t = np.zeros((32, 32))
            t[:8, :8] = np.concatenate(([0.0], block)).reshape(8, 8)
            img = c.T @ t @ c + 128.0  # stays inside [0, 255] at ±30
            return ic.encode_png(np.rint(img).astype(np.uint8))

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                rng = np.random.default_rng(did + 77_000_000)
                ones = rng.choice(63, size=31, replace=False)
                base = np.zeros(63, dtype=bool)
                base[ones] = True
                zeros = np.where(~base)[0]
                rows.append((did, bytearray(img_for(base))))
                if did % 4 == 0:
                    twin = base.copy()
                    twin[ones[0]] = False
                    twin[zeros[0]] = True
                    rows.append(
                        (did + 40_000_000, bytearray(img_for(twin)))
                    )
                if did % 5 == 0:
                    decoy = base.copy()
                    decoy[ones[:4]] = False
                    decoy[zeros[:4]] = True
                    rows.append(
                        (did + 50_000_000, bytearray(img_for(decoy)))
                    )
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = docs.mapInPandas(mk, "media_id long, payload binary")
    return image_dup_pairs(media, max_hamming=3, bands=8)


def _q_media_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-only classification for the MEDIA index under the exact
    gate, through the BANDED (``max_hamming=2, bands=8``) leg — the one
    index path with no prior driver row — and simultaneously the driver
    adjudication of ``method="precomputed"`` (decode-free re-indexing:
    fingerprints are literal int64 arithmetic, no codec in the loop).

    Why a plain-SQL twin is exact here: with 8 disjoint 8-bit bands over
    the 64-bit hash and a hamming budget of 2, a within-threshold pair
    differs in at most 2 bands, so at least one band matches (pigeonhole)
    — banding is LOSSLESS and ground truth is just
    ``bit_count(xor(a, b)) <= 2`` over all pairs.  The gate therefore
    adjudicates the whole banded machinery (band derivation, bucket
    join, refine, keep-min precedence) against the arithmetic
    definition.

    Construction (``mix(x) = (x*2654435761 mod 2^32) +
    (x*98765431 mod (2^31-1)) * 2^32`` — two multiplicative mixes
    packed into the low/high halves, spreading fingerprints over 63
    bits while every intermediate stays inside int64 for BOTH engines;
    a single 32-bit mix left the top four 8-bit bands all-zero, making
    every fingerprint a band-candidate of every other — an 11M-pair
    refine at sf0.1, 17.7 s of pure degenerate-band tax):

    - index = ``doc_id % 3 == 0`` with ``fp = mix(doc_id)`` (the build's
      own in-batch banded dedup may drop accidental near pairs — the
      oracle replays that);
    - probe batch = ``doc_id % 3 == 1``, planted per residue mod 15:
      ``1`` -> xor 5 off an indexed fp (hamming 2 -> dup),
      ``4`` -> xor 21 off an indexed fp (hamming 3 -> just OUTSIDE the
      threshold — the refine boundary), ``7``/``13`` -> a shared fresh
      fp, the 13 xor 1 (hamming 1 in-batch pair: 7 fresh, 13
      in_batch_dup), else a fresh unique fp.

    Uncapped (``max_bucket_size=None``) for exact pair semantics; the
    probe leaves the index untouched (read-only contract)."""
    import shutil

    from fastdb_spark.pipeline.incmedia import (
        build_media_index,
        media_index_probe,
    )

    docs = Catalog(spark, sf_dir).table("documents").select("doc_id")
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    path = _scratch("fastdb_incmedia_probe_gate", tag)
    shutil.rmtree(path, ignore_errors=True)  # fresh index per adjudication

    def mix(col):
        lo = (col * F.lit(2654435761)) % F.lit(4294967296)
        hi = (col * F.lit(98765431)) % F.lit(2147483647)
        return lo + hi * F.lit(4294967296)

    b1 = docs.filter("doc_id % 3 = 0").select(
        "doc_id", mix(F.col("doc_id")).cast("long").alias("fp")
    )
    build_media_index(
        b1,
        path,
        id_col="doc_id",
        payload_col="fp",
        method="precomputed",
        max_hamming=2,
        bands=8,
        max_bucket_size=None,
    )
    d = F.col("doc_id")
    b2 = docs.filter("doc_id % 3 = 1").select(
        "doc_id",
        F.when(d % 15 == 1, mix(d - 1).bitwiseXOR(F.lit(5)))
        .when(d % 15 == 4, mix(d - 1).bitwiseXOR(F.lit(21)))
        .when(d % 15 == 7, mix(F.lit(1_000_000_000) + F.floor(d / 15)))
        .when(
            d % 15 == 13,
            mix(F.lit(1_000_000_000) + F.floor(d / 15)).bitwiseXOR(F.lit(1)),
        )
        .otherwise(mix(F.lit(2_000_000_000) + d))
        .cast("long")
        .alias("fp"),
    )
    return media_index_probe(
        spark, b2, path, payload_col="fp", max_bucket_size=None
    ).select("doc_id", "verdict")


def _mix_sql(x: str) -> str:
    """The gate's 63-bit fingerprint mix, duckdb spelling (see the
    ``_q_media_index_probe`` docstring)."""
    return (
        f"((({x}) * 2654435761) % 4294967296"
        f" + ((({x}) * 98765431) % 2147483647) * 4294967296)"
    )


# ground truth for the banded probe: hamming <= 2 over all pairs (see
# the gate docstring for why banding is lossless at bands=8, h=2)
_MEDIA_PROBE_ORACLE = f"""
    WITH idx0 AS MATERIALIZED (
      SELECT doc_id, {_mix_sql('doc_id')} AS fp
      FROM documents WHERE doc_id % 3 = 0),
    idxdrop AS MATERIALIZED (
      SELECT DISTINCT b.doc_id FROM idx0 a JOIN idx0 b
        ON a.doc_id < b.doc_id AND bit_count(xor(a.fp, b.fp)) <= 2),
    idx AS MATERIALIZED (SELECT * FROM idx0
      WHERE doc_id NOT IN (SELECT doc_id FROM idxdrop)),
    b2 AS MATERIALIZED (
      SELECT doc_id,
        CASE
          WHEN doc_id % 15 = 1
            THEN xor({_mix_sql('doc_id - 1')}, 5)
          WHEN doc_id % 15 = 4
            THEN xor({_mix_sql('doc_id - 1')}, 21)
          WHEN doc_id % 15 = 7
            THEN {_mix_sql('1000000000 + doc_id // 15')}
          WHEN doc_id % 15 = 13
            THEN xor({_mix_sql('1000000000 + doc_id // 15')}, 1)
          ELSE {_mix_sql('2000000000 + doc_id')}
        END AS fp
      FROM documents WHERE doc_id % 3 = 1),
    dup AS MATERIALIZED (
      SELECT DISTINCT b2.doc_id FROM b2 JOIN idx
        ON bit_count(xor(b2.fp, idx.fp)) <= 2),
    rest AS MATERIALIZED (SELECT * FROM b2
      WHERE doc_id NOT IN (SELECT doc_id FROM dup)),
    ibd AS MATERIALIZED (
      SELECT DISTINCT b.doc_id FROM rest a JOIN rest b
        ON a.doc_id < b.doc_id AND bit_count(xor(a.fp, b.fp)) <= 2)
    SELECT doc_id, 'dup' AS verdict FROM dup
    UNION ALL
    SELECT doc_id, 'in_batch_dup' AS verdict FROM ibd
    UNION ALL
    SELECT doc_id, 'fresh' AS verdict FROM rest
    WHERE doc_id NOT IN (SELECT doc_id FROM ibd)
"""


def _q_media_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted perceptual media index under the exact gate —
    build -> takedown -> upsert -> readback, every decision arithmetic:

    - build indexes one seeded 24x24 PNG per EVEN doc_id (the
      ``image_phash_dedup`` construction — pHashes verified unique
      across every doc_id at all three SFs);
    - ``media_index_remove`` takes down the indexed ids with
      ``doc_id % 10 == 0`` (partition-pruned rewrite on the id-bucketed
      layout);
    - the upsert batch carries, per ODD doc_id: a brightness twin of
      image ``doc_id - 1`` when ``doc_id % 4 == 1`` (pHash-identical to
      the indexed even — MUST be dropped, UNLESS that even was just
      removed: ``doc_id % 20 == 1`` — non-retroactive takedown
      semantics), else a fresh image; docs with ``doc_id % 8 == 3`` also
      plant an in-batch twin under ``doc_id + 60_000_000`` (the in-batch
      keep-min rule must drop the higher id).

    One wrong drop anywhere — hash determinism, the vs-index anti-join,
    the removal's completeness, in-batch keep-min — flips the final
    membership and the hash."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from fastdb_spark.pipeline.incmedia import (
        build_media_index,
        media_index_remove,
        media_index_upsert,
    )
    from fastdb_spark.pipeline.incdedup import _open
    from fastdb_spark.sources import imagecodec as ic

    docs = (
        Catalog(spark, sf_dir)
        .table("documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def png(did: int, shift: int = 0) -> bytearray:
        rng = np.random.default_rng(did)
        img = rng.integers(0, 248, (24, 24)).astype(np.uint8)
        return bytearray(ic.encode_png(img + np.uint8(shift)))

    def mk_even(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (int(d), png(int(d)))
                for d in pdf["doc_id"]
                if int(d) % 2 == 0
            ]
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    def mk_odd(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                if d % 2 == 0:
                    continue
                if d % 4 == 1:
                    rows.append((d, png(d - 1, shift=3)))
                else:
                    rows.append((d, png(d)))
                if d % 8 == 3:
                    rows.append((d + 60_000_000, png(d, shift=3)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    import shutil

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    path = _scratch("fastdb_incmedia_gate", tag)
    shutil.rmtree(path, ignore_errors=True)  # fresh index per adjudication
    schema = "media_id long, payload binary"
    build_media_index(docs.mapInPandas(mk_even, schema), path)
    rm = docs.filter("doc_id % 2 = 0 AND doc_id % 10 = 0").select(
        F.col("doc_id").alias("media_id")
    )
    media_index_remove(spark, rm, path)
    media_index_upsert(spark, docs.mapInPandas(mk_odd, schema), path)
    return _open(spark, path, "hashes").select("media_id")


def _q_media_index_av_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media index's VIDEO and AUDIO method dispatch under the exact
    gate (VERDICT r8 missing #6: ``method="video"/"audio"`` was
    pytest-only) — the ``media_index_roundtrip`` choreography run TWICE,
    once per non-image modality, every decision arithmetic:

    - video leg: seeded 6-frame raw-DIB AVIs per EVEN doc_id (the
      ``video_phash_dedup`` construction); the upsert batch plants a
      uniformly re-graded twin (+4 every pixel — per-frame pHash
      invariance lifts to the clip fingerprint) of image ``doc_id - 1``
      for ``doc_id % 4 == 1``, else a fresh clip; ``doc_id % 8 == 3``
      also plants an in-batch re-graded twin under ``doc_id + 70M``.
    - audio leg: seeded sine-mix WAVs (the ``audio_afp_dedup``
      construction); twins are gain-doubled (IEEE-exact for the
      Haitsma-Kalker sign bits), in-batch twins under ``doc_id + 80M``.
    - both legs take down indexed ids with ``doc_id % 10 == 0`` before
      the upsert, so twins of removed items (``doc_id % 20 == 1``) are
      ACCEPTED — non-retroactive takedown through the non-image
      dispatch.

    Membership formula per leg is identical to the image roundtrip; the
    gate returns the union tagged by modality, so a wrong drop in either
    method's fingerprint path, metadata freeze (``every_ms`` /
    ``audio_kw``), probe, or takedown flips the hash."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from fastdb_spark.pipeline.incmedia import (
        build_media_index,
        media_index_remove,
        media_index_upsert,
    )
    from fastdb_spark.pipeline.incdedup import _open
    from fastdb_spark.sources import avicodec as av
    from fastdb_spark.sources import imagecodec as ic

    docs = (
        Catalog(spark, sf_dir)
        .table("documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def avi(did: int, shift: int = 0) -> bytearray:
        rng = np.random.default_rng(did)
        frames = rng.integers(0, 248, (6, 16, 16, 3)).astype(np.uint8)
        return bytearray(
            av.encode_avi(frames + np.uint8(shift), fps=4, codec="rgb")
        )

    def wav(did: int, gain: int = 1) -> bytearray:
        rng = np.random.default_rng(did)
        t = np.arange(2048)
        sig = (
            2000 * np.sin(t * 0.05 * (1 + did % 5))
            + 1500 * np.sin(t * 0.013 * (1 + did % 3))
            + rng.normal(0, 300, 2048)
        ).astype(np.int16)
        return bytearray(
            ic.encode_wav((sig * np.int16(gain))[:, None], rate=16000)
        )

    def legs(mk_item, mk_twin, inbatch_base):
        def mk_even(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = [
                    (int(d), mk_item(int(d)))
                    for d in pdf["doc_id"]
                    if int(d) % 2 == 0
                ]
                yield pd.DataFrame(rows, columns=["media_id", "payload"])

        def mk_odd(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for d in pdf["doc_id"]:
                    d = int(d)
                    if d % 2 == 0:
                        continue
                    if d % 4 == 1:
                        rows.append((d, mk_twin(d - 1)))
                    else:
                        rows.append((d, mk_item(d)))
                    if d % 8 == 3:
                        rows.append((d + inbatch_base, mk_twin(d)))
                yield pd.DataFrame(rows, columns=["media_id", "payload"])

        return mk_even, mk_odd

    import shutil

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    schema = "media_id long, payload binary"

    def run_leg(spec):
        modality, mk_item, mk_twin, base, kw = spec
        mk_even, mk_odd = legs(mk_item, mk_twin, base)
        path = _scratch("fastdb_incmedia_av_gate", modality, tag)
        shutil.rmtree(path, ignore_errors=True)
        build_media_index(docs.mapInPandas(mk_even, schema), path, **kw)
        rm = docs.filter("doc_id % 2 = 0 AND doc_id % 10 = 0").select(
            F.col("doc_id").alias("media_id")
        )
        media_index_remove(spark, rm, path)
        media_index_upsert(spark, docs.mapInPandas(mk_odd, schema), path)
        return _open(spark, path, "hashes").select(
            F.lit(modality).alias("modality"), "media_id"
        )

    # the two modality legs are fully independent choreographies against
    # DISJOINT index paths/locks — overlap them (guide §2.6) instead of
    # the r11 serial loop; the returned union is identical
    from fastdb_spark.parallel import run_independent_jobs

    out = run_independent_jobs(
        run_leg,
        [
            (
                "video",
                avi,
                lambda d: avi(d, shift=4),
                70_000_000,
                {"method": "video", "every_ms": 500},
            ),
            (
                "audio",
                wav,
                lambda d: wav(d, gain=2),
                80_000_000,
                {"method": "audio"},
            ),
        ],
        max_workers=2,
    )
    return out[0].unionByName(out[1])


def _q_video_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual VIDEO dedup under the exact gate: per document a seeded
    6-frame raw-DIB AVI (pixels in 0..247); every fourth document plants
    a uniformly re-graded twin (+4 on every pixel of every frame) under
    ``media_id = doc_id + 30_000_000``.  Per-frame pHash brightness
    invariance lifts to the clip fingerprint (sampled-frame pHashes
    md5-folded in order), so ``video_dup_pairs`` must return exactly the
    planted pairs — an arithmetic oracle.  Container parsing, sampled
    seek, frame decode, DCT, and fold bugs all flip the hash."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from fastdb_spark.pipeline.imagededup import video_dup_pairs
    from fastdb_spark.sources import avicodec as av

    docs = (
        Catalog(spark, sf_dir)
        .table("documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                rng = np.random.default_rng(did)
                frames = rng.integers(0, 248, (6, 16, 16, 3)).astype(np.uint8)
                rows.append(
                    (did, bytearray(av.encode_avi(frames, fps=4, codec="rgb")))
                )
                if did % 4 == 0:
                    rows.append(
                        (
                            did + 30_000_000,
                            bytearray(
                                av.encode_avi(
                                    frames + np.uint8(4), fps=4, codec="rgb"
                                )
                            ),
                        )
                    )
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = docs.mapInPandas(mk, "media_id long, payload binary")
    return video_dup_pairs(media, every_ms=500)


def _q_ann_index_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-index takedown under the exact gate: build the persisted index
    from the even-id half of the clustered corpus, ``ivf_index_remove``
    every indexed vector with ``vec_id % 10 == 0`` (removal set derived
    from the index's OWN vectors table — the lineage-hazard caller
    shape; partition-pruned cluster rewrites), ``ivf_index_upsert``
    the odd half, then probe EXHAUSTIVELY (nprobe = n_clusters) so the
    result must EQUAL the exact top-10 over the corpus minus the
    removed ids.  A removal that left rows behind, dropped too much, or
    corrupted a partition swap flips the hash."""
    import shutil

    from fastdb_spark.pipeline.ann import (
        build_ivf_index,
        ivf_index_remove,
        ivf_index_upsert,
        ivf_search_index,
    )
    from fastdb_spark.pipeline.incdedup import _open

    embs, qvec = _ann_corpus(spark, sf_dir)
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    path = _scratch("fastdb_ivf_takedown", tag)
    shutil.rmtree(path, ignore_errors=True)  # fresh index per adjudication
    build_ivf_index(
        embs.filter("vec_id % 2 = 0"), path, n_clusters=8, strategy="seed"
    )
    rm = (
        _open(spark, path, "vectors")
        .filter("vec_id % 10 = 0")
        .select("vec_id")
    )
    ivf_index_remove(spark, rm, path)
    ivf_index_upsert(embs.filter("vec_id % 2 = 1"), path)
    return ivf_search_index(spark, path, qvec, k=10, nprobe=8).select(
        "vec_id", "cos"
    )


def _q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling under the exact gate: every fifth
    document becomes an 8-frame raw-DIB AVI (pixel values derived from
    doc_id), ``sample_frames_decoded`` decodes ONLY the sampled frames
    (fps=4, every 500 ms -> frame indices 0/2/4/6), and the per-frame
    pixel sums (reconstructed exactly from the emitted float mean) are
    adjudicated against an oracle that computes them arithmetically —
    wrong frame indexing, container parsing, or pixel decode all flip
    the hash."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from fastdb_spark.pipeline.multimodal import sample_frames_decoded
    from fastdb_spark.sources import avicodec as av

    docs = (
        Catalog(spark, sf_dir)
        .table("documents")
        .select("doc_id")
        .filter("doc_id % 5 = 0")
        # parallelize the per-doc AVI build/decode even off a one-file
        # table (same rationale as the codec-roundtrip gate)
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def mk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                f = np.arange(8, dtype=np.int64).reshape(8, 1, 1)
                k = np.arange(64, dtype=np.int64).reshape(1, 64, 1)
                c = np.arange(3, dtype=np.int64).reshape(1, 1, 3)
                frames = ((did * 19 + 5 * f + 2 * k + 3 * c) % 256).astype(
                    np.uint8
                ).reshape(8, 8, 8, 3)
                rows.append(
                    (
                        did,
                        "video",
                        bytearray(av.encode_avi(frames, fps=4, codec="rgb")),
                        "video/avi",
                        8,
                        8,
                        2000,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "modality", "payload", "mime",
                    "width", "height", "duration_ms",
                ],
            )

    media = docs.mapInPandas(
        mk,
        "media_id long, modality string, payload binary, mime string, "
        "width int, height int, duration_ms int",
    )
    sampled = sample_frames_decoded(media, every_ms=500)
    return sampled.select(
        "media_id",
        "frame_ts_ms",
        "frame_index",
        "height",
        "width",
        "channels",
        F.round(
            F.col("pix_mean")
            * F.col("height")
            * F.col("width")
            * F.col("channels")
        )
        .cast("long")
        .alias("pix_sum"),
    )


def _q_timescale_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3+F4 under the exact gate: sexagesimal parsing and the MJD/TAI
    time-scale conversions over a deterministic grid derived from events.
    Each row synthesizes an ``HH:MM:SS.ss`` / ``±DD:MM:SS.ss`` string
    from integer parts of event_id and parses it back with the real
    ``sexagesimal_to_deg`` (a genuine string round-trip — the oracle
    computes the degrees arithmetically from the same parts), and a
    deterministically back-shifted timestamp (up to ~40 years, crossing
    many leap-second steps) goes through ``mjd_from_timestamp`` on both
    the UTC and TAI scales plus the inverse ``timestamp_from_mjd`` with a
    1 ms round-trip assertion."""
    from fastdb_spark.functions.photometry import (
        mjd_from_timestamp,
        sexagesimal_to_deg,
        tai_offset_seconds,
        timestamp_from_mjd,
    )

    ev = Catalog(spark, sf_dir).table("events").filter(F.col("user_id") <= 200)
    hh = F.col("event_id") % 24
    mm = F.col("event_id") % 60
    ss = (F.col("event_id") % 60).cast("double") + F.lit(0.25)
    dd = F.col("event_id") % 89
    sign = F.when(F.col("event_id") % 2 == 0, F.lit("+")).otherwise(F.lit("-"))
    g = ev.select(
        "event_id",
        F.format_string("%02d:%02d:%05.2f", hh, mm, ss).alias("ra_str"),
        F.concat(
            sign, F.format_string("%02d:%02d:%05.2f", dd, mm, ss)
        ).alias("dec_str"),
        F.timestamp_seconds(
            F.unix_timestamp("ts") - (F.col("event_id") % 40) * F.lit(31557600)
        ).alias("t"),
    )
    mjd_utc = mjd_from_timestamp(F.col("t"), scale="utc")
    mjd_tai = mjd_from_timestamp(F.col("t"), scale="tai")
    rt = timestamp_from_mjd(mjd_utc, scale="utc")
    return g.select(
        "event_id",
        "ra_str",
        "dec_str",
        F.round(sexagesimal_to_deg(F.col("ra_str"), is_ra=True), 6).alias(
            "ra_deg"
        ),
        F.round(sexagesimal_to_deg(F.col("dec_str"), is_ra=False), 6).alias(
            "dec_deg"
        ),
        F.round(mjd_utc, 9).alias("mjd_utc"),
        F.round(mjd_tai, 9).alias("mjd_tai"),
        tai_offset_seconds(F.unix_timestamp("t")).cast("long").alias("tai_off"),
        (
            F.abs(
                F.unix_micros(rt).cast("double")
                - F.unix_micros("t").cast("double")
            )
            < F.lit(1000.0)
        ).alias("rt_ok"),
    )


def _timescale_oracle() -> str:
    """duckdb twin of _q_timescale_functions: identical leap-second CASE
    chain (generated from the SAME _LEAP_STEPS table), identical
    degree/MJD arithmetic."""
    from fastdb_spark.functions.photometry import _LEAP_STEPS, MJD_UNIX_EPOCH

    chain = " ".join(
        f"WHEN u >= {t} THEN {off}"
        for t, off in sorted(_LEAP_STEPS, reverse=True)
    )
    return f"""
        WITH g AS (
          SELECT event_id,
                 event_id % 24 AS hh, event_id % 60 AS mm,
                 CAST(event_id % 60 AS DOUBLE) + 0.25 AS ss,
                 event_id % 89 AS dd,
                 CASE WHEN event_id % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn,
                 CAST(floor(epoch(ts)) AS BIGINT)
                   - (event_id % 40) * 31557600 AS u
          FROM events WHERE user_id <= 200),
        o AS (
          SELECT *, CASE {chain} ELSE 0 END AS tai_off,
                 u / 86400.0 + {MJD_UNIX_EPOCH!r} AS mjd_utc
          FROM g)
        SELECT event_id,
               printf('%02d:%02d:%05.2f', hh, mm, ss) AS ra_str,
               (CASE WHEN sgn < 0 THEN '-' ELSE '+' END
                || printf('%02d:%02d:%05.2f', dd, mm, ss)) AS dec_str,
               round((hh + mm / 60.0 + ss / 3600.0) * 15.0, 6) AS ra_deg,
               round(sgn * (dd + mm / 60.0 + ss / 3600.0), 6) AS dec_deg,
               round(mjd_utc, 9) AS mjd_utc,
               round(mjd_utc + CAST(tai_off AS DOUBLE) / 86400.0, 9)
                 AS mjd_tai,
               CAST(tai_off AS BIGINT) AS tai_off,
               TRUE AS rt_ok
        FROM o
    """


def _q_ltcv_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 under the exact gate: the nested lightcurve parquet export
    (per-root sorted ``collect_list(struct)`` array, zstd compression —
    reference ``src/parquet_export.py:54-93``) is WRITTEN to scratch and
    read back; exploding the read-back array must reproduce the flat
    patch rows bit-for-bit.  The oracle is the ltcv_patch full-outer
    twin minus srcid (the export struct carries the photometry fields,
    not the source id) — one corrupted value anywhere in the
    write→zstd→read→explode path flips the hash."""
    from fastdb_spark.sources.export import export_lightcurves_parquet

    li = Catalog(spark, sf_dir).table("lineitem")
    flat = patch_lightcurve(
        ad.forced(li),
        ad.detections(li),
        keys=("rootid", "visit"),
        value_cols=["srcid", "band", "midpointmjdtai", "psfflux", "psffluxerr"],
    )
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    path = _scratch("fastdb_export_gate", tag)
    export_lightcurves_parquet(flat, None, path, compression="zstd")
    back = spark.read.parquet(path)
    return back.select("rootid", F.explode("lightcurve").alias("pt")).select(
        "rootid",
        F.col("pt.visit").alias("visit"),
        F.col("pt.band").alias("band"),
        F.col("pt.midpointmjdtai").alias("midpointmjdtai"),
        F.col("pt.psfflux").alias("psfflux"),
        F.col("pt.psffluxerr").alias("psffluxerr"),
        F.col("pt.isdet").alias("isdet"),
        F.col("pt.ispatch").alias("ispatch"),
    )


def _q_export_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 under the exact gate: the SAME deterministic frame is written
    through the gzip-JSONL sink and the CSV sink (reference
    ``src/services/long_query_runner.py:159-165`` result formats), read
    back through the matching sources with explicit schemas (no
    inference scan), and unioned with a format tag — both serialization
    round-trips must reproduce the duckdb-derived rows exactly."""
    from fastdb_spark.sources.export import export_csv, export_jsonl, read_jsonl

    docs = Catalog(spark, sf_dir).table("documents").select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("nchars"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("ntok"),
    )
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    jdir = _scratch("fastdb_export_jsonl", tag)
    cdir = _scratch("fastdb_export_csv", tag)
    export_jsonl(docs, jdir, compression="gzip")
    export_csv(docs, cdir)
    schema = "doc_id bigint, lang string, nchars bigint, ntok bigint"
    jback = read_jsonl(spark, jdir, schema=schema).withColumn(
        "fmt", F.lit("jsonl")
    )
    cback = (
        spark.read.schema(schema)
        .option("header", "true")
        .csv(cdir)
        .withColumn("fmt", F.lit("csv"))
    )
    return jback.unionByName(cback).select(
        "fmt", "doc_id", "lang", "nchars", "ntok"
    )


def _q_dp1_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 under the exact gate: a DP1-shaped NESTED parquet (one row per
    object with ``diaSource`` / ``diaObjectForcedSource`` struct arrays
    plus junk columns the column policy must drop) is synthesized from
    the events table ENTIRELY Spark-side (collect_list(struct) — no
    driver materialization), written to scratch, and loaded back through
    the real ``load_dp1_nested`` loader (reference
    ``src/admin/load_dp1_parquet.py:119-188``).  The three flat catalog
    frames are unioned on a common schema; selecting the mapped names
    (``psfflux`` from psfDiffFlux, ``scienceflux`` from psfFlux) proves
    the DP1ColumnMapper rename policy ran, and the junk columns are
    proven dropped by an explicit schema assertion.  All values are
    dyadic expressions of (user_id, event_id), so the round-trip is
    hash-exact against the duckdb twin re-deriving them from events."""
    from fastdb_spark.sources.loaders import load_dp1_nested

    ev = Catalog(spark, sf_dir).table("events").filter(F.col("user_id") <= 60)
    flux = F.floor("value").cast("double")
    src_struct = F.struct(
        (F.col("event_id") % 100000).alias("visit"),
        (F.col("event_id") % 9).alias("detector"),
        F.col("event_type").alias("band"),
        (F.lit(60000.0) + (F.col("event_id") % 1000) * F.lit(0.25)).alias(
            "midpointMjdTai"
        ),
        flux.alias("psfFlux"),
        F.lit(4.0).alias("psfFluxErr"),
        (flux / F.lit(4.0)).alias("snr"),
        F.lit("drop-me").alias("pixelFlagsJunk"),  # not in the keep-list
    )
    frc_struct = F.struct(
        (F.col("user_id") * F.lit(0.125)).alias("coord_ra"),
        (F.col("user_id") * F.lit(0.0625) - F.lit(10.0)).alias("coord_dec"),
        (flux + F.lit(0.5)).alias("psfDiffFlux"),
        F.lit(2.0).alias("psfDiffFluxErr"),
        (flux * F.lit(2.0)).alias("psfFlux"),
        F.lit(1.0).alias("psfFluxErr"),
        (F.col("event_id") % 100000).alias("visit"),
        (F.col("event_id") % 9).alias("detector"),
        (F.lit(60000.0) + (F.col("event_id") % 1000) * F.lit(0.25)).alias(
            "midpointMjdTai"
        ),
        F.col("event_type").alias("band"),
    )
    nested = (
        ev.groupBy(F.col("user_id").alias("diaObjectId"))
        .agg(
            F.collect_list(src_struct).alias("diaSource"),
            F.collect_list(frc_struct).alias("diaObjectForcedSource"),
        )
        .withColumn("ra", F.col("diaObjectId") * F.lit(0.125))
        .withColumn("dec", F.col("diaObjectId") * F.lit(0.0625) - F.lit(10.0))
        .withColumn("radecMjdTai", F.lit(60000.0))
        .withColumn("nDiaSources", F.size("diaSource"))  # dropped by policy
    )
    path = _scratch("fastdb_dp1_gate",
                    os.path.basename(os.path.normpath(sf_dir)))
    nested.write.mode("overwrite").parquet(path)
    frames = load_dp1_nested(spark, path, base_procver="bpv-dp1")
    obj, src, frc = (
        frames["diaobject"], frames["diasource"], frames["diaforcedsource"]
    )
    # column policy proof: junk/unmapped columns are gone, renames landed
    assert "pixelflagsjunk" not in {c.lower() for c in src.columns}, src.columns
    assert "ndiasources" not in {c.lower() for c in obj.columns}, obj.columns
    assert {"psfflux", "psffluxerr", "scienceflux", "sciencefluxerr"} <= set(
        frc.columns
    ), frc.columns
    obj_leg = obj.select(
        F.lit("obj").alias("tbl"),
        F.col("diaobjectid").cast("long").alias("diaobjectid"),
        F.lit(-1).cast("long").alias("visit"),
        F.lit("none").alias("band"),
        F.col("radecmjdtai").alias("mjd"),
        F.col("ra").alias("v1"),
        F.col("dec").alias("v2"),
        "base_procver_id",
    )
    src_leg = src.select(
        F.lit("src").alias("tbl"),
        F.col("diaobjectid").cast("long").alias("diaobjectid"),
        F.col("visit").cast("long").alias("visit"),
        "band",
        F.col("midpointmjdtai").alias("mjd"),
        F.col("psfflux").alias("v1"),
        F.col("snr").alias("v2"),
        "base_procver_id",
    )
    frc_leg = frc.select(
        F.lit("frc").alias("tbl"),
        F.col("diaobjectid").cast("long").alias("diaobjectid"),
        F.col("visit").cast("long").alias("visit"),
        "band",
        F.col("midpointmjdtai").alias("mjd"),
        F.col("psfflux").alias("v1"),
        F.col("scienceflux").alias("v2"),
        "base_procver_id",
    )
    return obj_leg.unionByName(src_leg).unionByName(frc_leg)


def _q_doc_embed_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Word2Vec POOLING+table path under an exact oracle: a trained
    vector space has no replayable twin (which is why the trained
    ``doc_similar_w2v`` gate was retired in r12), so this
    gate swaps it for a deterministic word-vector table derived from the
    corpus vocabulary (small integer components: ascii codes + length)
    and drives the real ``doc_embeddings`` pooling — integer components
    make every per-(doc,dim) sum exact and order-independent, so the
    float32 mean is bit-reproducible in duckdb."""
    from fastdb_spark.pipeline.embed import doc_embeddings

    docs = Catalog(spark, sf_dir).table("documents").select("doc_id", "text")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]{3,}$"))
        .distinct()
    )
    wv = vocab.select(
        "word",
        F.array(
            F.ascii("word").cast("float"),
            F.length("word").cast("float"),
            F.expr("ascii(right(word, 1))").cast("float"),
            F.lit(7.0).cast("float"),
        ).alias("vector"),
    )
    emb = doc_embeddings(docs, wv)
    return (
        emb.select("doc_id", F.posexplode("embedding").alias("dim", "val"))
        .withColumn("val", F.col("val").cast("double"))
    )


def _q_doc_similar_w2v_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantic-search SEARCH leg under an exact oracle (VERDICT r8
    missing #5: ``doc_similar_w2v`` was the last rows-only text gate,
    because a TRAINED vector space has no SQL twin).  This gate freezes
    the vector table instead — the same deterministic seeded vectors as
    ``doc_embed_pool`` (integer components: ascii codes + length) — and
    drives the REAL ``similar_documents`` pooling + brute-force cosine
    top-k path end to end.

    Exactness chain, engine to engine: per-(doc, dim) means are
    integer-sum / count cast to float32 (bit-identical); the cosine runs
    over doubles with LEFT-TO-RIGHT sums (``functions.vectors.dot`` is a
    sequential ``aggregate``; dim = 4 lets the oracle spell the same
    parenthesization literally), rounded to 6 decimals; ties break by
    vec_id in both engines.  The trained-space gate stays registered as
    the rows-only companion."""
    from fastdb_spark.pipeline.embed import similar_documents

    docs = Catalog(spark, sf_dir).table("documents").select("doc_id", "text")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word").rlike("^[a-z]{3,}$"))
        .distinct()
    )
    wv = vocab.select(
        "word",
        F.array(
            F.ascii("word").cast("float"),
            F.length("word").cast("float"),
            F.expr("ascii(right(word, 1))").cast("float"),
            F.lit(7.0).cast("float"),
        ).alias("vector"),
    )
    return similar_documents(
        docs, query_doc_id=0, k=10, word_vectors=wv
    ).select("vec_id", "cos")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver adjudicates the first 50 entries against
    # their oracles.  ROTATION INVARIANT (codified round 8): every gate
    # has a driver row within the last three rounds, plus three hard
    # rules — (a) a gate born in round N sits in round N's window head,
    # (b) the named stable laggards LEAD the next round's window, and
    # (c) a gate whose CODE OR ORACLE changed in round N sits in round
    # N's window (its prior evidence no longer describes what ships).
    #
    # REGISTRY RETIREMENT / MERGE POLICY (pinned round 12, VERDICT r11
    # "what's missing" #3): the 50-slot window and the 3-round closure
    # invariant cap the registry at 150 gates — beyond that the
    # invariant is arithmetically unsatisfiable.  Standing rules:
    #   1. A gate must be ADJUDICABLE.  A gate that can never produce a
    #      rows+schema+hash row (non-deterministic training with no
    #      frozen-input twin) is retired once an exact twin covers its
    #      deterministic semantics — executed this round for
    #      doc_similar_w2v (trained Word2Vec; its pooling/top-k
    #      arithmetic is fully covered by the r11-green
    #      doc_similar_w2v_exact; the trained operator itself,
    #      pipeline/embed.similar_documents, stays pytest-covered).
    #   2. A BORN gate displaces from the bottom: if the registry is at
    #      capacity (>= 140), the new gate's author must name a merge —
    #      first candidates: pagination/pagination_ranged (same
    #      operator, two parameterizations) and media_index_roundtrip/
    #      media_probe (probe is a subset of the roundtrip) — and fold
    #      the displaced gate's distinctive assertions into pytest.
    #   3. A retired gate's query function is deleted with its registry
    #      row; its operator keeps (or gains) direct pytest coverage.
    #
    # ROUND-12 WINDOW (executed exactly as pinned in ROUND_NOTES r11 /
    # VERDICT r11 #1): the two gates born this round sit at the window
    # head (rule a) — hybrid_search_rrf_batch (the batched BM25+vector
    # RRF fusion, VERDICT r11 #3) and query_expansion_rm
    # (pseudo-relevance-feedback retrieval: BM25 pool -> RM1 expansion
    # terms -> expanded BM25 pass, Lavrenko & Croft 2001); the
    # TWENTY-THREE r12-named laggards (r9-green astronomy/TPC-H/
    # stable-text shapes) lead the rest (rule b); ann_lsh_topk follows
    # under rule (c) — its oracle's sign test gained round-9
    # quantization this round (ADVICE r11 #1), so its r11 row no longer
    # describes the shipped comparison; then 24 r10-window gates,
    # prioritizing the ones exercising this round's touched modules
    # (tfidf_topk — retrieval.py; dedup_index_roundtrip /
    # dedup_index_takedown — greedy-MIS edge contract;
    # ann_index_takedown — ann.py meta handling).  NAMED LAGGARDS for
    # r13 (r10-green, untouched this round; they lead the r13 window):
    # video_frame_sample, media_probe, epoch_mix, dp1_load,
    # ltcv_export_roundtrip, export_sinks_roundtrip,
    # avro_alert_roundtrip, load_alert_batch, bulk_upsert_roundtrip,
    # pack_sequences, pack_manifest, pack_materialize,
    # leakage_safe_split, domain_mix_sample, doc_perplexity,
    # doc_perplexity_bigram, versioned_dedup_bucketed,
    # ltcv_patch_bucketed, cone_search_layout.
    # tests/test_round12.py::test_rotation_invariant_r12 asserts the
    # r11 union r12 windows cover everything except exactly that set;
    # the expected rows-only set for this window is EMPTY — with
    # doc_similar_w2v retired, every registered gate has an exact
    # duckdb oracle.
    return {
        # --- round-12 window (first 50) ------------------------------
        # rule (a): the gates born THIS round sit at the window head
        "hybrid_search_rrf_batch": _q_hybrid_search_batch,
        "query_expansion_rm": _q_query_expansion,
        # then the 23 named laggards (r9-green; VERDICT r11 #1
        # executed exactly as pinned)
        "ltcv_patch": _q_ltcv_patch,
        "snana_load_roundtrip": _q_snana_load,
        "priority_dedup": _q_priority_dedup,
        "versioned_dedup": _q_versioned_dedup,
        "first_seen_dedup": _q_first_seen_dedup,
        "ltcv_detections_cut": _q_ltcv_detections_cut,
        "crossmatch": _q_crossmatch,
        "spectrum_workflow": _q_spectrum_workflow,
        "range_join": _q_range_join,
        "cone_search": _q_cone_search,
        "ltcv_nested_probe": _q_ltcv_nested_probe,
        "asof_latest_forced": _q_asof_latest_forced,
        "object_search": _q_object_search,
        "versioned_count": _q_versioned_count,
        "hot_ltcvs": _q_hot_ltcvs,
        "skewed_aggregate": _q_skewed_aggregate,
        "corpus_quantiles": _q_corpus_quantiles,
        "pii_redaction": _q_pii_redaction,
        "bm25_search": _q_bm25_search,
        "multimodal_codec_roundtrip": _q_multimodal_codec,
        "multimodal_features": _q_multimodal_features,
        "alert_reconstruct": _q_alert_reconstruct,
        "objstats_combined": _q_objstats_combined,
        # rule (c): the LSH oracle's sign test changed this round
        # (ADVICE r11 #1 — round-9 quantization on both engines), so
        # the gate re-adjudicates under the shipped comparison
        "ann_lsh_topk": _q_ann_lsh,
        # then 25 r10-window gates — touched-module consumers first
        # (retrieval.py grew the batched-hybrid oracle; dedup.py's
        # greedy-MIS gained the explicit null-edge contract; ann.py's
        # meta reader now fails loudly on corruption)
        "tfidf_topk": _q_tfidf_topk,
        "dedup_index_roundtrip": _q_dedup_index_roundtrip,
        "dedup_index_takedown": _q_dedup_index_takedown,
        "ann_index_takedown": _q_ann_index_takedown,
        # remaining r10-window gates in their r10 artifact order
        "union_distinct": _q_union_distinct,
        "values_lookup": _q_values_lookup,
        "anti_join": _q_anti_join,
        "sql_passthrough": _q_sql_passthrough,
        "flux_to_mag": _q_flux_to_mag,
        "keyword_search": _q_keyword_search,
        "topk_per_group": _q_topk_per_group,
        "pricing_summary": _q_pricing_summary,
        "revenue_by_nation": _q_revenue_by_nation,
        "doc_stats": _q_doc_stats,
        "sessionize": _q_sessionize,
        "broker_info": _q_broker_info,
        "rolling_fingerprint": _q_rolling_fingerprint,
        "vocab_topk": _q_vocab_topk,
        "corpus_rollup": _q_corpus_rollup,
        "media_index_roundtrip": _q_media_index_roundtrip,
        "image_banded_neardup": _q_image_banded_neardup,
        "image_phash_dedup": _q_image_phash_dedup,
        "audio_afp_dedup": _q_audio_afp_dedup,
        "video_phash_dedup": _q_video_phash_dedup,
        # --- adjudication tail (position >50): first the 19 NAMED r13
        # LAGGARDS that lead the r13 window (all r10-green, untouched
        # by this round's changes; video_frame_sample was displaced
        # from the window by the second born gate), then the
        # r11-window gates; every tail gate still runs in
        # tests/test_oracle_parity.py and tools/stock_sweep.py every
        # session ----------------------------------------------------
        "video_frame_sample": _q_video_frame_sample,
        "media_probe": _q_media_probe,
        "epoch_mix": _q_epoch_mix,
        "dp1_load": _q_dp1_load,
        "ltcv_export_roundtrip": _q_ltcv_export_roundtrip,
        "export_sinks_roundtrip": _q_export_sinks,
        "avro_alert_roundtrip": _q_avro_alert_roundtrip,
        "load_alert_batch": _q_load_alert_batch,
        "bulk_upsert_roundtrip": _q_bulk_upsert_roundtrip,
        "pack_sequences": _q_pack_sequences,
        "pack_manifest": _q_pack_manifest,
        "pack_materialize": _q_pack_materialize,
        "leakage_safe_split": _q_leakage_safe_split,
        "domain_mix_sample": _q_domain_mix,
        "doc_perplexity": _q_doc_perplexity,
        "doc_perplexity_bigram": _q_doc_perplexity_bigram,
        "versioned_dedup_bucketed": _q_versioned_dedup_bucketed,
        "ltcv_patch_bucketed": _q_ltcv_patch_bucketed,
        "cone_search_layout": _q_cone_search_layout,
        # r11-window gates (driver-green in CORRECTNESS_r11; ann_lsh
        # rotated back into the window above under rule c)
        "ann_ivfpq_batch": _q_ann_ivfpq_batch,
        "hybrid_search_rrf": _q_hybrid_search,
        "boilerplate_removal": _q_boilerplate_removal,
        "chunk_docs": _q_chunk_docs,
        "corpus_card": _q_corpus_card,
        "doc_repetition": _q_doc_repetition,
        "duplicate_spans": _q_duplicate_spans,
        "intra_doc_dedup": _q_intra_doc_dedup,
        "json_extract": _q_json_extract,
        "latest_mag_per_band": _q_latest_mag_per_band,
        "pagination": _q_pagination,
        "pagination_ranged": _q_pagination_ranged,
        "pseudorandom_sample": _q_pseudorandom_sample,
        "shuffle_shards": _q_shuffle_shards,
        "timescale_functions": _q_timescale_functions,
        "token_budget_select": _q_token_budget,
        "uuid_minting": _q_uuid_minting,
        "ann_ivf_topk": _q_ann_ivf,
        "ann_ivf_index": _q_ann_ivf_index,
        "ann_pq_topk": _q_ann_pq,
        "ann_ivfpq_topk": _q_ann_ivfpq,
        "ann_ivfpq_res_topk": _q_ann_ivfpq_res,
        "media_index_av_roundtrip": _q_media_index_av_roundtrip,
        "doc_similar_w2v_exact": _q_doc_similar_w2v_exact,
        "dedup_index_probe": _q_dedup_index_probe,
        "dedup_index_compaction": _q_dedup_index_compaction,
        "media_index_probe": _q_media_index_probe,
        "semantic_dedup": _q_semantic_dedup,
        "semantic_index_roundtrip": _q_semantic_index_roundtrip,
        "ann_cosine_topk": _q_ann_topk,
        "decontaminate": _q_decontaminate,
        "stratified_sample": _q_stratified_sample,
        "stream_windowed_rates": _q_stream_windowed_rates,
        "objstats_per_band": _q_objstats_per_band,
        "weighted_position": _q_weighted_position,
        "mix_report": _q_mix_report,
        "ann_exhaustive_exact": _q_ann_exhaustive,
        "ann_batch_topk": _q_ann_batch_topk,
        "bpe_train_merges": _q_bpe_train_merges,
        "doc_embed_pool": _q_doc_embed_pool,
        "bpe_encode": _q_bpe_encode,
        "minhash_lsh_dedup": _q_minhash_lsh,
        "simhash_dedup": _q_simhash_dedup,
        "ngram_jaccard_dedup": _q_ngram_jaccard,
        "dup_clusters": _q_dup_clusters,
        "curate_corpus": _q_curate_corpus,
        "training_set": _q_training_set,
        "exact_dedup": _q_exact_dedup,
        "embedding_neardup": _q_embedding_neardup,
    }

# ---------------------------------------------------------------------------
# duckdb oracle SQL


_HAV_CENTER = (
    "degrees(2*asin(sqrt("
    " sin(radians(0.0 - \"dec\")/2) * sin(radians(0.0 - \"dec\")/2)"
    " + cos(radians(\"dec\")) * cos(radians(0.0))"
    "   * sin(radians(180.0 - ra)/2) * sin(radians(180.0 - ra)/2) )))"
)

_HAV_PAIR = (
    "degrees(2*asin(sqrt("
    " sin(radians(c.\"dec\" - p.\"dec\")/2) * sin(radians(c.\"dec\" - p.\"dec\")/2)"
    " + cos(radians(p.\"dec\")) * cos(radians(c.\"dec\"))"
    "   * sin(radians(c.ra - p.ra)/2) * sin(radians(c.ra - p.ra)/2) )))"
)


def oracle_sql() -> dict[str, str]:
    from fastdb_spark.pipeline import oracles as po
    from fastdb_spark.pipeline.sample import (
        domain_mix_oracle_sql,
        epoch_mix_oracle_sql,
        sample_oracle_sql,
    )
    thr = {24: 912.011, 23: 2290.87, 22: 5754.40, 21: 14454.4}
    ndets_cases = ", ".join(
        f"CAST(sum(CASE WHEN psfflux >= {v} THEN 1 ELSE 0 END) AS BIGINT) AS ndets{m}"
        for m, v in thr.items()
    )
    nsn_cases = ", ".join(
        f"CAST(sum(CASE WHEN psfflux/psffluxerr >= {s} THEN 1 ELSE 0 END) AS BIGINT) AS nsn{s}"
        for s in (10, 7, 5)
    )

    return {
        # --- write-path gates (round 5): the oracle re-derives the batch
        # and states the expected FINAL table contents ------------------
        "load_alert_batch": """
            WITH base AS (
              SELECT event_id, user_id % 50 AS oid,
                     event_id % 1000 AS visit, event_type AS band,
                     60000.0 + (event_id % 1000) * 0.25 AS mjd,
                     floor("value") AS flux,
                     user_id * 0.125 AS ra,
                     user_id * 0.0625 - 10.0 AS decl
              FROM events),
            cur AS (
              SELECT event_id AS diasourceid, oid, visit, band, mjd,
                     flux, flux AS errx4,
                     (CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END
                      + CASE WHEN event_id % 3 = 0 THEN 2 ELSE 0 END
                      + CASE WHEN event_id % 5 = 0 THEN 4 ELSE 0 END) AS flags,
                     ra, decl
              FROM base),
            prv AS (
              SELECT event_id + 10000000 AS diasourceid, oid,
                     visit + 1 AS visit, band, mjd + 0.25 AS mjd,
                     flux + 1 AS flux, flux + 1 AS errx4, 0 AS flags,
                     ra, decl
              FROM base WHERE event_id % 4 = 0),
            u AS (SELECT * FROM cur UNION ALL SELECT * FROM prv)
            SELECT diasourceid, oid AS diaobjectid, visit, band,
                   mjd AS midpointmjdtai, CAST(flux AS DOUBLE) AS psfflux,
                   CAST(errx4 AS BIGINT) AS fluxerr_x4, ra, decl,
                   CAST(flags AS BIGINT) AS flags,
                   '2026-01-01 00:00:00' AS savetime_s
            FROM u WHERE oid <> 0
        """,
        "bulk_upsert_roundtrip": """
            SELECT o_orderkey, o_custkey,
                   CASE WHEN o_orderkey % 2 = 0
                        THEN CAST(floor(o_totalprice*100) AS BIGINT) + 1
                        ELSE CAST(floor(o_totalprice*100) AS BIGINT)
                   END AS price_c,
                   CASE WHEN o_orderkey % 2 = 0 THEN 'v2'
                        WHEN o_orderkey % 3 <> 0 THEN 'v1'
                        ELSE 'v3' END AS ver
            FROM orders
            WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 <> 0
               OR o_orderkey % 5 = 0
        """,
        "snana_load_roundtrip": """
            WITH e AS (
              SELECT user_id, event_id, event_type,
                     floor("value") AS flux,
                     60000.0 + (event_id % 1000) * 0.25 AS mjd,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY event_id) - 1 AS seq
              FROM events WHERE user_id <= 40)
            SELECT user_id AS diaobjectid,
                   user_id * 100000 + seq AS diaforcedsourceid,
                   CAST(floor(mjd * 20000) AS BIGINT) AS visit,
                   event_type AS band,
                   mjd AS midpointmjdtai,
                   CAST(flux AS BIGINT) AS psfflux_i,
                   CAST(flux AS BIGINT) AS fluxerr_x4,
                   user_id * 0.125 AS ra,
                   user_id * 0.0625 - 10.0 AS decl,
                   (event_id % 2) = 1 AS is_detection
            FROM e
        """,
        "dp1_load": """
            WITH e AS (
              SELECT user_id, event_id, event_type AS band,
                     CAST(event_id % 100000 AS BIGINT) AS visit,
                     60000.0 + (event_id % 1000) * 0.25 AS mjd,
                     CAST(floor("value") AS DOUBLE) AS flux
              FROM events WHERE user_id <= 60)
            SELECT 'obj' AS tbl, CAST(user_id AS BIGINT) AS diaobjectid,
                   CAST(-1 AS BIGINT) AS visit, 'none' AS band,
                   60000.0 AS mjd, user_id * 0.125 AS v1,
                   user_id * 0.0625 - 10.0 AS v2,
                   'bpv-dp1' AS base_procver_id
            FROM (SELECT DISTINCT user_id FROM e) u
            UNION ALL
            SELECT 'src', user_id, visit, band, mjd,
                   flux, flux / 4.0, 'bpv-dp1' FROM e
            UNION ALL
            SELECT 'frc', user_id, visit, band, mjd,
                   flux + 0.5, flux * 2.0, 'bpv-dp1' FROM e
        """,
        # the search leg over the SAME frozen vector table as
        # doc_embed_pool: float32 pooled components cast to double, the
        # cosine spelled with the exact left-to-right parenthesization
        # of functions.vectors.dot, ties broken by vec_id in both
        # engines; rank-1 is always the query doc itself (cos 1.0, min
        # id), excluded like similar_documents excludes it
        "doc_similar_w2v_exact": """
            WITH t0 AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents),
            t AS (SELECT doc_id, word FROM t0 WHERE word <> ''),
            v AS (SELECT DISTINCT word FROM t
                  WHERE regexp_matches(word, '^[a-z]{3,}$')),
            j AS (SELECT t.doc_id, t.word FROM t JOIN v USING (word)),
            comp AS (
              SELECT doc_id, d.dim,
                     CASE d.dim
                       WHEN 0 THEN ascii(word)
                       WHEN 1 THEN length(word)
                       WHEN 2 THEN ascii(right(word, 1))
                       ELSE 7 END AS c
              FROM j CROSS JOIN (VALUES (0), (1), (2), (3)) AS d(dim)),
            dims AS (
              SELECT doc_id, dim,
                     CAST(CAST(sum(CAST(c AS DOUBLE)) / count(*) AS REAL)
                          AS DOUBLE) AS val
              FROM comp GROUP BY doc_id, dim),
            e AS (
              SELECT doc_id,
                     max(CASE WHEN dim = 0 THEN val END) AS e0,
                     max(CASE WHEN dim = 1 THEN val END) AS e1,
                     max(CASE WHEN dim = 2 THEN val END) AS e2,
                     max(CASE WHEN dim = 3 THEN val END) AS e3
              FROM dims GROUP BY doc_id),
            q AS (SELECT e0 AS q0, e1 AS q1, e2 AS q2, e3 AS q3
                  FROM e WHERE doc_id = 0),
            scored AS (
              SELECT e.doc_id AS vec_id,
                     round((e0*q0 + e1*q1 + e2*q2 + e3*q3)
                           / (sqrt(e0*e0 + e1*e1 + e2*e2 + e3*e3)
                              * sqrt(q0*q0 + q1*q1 + q2*q2 + q3*q3)),
                           6) AS cos
              FROM e CROSS JOIN q),
            ranked AS (
              SELECT vec_id, cos,
                     row_number() OVER (ORDER BY cos DESC, vec_id) AS rn
              FROM scored)
            SELECT vec_id, cos FROM ranked
            WHERE rn <= 11 AND vec_id <> 0
            ORDER BY cos DESC, vec_id LIMIT 10
        """,
        "doc_embed_pool": """
            WITH t0 AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents),
            t AS (SELECT doc_id, word FROM t0 WHERE word <> ''),
            v AS (SELECT DISTINCT word FROM t
                  WHERE regexp_matches(word, '^[a-z]{3,}$')),
            j AS (SELECT t.doc_id, t.word FROM t JOIN v USING (word)),
            comp AS (
              SELECT doc_id, d.dim,
                     CASE d.dim
                       WHEN 0 THEN ascii(word)
                       WHEN 1 THEN length(word)
                       WHEN 2 THEN ascii(right(word, 1))
                       ELSE 7 END AS c
              FROM j CROSS JOIN (VALUES (0), (1), (2), (3)) AS d(dim))
            SELECT doc_id, dim,
                   CAST(CAST(sum(CAST(c AS DOUBLE)) / count(*) AS REAL)
                        AS DOUBLE) AS val
            FROM comp GROUP BY doc_id, dim
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice*(1-l_discount)), 4) AS sum_disc_price,
                   round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)), 4) AS sum_charge,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "priority_dedup": f"""
            WITH v AS ({ad.VERSIONED_SQL})
            SELECT rootid, visit, srcid, priority, band, midpointmjdtai,
                   psfflux, psffluxerr
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY rootid, visit
                      ORDER BY priority DESC, srcid DESC, band DESC,
                               midpointmjdtai DESC, psfflux DESC,
                               psffluxerr DESC) AS rn FROM v)
            WHERE rn = 1
        """,
        # identical answer through the bucketed layout: co-location must
        # not change results (it only removes the shuffle)
        "versioned_dedup_bucketed": f"""
            WITH v AS ({ad.VERSIONED_SQL})
            SELECT rootid, visit, srcid, priority, band, midpointmjdtai,
                   psfflux, psffluxerr
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY rootid, visit
                      ORDER BY priority DESC, srcid DESC, band DESC,
                               midpointmjdtai DESC, psfflux DESC,
                               psffluxerr DESC) AS rn FROM v)
            WHERE rn = 1
        """,
        "versioned_dedup": f"""
            WITH v AS ({ad.VERSIONED_SQL})
            SELECT rootid, visit, srcid, band, midpointmjdtai,
                   psfflux, psffluxerr, base_procver_id
            FROM (SELECT *, 'bpv' || CAST(priority AS VARCHAR) AS base_procver_id,
                         row_number() OVER (
                      PARTITION BY rootid, visit
                      ORDER BY priority DESC, srcid DESC, band DESC,
                               midpointmjdtai DESC, psfflux DESC,
                               psffluxerr DESC) AS rn FROM v)
            WHERE rn = 1
        """,
        "first_seen_dedup": """
            SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY user_id ORDER BY ts, event_id) AS rn
                  FROM events)
            WHERE rn = 1
        """,
        "sessionize": """
            WITH w AS (
              SELECT user_id, epoch_us(ts) AS ts_us, value,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                                 PARTITION BY user_id ORDER BY ts, event_id))
                               > 30*60*1000000
                          THEN 1 ELSE 0 END AS is_new,
                     event_id
              FROM events),
            s AS (
              SELECT user_id, ts_us, value,
                     -- duckdb SUM(int) is HUGEINT (int128) which pandas
                     -- renders as float; cast to match Spark's bigint
                     CAST(sum(is_new) OVER (PARTITION BY user_id
                         ORDER BY ts_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS session_seq
              FROM w)
            SELECT user_id, session_seq,
                   count(*) AS n_events,
                   -- +0.0 collapses IEEE -0.0 to +0.0 (Spark's round goes
                   -- through BigDecimal, which has no signed zero)
                   round(list_reduce(list_prepend(0.0::DOUBLE,
                         list_sort(list(value))), (a,b) -> a+b), 6) + 0.0
                     AS session_value,
                   min(ts_us) AS start_us,
                   max(ts_us) AS end_us
            FROM s GROUP BY user_id, session_seq
        """,
        "ltcv_patch": _pat(
            f"""
            SELECT COALESCE(f.rootid, s.rootid) AS rootid,
                   COALESCE(f.visit, s.visit) AS visit,
                   CASE WHEN f.rootid IS NULL THEN s.srcid ELSE f.srcid END AS srcid,
                   CASE WHEN f.rootid IS NULL THEN s.band ELSE f.band END AS band,
                   CASE WHEN f.rootid IS NULL THEN s.midpointmjdtai ELSE f.midpointmjdtai END AS midpointmjdtai,
                   CASE WHEN f.rootid IS NULL THEN s.psfflux ELSE f.psfflux END AS psfflux,
                   CASE WHEN f.rootid IS NULL THEN s.psffluxerr ELSE f.psffluxerr END AS psffluxerr,
                   (s.rootid IS NOT NULL) AS isdet,
                   (f.rootid IS NULL) AS ispatch
            FROM (SELECT * FROM p WHERE {ad.FORCED_PRED_SQL}) f
            FULL OUTER JOIN (SELECT * FROM p WHERE {ad.DETECTIONS_PRED_SQL}) s
              ON f.rootid = s.rootid AND f.visit = s.visit
            """
        ),
        "ltcv_export_roundtrip": _pat(
            f"""
            SELECT COALESCE(f.rootid, s.rootid) AS rootid,
                   COALESCE(f.visit, s.visit) AS visit,
                   CASE WHEN f.rootid IS NULL THEN s.band ELSE f.band END AS band,
                   CASE WHEN f.rootid IS NULL THEN s.midpointmjdtai ELSE f.midpointmjdtai END AS midpointmjdtai,
                   CASE WHEN f.rootid IS NULL THEN s.psfflux ELSE f.psfflux END AS psfflux,
                   CASE WHEN f.rootid IS NULL THEN s.psffluxerr ELSE f.psffluxerr END AS psffluxerr,
                   (s.rootid IS NOT NULL) AS isdet,
                   (f.rootid IS NULL) AS ispatch
            FROM (SELECT * FROM p WHERE {ad.FORCED_PRED_SQL}) f
            FULL OUTER JOIN (SELECT * FROM p WHERE {ad.DETECTIONS_PRED_SQL}) s
              ON f.rootid = s.rootid AND f.visit = s.visit
            """
        ),
        "timescale_functions": _timescale_oracle(),
        "dedup_index_roundtrip": po.incdedup_oracle_sql(),
        "dedup_index_probe": po.incdedup_oracle_sql(final="probe"),
        "media_index_probe": _MEDIA_PROBE_ORACLE,
        # compaction is content-preserving by contract: same twin as the
        # roundtrip, read back AFTER the partition rewrite
        "dedup_index_compaction": po.incdedup_oracle_sql(),
        "dedup_index_takedown": po.incdedup_oracle_sql(
            remove_pred="doc_id % 10 = 0"
        ),
        "ann_index_takedown": po.ann_takedown_sql(),
        "image_phash_dedup": """
            SELECT doc_id AS id_a,
                   doc_id + 10000000 AS id_b
            FROM documents
            WHERE doc_id % 4 = 0
        """,
        # planted arithmetic list: base-vs-twin is hamming EXACTLY 2
        # (one one-bit and one zero-bit swapped), the %5 decoy is
        # hamming exactly 8 and must NOT appear; verified over every
        # doc_id at all three SFs that no cross-document pair lands
        # within hamming 3 (see _q_image_banded_neardup docstring)
        "image_banded_neardup": """
            SELECT doc_id AS id_a,
                   doc_id + 40000000 AS id_b
            FROM documents
            WHERE doc_id % 4 = 0
        """,
        # final index membership, arithmetically: evens survive unless
        # taken down (%10); odd %4==1 items are pHash twins of their
        # even predecessor and are dropped UNLESS that even was removed
        # (doc_id % 20 = 1 — non-retroactive takedown); other odds are
        # fresh and accepted; the planted in-batch twins (+60M ids) are
        # dropped by keep-min and never appear
        "media_index_roundtrip": """
            SELECT doc_id AS media_id FROM documents
            WHERE doc_id % 2 = 0 AND doc_id % 10 <> 0
            UNION ALL
            SELECT doc_id AS media_id FROM documents
            WHERE doc_id % 2 = 1
              AND (doc_id % 4 <> 1 OR doc_id % 20 = 1)
        """,
        # same membership formula per modality leg (the video/audio
        # twins are fingerprint-identical by construction: regrade +4 /
        # gain x2), tagged by modality
        "media_index_av_roundtrip": """
            SELECT m.modality, doc_id AS media_id
            FROM documents
            CROSS JOIN (VALUES ('video'), ('audio')) AS m(modality)
            WHERE (doc_id % 2 = 0 AND doc_id % 10 <> 0)
               OR (doc_id % 2 = 1
                   AND (doc_id % 4 <> 1 OR doc_id % 20 = 1))
        """,
        "audio_afp_dedup": """
            SELECT doc_id AS id_a,
                   doc_id + 20000000 AS id_b
            FROM documents
            WHERE doc_id % 4 = 0
        """,
        "video_phash_dedup": """
            SELECT doc_id AS id_a,
                   doc_id + 30000000 AS id_b
            FROM documents
            WHERE doc_id % 4 = 0
        """,
        "media_probe": """
            SELECT doc_id AS media_id,
                   CASE doc_id % 3 WHEN 0 THEN 'png'
                                   WHEN 1 THEN 'wav'
                                   ELSE 'avi' END AS kind,
                   CAST(CASE doc_id % 3
                        WHEN 0 THEN 8 + doc_id % 5
                        WHEN 1 THEN NULL
                        ELSE 8 + 4 * (doc_id % 2) END AS INTEGER)
                     AS actual_width,
                   CAST(CASE doc_id % 3
                        WHEN 0 THEN 6 + doc_id % 7
                        WHEN 1 THEN NULL
                        ELSE 8 END AS INTEGER) AS actual_height,
                   CAST(CASE doc_id % 3
                        WHEN 0 THEN 1
                        WHEN 1 THEN 1 + doc_id % 2
                        ELSE NULL END AS INTEGER) AS channels,
                   CAST(CASE doc_id % 3
                        WHEN 0 THEN 1
                        WHEN 1 THEN 300 + doc_id % 100
                        ELSE 1 + doc_id % 4 END AS INTEGER) AS n_frames,
                   CASE WHEN doc_id % 3 = 1 THEN 'n/a'
                        WHEN doc_id % 5 <> 0 THEN 'ok'
                        ELSE 'lie' END AS metadata_verdict
            FROM documents
        """,
        "video_frame_sample": """
            SELECT doc_id AS media_id,
                   CAST(ts.ts AS INTEGER) AS frame_ts_ms,
                   CAST(ts.ts / 250 AS INTEGER) AS frame_index,
                   8 AS height, 8 AS width, 3 AS channels,
                   CAST(sum((doc_id*19 + 5*(ts.ts/250) + 2*k.k + 3*c.c) % 256)
                        AS BIGINT) AS pix_sum
            FROM documents,
                 (SELECT unnest([0, 500, 1000, 1500]) AS ts) ts,
                 (SELECT unnest(range(0, 64)) AS k) k,
                 (SELECT unnest(range(0, 3)) AS c) c
            WHERE doc_id % 5 = 0
            GROUP BY doc_id, ts.ts
        """,
        "uuid_minting": """
            WITH m AS (
              SELECT user_id,
                     md5('root:' || CAST(user_id AS VARCHAR)) AS h
              FROM (SELECT DISTINCT user_id FROM events WHERE user_id <= 150))
            SELECT e.event_id, e.user_id,
                   substr(m.h, 1, 8) || '-' || substr(m.h, 9, 4) || '-'
                   || substr(m.h, 13, 4) || '-' || substr(m.h, 17, 4) || '-'
                   || substr(m.h, 21, 12) AS rootid
            FROM events e JOIN m USING (user_id)
            WHERE e.user_id <= 150
        """,
        "avro_alert_roundtrip": """
            SELECT event_id AS diaSourceId,
                   event_type AS band,
                   60000.0 + (event_id % 1000) * 0.25 AS midpointMjdTai,
                   CAST(floor("value") AS DOUBLE) AS psfFlux,
                   CASE WHEN event_id % 3 = 0 THEN -1
                        ELSE event_id - 1 END AS prv0,
                   CAST(CASE WHEN event_id % 3 = 0 THEN -1 ELSE 2 END
                        AS BIGINT) AS nprv,
                   CASE WHEN event_id % 2 = 0 THEN 'r-' || event_type
                        ELSE '<null>' END AS reason,
                   CASE WHEN event_id % 5 = 0 THEN '<null>'
                        ELSE 'px' || CAST(event_id AS VARCHAR) END AS cutout_s
            FROM events WHERE user_id <= 100
        """,
        "export_sinks_roundtrip": """
            WITH d AS (
              SELECT doc_id, lang,
                     CAST(length(text) AS BIGINT) AS nchars,
                     CAST(length(string_split(text, ' ')) AS BIGINT) AS ntok
              FROM documents)
            SELECT 'jsonl' AS fmt, doc_id, lang, nchars, ntok FROM d
            UNION ALL
            SELECT 'csv', doc_id, lang, nchars, ntok FROM d
        """,
        "ltcv_nested_probe": _pat(
            f"""
            SELECT a.rootid, a.nobs, a.first_visit,
                   fst.first_flux, a.last_visit, a.n_det
            FROM (
              SELECT rootid,
                     count(*) AS nobs,
                     min(visit) AS first_visit,
                     max(visit) AS last_visit,
                     CAST(sum(CASE WHEN isdet THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_det
              FROM h GROUP BY rootid) a
            JOIN (
              SELECT rootid, round(psfflux, 6) AS first_flux
              FROM (SELECT *, row_number() OVER (
                        PARTITION BY rootid
                        ORDER BY visit, midpointmjdtai, band, psfflux,
                                 psffluxerr, isdet, ispatch) AS rn
                    FROM h)
              WHERE rn = 1) fst USING (rootid)
            """,
            f"""h AS (
              SELECT COALESCE(f.rootid, s.rootid) AS rootid,
                     COALESCE(f.visit, s.visit) AS visit,
                     CASE WHEN f.rootid IS NULL THEN s.midpointmjdtai ELSE f.midpointmjdtai END AS midpointmjdtai,
                     CASE WHEN f.rootid IS NULL THEN s.band ELSE f.band END AS band,
                     CASE WHEN f.rootid IS NULL THEN s.psfflux ELSE f.psfflux END AS psfflux,
                     CASE WHEN f.rootid IS NULL THEN s.psffluxerr ELSE f.psffluxerr END AS psffluxerr,
                     (s.rootid IS NOT NULL) AS isdet,
                     (f.rootid IS NULL) AS ispatch
              FROM (SELECT * FROM p WHERE {ad.FORCED_PRED_SQL}) f
              FULL OUTER JOIN (SELECT * FROM p WHERE {ad.DETECTIONS_PRED_SQL}) s
                ON f.rootid = s.rootid AND f.visit = s.visit)""",
        ),
        # identical answer through the co-bucketed layout (shuffle-free
        # full outer join)
        "ltcv_patch_bucketed": _pat(
            f"""
            SELECT COALESCE(f.rootid, s.rootid) AS rootid,
                   COALESCE(f.visit, s.visit) AS visit,
                   CASE WHEN f.rootid IS NULL THEN s.srcid ELSE f.srcid END AS srcid,
                   CASE WHEN f.rootid IS NULL THEN s.band ELSE f.band END AS band,
                   CASE WHEN f.rootid IS NULL THEN s.midpointmjdtai ELSE f.midpointmjdtai END AS midpointmjdtai,
                   CASE WHEN f.rootid IS NULL THEN s.psfflux ELSE f.psfflux END AS psfflux,
                   CASE WHEN f.rootid IS NULL THEN s.psffluxerr ELSE f.psffluxerr END AS psffluxerr,
                   (s.rootid IS NOT NULL) AS isdet,
                   (f.rootid IS NULL) AS ispatch
            FROM (SELECT * FROM p WHERE {ad.FORCED_PRED_SQL}) f
            FULL OUTER JOIN (SELECT * FROM p WHERE {ad.DETECTIONS_PRED_SQL}) s
              ON f.rootid = s.rootid AND f.visit = s.visit
            """
        ),
        "ltcv_detections_cut": f"""
            WITH v AS ({ad.VERSIONED_SQL}),
            cut AS (SELECT * FROM v
                    WHERE band IN ('R','A') AND midpointmjdtai <= {PV_MJD_CUT})
            SELECT rootid, visit, srcid, priority, band, midpointmjdtai,
                   psfflux, psffluxerr
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY rootid, visit
                      ORDER BY priority DESC, srcid DESC, band DESC,
                               midpointmjdtai DESC, psfflux DESC,
                               psffluxerr DESC) AS rn FROM cut)
            WHERE rn = 1
        """,
        "objstats_per_band": _pat(
            f"""
            SELECT c.rootid, c.band,
                   round(fst.midpointmjdtai, 6) AS firstdetmjd,
                   round(fst.psfflux, 6) AS firstdetflux,
                   round(fst.psffluxerr, 6) AS firstdetfluxerr,
                   round(lst.midpointmjdtai, 6) AS lastdetmjd,
                   round(lst.psfflux, 6) AS lastdetflux,
                   round(lst.psffluxerr, 6) AS lastdetfluxerr,
                   round(pk.midpointmjdtai, 6) AS maxdetmjd,
                   round(pk.psfflux, 6) AS maxdetflux,
                   round(pk.psffluxerr, 6) AS maxdetfluxerr,
                   c.ndets, c.ndets24, c.ndets23, c.ndets22, c.ndets21,
                   c.nsn10, c.nsn7, c.nsn5
            FROM (SELECT rootid, band, count(*) AS ndets,
                         {ndets_cases}, {nsn_cases}
                  FROM s GROUP BY rootid, band) c
            JOIN (SELECT * FROM r WHERE rf = 1) fst USING (rootid, band)
            JOIN (SELECT * FROM r WHERE rl = 1) lst USING (rootid, band)
            JOIN (SELECT * FROM r WHERE rp = 1) pk USING (rootid, band)
            """,
            f"s AS (SELECT * FROM p WHERE {ad.DETECTIONS_PRED_SQL})",
            """r AS (SELECT *,
                row_number() OVER (PARTITION BY rootid, band
                    ORDER BY midpointmjdtai, srcid, psfflux, psffluxerr) AS rf,
                row_number() OVER (PARTITION BY rootid, band
                    ORDER BY midpointmjdtai DESC, srcid DESC, psfflux DESC, psffluxerr DESC) AS rl,
                row_number() OVER (PARTITION BY rootid, band
                    ORDER BY psfflux DESC, midpointmjdtai DESC, srcid DESC, psfflux DESC, psffluxerr DESC) AS rp
              FROM s)""",
        ),
        "objstats_combined": _pat(
            f"""
            SELECT rootid,
                   round(f.midpointmjdtai, 6) AS firstdetmjd,
                   round(f.psfflux, 6) AS firstdetflux,
                   f.band AS firstdetband,
                   round(l.midpointmjdtai, 6) AS lastdetmjd,
                   round(l.psfflux, 6) AS lastdetflux,
                   l.band AS lastdetband,
                   round(pk.midpointmjdtai, 6) AS maxdetmjd,
                   round(pk.psfflux, 6) AS maxdetflux,
                   pk.band AS maxdetband,
                   c.ndets, c.ndets24, c.ndets23, c.ndets22, c.ndets21,
                   c.nsn10, c.nsn7, c.nsn5
            FROM (SELECT rootid, count(*) AS ndets,
                         {ndets_cases}, {nsn_cases}
                  FROM s GROUP BY rootid) c
            JOIN (SELECT * FROM r WHERE cf = 1) f USING (rootid)
            JOIN (SELECT * FROM r WHERE cl = 1) l USING (rootid)
            JOIN (SELECT * FROM r WHERE cp = 1) pk USING (rootid)
            """,
            f"s AS (SELECT * FROM p WHERE {ad.DETECTIONS_PRED_SQL})",
            # band precedes srcid: the cross-band argmin/argmax breaks
            # mjd/flux ties by band first (mirrors combined_stats), then
            # falls into the per-band tiebreak chain
            """r AS (SELECT *,
                row_number() OVER (PARTITION BY rootid
                    ORDER BY midpointmjdtai, band, srcid, psfflux,
                             psffluxerr) AS cf,
                row_number() OVER (PARTITION BY rootid
                    ORDER BY midpointmjdtai DESC, band DESC, srcid DESC,
                             psfflux DESC, psffluxerr DESC) AS cl,
                row_number() OVER (PARTITION BY rootid
                    ORDER BY psfflux DESC, midpointmjdtai DESC, band DESC,
                             srcid DESC, psffluxerr DESC) AS cp
              FROM s)""",
        ),
        "hot_ltcvs": _pat(
            f"""
            SELECT h.rootid, h.visit, h.srcid, h.band, h.midpointmjdtai,
                   h.psfflux, h.psffluxerr, h.isdet, h.ispatch
            FROM (
              SELECT COALESCE(f.rootid, s.rootid) AS rootid,
                     COALESCE(f.visit, s.visit) AS visit,
                     CASE WHEN f.rootid IS NULL THEN s.srcid ELSE f.srcid END AS srcid,
                     CASE WHEN f.rootid IS NULL THEN s.band ELSE f.band END AS band,
                     CASE WHEN f.rootid IS NULL THEN s.midpointmjdtai ELSE f.midpointmjdtai END AS midpointmjdtai,
                     CASE WHEN f.rootid IS NULL THEN s.psfflux ELSE f.psfflux END AS psfflux,
                     CASE WHEN f.rootid IS NULL THEN s.psffluxerr ELSE f.psffluxerr END AS psffluxerr,
                     (s.rootid IS NOT NULL) AS isdet,
                     (f.rootid IS NULL) AS ispatch
              FROM (SELECT * FROM p WHERE {ad.FORCED_PRED_SQL}) f
              FULL OUTER JOIN (SELECT * FROM p WHERE {ad.DETECTIONS_PRED_SQL}) s
                ON f.rootid = s.rootid AND f.visit = s.visit) h
            WHERE h.rootid IN (
              SELECT DISTINCT rootid FROM p
              WHERE {ad.DETECTIONS_PRED_SQL} AND midpointmjdtai >= 60095.0)
            """
        ),
        "weighted_position": _pat(
            """
            -- bit-identical to the engine: every term is the same IEEE
            -- double expression, and each sum is a left fold over the
            -- ASCENDING-sorted terms — one canonical addition order that
            -- both engines reproduce exactly (Spark: aggregate(array_sort(
            -- collect_list(x)), 0.0, (a,x) -> a+x))
            -- the trailing +0.0 collapses IEEE -0.0 to +0.0: duckdb's
            -- round preserves the sign of zero while Spark's round goes
            -- through java BigDecimal, which has no signed zero — the
            -- last hash divergence after the ordered-fold sums
            SELECT rootid,
                   round(swra/sw, 6) + 0.0 AS ra,
                   round(swdec/sw, 6) + 0.0 AS "dec",
                   round(sqrt(greatest(swra2/sw - (swra/sw)*(swra/sw), 0.0)), 6) + 0.0 AS raerr,
                   round(sqrt(greatest(swdec2/sw - (swdec/sw)*(swdec/sw), 0.0)), 6) + 0.0 AS decerr,
                   round(swradec/sw - (swra/sw)*(swdec/sw), 6) + 0.0 AS ra_dec_cov,
                   nposdets
            FROM (SELECT rootid,
                         list_reduce(list_prepend(0.0::DOUBLE, list_sort(list(w))), (a,b) -> a+b) AS sw,
                         list_reduce(list_prepend(0.0::DOUBLE, list_sort(list(w*ra))), (a,b) -> a+b) AS swra,
                         list_reduce(list_prepend(0.0::DOUBLE, list_sort(list(w*"dec"))), (a,b) -> a+b) AS swdec,
                         list_reduce(list_prepend(0.0::DOUBLE, list_sort(list(w*ra*ra))), (a,b) -> a+b) AS swra2,
                         list_reduce(list_prepend(0.0::DOUBLE, list_sort(list(w*"dec"*"dec"))), (a,b) -> a+b) AS swdec2,
                         list_reduce(list_prepend(0.0::DOUBLE, list_sort(list(w*ra*"dec"))), (a,b) -> a+b) AS swradec,
                         count(*) AS nposdets
                  FROM (SELECT rootid, ra, "dec",
                               (psfflux/psffluxerr)*(psfflux/psffluxerr) AS w
                        FROM s
                        WHERE psfflux/psffluxerr > 3.0
                          AND ra IS NOT NULL AND "dec" IS NOT NULL) t
                  GROUP BY rootid)
            """,
            f"s AS (SELECT * FROM p WHERE {ad.DETECTIONS_PRED_SQL})",
        ),
        "cone_search": f"""
            WITH sky AS ({ad.PART_SKY_SQL})
            SELECT id, ra, "dec", round({_HAV_CENTER}, 6) AS sep_deg
            FROM sky
            WHERE {_HAV_CENTER} <= 14.95
        """,
        # identical answer through the engine layout: pruning must not
        # change results
        "cone_search_layout": f"""
            WITH sky AS ({ad.PART_SKY_SQL})
            SELECT id, ra, "dec", round({_HAV_CENTER}, 6) AS sep_deg
            FROM sky
            WHERE {_HAV_CENTER} <= 14.95
        """,
        "crossmatch": f"""
            WITH p AS ({ad.PART_SKY_SQL}), c AS ({ad.CUSTOMER_SKY_SQL})
            SELECT p.id AS part_id, c.id AS cust_id,
                   round({_HAV_PAIR}, 6) AS sep_deg
            FROM p, c
            WHERE {_HAV_PAIR} <= 0.95
        """,
        "anti_join": """
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                              WHERE l.l_orderkey = o.o_orderkey
                                AND l.l_returnflag = 'R')
        """,
        "revenue_by_nation": """
            SELECT n_name,
                   round(sum(l_extendedprice*(1-l_discount)), 4) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "topk_per_group": """
            SELECT o_custkey, o_orderkey, o_totalprice, rn
            FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                         row_number() OVER (PARTITION BY o_custkey
                             ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
                  FROM orders)
            WHERE rn <= 3
        """,
        "keyword_search": """
            SELECT p_partkey, p_name, p_brand, p_type, p_size
            FROM part
            WHERE p_brand IN ('Brand#13', 'Brand#5', 'Brand#21')
              AND p_type LIKE '%ECO%'
              AND p_size >= 5 AND p_size <= 30
        """,
        "flux_to_mag": _pat(
            """
            SELECT srcid,
                   round(CASE WHEN psfflux > 0.0
                              THEN -2.5*log10(psfflux) + 31.4
                              ELSE 99.0 END, 6) AS mag
            FROM s
            """,
            f"s AS (SELECT * FROM p WHERE {ad.DETECTIONS_PRED_SQL})",
        ),
        "range_join": """
            WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
                       FROM events)
            SELECT a.event_id, a.user_id, a.ts_us, a.value,
                   count(b.event_id) AS n_prev
            FROM e a LEFT JOIN e b
              ON a.user_id = b.user_id
             AND b.ts_us >= a.ts_us - 86400000000
             AND b.ts_us < a.ts_us
            GROUP BY a.event_id, a.user_id, a.ts_us, a.value
        """,
        "asof_latest_forced": _pat(
            """
            SELECT d.rootid, d.visit, d.srcid,
                   round(d.midpointmjdtai, 6) AS mjd,
                   f.srcid AS prev_srcid,
                   round(f.midpointmjdtai, 6) AS prev_mjd,
                   round(f.psfflux, 6) AS prev_flux
            FROM d LEFT JOIN f
              ON f.rootid = d.rootid
             AND f.midpointmjdtai < d.midpointmjdtai - 0.95
            QUALIFY row_number() OVER (
                PARTITION BY d.srcid
                ORDER BY f.midpointmjdtai DESC NULLS LAST, f.srcid DESC) = 1
            """,
            f"d AS (SELECT * FROM p WHERE {ad.DETECTIONS_PRED_SQL})",
            f"f AS (SELECT * FROM p WHERE {ad.FORCED_PRED_SQL})",
        ),
        "spectrum_workflow": """
            WITH wanted AS (
              SELECT o_orderkey AS root_diaobject_id,
                     epoch_us(o_orderdate) AS want_us,
                     o_totalprice AS priority_value
              FROM orders),
            planned AS (
              SELECT l_orderkey AS root_diaobject_id
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE l.l_shipdate > o.o_orderdate AND l.l_linestatus = 'O'),
            observed AS (
              SELECT l_orderkey AS root_diaobject_id
              FROM lineitem WHERE l_returnflag = 'R')
            SELECT w.* FROM wanted w
            WHERE NOT EXISTS (SELECT 1 FROM planned p
                              WHERE p.root_diaobject_id = w.root_diaobject_id)
              AND NOT EXISTS (SELECT 1 FROM observed s
                              WHERE s.root_diaobject_id = w.root_diaobject_id)
        """,
        "versioned_count": f"""
            WITH v AS ({ad.VERSIONED_SQL})
            SELECT count(DISTINCT (rootid, visit)) AS n,
                   round(min(midpointmjdtai), 6) AS min_t,
                   round(max(midpointmjdtai), 6) AS max_t
            FROM v
        """,
        "pagination": """
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 50 OFFSET 100
        """,
        "pagination_ranged": """
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 50 OFFSET 100
        """,
        "pseudorandom_sample": """
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            ORDER BY md5('s1' || CAST(o_orderkey AS VARCHAR))
            LIMIT 7
        """,
        "union_distinct": """
            SELECT p_brand AS val FROM part
            UNION
            SELECT c_mktsegment AS val FROM customer
        """,
        "values_lookup": """
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            FROM orders WHERE o_orderkey IN (1, 5, 7, 11, 19, 100)
        """,
        "object_search": _pat(
            """
            SELECT rootid, band, ndets,
                   round(maxdetflux, 6) AS maxdetflux,
                   round(maxdetmjd, 6) AS maxdetmjd
            FROM (
              SELECT c.rootid, c.band, c.ndets,
                     pk.psfflux AS maxdetflux, pk.midpointmjdtai AS maxdetmjd
              FROM (SELECT rootid, band, count(*) AS ndets
                    FROM s GROUP BY rootid, band) c
              JOIN (SELECT * FROM r WHERE rp = 1) pk USING (rootid, band))
            WHERE ndets >= 2 AND band IN ('A', 'R') AND maxdetmjd <= 60090.0
            """,
            f"s AS (SELECT * FROM p WHERE {ad.DETECTIONS_PRED_SQL})",
            """r AS (SELECT *,
                row_number() OVER (PARTITION BY rootid, band
                    ORDER BY psfflux DESC, midpointmjdtai DESC, srcid DESC,
                             psfflux DESC, psffluxerr DESC) AS rp
              FROM s)""",
        ),
        "latest_mag_per_band": _pat(
            """
            SELECT rootid, band,
                   midpointmjdtai AS latest_mjd,
                   round(CASE WHEN psfflux > 0.0
                              THEN -2.5*log10(psfflux) + 31.4
                              ELSE 99.0 END, 6) AS latest_mag
            FROM (SELECT *, row_number() OVER (PARTITION BY rootid, band
                      ORDER BY midpointmjdtai DESC, psfflux DESC,
                               psffluxerr DESC) AS rn
                  FROM s WHERE midpointmjdtai <= 60090.0)
            WHERE rn = 1
            """,
            f"s AS (SELECT * FROM p WHERE {ad.DETECTIONS_PRED_SQL})",
        ),
        "doc_stats": po.doc_stats_sql(),
        "rolling_fingerprint": """
            SELECT doc_id,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(text, ' '),
                         w -> CAST(ascii(w) AS BIGINT) * 256
                              + CAST(length(w) AS BIGINT))),
                     (acc, v) -> (acc * 1000003 + v) % 2147483647
                   ) AS rolling_fp,
                   md5(regexp_replace(trim(text), ' +', ' ', 'g')) AS md5_fp
            FROM documents
        """,
        "corpus_quantiles": f"""
            WITH ds AS ({po.doc_stats_sql()})
            SELECT lang_pred,
                   count(*) AS n_docs,
                   round(quantile_cont(n_tokens, 0.5), 6) AS p50_tokens,
                   round(quantile_cont(n_tokens, 0.9), 6) AS p90_tokens,
                   round(quantile_cont(n_tokens, 0.99), 6) AS p99_tokens,
                   round(quantile_cont(quality, 0.5), 6) AS p50_quality
            FROM ds
            GROUP BY lang_pred
        """,
        "exact_dedup": po.exact_dedup_sql(),
        "minhash_lsh_dedup": po.minhash_lsh_sql(),
        "simhash_dedup": po.simhash_sql(),
        "ngram_jaccard_dedup": po.ngram_jaccard_sql(),
        "embedding_neardup": po.embedding_neardup_sql(),
        "ann_cosine_topk": po.ann_topk_sql(),
        # every approximate-ANN code path, adjudicated exactly via its
        # exhaustive parameterization (VERDICT r6 #2)
        "ann_exhaustive_exact": po.ann_exhaustive_sql(_ANN_EXHAUSTIVE_METHODS),
        "ann_batch_topk": po.ann_batch_topk_sql(),
        # the six recall-emitting approximate gates (VERDICT r10 #2):
        # approximate in RECALL, but deterministic functions of the
        # corpus given the frozen quantizers — the semindex_values_sql
        # construction applied to search.  Python/numpy replays only
        # the driver-side deterministic parts (seed-quantile centroids,
        # hash-ordered Lloyd codebooks, bucket/probe selection, the ADC
        # candidate pass); duckdb independently recomputes assignment,
        # candidate filtering, the exact rerank, top-k and recall@10
        # from the parquet corpus.  Parameters mirror the _q_ann_*
        # gate bodies above — change them together.
        "ann_lsh_topk": po.ann_lsh_oracle_sql(multiprobe_bits=2),
        "ann_ivf_topk": po.ann_ivf_oracle_sql(n_clusters=8, nprobe=2),
        "ann_ivf_index": po.ann_ivf_oracle_sql(n_clusters=8, nprobe=2),
        "ann_pq_topk": po.ann_pq_oracle_sql(m=8, pq_k=16, rerank=50),
        "ann_ivfpq_topk": po.ann_ivfpq_oracle_sql(
            residual=False, nprobe=3, rerank=50
        ),
        "ann_ivfpq_res_topk": po.ann_ivfpq_oracle_sql(
            residual=True, nprobe=3, rerank=50
        ),
        # the batched query-service probe (born r11) — same replay
        # construction, per query
        "ann_ivfpq_batch": po.ann_ivfpq_batch_oracle_sql(
            n_queries=5, residual=False, nprobe=3, rerank=50, k=5
        ),
        # SemDeDup (born r9): frozen literal centroids, so the oracle
        # replays assignment + epsilon graph + recursive-CTE closure +
        # keeper election exactly (pipeline/oracles.py:semdedup_sql)
        "semantic_dedup": po.semdedup_sql(),
        # semantic index (born r9): duckdb computes assignment + the
        # eps-edge list bit-exactly; an independent sequential greedy
        # replays the build -> takedown -> upsert choreography and the
        # membership rides as literal VALUES (the bpe_train_values_sql
        # pattern — greedy-MIS admission is iterative, not SQL)
        "semantic_index_roundtrip": po.semindex_values_sql(),
        "decontaminate": _decontam_oracle(),
        "bm25_search": _bm25_oracle(),
        # hybrid RRF (born r11): BM25 pool + cosine pool + rank fusion,
        # all SQL-expressible (retrieval.hybrid_oracle_sql)
        "hybrid_search_rrf": _po_hybrid_oracle(),
        "hybrid_search_rrf_batch": _po_hybrid_many_oracle(),
        "query_expansion_rm": _po_expansion_oracle(),
        "curate_corpus": po.curate_sql(),
        "stratified_sample": sample_oracle_sql(
            "(SELECT doc_id, lang, source, n_chars FROM documents) d",
            "lang",
            _SAMPLE_FRACTIONS,
            "doc_id",
            salt="mix1",
            default_fraction=0.1,
        ),
        "corpus_rollup": """
            SELECT lang, source,
                   CAST(grouping(lang) AS INTEGER) AS g_lang,
                   CAST(grouping(source) AS INTEGER) AS g_source,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents
            GROUP BY ROLLUP(lang, source)
        """,
        "vocab_topk": """
            SELECT tok,
                   count(*) AS n_occ,
                   count(DISTINCT doc_id) AS doc_freq
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            WHERE tok <> ''
            GROUP BY tok
            ORDER BY n_occ DESC, tok
            LIMIT 100
        """,
        "pii_redaction": r"""
            WITH planted AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com at 10.0.'
                          || CAST(doc_id % 256 AS VARCHAR)
                          || '.1 acct 900'
                          || CAST(doc_id + 1000000 AS VARCHAR) AS text
              FROM documents)
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                     '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                     '<IP>', 'g'),
                     '\b[0-9]{7,}\b', '<NUMBER>', 'g') AS clean,
                   length(regexp_replace(regexp_replace(regexp_replace(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                     '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                     '<IP>', 'g'),
                     '\b[0-9]{7,}\b', '<NUMBER>', 'g')) AS clean_len
            FROM planted
        """,
        "multimodal_features": """
            SELECT doc_id AS media_id,
                   CASE CAST(doc_id % 3 AS INTEGER)
                        WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                        ELSE 'video' END AS modality,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   ('0x' || substr(hex(encode(text)), 1, 2))::INTEGER
                     AS first_byte,
                   CAST(i.i AS INTEGER) AS pos,
                   round(CAST(('0x' || substr(md5(text), 2*(i.i % 16)+1, 2))
                              ::INTEGER AS DOUBLE) / 255.0, 6) AS feat_val
            FROM documents, (SELECT unnest(range(0, 8)) AS i) i
        """,
        "sql_passthrough": """
            SELECT o_orderpriority,
                   count(*) AS n_orders,
                   round(avg(o_totalprice), 4) AS avg_price
            FROM orders
            WHERE o_orderstatus = 'O'
            GROUP BY o_orderpriority
        """,
        "stream_windowed_rates": """
            SELECT epoch_us(date_trunc('hour', ts)) AS win_start_us,
                   event_type,
                   count(*) AS n_alerts,
                   -- integral-double quantized mean: floor(x*1e6) is the
                   -- same IEEE ops in every engine, the integer sum is
                   -- associative (order-independent), and the final floor
                   -- avoids round()'s half-boundary engine disagreement
                   -- (matches the streaming side's quantize_scale=1e6)
                   floor(sum(floor(value*1000000.0))/count(value))/1000000.0
                     AS mean_flux,
                   round(max(value), 6) AS max_flux
            FROM events
            GROUP BY 1, 2
        """,
        "alert_reconstruct": _pat(
            """
            SELECT d.srcid AS alertId,
                   d.rootid AS objid,
                   (SELECT count(*) FROM p h
                    WHERE h.rootid = d.rootid
                      AND h.midpointmjdtai >= d.midpointmjdtai - 365.0
                      AND h.midpointmjdtai < d.midpointmjdtai) AS n_prv,
                   (SELECT count(*) FROM p h
                    WHERE h.rootid = d.rootid
                      AND h.midpointmjdtai >= d.midpointmjdtai - 365.0
                      AND h.midpointmjdtai < d.midpointmjdtai - 1.0) AS n_prv_forced,
                   (SELECT min(ra) FROM p h WHERE h.rootid = d.rootid) AS ra
            FROM (SELECT * FROM p
                  WHERE {det} AND midpointmjdtai >= 60090.0) d
            """.format(det=ad.DETECTIONS_PRED_SQL)
        ),
        "json_extract": """
            SELECT event_id, json_extract_string(props, '$.k')::INTEGER AS k
            FROM events
        """,
        "broker_info": f"""
            WITH b AS ({ad.BROKERINFO_SQL}),
            m(base_procver_id, priority) AS (
              SELECT 'bpv1', 1 UNION ALL SELECT 'bpv2', 2),
            j AS (SELECT b.*, m.priority
                  FROM b JOIN m USING (base_procver_id)
                  WHERE diasourceid % 50 = 0)
            SELECT diasourceid, brokername, topic, info,
                   CAST(json_extract_string(info, '$.classId') AS INTEGER)
                     AS classid
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY diasourceid, brokername, topic
                      ORDER BY priority DESC, msgid DESC) AS rn FROM j)
            WHERE rn = 1
        """,
        "skewed_aggregate": """
            SELECT event_type,
                   round(sum(value), 4) AS sum_value,
                   count(*) AS n,
                   round(sum(value) / count(*), 6) AS avg_value
            FROM events GROUP BY event_type
        """,
        "dup_clusters": po.dup_clusters_sql(),
        "doc_repetition": po.doc_repetition_sql(),
        "doc_perplexity": _perplexity_oracle(),
        "doc_perplexity_bigram": _bigram_perplexity_oracle(),
        "duplicate_spans": _spans_oracle(),
        "pack_materialize": _pack_materialize_oracle(),
        "pack_sequences": _pack_oracle(),
        "pack_manifest": _pack_manifest_oracle(),
        "leakage_safe_split": _split_oracle(),
        "domain_mix_sample": domain_mix_oracle_sql(
            "documents",
            "lang",
            _MIX_SHARES,
            _MIX_BUDGET,
            "doc_id",
            salt="mix2",
            select_cols="d.doc_id, d.lang, d.source",
        ),
        "mix_report": (
            "WITH m AS (" + epoch_mix_oracle_sql(
                "documents", "lang", _EPOCH_MIX, "doc_id", salt="em6",
                select_cols="doc_id, lang, source",
            ) + """)
            SELECT lang, CAST(count(*) AS BIGINT) AS rows_out,
                   round(1.0 * count(*) / (SELECT count(*) FROM m), 6)
                     AS share
            FROM m GROUP BY lang
            """
        ),
        "epoch_mix": epoch_mix_oracle_sql(
            "documents",
            "lang",
            _EPOCH_MIX,
            "doc_id",
            salt="em6",
            select_cols="doc_id, lang, source",
        ),
        # --- late round-4 additions ---------------------------------------
        # bpe_train_merges: upgraded from rows-only to a literal-VALUES
        # exact oracle (VERDICT r6 #5) — an independent pure-Python
        # occurrence trainer over a duckdb-computed histogram of the SAME
        # corpus; nothing shared with pipeline.tokenizer
        "bpe_train_merges": po.bpe_train_values_sql(n_merges=64),
        "bpe_encode": _bpe_encode_oracle(),
        "training_set": _trainset_oracle(),
        "intra_doc_dedup": _intra_doc_oracle(),
        "corpus_card": _corpus_card_oracle(),
        "chunk_docs": _chunk_oracle(),
        "boilerplate_removal": _boilerplate_oracle(),
        "multimodal_codec_roundtrip": _MM_CODEC_ORACLE,
        "shuffle_shards": _shards_oracle(),
        "token_budget_select": _token_budget_oracle(),
        "tfidf_topk": _tfidf_oracle(),
    }
