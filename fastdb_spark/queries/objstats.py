"""Per-object detection statistics — the reference's materialized views.

The reference builds ``objstats_{pv}`` with a byzantine 12-way self-join of
identical DISTINCT-ON subqueries (first/last/peak detection, ndets, four
flux-threshold counts, three S/N counts — reference ``src/ltcv.py:1600-1757``)
and then a cross-band rollup ``objstatscomb_{pv}`` (``:1781-1815``).

Spark collapses the whole thing into ONE pass (SURVEY.md J8/A4-A6): a single
``groupBy(rootid, band)`` whose aggregate list contains ``min_by`` /
``max_by`` structs and conditional sums.  Semantically identical, one
shuffle, map-side partial aggregation — this is the shape that survives
900M+ forced rows.

The result is a "gold" table refreshed by a job (Q7 — the reference's
REFRESH MATERIALIZED VIEW is manual too).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastdb_spark.functions.photometry import MAG_FLUX_THRESHOLDS
from fastdb_spark.versions import ProcverResolver, versioned


def _ostruct(*cols):
    return F.struct(*[c.alias(f"_o{i}") for i, c in enumerate(cols)])


def per_band_stats(
    detections: DataFrame, tiebreak: str | list[str] | None = None
) -> DataFrame:
    """groupBy(rootid, band) one-pass stats over *deduplicated* detections.

    Output mirrors the reference view columns (``src/ltcv.py:1616-1754``):
    first/last/peak (mjd, flux, fluxerr), ndets, ndets24/23/22/21,
    nsn10/7/5.  ``tiebreak`` columns are appended to every argmin/argmax
    ordering for full determinism (Postgres DISTINCT ON has the same tie
    hazard).
    """
    mjd, flux, err = F.col("midpointmjdtai"), F.col("psfflux"), F.col("psffluxerr")
    point = F.struct(mjd.alias("mjd"), flux.alias("flux"), err.alias("fluxerr"))
    t = MAG_FLUX_THRESHOLDS
    if tiebreak is None:
        tb = []
    elif isinstance(tiebreak, str):
        tb = [F.col(tiebreak)]
    else:
        tb = [F.col(c) for c in tiebreak]

    aggs = [
        F.min_by(point, _ostruct(mjd, *tb)).alias("first"),
        F.max_by(point, _ostruct(mjd, *tb)).alias("last"),
        # peak: brightest detection; mjd tiebreak via lexicographic struct
        F.max_by(point, _ostruct(flux, mjd, *tb)).alias("peak"),
        F.count(F.lit(1)).alias("ndets"),
        *[
            F.sum(F.when(flux >= F.lit(t[m]), 1).otherwise(0)).alias(f"ndets{m}")
            for m in (24, 23, 22, 21)
        ],
        *[
            F.sum(F.when(flux / err >= F.lit(s), 1).otherwise(0)).alias(f"nsn{s}")
            for s in (10, 7, 5)
        ],
    ]
    out = detections.groupBy("rootid", "band").agg(*aggs)
    return out.select(
        "rootid",
        "band",
        F.col("first.mjd").alias("firstdetmjd"),
        F.col("first.flux").alias("firstdetflux"),
        F.col("first.fluxerr").alias("firstdetfluxerr"),
        F.col("last.mjd").alias("lastdetmjd"),
        F.col("last.flux").alias("lastdetflux"),
        F.col("last.fluxerr").alias("lastdetfluxerr"),
        F.col("peak.mjd").alias("maxdetmjd"),
        F.col("peak.flux").alias("maxdetflux"),
        F.col("peak.fluxerr").alias("maxdetfluxerr"),
        "ndets",
        "ndets24",
        "ndets23",
        "ndets22",
        "ndets21",
        "nsn10",
        "nsn7",
        "nsn5",
    )


def combined_stats(per_band: DataFrame) -> DataFrame:
    """Cross-band rollup (reference ``src/ltcv.py:1781-1815``): summed
    counts + cross-band argmin/argmax of the per-band firsts/lasts/peaks."""
    first = F.struct(F.col("firstdetmjd"), F.col("firstdetflux"), F.col("firstdetfluxerr"), F.col("band"))
    last = F.struct(F.col("lastdetmjd"), F.col("lastdetflux"), F.col("lastdetfluxerr"), F.col("band"))
    peak = F.struct(F.col("maxdetflux"), F.col("maxdetmjd"), F.col("maxdetfluxerr"), F.col("band"))
    # band appended to every cross-band argmin/argmax ordering: two bands
    # can tie on the mjd/flux keys, and determinism requires a total order
    out = per_band.groupBy("rootid").agg(
        F.min_by(first, _ostruct(F.col("firstdetmjd"), F.col("band"))).alias("first"),
        F.max_by(last, _ostruct(F.col("lastdetmjd"), F.col("band"))).alias("last"),
        F.max_by(
            peak,
            _ostruct(F.col("maxdetflux"), F.col("maxdetmjd"), F.col("band")),
        ).alias("peak"),
        F.sum("ndets").alias("ndets"),
        *[F.sum(f"ndets{m}").alias(f"ndets{m}") for m in (24, 23, 22, 21)],
        *[F.sum(f"nsn{s}").alias(f"nsn{s}") for s in (10, 7, 5)],
    )
    return out.select(
        "rootid",
        F.col("first.firstdetmjd").alias("firstdetmjd"),
        F.col("first.firstdetflux").alias("firstdetflux"),
        F.col("first.band").alias("firstdetband"),
        F.col("last.lastdetmjd").alias("lastdetmjd"),
        F.col("last.lastdetflux").alias("lastdetflux"),
        F.col("last.band").alias("lastdetband"),
        F.col("peak.maxdetmjd").alias("maxdetmjd"),
        F.col("peak.maxdetflux").alias("maxdetflux"),
        F.col("peak.band").alias("maxdetband"),
        "ndets",
        "ndets24",
        "ndets23",
        "ndets22",
        "ndets21",
        "nsn10",
        "nsn7",
        "nsn5",
    )


def ordered_sum(expr) -> F.Column:
    """Order-deterministic double summation: collect, sort ascending, left-
    fold with IEEE addition.

    Plain ``F.sum`` over doubles is partition-order-dependent (float addition
    is not associative), so the last ulp varies run-to-run and engine-to-
    engine; decimal-cast accumulation fails differently (Spark casts
    double->decimal via the shortest decimal string with HALF_UP, duckdb
    multiplies in double space — ADVICE r2).  Folding the *sorted* doubles
    fixes one canonical order that any engine can reproduce exactly (duckdb:
    ``list_reduce(list_prepend(0.0, list_sort(list(x))), (a,b) -> a+b)``).
    Cost: a per-group array; fine when group sizes are bounded (per-object
    detection counts).  Use plain ``F.sum`` when last-ulp determinism is not
    required.
    """
    return F.aggregate(
        F.array_sort(F.collect_list(expr)),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def weighted_positions(
    detections: DataFrame, min_snr: float = 3.0, exact: bool = True
) -> DataFrame:
    """(S/N)^2-weighted mean/std of detection ra/dec per root (reference
    ``src/ltcv.py:829-877``; SURVEY.md A8).

    The reference loops in numpy; here the two-pass formula is expanded
    algebraically (sum(w x^2)/sum(w) - mu^2) so one aggregation pass
    suffices.  Every term is an IEEE double produced by the same expression
    in any engine, so with ``exact=True`` the six sums go through
    :func:`ordered_sum` and the result is bit-deterministic; the downstream
    division/sqrt/greatest are pure double ops on identical inputs.
    ``exact=False`` keeps plain map-side-combined ``F.sum`` for the
    matview-refresh path at 100 TB where last-ulp reproducibility is not
    needed.
    """
    snr = F.col("psfflux") / F.col("psffluxerr")
    w = snr * snr
    det = detections.filter(
        (F.col("psfflux") / F.col("psffluxerr") > F.lit(min_snr))
        & F.col("ra").isNotNull()
        & F.col("dec").isNotNull()
    ).select("rootid", "ra", "dec", w.alias("w"))

    _acc = ordered_sum if exact else F.sum
    terms = {
        "sw": F.col("w"),
        "swra": F.col("w") * F.col("ra"),
        "swdec": F.col("w") * F.col("dec"),
        "swra2": F.col("w") * F.col("ra") * F.col("ra"),
        "swdec2": F.col("w") * F.col("dec") * F.col("dec"),
        "swradec": F.col("w") * F.col("ra") * F.col("dec"),
    }
    agg = det.groupBy("rootid").agg(
        *[_acc(e).alias(k) for k, e in terms.items()],
        F.count(F.lit(1)).alias("nposdets"),
    )
    sw = F.col("sw")
    ra_mean = F.col("swra") / sw
    dec_mean = F.col("swdec") / sw
    return agg.select(
        "rootid",
        ra_mean.alias("ra"),
        dec_mean.alias("dec"),
        F.sqrt(
            F.greatest(F.col("swra2") / sw - ra_mean * ra_mean, F.lit(0.0))
        ).alias("raerr"),
        F.sqrt(
            F.greatest(F.col("swdec2") / sw - dec_mean * dec_mean, F.lit(0.0))
        ).alias("decerr"),
        (F.col("swradec") / sw - ra_mean * dec_mean).alias("ra_dec_cov"),
        "nposdets",
    )


def build_objstats(
    tables: dict[str, DataFrame],
    resolver: ProcverResolver,
    procver: str,
) -> tuple[DataFrame, DataFrame]:
    """Gold-table refresh job: (per-band, combined) stats for one procver
    (replaces reference ``create_objstats_views`` / REFRESH, ``src/ltcv.py:
    1537-1831``)."""
    from fastdb_spark.queries.ltcv import resolve_objects

    objmap = resolve_objects(tables["diaobject"], resolver, procver)
    det = tables["diasource"].join(objmap, on="diaobjectid", how="inner")
    det = versioned(
        det,
        resolver.priorities(procver, "diasource"),
        keys=("rootid", "visit"),
        extra_order=("diasourceid",),
    )
    per_band = per_band_stats(det)
    return per_band, combined_stats(per_band)
