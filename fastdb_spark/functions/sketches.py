"""Similarity sketches: MinHash, SimHash, LSH banding.

Hash primitive is md5 (identical across Spark and duckdb, which makes every
sketch oracle-checkable — a deliberate choice over xxhash64, which the two
engines seed differently).  A 60-bit integer is carved from the first 15
hex chars (stays inside a signed 64-bit long in both engines).

MinHash uses the "md5x" scheme: ONE md5 per shingle seeds a 32-bit
integer, and the ``n_hashes`` permutations are integer arithmetic
(odd-multiplier bijections of Z_2^32) — same oracle-parity guarantee at
~1/12th of the md5 calls (measured 1.9x end-to-end on the 1M-doc scale
row).  ``minhash_signature_fast`` (xxhash64, no oracle twin) remains the
alternative where cross-engine parity is not needed.

The four MinHash/LSH builders share one contract: they take the NAME of
a column (a plain identifier, no dots) and return ONE ``F.expr`` built
from SQL text.  The whole sketch is parsed JVM-side in a single call
instead of being assembled from O(n_hashes) Column objects over py4j,
and the band builders may reference their signature column once per
band, which is free for an attribute.  Anything else — a computed
Column, a dotted path, a non-identifier name — raises: stage the input
as a named column first.  :func:`sketch_impl` maps a ``hash_impl``
name to its (signature builder, band builder, persisted scheme tag).

Scale notes: signatures are computed in one projection over the shingle
array (no explode, no shuffle); LSH banding explodes to ``bands`` rows per
document and groups by band value — the classic shuffle-light candidate
generation (band buckets are the join key, so co-candidates land in the
same partition).
"""

from __future__ import annotations

import re
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HEX60 = 15  # 15 hex chars = 60 bits < 2^63


def h60(col: Column) -> Column:
    """60-bit integer hash of a string column via md5."""
    return F.conv(F.substring(F.md5(col), 1, HEX60), 16, 10).cast("long")


#: md5x modulus: permutations act on the 32-bit space carved from the
#: md5 prefix
MD5X_MOD = 1 << 32

#: sentinel for empty shingle sets (= MOD, above every permuted value) —
#: empty documents get identical sentinel signatures, band together, and
#: are dropped by the Jaccard refine (0.0 < threshold), exactly the old
#: null-band behavior
MD5X_EMPTY = MD5X_MOD


def md5x_offsets(n_hashes: int) -> list[int]:
    """Deterministic offsets b_i = i * 2654435761 mod 2^32 (Knuth's
    multiplicative constant spreads them over the space)."""
    return [(i * 2654435761) % MD5X_MOD for i in range(n_hashes)]


_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _ref(name: str) -> str:
    """Backtick-quoted SQL reference for the plain column ``name``; a
    bare quoted identifier resolves to the same attribute ``F.col(name)``
    would.  Raises ``TypeError`` for a non-``str`` and ``ValueError`` for
    a name that is not a simple identifier."""
    if not isinstance(name, str):
        raise TypeError(
            "sketch builders take a column name (str), got "
            f"{type(name).__name__}; stage the input as a named column"
        )
    if not _IDENT.fullmatch(name):
        raise ValueError(
            f"sketch builders take a plain column name, got {name!r}"
        )
    return f"`{name}`"


def minhash_signature(shingles: str, n_hashes: int = 12) -> Column:
    """MinHash signature (the "md5x" scheme) of the ``array<string>``
    column named ``shingles``: ONE md5 per shingle seeds a 32-bit integer
    x = first-8-hex-chars, and element i is the min over shingles of the
    integer permutation ``(x*(2i+1) + b_i) mod 2^32`` (odd multiplier ->
    a bijection of Z_2^32, so each element is a valid min-hash of a
    distinct permutation).  Arithmetic is identical in ANSI SQL, so
    sketches stay oracle-checkable, and the single transform -> integer
    fold computes the md5 exactly once per shingle.

    Returns ``array<long>``; empty shingle arrays yield all-``MD5X_EMPTY``
    sentinel signatures (see :data:`MD5X_EMPTY`)."""
    src = _ref(shingles)
    offs = md5x_offsets(n_hashes)
    init = "array(" + ",".join(f"{MD5X_EMPTY}L" for _ in range(n_hashes)) + ")"
    mins = ",".join(
        f"least(element_at(acc, {i + 1}), "
        f"(x * {2 * i + 1}L + {offs[i]}L) % {MD5X_MOD}L)"
        for i in range(n_hashes)
    )
    return F.expr(
        f"aggregate(transform({src}, s -> "
        "CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT)), "
        f"{init}, (acc, x) -> array({mins}))"
    )


def lsh_band_hashes(signature: str, bands: int, rows_per_band: int) -> Column:
    """Array of ``bands`` band keys for the md5x signature column named
    ``signature``: ``'b{j}:'`` + the comma-joined signature slice
    (equality is all a band key needs — no hash of the hash).  Documents
    sharing any band key are near-dup candidates.

    Sentinel (all-``MD5X_EMPTY``) signatures — shingle-less documents —
    get an EMPTY band array: banding them would put every shingle-less
    document in ONE shared bucket whose self-join is quadratic in their
    count (all pairs later rejected by the Jaccard refine anyway, since
    two empty shingle sets score 0).  They remain exact-dedup-able via
    their fingerprints."""
    src = _ref(signature)
    keys = ",".join(
        f"concat('b{j}:', array_join(transform("
        f"slice({src}, {j * rows_per_band + 1}, {rows_per_band}), "
        "x -> CAST(x AS STRING)), ','))"
        for j in range(bands)
    )
    return F.expr(
        f"IF(element_at({src}, 1) = {MD5X_EMPTY}L, "
        f"CAST(array() AS ARRAY<STRING>), array({keys}))"
    )


def simhash60(df: DataFrame, id_col: str, shingles_col: str) -> DataFrame:
    """60-bit SimHash per document.

    Explodes shingles, hashes each to 60 bits, then one aggregation builds
    per-bit +/-1 sums and recombines the sign bits into a long.  The 60
    conditional sums stay in a single hash-aggregate pass (map-side
    combined), so the shuffle carries one row per document.
    """
    exploded = df.select(
        F.col(id_col), F.explode(F.col(shingles_col)).alias("_sh")
    ).withColumn("_h", h60(F.col("_sh")))

    # per-bit ±1 sum == 2*ones - n, so sum plain bit values (cheaper than
    # 60 conditional ±1 expressions) plus one shared count; bit set when
    # 2*ones > n (tie -> 0, same as ±1 sum > 0).
    # Expressions built as SQL strings (r12): the F.sum/shiftright/when
    # Column-object loops round-tripped py4j per operator node — ~600
    # calls, 1.5-3.0 s of pure DRIVER time per plan construction on this
    # JVM (profiled as the 2.1 s pre-execution gap in the simhash gate);
    # each F.expr is ONE call parsing JVM-side, same operators, same
    # types (sum/& over bigint, IF == when-otherwise on a null-free
    # comparison), so values are identical.
    bit_sums = [
        F.expr(f"sum(shiftright(_h, {b}) & 1)").alias(f"_b{b}")
        for b in range(60)
    ]
    agg = exploded.groupBy(id_col).agg(*bit_sums, F.count(F.lit(1)).alias("_n"))
    sim = F.expr(
        "CAST(" + " + ".join(
            f"IF(_b{b} * 2 > _n, {1 << b}L, 0L)" for b in range(60)
        ) + " AS BIGINT)"
    )
    return agg.select(F.col(id_col), sim.alias("simhash"))


def simhash_bands(simhash: Column, bands: int = 6, band_bits: int = 10) -> Column:
    """Split a 60-bit simhash into ``bands`` integer band keys; hamming-
    close hashes share at least one band when distance < bands."""
    mask = (1 << band_bits) - 1
    return F.array(
        *[
            F.shiftright(simhash, j * band_bits).bitwiseAND(F.lit(mask)).alias(f"sb{j}")
            for j in range(bands)
        ]
    )


def hamming60(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def minhash_signature_fast(shingles: str, n_hashes: int = 12) -> Column:
    """FAST-PATH MinHash of the ``array<string>`` column named
    ``shingles``: each shingle is string-hashed ONCE (``xxhash64``), the
    ``n_hashes`` permutations derive from that base via long-input
    ``xxhash64(base, i)`` — integer-only, no per-seed string re-hash,
    ~an order of magnitude cheaper at scale.

    NOT oracle-parity (duckdb seeds xxhash64 differently): banding
    buckets differ from the md5 path, so candidate sets differ — the
    Jaccard refine keeps the FINAL pair semantics identical in
    expectation, and exact duplicates still collide in every band under
    any hash.  Use for production scale; keep the md5 path wherever a
    cross-engine oracle adjudicates.

    Empty shingle arrays yield ALL-NULL signature elements
    (``array_min`` over an empty array); :func:`lsh_band_hashes_fast`
    detects that sentinel and emits an empty band array — the fast-path
    mirror of the md5x :data:`MD5X_EMPTY` guard (without it, xxhash64
    skips nulls in the band fold and every shingle-less document lands
    in ONE shared bucket per band, a quadratic self-join on uncapped
    paths).

    The base ``transform(shingles, xxhash64)`` is bound to a lambda
    variable via a single-element-array transform — a let-binding
    CollapseProject cannot inline back into the consuming lambdas — so
    the per-shingle STRING hash runs ONCE per row instead of once per
    signature element."""
    src = _ref(shingles)
    mins = ",".join(
        f"array_min(transform(mhb, h -> xxhash64(h, {i})))"
        for i in range(n_hashes)
    )
    return F.expr(
        f"element_at(transform(array(transform({src}, "
        f"s -> xxhash64(s))), mhb -> array({mins})), 1)"
    )


def lsh_band_hashes_fast(
    signature: str, bands: int, rows_per_band: int
) -> Column:
    """Fast-path band keys for the signature column named ``signature``:
    fold each signature slice with long-input ``xxhash64`` (band index
    as the fold seed) — integer-only.

    Sentinel (all-null) signatures — shingle-less documents, see
    :func:`minhash_signature_fast` — get an EMPTY band array, mirroring
    the md5x guard: ``xxhash64`` skips null inputs in the fold, so
    without this every shingle-less document would share identical band
    keys and one quadratic bucket per band (all pairs later rejected by
    the Jaccard refine anyway, since two empty shingle sets score 0).
    They remain exact-dedup-able via their fingerprints."""
    src = _ref(signature)
    keys = ",".join(
        f"CAST(aggregate(slice({src}, {j * rows_per_band + 1}, "
        f"{rows_per_band}), CAST({j} AS BIGINT), "
        "(acc, x) -> xxhash64(acc, x)) AS STRING)"
        for j in range(bands)
    )
    return F.expr(
        f"IF(isnull(element_at({src}, 1)), "
        f"CAST(array() AS ARRAY<STRING>), array({keys}))"
    )


class SketchImpl(NamedTuple):
    """One ``hash_impl``: its signature builder, its band builder, and
    the scheme tag a dedup index persists to name its stored
    signature/band-key format."""

    signature: Callable[[str, int], Column]
    bands: Callable[[str, int, int], Column]
    scheme: str


#: ``hash_impl`` -> builders + scheme tag.  'md5x' = one md5 per shingle
#: + integer permutations (oracle parity); 'xx-fast' = one xxhash64 per
#: shingle + xxhash64 permutations.  The tags are persisted in index
#: metadata and must stay byte-identical, or existing indexes stop
#: opening.
SKETCH_IMPLS = {
    "md5": SketchImpl(minhash_signature, lsh_band_hashes, "md5x"),
    "fast": SketchImpl(minhash_signature_fast, lsh_band_hashes_fast, "xx-fast"),
}


def sketch_impl(hash_impl: str) -> SketchImpl:
    """The :class:`SketchImpl` for ``hash_impl`` (``"md5"`` or
    ``"fast"``); ``ValueError`` on anything else."""
    try:
        return SKETCH_IMPLS[hash_impl]
    except KeyError:
        raise ValueError(f"unknown hash_impl {hash_impl!r}") from None
