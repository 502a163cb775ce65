"""Bounded-state sketches: count-min frequency estimation and
Bloom-filter semi-join pruning.

At 100 TB the full token vocabulary (or key set) of a corpus does not
fit anywhere — the classic answer is a sketch whose size is fixed up
front and independent of the data:

- **Count-min** (Cormode & Muthukrishnan 2005): a depth×width grid of
  counters; every item increments one counter per row (chosen by a
  per-row hash) and a point query reads the MIN over its depth cells.
  Estimates never undercount; the overcount is bounded by
  2·N/width with probability 1 − 2^-depth. In Spark the whole build is
  ONE partially-aggregated groupBy onto ≤ depth·width cells — map-side
  combine collapses each partition to the sketch grid before the
  shuffle, so shuffled bytes are O(depth·width·#partitions) no matter
  how many tokens stream through. The finished sketch is a bounded
  table that BROADCASTS to answer any number of point queries.

- **Partitioned Bloom semi-join**: when a selective-but-not-tiny
  dimension filters a huge fact table, shuffling the fact side to the
  join is the dominant cost. Hashing the dimension's keys into
  `n_hashes` independent bit tables (bounded: ≤ n_bits distinct rows
  each) and applying them as consecutive BROADCAST left-semi joins
  prunes the fact side map-side — zero fact-table shuffle — before the
  real join runs on the survivors. False positives are removed by the
  real join; Bloom filters have no false negatives, so the final
  result is EXACTLY the plain join's (that identity is the registered
  oracle). This is the manual form of the runtime row-level filters
  Spark's AQE injects for DPP-eligible plans, available on any join
  shape.

Count-min hashing is ONE engine-portable md5 digest per item with the
depth rows sliced from disjoint 16-bit hex windows (Kirsch–
Mitzenmacher), so DuckDB rebuilds the identical grid cell-for-cell in
the oracle at a quarter of the hash cost. Bloom
hashing is native xxhash64 — no oracle inspects Bloom internals (the
contract is result identity with the plain join), so the cheap codegen
intrinsic wins over a per-row crypto hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


CM_DEPTH = 4
CM_WIDTH = 1024
BLOOM_BITS = 1 << 16
BLOOM_HASHES = 3


def _cm_slice(digest: Column, d: int, width: int) -> Column:
    assert d < 8, "_cm_slice: one md5 digest yields at most 8 16-bit rows"
    return F.pmod(
        F.conv(F.substring(digest, 1 + 4 * d, 4), 16, 10).cast("long"),
        F.lit(width),
    )


def _cm_cells(digest: Column, depth: int, width: int) -> Column:
    """(d, bucket) struct array from a PRE-PROJECTED digest column —
    the digest must be materialized in a projection BELOW the explode:
    repeated subtrees across a Generate input are not subexpression-
    eliminated (see README codegen-boundary hygiene), so inlining the
    md5 here would silently pay it `depth` times per row."""
    return F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                _cm_slice(digest, d, width).alias("bucket"),
            )
            for d in range(depth)
        ]
    )


def count_min_build(
    items: DataFrame,
    col: str,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Build the count-min grid over `items[col]` (one row per
    occurrence, pre-exploded by the caller).

    Returns (d, bucket, cnt) — at most depth·width rows. The explode
    to depth cells happens BEFORE the aggregation so map-side partial
    aggregation bounds what each task emits at depth·width cells,
    regardless of input size.
    """
    digested = items.select(
        F.md5(F.concat(F.lit("cm:"), F.col(col))).alias("_dig")
    )
    return (
        digested.select(
            F.explode(_cm_cells(F.col("_dig"), depth, width)).alias("c")
        )
        .groupBy(F.col("c.d").alias("d"), F.col("c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def count_min_estimate(
    sketch: DataFrame,
    queries: DataFrame,
    col: str,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Point-query `queries[col]` (distinct items) against a built
    sketch: estimate = MIN over the item's depth cells.

    The sketch is bounded (≤ depth·width rows) so it BROADCASTS; the
    probe is a map-side broadcast join however many items are asked.
    Items whose cells were never touched estimate 0 (empty-cell
    coalesce), preserving the no-undercount guarantee. Returns
    (col, cm_n).
    """
    digested = queries.select(
        col, F.md5(F.concat(F.lit("cm:"), F.col(col))).alias("_dig")
    )
    probes = digested.select(
        col, F.explode(_cm_cells(F.col("_dig"), depth, width)).alias("c")
    ).select(col, F.col("c.d").alias("d"), F.col("c.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cm_n"))
    )


def _bloom_bit(col: Column, d: int, n_bits: int) -> Column:
    """Hash-`d` bit position. Native xxhash64, NOT the md5 family: no
    oracle ever inspects Bloom internals (the contract is result
    identity with the plain join), and xxhash64 is a cheap codegen
    intrinsic where md5 pays a crypto hash over a string cast per fact
    row per hash function — measured ~1.5 s of pure overhead on a 600 k
    row scan at n_hashes=3."""
    return F.pmod(F.xxhash64(F.lit(d), col), F.lit(n_bits))


def bloom_bits(
    keys: DataFrame,
    key_col: str,
    d: int,
    n_bits: int = BLOOM_BITS,
) -> DataFrame:
    """Distinct hash-`d` bit positions set by `keys[key_col]` — one of
    the `n_hashes` bit tables of a partitioned Bloom filter. Bounded at
    ≤ n_bits rows whatever the key count."""
    return keys.select(
        _bloom_bit(F.col(key_col), d, n_bits).alias("bit")
    ).distinct()


def bloom_semi_join(
    big: DataFrame,
    keys: DataFrame,
    big_key: str,
    keys_key: str | None = None,
) -> DataFrame:
    """Prune `big` to rows whose `big_key` PROBABLY appears in
    `keys[keys_key]`: `BLOOM_HASHES` consecutive broadcast left-semi
    joins against the partitioned Bloom bit tables.

    Never drops a true match (no false negatives); survivors may
    include false positives at rate ≈ (k_distinct/n_bits)^n_hashes
    (n_bits = BLOOM_BITS), so callers MUST still apply the real
    join/filter — whose result is then exactly the unpruned plan's.
    `big` is never shuffled: each semi-join broadcasts a
    ≤ n_bits-row bit table and filters map-side.
    """
    keys_key = keys_key or big_key
    n_bits = BLOOM_BITS
    pruned = big
    for d in range(BLOOM_HASHES):
        # qualified references (bits[...]) rather than bare F.col: a
        # big side that itself carries a column named `bit` would make
        # an unqualified condition lineage-ambiguous
        bits = bloom_bits(keys.select(keys_key), keys_key, d, n_bits)
        probe = _bloom_bit(F.col(big_key), d, n_bits)
        pruned = pruned.join(
            F.broadcast(bits), probe == bits["bit"], "left_semi"
        )
    return pruned
