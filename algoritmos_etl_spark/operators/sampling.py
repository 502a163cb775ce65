"""Deterministic sampling & splits for training-data pipelines.

`df.sample()` is seed-dependent per partitioning and not reproducible
across engines or re-partitions; training pipelines need splits that
are a PURE FUNCTION of the record key — stable under reruns, engine
changes, and data re-layout, and leakage-safe (a document's split never
changes when the corpus grows). Standard trick: hash the key, bucket
mod N, threshold the bucket. All md5-prefix arithmetic here, so the
DuckDB oracle reproduces splits exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import token_hash

SPLIT_BUCKETS = 10_000


def split_bucket(key: Column, salt: str = "split") -> Column:
    """Stable bucket in [0, SPLIT_BUCKETS) from the record key."""
    return F.pmod(token_hash(F.lit(salt), key.cast("string")), F.lit(SPLIT_BUCKETS))


def with_split(df: DataFrame, key: str) -> DataFrame:
    """Adds a `split` column: train / valid / test (80/10/10) by hash
    bucket.

    Fractions are exact over the bucket space (0.8 → buckets 0-7999);
    actual row proportions converge to the fractions by the hash's
    uniformity. No shuffle — one projection.
    """
    b = split_bucket(F.col(key))
    train_hi = int(0.8 * SPLIT_BUCKETS)
    valid_hi = train_hi + int(0.1 * SPLIT_BUCKETS)
    return df.withColumn(
        "split",
        F.when(b < train_hi, F.lit("train"))
        .when(b < valid_hi, F.lit("valid"))
        .otherwise(F.lit("test")),
    )


def balanced_sample(
    df: DataFrame,
    key: str,
    strata_col: str,
    target_per_stratum: int,
) -> DataFrame:
    """Downsample every stratum toward ~`target_per_stratum` rows —
    the corpus-rebalancing step of a training pipeline (cap the
    dominant language/source, keep the tail whole).

    Per-stratum keep-fraction = min(1, target/count), applied as a hash
    -bucket threshold so the choice of survivors is deterministic and
    growth-stable within a stratum's existing rows. Scale shape: the
    strata table (one row per stratum) comes from one partial-agg pass
    and broadcasts back onto the big side — the corpus itself is never
    shuffled. Expected kept rows per stratum ≈ target (hash-uniform,
    not exact-N; an exact-N variant would need a per-stratum top-k by
    hash, a heavier sort — the approximate form is the 100 TB default).
    """
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_n"))
    thr = F.least(
        F.lit(SPLIT_BUCKETS).cast("long"),
        F.floor(F.lit(target_per_stratum * SPLIT_BUCKETS) / F.col("_n")),
    ).alias("_thr")
    strata = counts.select(strata_col, thr)
    return (
        df.join(F.broadcast(strata), strata_col)
        .filter(split_bucket(F.col(key), "strata") < F.col("_thr"))
        .drop("_thr")
    )


def stride_sample(
    df: DataFrame,
    partition_col: str,
    order_cols: list[str],
    max_points: int = 200,
) -> DataFrame:
    """O15 stride downsampling (reference `app.py:215-229`): keep every
    step-th row per series, step = max(1, len // max_points) — the
    chart-thinning idiom `sample_list(lst, step)` as a relational op.

    One window pass per series: position and series length come from
    the same partition window, the modulo filter is a pure projection.
    Row 0 of every series is always kept (like `lst[::step]`).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(partition_col).orderBy(*order_cols)
    cnt_w = Window.partitionBy(partition_col)
    step = F.greatest(
        F.lit(1), F.floor(F.count(F.lit(1)).over(cnt_w) / F.lit(max_points))
    )
    return (
        df.withColumn("_pos", F.row_number().over(w) - 1)
        .withColumn("_step", step)
        .filter(F.col("_pos") % F.col("_step") == 0)
        .drop("_pos", "_step")
    )


def pps_sample(
    df: DataFrame,
    key: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Systematic probability-proportional-to-size sampling: draw
    exactly `k` threshold hits with each row's hit probability
    proportional to `weight_col` — the token-budget corpus selection a
    training pipeline runs ("sample 10B tokens, long docs
    proportionally more likely") where Bernoulli keep-rates
    (`mixture_sample`) only hit a budget in expectation.

    Classic systematic PPS (Madow 1949): lay the rows on a line in a
    deterministically shuffled order (md5 sort key), each occupying a
    segment of length = its weight; walk the line with stride
    total_weight/k from a hash-chosen offset; every segment a step
    lands in is sampled (rows with weight >= stride are guaranteed in,
    possibly with multiplicity — exposed as n_hits).

    ENTIRELY integer arithmetic — scaled by k, the stride is the
    integer total weight W and the offset o = hash mod W — so DuckDB
    reproduces the exact same sample (no float log/pow whose last ulp
    could flip a selection across engines). The cumulative weight line
    is `corpus.hashed_prefix_sum` (two-phase, no global sort); W comes
    from the same pass as a 1-row broadcast. The walk's floor
    divisions run in Spark's integral `div` (and DuckDB's `//`), so
    the arithmetic is exact for any W*k that fits a 64-bit long — no
    2^53 double envelope.

    Output: (key, weight, n_hits) for sampled rows (n_hits >= 1).
    Zero/NULL/negative-weight rows occupy no segment and are never
    sampled (negatives clamp to 0 — passing them through would corrupt
    every later row's prefix offset).
    """
    from .corpus import hashed_prefix_sum

    counted = df.select(
        F.col(key).alias("doc_id"),
        # negatives clamp to 0 (occupy no segment): a negative weight
        # would shift every later row's prefix offset and silently
        # break the exactly-k guarantee
        F.greatest(F.col(weight_col).cast("long"), F.lit(0)).alias("_w"),
    )
    pre = hashed_prefix_sum(counted, "_w", salt="pps:pps:")
    total = pre.agg(F.sum("_w").alias("_W"))
    # rename before the 1-row cross join: both sides descend from `pre`,
    # so an un-aliased `_w` reference would be lineage-ambiguous
    lined = pre.select(
        "doc_id", F.col("_w").alias("_wv"), "_start"
    ).join(F.broadcast(total))
    w_safe = F.greatest(F.col("_W"), F.lit(1))
    o = F.pmod(token_hash(F.lit("pps:o:pps")), w_safe)

    # floor((x + W) / W) for x >= -W via Spark's integral `div` —
    # exact at any long magnitude, unlike a double `/` whose quotient
    # drifts once W*k exceeds 2^53; the DuckDB oracle's integer `//`
    # is the same exact arithmetic, so both engines agree at every
    # scale (numerators are >= 0 by the +W shift, where div == floor)
    s_end = (F.col("_start") + F.col("_wv")) * F.lit(k)
    s_start = F.col("_start") * F.lit(k)
    lined = lined.withColumns(
        {
            "_ne": (s_end - o - 1 + F.col("_W")).cast("long"),
            "_ns": (s_start - o - 1 + F.col("_W")).cast("long"),
            "_ws": w_safe.cast("long"),
        }
    )
    hits = F.expr("(_ne div _ws) - (_ns div _ws)").cast("long")
    return (
        lined.withColumn("n_hits", hits)
        .drop("_ne", "_ns", "_ws")
        .filter(F.col("n_hits") >= 1)
        .select(
            F.col("doc_id").alias(key),
            F.col("_wv").alias(weight_col),
            "n_hits",
        )
    )


def epoch_shards(
    df: DataFrame,
    key: str,
    n_epochs: int = 2,
    n_shards: int = 8,
) -> DataFrame:
    """Deterministic multi-epoch training-serving order: every row gets,
    per epoch, a shard assignment and a position within that shard —
    the (epoch, shard, pos) triple a data loader consumes. Each epoch's
    order is an independent hash permutation (md5 over "epoch":epoch:key),
    so epochs present the corpus in different orders, every run/engine
    reproduces the same order, and adding documents never reorders
    existing (epoch, shard) files beyond the insertion points.

    Scale shape: the explode is n_epochs small-int copies; shard
    assignment is a projection; the only sort is row_number WITHIN an
    (epoch, shard) partition — exactly the per-output-file sort a
    sharded writer needs, never a global order.

    Output: (epoch, shard, pos, key) — pos is 0-based within shard.
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(key),
        F.explode(F.array(*[F.lit(e) for e in range(n_epochs)])).alias(
            "epoch"
        ),
    )
    okey = token_hash(
        F.lit("epoch"), F.col("epoch").cast("string"), F.col(key).cast("string")
    )
    shard = F.pmod(okey, F.lit(n_shards)).cast("int")
    w = Window.partitionBy("epoch", "shard").orderBy("_okey", key)
    return (
        base.withColumn("_okey", okey)
        .withColumn("shard", shard)
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .select("epoch", "shard", "pos", key)
    )
