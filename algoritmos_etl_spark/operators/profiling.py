"""Table profiling: per-column stats, exact and sketch-based.

The first query a training-data pipeline runs against a new 100 TB
table: null rates, cardinalities, ranges, quantiles. Two tiers:

- `profile_table(df)` — EXACT per-column stats in ONE aggregation pass
  (no per-column jobs): null count, distinct count, min/max. Exact
  distinct is a shuffle per column at scale — use for tests/oracle
  parity and bounded columns.
- `approx_profile(df)` — the scale tier: HyperLogLog++ distinct
  (`approx_count_distinct`, ~2% default error), t-digest quantiles
  (`approx_percentile`), both single-pass mergeable sketches. This is
  what you run on the full corpus; tests pin the sketch error against
  the exact tier.

Output is long format (one row per column) so the profile of a
1000-column table is still a skinny result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Exact per-column profile: (column, n_rows, n_nulls, n_distinct,
    min_value, max_value) — min/max stringified so heterogeneous column
    types fit one result schema.

    TWO aggregation passes on purpose: mixing count_distinct with plain
    aggregates makes Catalyst plan the whole job as an Expand(cols+1)
    feeding a SORT-aggregate chain keyed on every column value — rows
    multiply by the column count and the exchange sorts them twice
    (measured 3× slower at sf0.1). Kept apart, the plain stats are one
    map-side hash aggregate over the scan, and the distinct counts are
    the Expand → per-(gid, value) hash dedup → count shape whose
    shuffle carries only the deduped partials. The two one-row results
    cross-join for free."""
    cols = columns or df.columns
    aggs: list = [F.count(F.lit(1)).alias("_n_rows")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"_nulls_{c}"))
        aggs.append(F.min(F.col(c)).cast("string").alias(f"_min_{c}"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"_max_{c}"))
    dist = df.agg(
        *[F.count_distinct(F.col(c)).alias(f"_nd_{c}") for c in cols]
    )
    wide = df.agg(*aggs).crossJoin(dist)
    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("_n_rows").alias("n_rows"),
            F.col(f"_nulls_{c}").alias("n_nulls"),
            F.col(f"_nd_{c}").alias("n_distinct"),
            F.col(f"_min_{c}").alias("min_value"),
            F.col(f"_max_{c}").alias("max_value"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*per_col)).alias("p")).select("p.*")


def approx_profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Sketch tier: HLL++ distinct counts (rsd 0.02) for every column
    and t-digest quartiles for numeric ones. Single pass, mergeable,
    constant memory per column — the 100 TB shape."""
    cols = columns or df.columns
    numeric = {
        name
        for name, dtype in df.dtypes
        if dtype in ("tinyint", "smallint", "int", "bigint", "float", "double")
        or dtype.startswith("decimal")
    }
    aggs: list = [F.count(F.lit(1)).alias("_n_rows")]
    for c in cols:
        aggs.append(
            F.approx_count_distinct(F.col(c), rsd=0.02).alias(f"_and_{c}")
        )
        if c in numeric:
            aggs.append(
                F.percentile_approx(
                    F.col(c), [0.25, 0.5, 0.75], 10000
                ).alias(f"_q_{c}")
            )
    wide = df.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("_n_rows").alias("n_rows"),
            F.col(f"_and_{c}").alias("approx_distinct"),
            (
                F.col(f"_q_{c}")
                if c in numeric
                else F.lit(None).cast("array<double>")
            ).alias("quantiles"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*per_col)).alias("p")).select("p.*")


def drift_psi(
    baseline: DataFrame,
    current: DataFrame,
    value_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column — THE production drift monitor (PSI < 0.1 stable, > 0.25
    shifted): bucket boundaries are the BASELINE's interior quantiles,
    both sides are histogrammed into them, and
    PSI = Σ_b (p_cur − p_base) · ln(p_cur / p_base)
    with half-count smoothing so empty buckets stay finite. Output:
    one row per bucket — (bucket, n_base, n_cur, p_base, p_cur,
    contrib, psi_total) — `psi_total` repeated per row for one-glance
    reads.

    Scale shape: boundaries are ONE exact-percentile partial aggregate
    on the baseline (a 1-row array, broadcast); bucket assignment is a
    JVM array-filter count per row (no join per boundary); each side
    reduces map-side to ≤ n_buckets cells before the single tiny merge.
    Boundary-tie semantics (`bound <= x` counts up) are part of the
    contract and mirrored in the oracle — compared at the shared
    floor(v·10⁴+0.5) integer grain, NOT on raw doubles: engines
    interpolate the quantile with algebraically-equal but
    IEEE-different formulas, and a last-ulp boundary difference flips
    every row whose value sits exactly on a decile (the 30× notch
    caught ±30-row bucket swaps — replicated corpora stack duplicate
    values on the boundary; the r9 heatmap quantizer pattern applied
    here). An EMPTY side contributes the
    smoothing-uniform distribution (every bucket 0.5/(0.5·B)) — so
    empty-vs-empty reads PSI = 0 and empty-current reads as a drift
    toward uniform, never a crash; gate empty batches upstream
    (`expectations.check` reports them explicitly) if "no data" must
    be distinguished from "uniform data".
    """
    qs = [i / n_buckets for i in range(1, n_buckets)]
    # An EMPTY baseline yields NULL percentile bounds; coalesce to an
    # empty boundary array so every current row lands in bucket 0 (the
    # degenerate one-bucket histogram) instead of bucketing to NULL and
    # silently vanishing from the PSI — with rows only in bucket 0 the
    # smoothing terms make the drift read maximal, not 0.0.
    # 1-row result consumed by BOTH bucketed() broadcasts — without
    # the materialization each broadcast re-runs the full baseline
    # percentile scan (r12 optimization round: order_value_drift's
    # plan carried 16 parquet scans of `orders`, now 2 — one per side)
    bounds = baseline.agg(
        F.coalesce(
            F.percentile(
                F.col(value_col), F.array(*[F.lit(q) for q in qs])
            ),
            F.array().cast("array<double>"),
        ).alias("bounds")
    ).localCheckpoint(eager=False)

    def q4(c):
        # exact while |v|·10⁴ < 2^53 — the pure-IEEE cross-engine
        # quantizer (identical in Spark/DuckDB/numpy)
        return F.floor(c * 10000 + F.lit(0.5)).cast("long")

    def bucketed(df: DataFrame, out: str) -> DataFrame:
        x = F.col(value_col)
        return (
            df.filter(x.isNotNull())
            .crossJoin(F.broadcast(bounds))
            .select(
                F.size(
                    F.filter(F.col("bounds"), lambda b: q4(b) <= q4(x))
                ).alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(out))
        )
    grid = baseline.sparkSession.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket")
    )
    # bounded (n_buckets rows); feeds the totals aggregate AND the
    # final projection — materialize once instead of histogramming
    # both sides twice
    hist = (
        grid.join(bucketed(baseline, "n_base"), "bucket", "left")
        .join(bucketed(current, "n_cur"), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
        .localCheckpoint(eager=False)
    )
    totals = hist.agg(
        F.sum("n_base").alias("tb"), F.sum("n_cur").alias("tc")
    )
    p_base = (F.col("n_base") + 0.5) / (F.col("tb") + 0.5 * n_buckets)
    p_cur = (F.col("n_cur") + 0.5) / (F.col("tc") + 0.5 * n_buckets)
    contrib = (p_cur - p_base) * F.log(p_cur / p_base)
    from pyspark.sql import Window

    from ..functions.scalars import one_partition

    # deliberate single-partition window over the bounded n_buckets
    # grid — one_partition keeps the driver log free of `WindowExec:
    # No Partition Defined` warnings (a standing bench-tail invariant)
    w_all = Window.partitionBy(one_partition(F.col("bucket")))
    scored = hist.crossJoin(F.broadcast(totals)).select(
        "bucket",
        "n_base",
        "n_cur",
        F.round(p_base, 6).alias("p_base"),
        F.round(p_cur, 6).alias("p_cur"),
        F.round(contrib, 6).alias("contrib"),
        F.round(F.sum(contrib).over(w_all), 6).alias("psi_total"),
    )
    return scored


# Baseline categories `drift_psi_categorical` keeps before folding the
# rest into '__OTHER__' (its oracle reads the same constant).
PSI_MAX_CATEGORIES = 100


def drift_psi_categorical(
    baseline: DataFrame, current: DataFrame, value_col: str
) -> DataFrame:
    """`drift_psi`'s CATEGORICAL arm — the other half of a production
    drift monitor (status codes, priorities, country/source columns):
    category frequencies replace quantile buckets, with the
    BASELINE's top-`PSI_MAX_CATEGORIES` categories kept as-is (count
    desc, value asc tiebreak — deterministic cross-engine) and
    everything else folded into '__OTHER__' so unbounded-cardinality
    columns stay bounded. NULL is its own category ('__NULL__').
    Same half-count smoothing and Σ(p_cur−p_base)·ln(p_cur/p_base)
    as the numeric arm; a category unseen in one side contributes
    through the smoothing term instead of dividing by zero.

    Output: one row per kept category — (category, n_base, n_cur,
    p_base, p_cur, contrib, psi_total).

    Scale shape: each side reduces map-side to its category counts
    (bounded after the top-N fold), the kept-category list is a
    broadcast of ≤ PSI_MAX_CATEGORIES+2 rows, and the PSI itself runs on
    that bounded grid — 100 TB costs two partial-agg passes.
    """
    from pyspark.sql import Window

    cat = F.coalesce(F.col(value_col).cast("string"), F.lit("__NULL__"))

    def counted(df: DataFrame, out: str) -> DataFrame:
        return (
            df.select(cat.alias("category"))
            .groupBy("category")
            .agg(F.count(F.lit(1)).alias(out))
        )

    # the baseline's category counts are computed ONCE and reused for
    # both the top-N cut and the baseline's folded histogram (folding
    # the COUNTS table instead of re-scanning the raw rows — summing
    # folded counts equals counting folded rows); `top` is bounded
    # (≤ PSI_MAX_CATEGORIES rows) and referenced by two broadcasts + the
    # grid, so it is materialized too. r12 optimization round:
    # priority_drift_categorical's plan carried 20 parquet scans of
    # `orders`, now 2 — one per side.
    base_counts = counted(baseline, "n_base").localCheckpoint(eager=False)
    top = (
        base_counts.orderBy(
            F.col("n_base").desc(), F.col("category").asc()
        )
        .limit(PSI_MAX_CATEGORIES)
        .select("category")
        .localCheckpoint(eager=False)
    )

    def fold_key(keep_flag):
        return F.when(
            keep_flag.isNotNull(), F.col("category")
        ).otherwise(F.lit("__OTHER__")).alias("category")

    base_folded = (
        base_counts.join(
            F.broadcast(top.withColumn("_keep", F.lit(1))),
            "category", "left",
        )
        .select(fold_key(F.col("_keep")), "n_base")
        .groupBy("category")
        .agg(F.sum("n_base").alias("n_base"))
    )
    cur_folded = (
        current.select(cat.alias("category"))
        .join(F.broadcast(top.withColumn("_keep", F.lit(1))),
              "category", "left")
        .select(fold_key(F.col("_keep")))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n_cur"))
    )

    grid = top.unionByName(
        baseline.sparkSession.createDataFrame(
            [("__OTHER__",)], "category string"
        )
    ).distinct()
    # bounded (≤ max_categories + 1 rows); feeds totals AND the final
    # projection — materialize once
    hist = (
        grid.join(base_folded, "category", "left")
        .join(cur_folded, "category", "left")
        .select(
            "category",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
        .localCheckpoint(eager=False)
    )
    totals = hist.agg(
        F.sum("n_base").alias("tb"), F.sum("n_cur").alias("tc")
    )
    from ..functions.scalars import one_partition

    # deliberate single-partition windows over the bounded kept-
    # category grid (see drift_psi's numeric arm for the invariant)
    w_all = Window.partitionBy(one_partition(F.col("category")))
    n_cells = F.count(F.lit(1)).over(w_all)
    p_base = (F.col("n_base") + 0.5) / (F.col("tb") + 0.5 * n_cells)
    p_cur = (F.col("n_cur") + 0.5) / (F.col("tc") + 0.5 * n_cells)
    contrib = (p_cur - p_base) * F.log(p_cur / p_base)
    return hist.crossJoin(F.broadcast(totals)).select(
        "category",
        "n_base",
        "n_cur",
        F.round(p_base, 6).alias("p_base"),
        F.round(p_cur, 6).alias("p_cur"),
        F.round(contrib, 6).alias("contrib"),
        F.round(F.sum(contrib).over(w_all), 6).alias("psi_total"),
    )
