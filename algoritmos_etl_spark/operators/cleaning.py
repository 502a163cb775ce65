"""Cleaning operators: null scans, consistency predicates, forward fill.

Reference parity (SURVEY.md §2.2/§2.5):
- P4 `detect_missing_values`  — `etl/data_cleaner.py:27-85`
- P5 `detect_inconsistencies` — `etl/data_cleaner.py:88-147`
- W1 `clean_with_forward_fill`— `etl/data_cleaner.py:150-191`
- P3 `remove_invalid_rows`    — `etl/data_cleaner.py:194-220`

All pure built-in expressions (single scan each, whole-stage codegen);
the window ops partition by symbol so the work distributes per asset.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def missing_value_summary(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-symbol count of null cells per column + rows with ≥1 null.

    Reference: `etl/data_cleaner.py:27-85` returns (total null cells,
    indices of rows with any null); relational form keys by symbol
    instead of positional index. One scan, map-side partial aggregation.
    """
    aggs = [
        F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}") for c in cols
    ]
    any_null = None
    for c in cols:
        cond = F.col(c).isNull()
        any_null = cond if any_null is None else (any_null | cond)
    aggs.append(F.sum(any_null.cast("long")).alias("rows_with_null"))
    aggs.append(F.count(F.lit(1)).alias("n_rows"))
    return df.groupBy("symbol").agg(*aggs)


def detect_inconsistencies(df: DataFrame) -> DataFrame:
    """Rows violating OHLC consistency, tagged with an anomaly type.

    Reference: `etl/data_cleaner.py:88-147` — three predicates, each
    skipped when an operand is null:
      high_lt_low        : high < low
      close_out_of_range : close ∉ [low, high]
      open_out_of_range  : open  ∉ [low, high]
    A row may emit several anomalies (one output row per violated
    predicate). Implemented as one scan: build an array of fired tags,
    explode it — no triple-scan union.
    """
    tags = F.array_compact(
        F.array(
            F.when(F.col("high") < F.col("low"), F.lit("high_lt_low")),
            F.when(
                (F.col("close") < F.col("low")) | (F.col("close") > F.col("high")),
                F.lit("close_out_of_range"),
            ),
            F.when(
                (F.col("open") < F.col("low")) | (F.col("open") > F.col("high")),
                F.lit("open_out_of_range"),
            ),
        )
    )
    return (
        df.withColumn("anomaly", F.explode(tags))
        .select("symbol", "date", "open", "high", "low", "close", "anomaly")
    )


def forward_fill(
    df: DataFrame,
    value_col: str = "close",
    order_cols: Sequence[str] = ("date",),
    partition_col: str = "symbol",
    out_col: str | None = None,
) -> DataFrame:
    """Fill nulls with the last prior non-null value within each symbol.

    Reference: `etl/data_cleaner.py:150-191` (leading nulls stay null).
    One window pass: `last(ignorenulls)` over an unbounded-preceding row
    frame. The shuffle partitions by symbol; state per partition is one
    scalar — this is the plan you want at any scale.
    """
    w = (
        Window.partitionBy(partition_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        out_col or value_col, F.last(value_col, ignorenulls=True).over(w)
    )


def remove_invalid_rows(df: DataFrame, critical_col: str = "close") -> DataFrame:
    """Drop rows whose critical field is null (`etl/data_cleaner.py:194-220`).

    The filter is a pushable predicate: when it sits directly over a
    parquet scan Catalyst turns it into a row-group-level IS NOT NULL.
    """
    return df.filter(F.col(critical_col).isNotNull())


def keep_latest(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """CDC-style dedup: one surviving row per key — the one with the
    greatest `order_col` (ties broken by `tiebreak` descending).

    The window row_number form, NOT `dropDuplicates` (which keeps an
    arbitrary row — nondeterministic under retries/partitioning, a
    silent reproducibility bug at scale). One shuffle on the key.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(
        F.col(order_col).desc(), *[F.col(c).desc() for c in tiebreak]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def fk_violations(
    child: DataFrame, parent: DataFrame, child_key: str, parent_key: str
) -> DataFrame:
    """Referential-integrity check: child rows whose key has no parent
    (left ANTI join — the data-quality gate every ingest runs). NULL
    keys are violations too (they reference nothing)."""
    return child.join(
        parent.select(F.col(parent_key).alias(child_key)).distinct(),
        child_key,
        "left_anti",
    )


def scd2_history(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    attr_col: str,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Slowly-changing-dimension type-2 history from a change stream:
    per key, collapse consecutive records with an unchanged tracked
    attribute, then emit validity intervals —
    (key…, attr, valid_from, valid_to, is_current), `valid_to` NULL on
    the open (current) interval.

    The warehouse MERGE-into-history pattern as pure window algebra:
    one shuffle on the key, two window passes (lag to detect change
    points, lead over the survivors to close intervals). Deterministic
    under duplicate timestamps via `tiebreak` (same rationale as
    `keep_latest`). At scale this is exactly how a 100 TB dimension
    rebuild runs: keys spread across executors, per-key state is one
    sort, no driver involvement.
    """
    from pyspark.sql import Window

    order = [F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak]]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    # lag of a constant distinguishes "first row of the key" from "the
    # previous attribute was NULL" — lag(attr) alone conflates the two
    # and would re-emit every NULL-attribute run as change points
    changed = (
        df.withColumn("_prev", F.lag(attr_col).over(w))
        .withColumn("_first", F.lag(F.lit(1)).over(w).isNull())
        .filter(
            F.col("_first")
            | (~F.col(attr_col).eqNullSafe(F.col("_prev")))
        )
        .drop("_prev", "_first")
    )
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        changed.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w2))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop(ts_col)
    )


def interpolate_missing(
    df: DataFrame,
    value_col: str = "close",
    date_col: str = "date",
    partition_col: str = "symbol",
) -> DataFrame:
    """Linear time-weighted interpolation of null gaps into `interp`:
    each missing value gets prev + (next − prev) · Δt_frac, where the fraction is
    measured on the TIME axis (a 3-day gap interpolates by calendar
    distance, not row position) — the gap-fill idiom of every
    time-series store, extending the reference's forward-fill (W1,
    `etl/data_cleaner.py:150-191`) with the symmetric estimate.
    Leading/trailing nulls (no bracket on one side) stay null.

    TWO window passes over one shuffle on the symbol: a forward pass
    carries (last known value, its date) and a backward pass carries
    (next known value, its date) — per-partition state is two scalars
    each, so the plan streams at any history length. The arithmetic is
    plain IEEE on day ordinals, bit-identical across engines.
    """
    v = F.col(value_col)
    known_date = F.when(v.isNotNull(), F.col(date_col))
    fwd = (
        Window.partitionBy(partition_col)
        .orderBy(date_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bwd = (
        Window.partitionBy(partition_col)
        .orderBy(date_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    prev_v = F.last(v, ignorenulls=True).over(fwd)
    prev_d = F.last(known_date, ignorenulls=True).over(fwd)
    next_v = F.first(v, ignorenulls=True).over(bwd)
    next_d = F.first(known_date, ignorenulls=True).over(bwd)
    span = F.unix_date(next_d) - F.unix_date(prev_d)
    frac = (F.unix_date(F.col(date_col)) - F.unix_date(prev_d)) / span
    interp = F.when(v.isNotNull(), v).otherwise(
        F.when(
            prev_v.isNotNull() & next_v.isNotNull(),
            prev_v + (next_v - prev_v) * frac,
        )
    )
    return df.withColumn("interp", interp)
