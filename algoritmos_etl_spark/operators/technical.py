"""Derived-series operators: returns (three semantics), SMA, moments.

Reference parity (SURVEY.md §2.4/§2.5):
- A1/A2 mean & sample stddev — `algorithms/technical.py:27-97`
- W2  log returns, 0.0-fill  — `algorithms/technical.py:104-154`
- W2b log returns, omit      — `algorithms/volatility.py:30-56`
- W3  simple returns         — `algorithms/technical.py:161-186`
- W4  SMA with warm-up nulls — `algorithms/technical.py:193-243`

The W2 vs W2b split is a real semantic divergence in the reference
(similarity uses 0.0-fill, volatility drops invalid pairs — different n,
different stddev); both are preserved as distinct builders.

All are lag/frame window expressions partitioned by symbol: one shuffle
on symbol, then per-partition streaming evaluation — no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _series_window() -> Window:
    return Window.partitionBy("symbol").orderBy("date")


def log_returns(df: DataFrame, zero_fill: bool = True) -> DataFrame:
    """Per-symbol log returns `ret` = ln(close_i / close_{i-1}), i ≥ 1.

    zero_fill=True  → W2: invalid pairs (either price ≤ 0 or null)
                      emit 0.0 (`technical.py:144-153`).
    zero_fill=False → W2b: invalid pairs are omitted
                      (`volatility.py:43-56`).
    The first row of each symbol has no predecessor and is omitted in
    both variants (reference returns length n−1).
    """
    w = _series_window()
    prev = F.lag("close").over(w)
    cur = F.col("close")
    valid = prev.isNotNull() & cur.isNotNull() & (prev > 0) & (cur > 0)
    ret = F.log(cur / prev)
    if zero_fill:
        out = df.withColumn("ret", F.when(valid, ret).otherwise(F.lit(0.0)))
    else:
        out = df.withColumn("ret", F.when(valid, ret))
    out = out.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") > 1)
    if not zero_fill:
        out = out.filter(F.col("ret").isNotNull())
    return out.drop("_rn")


def simple_returns(df: DataFrame) -> DataFrame:
    """W3: `ret` = (p_i − p_{i-1}) / p_{i-1} on close; 0.0 when
    p_{i-1} == 0."""
    w = _series_window()
    prev = F.lag("close").over(w)
    out = df.withColumn(
        "ret",
        F.when(
            prev.isNotNull() & (prev != 0), (F.col("close") - prev) / prev
        ).otherwise(F.lit(0.0)),
    )
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .drop("_rn")
    )


def sma(df: DataFrame, window_size: int) -> DataFrame:
    """W4: trailing simple moving average of close as `sma_<window>`;
    warm-up rows yield NULL.

    The reference emits n−w+1 values and the API pads the first w−1
    positions with None (`technical.py:193-243`, `app.py:384-390`);
    NULL-on-warm-up reproduces the padded shape in one expression.

    Scale note: Spark's bounded row frame re-sums per row (O(n·w) per
    symbol vs the reference's O(n) sliding accumulator) but distributes
    per symbol; if w is ever huge, the cumsum−lag(cumsum, w) difference
    trick restores O(n) (SURVEY.md §4).
    """
    w = _series_window()
    frame = w.rowsBetween(-(window_size - 1), 0)
    return df.withColumn(
        f"sma_{window_size}",
        F.when(
            F.row_number().over(w) >= window_size,
            F.avg("close").over(frame),
        ),
    )


def returns_bundle(df: DataFrame) -> DataFrame:
    """W2/W2b/W3 in ONE window pass: per-symbol rows (first row dropped,
    reference returns length n−1) with all three return semantics as
    columns — `ret_zero` (0.0-fill, `technical.py:144-153`), `ret_omit`
    (NULL on invalid pairs, `volatility.py:43-56`), `ret_simple`
    ((p−prev)/prev, `technical.py:161-186`).

    One shuffle on symbol, one WindowExec, three projections — strictly
    cheaper at scale than three separate scans."""
    w = _series_window()
    cur = F.col("close")
    # lag/row_number are materialized BEFORE the rn>1 filter — re-deriving
    # lag after the filter would see the truncated frame and null out the
    # first surviving row's predecessor.
    prev = F.col("_prev")
    valid = prev.isNotNull() & cur.isNotNull() & (prev > 0) & (cur > 0)
    logret = F.log(cur / prev)
    return (
        df.withColumn("_prev", F.lag("close").over(w))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .withColumn("ret_zero", F.when(valid, logret).otherwise(F.lit(0.0)))
        .withColumn("ret_omit", F.when(valid, logret))
        .withColumn(
            "ret_simple",
            F.when(
                prev.isNotNull() & (prev != 0), (cur - prev) / prev
            ).otherwise(F.lit(0.0)),
        )
        .drop("_prev", "_rn")
    )


def series_stats(df: DataFrame) -> DataFrame:
    """A1/A2/A12 + A3 in ONE aggregation: per-symbol close moments
    (mean, sample stddev, min, max, n) and annualized volatility over
    omit-semantics log returns (`algorithms/volatility.py:63-121`).

    The window lag and both aggregate families share a single shuffle
    on symbol — the fused plan the optimizer can't derive from two
    separate queries."""
    import math

    w = _series_window()
    prev = F.lag("close").over(w)
    cur = F.col("close")
    valid = prev.isNotNull() & cur.isNotNull() & (prev > 0) & (cur > 0)
    ret = F.when(valid, F.log(cur / prev))
    return (
        df.withColumn("_ret", ret)
        .groupBy("symbol")
        .agg(
            F.avg("close").alias("mean"),
            F.stddev_samp("close").alias("std_dev"),
            F.min("close").alias("min_close"),
            F.max("close").alias("max_close"),
            F.count("close").alias("n"),
            (
                F.coalesce(F.stddev_samp("_ret"), F.lit(0.0))
                * math.sqrt(252.0)
            ).alias("volatility"),
            F.count("_ret").alias("n_returns"),
        )
    )


def rolling_features(df: DataFrame, window_size: int = 5) -> DataFrame:
    """W4 + W6 fused: per-(symbol, date) trailing SMA (NULL warm-up,
    `technical.py:193-243`) and the sliding gap-up count (`patterns.py:
    155-264`) in one WindowExec over one shuffle on symbol.

    `gaps_in_window` is NULL until the first full window of gap flags
    exists (flags start at row 2, so rows 1..window_size are warm-up),
    matching the reference's n−w+1-length output."""
    w = _series_window()
    frame = w.rowsBetween(-(window_size - 1), 0)
    rn = F.row_number().over(w)
    gap = F.when(F.col("open") > F.lag("high").over(w), 1).otherwise(0)
    return (
        df.withColumn("_rn", rn)
        .withColumn("_gap", gap)
        .withColumn(
            f"sma_{window_size}",
            F.when(F.col("_rn") >= window_size, F.avg("close").over(frame)),
        )
        .withColumn(
            "gaps_in_window",
            F.when(
                F.col("_rn") >= window_size + 1,
                F.sum("_gap").over(frame).cast("long"),
            ),
        )
        .drop("_rn", "_gap")
    )


def rolling_zscore(
    df: DataFrame,
    value_col: str = "close",
    window_size: int = 20,
    threshold: float = 2.5,
) -> DataFrame:
    """Rolling z-score anomaly detection: each bar scored against the
    trailing `window_size`-row mean/sample-stddev of its own symbol —
    the classic point-anomaly detector for metric streams (an
    extension of the reference's volatility stack, which computes the
    same moments globally per asset: `algorithms/volatility.py`).

    Warm-up rows (fewer than `window_size` trailing bars) and
    zero-variance windows are excluded rather than scored against an
    unstable baseline. Returns only |z| >= threshold rows —
    (symbol, date, value, z) — so output is |anomalies|, not |table|.

    One shuffle on symbol; both moments come from the same bounded
    ROWS frame in one Window pass (Catalyst computes sibling window
    aggregates over one sort). At 100 TB the per-symbol partitions
    stream through the frame buffer row-by-row — state is
    O(window_size) per open partition.
    """
    w = (
        Window.partitionBy("symbol")
        .orderBy("date")
        .rowsBetween(-(window_size - 1), 0)
    )
    v = F.col(value_col)
    scored = df.select(
        "symbol",
        "date",
        v.alias("value"),
        F.avg(v).over(w).alias("_mu"),
        F.stddev_samp(v).over(w).alias("_sd"),
        F.count(v).over(w).alias("_n"),
    )
    z = (F.col("value") - F.col("_mu")) / F.col("_sd")
    return (
        scored.filter(
            (F.col("_n") >= window_size) & (F.col("_sd") > 0)
        )
        .withColumn("z", F.round(z, 6))
        .filter(F.abs(F.col("z")) >= threshold)
        .select("symbol", "date", "value", "z")
    )


def resample_bars(
    df: DataFrame,
    freq: str = "week",
) -> DataFrame:
    """Downsample daily OHLCV bars to a coarser calendar grain
    (week/month): open = first bar's open, close = last bar's close,
    high/low = extrema, volume = sum — the standard financial resample,
    generalizing the daily aggregation that builds the bars themselves
    (`sources.readers.daily_bars`, FIXTURES.md F7).

    ONE partial-aggregatable pass: `min_by`/`max_by` on the date pick
    the boundary bars without a window sort, exactly the idiom the
    daily rollup uses — so the weekly rollup of 100 TB of bars is one
    map-side-combined shuffle on (symbol, period).
    """
    period = F.date_trunc(freq, F.col("date")).cast("date")
    return (
        df.groupBy("symbol", period.alias("period_start"))
        .agg(
            F.min_by("open", "date").alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", "date").alias("close"),
            F.sum("volume").alias("volume"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )


def acf_report(df: DataFrame, max_lag: int = 5) -> DataFrame:
    """Autocorrelation function per symbol: Pearson correlation of the
    close series with its lag-k shifted self for k = 1..max_lag — the
    stationarity/memory diagnostic of classical time-series analysis,
    extending the reference's cross-series Pearson (A7,
    `algorithms/similarity.py`) to the self-lag axis. Output:
    (symbol, lag, acf, n_pairs); symbols with fewer than lag+2 points
    or zero variance yield NULL acf (corr is undefined there).

    One shuffle on symbol, then max_lag lag-columns from the SAME
    window sort (Catalyst computes sibling lags in one pass); per-lag
    correlations are plain grouped aggregates over the unioned lag
    frames — map-side partial, no second sort.
    """
    w = _series_window().orderBy("date")
    v = F.col("close")
    lagged = df.select(
        "symbol",
        v.alias("x"),
        *[F.lag(v, k).over(w).alias(f"_l{k}") for k in range(1, max_lag + 1)],
    )
    frames = []
    for k in range(1, max_lag + 1):
        frames.append(
            lagged.filter(F.col(f"_l{k}").isNotNull()).select(
                "symbol",
                F.lit(k).alias("lag"),
                F.col("x"),
                F.col(f"_l{k}").alias("y"),
            )
        )
    unioned = frames[0]
    for fdf in frames[1:]:
        unioned = unioned.unionByName(fdf)
    # NOT F.corr: under ANSI mode (Spark 4 default) corr THROWS
    # DIVIDE_BY_ZERO on a zero-variance window (a constant series is
    # a routine input — halted symbol, filled gap run). The explicit
    # covar/std form with try_divide returns the SQL-conventional NULL
    # instead, matching DuckDB's corr()
    acf = F.try_divide(
        F.covar_samp("x", "y"),
        F.stddev_samp("x") * F.stddev_samp("y"),
    )
    return unioned.groupBy("symbol", "lag").agg(
        F.round(acf, 6).alias("acf"),
        F.count(F.lit(1)).alias("n_pairs"),
    )


def seasonal_decomposition(
    df: DataFrame,
    period: int = 7,
    trend_window: int = 7,
) -> DataFrame:
    """Classical additive seasonal decomposition of close on the
    calendar-day axis: trend = centered moving average over
    `trend_window` rows, seasonal = the per-(symbol, position-in-period) mean of the
    detrended series, residual = value − trend − seasonal. The
    moving-average decomposition of classical time-series analysis
    (the non-parametric ancestor of STL), here with a day-of-week
    period over daily bars. Rows without a full centered trend window
    are excluded (the standard edge convention).

    Two window passes over ONE symbol sort (centered frame + count
    guard), one bounded groupBy on (symbol, pos) for the seasonal
    means (broadcast back — ≤ |symbols|·period rows), all JVM
    expressions.
    """
    half = trend_window // 2
    w = (
        _series_window()
        .orderBy("date")
        .rowsBetween(-half, trend_window - half - 1)
    )
    v = F.col("close")
    with_trend = df.select(
        "symbol",
        "date",
        v.alias("value"),
        F.avg(v).over(w).alias("trend"),
        F.count(v).over(w).alias("_n"),
        F.pmod(F.dayofweek("date"), F.lit(period)).alias("pos"),
    ).filter(F.col("_n") >= trend_window)
    seasonal = (
        with_trend.groupBy("symbol", "pos")
        .agg(F.avg(F.col("value") - F.col("trend")).alias("seasonal"))
    )
    return (
        with_trend.join(F.broadcast(seasonal), ["symbol", "pos"])
        .select(
            "symbol",
            "date",
            F.round("value", 6).alias("value"),
            F.round("trend", 6).alias("trend"),
            F.round("seasonal", 6).alias("seasonal"),
            F.round(
                F.col("value") - F.col("trend") - F.col("seasonal"), 6
            ).alias("residual"),
        )
    )
