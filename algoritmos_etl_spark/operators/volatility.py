"""Volatility + portfolio risk classification pipeline.

Reference parity (SURVEY.md §2.4/§2.5, §3.3):
- A3  historical volatility   — `algorithms/volatility.py:63-121`
- A10 exact percentile P33/P66 — `algorithms/volatility.py:193-202`
- W7  rank by volatility       — `algorithms/volatility.py:178-222`
- W8  percentile bucketing     — `algorithms/volatility.py:205-222`
- A11 risk-class histogram     — `algorithms/volatility.py:281-286`
- X4  composed pipeline        — `algorithms/volatility.py:226-293`

Design: volatility is a per-symbol aggregate over W2b (omit-semantics)
log returns; thresholds are **exact** interpolated percentiles
(`percentile`, not `approx_percentile` — SURVEY.md §7.3 pins this for
oracle parity); classification is a CASE over a broadcast one-row
threshold table; rank is a whole-set row_number. The ranked table has
one row per symbol — thousands of rows at most — so the single-partition
rank window is not a scale hazard.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import fixed6, one_partition
from .technical import log_returns

TRADING_DAYS = 252
CONSERVATIVE, MODERATE, AGGRESSIVE = "Conservador", "Moderado", "Agresivo"


def historical_volatility(df: DataFrame) -> DataFrame:
    """A3: stddev_samp of omit-semantics log returns, annualized ×√252.

    <2 valid returns ⇒ stddev_samp is NULL; the reference reports 0.0
    there (→ Conservador), so coalesce — otherwise NULL falls through
    every classification CASE branch to 'Agresivo' and sorts
    nulls-first in the rank window.
    """
    rets = log_returns(df, zero_fill=False)
    vol = F.coalesce(F.stddev_samp("ret"), F.lit(0.0)) * math.sqrt(TRADING_DAYS)
    return rets.groupBy("symbol").agg(
        vol.alias("volatility"), F.count("ret").alias("n_returns")
    )


def classify_risk(vol_df: DataFrame) -> DataFrame:
    """W7+W8: bucket by exact P33/P66 thresholds, rank ascending.

    Ties in volatility break by symbol for determinism (the reference's
    insertion sort is stable in its iteration order, which has no
    relational meaning). Both the rank ORDER and the threshold
    COMPARISONS run at the `fixed6` quantizer grain — volatility is a
    float aggregate whose last ulp differs across engines, and the
    100× notch proved an ulp lands between two ranks at 150k symbols
    (the r10 PSI-boundary lesson at the ordering grain).
    """
    thresholds = vol_df.agg(
        F.percentile("volatility", F.lit(0.33)).alias("p_low"),
        F.percentile("volatility", F.lit(0.66)).alias("p_high"),
    )
    # single-partition window is safe HERE: vol_df is one row per symbol
    # (an aggregate), thousands of rows at any data scale — not the raw
    # data; the non-foldable constant key makes that explicit in the plan
    rank_w = Window.partitionBy(one_partition(F.col("symbol"))).orderBy(
        fixed6(F.col("volatility")).asc(), F.col("symbol").asc()
    )
    qv = fixed6(F.col("volatility"))
    return (
        vol_df.crossJoin(F.broadcast(thresholds))
        .withColumn(
            "risk_class",
            F.when(qv <= fixed6(F.col("p_low")), F.lit(CONSERVATIVE))
            .when(qv <= fixed6(F.col("p_high")), F.lit(MODERATE))
            .otherwise(F.lit(AGGRESSIVE)),
        )
        .withColumn("rank", F.row_number().over(rank_w))
    )


def risk_summary(classified: DataFrame) -> DataFrame:
    """A11: histogram of risk classes."""
    return classified.groupBy("risk_class").agg(F.count(F.lit(1)).alias("n_assets"))


def analyze_portfolio_risk(bars: DataFrame) -> DataFrame:
    """X4: the full `/api/risk` lifecycle as one DataFrame plan.

    bars → (P9 length guard: more than 10 prices) → A3 volatility →
    A10 thresholds → W8 classify → W7 rank. Returns one row per
    qualifying symbol.
    """
    valid = bars.filter(F.col("close").isNotNull())
    counts = (
        valid.groupBy("symbol")
        .agg(F.count(F.lit(1)).alias("n_prices"))
        .filter(F.col("n_prices") > 10)
        .select("symbol")
    )
    guarded = valid.join(F.broadcast(counts), "symbol", "left_semi")
    vols = historical_volatility(guarded)
    return classify_risk(vols).select(
        "symbol", "volatility", "n_returns", "risk_class", "rank", "p_low", "p_high"
    )
