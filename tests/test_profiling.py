"""Profiling tests: exact tier vs hand counts, sketch tier error bounds."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from algoritmos_etl_spark.operators import profiling
from algoritmos_etl_spark.sources.readers import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_exact_profile(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "b")], "x int, s string"
    )
    prof = {r.column: r for r in profiling.profile_table(df).collect()}
    assert prof["x"].n_rows == 4
    assert prof["x"].n_nulls == 1 and prof["x"].n_distinct == 2
    assert prof["x"].min_value == "1" and prof["x"].max_value == "2"
    assert prof["s"].n_nulls == 1 and prof["s"].n_distinct == 2


def test_approx_profile_error_bound(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    cols = ["l_orderkey", "l_quantity", "l_shipdate"]
    exact = {r.column: r for r in profiling.profile_table(li, cols).collect()}
    approx = {r.column: r for r in profiling.approx_profile(li, cols).collect()}
    for c in cols:
        rel_err = abs(approx[c].approx_distinct - exact[c].n_distinct) / max(
            exact[c].n_distinct, 1
        )
        assert rel_err < 0.1, f"{c}: HLL error {rel_err}"
    # quantiles present only for numerics, ordered
    q = approx["l_quantity"].quantiles
    assert q is not None and q == sorted(q)
    assert approx["l_shipdate"].quantiles is None


def test_drift_psi_detects_shift_and_stays_zeroish_on_same_dist(spark):
    """PSI ≈ 0 when both snapshots share a distribution; large when
    the current snapshot shifts; buckets cover everything (counts sum
    to side totals) and smoothing keeps empty buckets finite."""
    import math

    from algoritmos_etl_spark.operators import profiling

    base = spark.createDataFrame(
        [(float(i % 100),) for i in range(2000)], "v double"
    )
    same = spark.createDataFrame(
        [(float((i * 7) % 100),) for i in range(2000)], "v double"
    )
    shifted = spark.createDataFrame(
        [(float(i % 100) + 80.0,) for i in range(2000)], "v double"
    )
    psi_same = profiling.drift_psi(base, same, "v").first().psi_total
    psi_shift = profiling.drift_psi(base, shifted, "v").first().psi_total
    assert abs(psi_same) < 0.01
    assert psi_shift > 0.25  # the standard "population shifted" bar
    rows = profiling.drift_psi(base, shifted, "v").collect()
    assert len(rows) == 10
    assert sum(r.n_base for r in rows) == 2000
    assert sum(r.n_cur for r in rows) == 2000
    assert all(math.isfinite(r.contrib) for r in rows)


def test_drift_psi_empty_baseline_reads_as_max_drift(spark):
    """EMPTY baseline: NULL percentile bounds coalesce to an empty
    boundary array, so every current row lands in bucket 0 — the PSI
    reads large (all mass piled on one smoothed-uniform bucket), never
    the silent 0.0 a NULL bucket drop would produce. Empty current and
    empty-vs-empty stay finite too."""
    import math

    empty = spark.createDataFrame([], "v double")
    cur = spark.createDataFrame(
        [(float(i % 100),) for i in range(1000)], "v double"
    )
    rows = profiling.drift_psi(empty, cur, "v").collect()
    assert len(rows) == 10
    assert sum(r.n_cur for r in rows) == 1000  # nothing dropped
    assert rows and all(math.isfinite(r.psi_total) for r in rows)
    assert rows[0].psi_total > 0.25  # reads as drift, not stability
    # empty current: drift toward uniform, finite
    rows2 = profiling.drift_psi(cur, empty, "v").collect()
    assert all(math.isfinite(r.psi_total) for r in rows2)
    # empty vs empty: PSI == 0 (both sides smoothing-uniform)
    rows3 = profiling.drift_psi(empty, empty, "v").collect()
    assert all(abs(r.psi_total) < 1e-9 for r in rows3)


def test_drift_psi_categorical_detects_category_shift(spark):
    """Categorical PSI: same distribution reads ~0; a shifted category
    mix reads > 0.25; NULLs get their own cell; long-tail categories
    fold into __OTHER__ under max_categories; counts conserve."""
    import math

    base = spark.createDataFrame(
        [(["a", "b", "c", None][i % 4],) for i in range(2000)], "v string"
    )
    same = spark.createDataFrame(
        [(["c", "b", None, "a"][i % 4],) for i in range(2000)], "v string"
    )
    shifted = spark.createDataFrame(
        [(["a", "a", "a", "d"][i % 4],) for i in range(2000)], "v string"
    )
    psi_same = profiling.drift_psi_categorical(base, same, "v").first().psi_total
    assert abs(psi_same) < 0.01
    rows = profiling.drift_psi_categorical(base, shifted, "v").collect()
    assert rows[0].psi_total > 0.25
    cats = {r.category for r in rows}
    assert "__NULL__" in cats and "__OTHER__" in cats
    assert sum(r.n_base for r in rows) == 2000
    assert sum(r.n_cur for r in rows) == 2000
    # 'd' is unseen in baseline → folded into __OTHER__ on the current side
    other = next(r for r in rows if r.category == "__OTHER__")
    assert other.n_base == 0 and other.n_cur == 500
    assert all(math.isfinite(r.contrib) for r in rows)
    # long tail folds under PSI_MAX_CATEGORIES (100)
    wide = spark.createDataFrame(
        [(f"cat{i % 150}",) for i in range(3000)], "v string"
    )
    out = profiling.drift_psi_categorical(wide, wide, "v")
    rows = out.collect()
    assert len(rows) == profiling.PSI_MAX_CATEGORIES + 1  # top-100 + __OTHER__
    assert abs(rows[0].psi_total) < 1e-9  # identical sides → 0 drift
