import datetime
import math

import pytest
from pyspark.sql import functions as F

from algoritmos_etl_spark.operators import technical

# FIXTURES.md F5 — algorithms/technical.py:254
PRICES = [100.0, 102.0, 101.0, 105.0, 103.0, 107.0, 110.0, 108.0]


@pytest.fixture(scope="module")
def f5(spark):
    rows = [
        (1, datetime.date(2024, 1, d + 1), p) for d, p in enumerate(PRICES)
    ]
    return spark.createDataFrame(rows, "symbol long, date date, close double").cache()


def test_log_returns_zero_fill_matches_reference(f5):
    out = technical.log_returns(f5, zero_fill=True).orderBy("date").collect()
    expect = [math.log(PRICES[i] / PRICES[i - 1]) for i in range(1, len(PRICES))]
    assert len(out) == len(PRICES) - 1
    for row, e in zip(out, expect):
        assert row["ret"] == pytest.approx(e, abs=1e-12)


def test_log_returns_invalid_pair_semantics(spark):
    # price <= 0 → W2 emits 0.0, W2b omits (technical.py:144-153 vs volatility.py:43-56)
    rows = [
        (1, datetime.date(2024, 1, 1), 10.0),
        (1, datetime.date(2024, 1, 2), 0.0),
        (1, datetime.date(2024, 1, 3), 12.0),
        (1, datetime.date(2024, 1, 4), 13.0),
    ]
    df = spark.createDataFrame(rows, "symbol long, date date, close double")
    zf = technical.log_returns(df, zero_fill=True).orderBy("date").collect()
    assert [r["ret"] for r in zf] == [0.0, 0.0, pytest.approx(math.log(13 / 12))]
    om = technical.log_returns(df, zero_fill=False).orderBy("date").collect()
    assert [r["ret"] for r in om] == [pytest.approx(math.log(13 / 12))]


def test_simple_returns(f5):
    out = technical.simple_returns(f5).orderBy("date").collect()
    expect = [(PRICES[i] - PRICES[i - 1]) / PRICES[i - 1] for i in range(1, len(PRICES))]
    assert [r["ret"] for r in out] == [pytest.approx(e) for e in expect]


@pytest.mark.parametrize("w", [3, 5])
def test_sma_warmup_and_values(f5, w):
    out = technical.sma(f5, w).orderBy("date").collect()
    # first w-1 rows null (reference pads, technical.py:276: length n-w+1)
    assert all(out[i][f"sma_{w}"] is None for i in range(w - 1))
    non_null = [r[f"sma_{w}"] for r in out[w - 1:]]
    assert len(non_null) == len(PRICES) - w + 1
    for i, v in enumerate(non_null):
        assert v == pytest.approx(sum(PRICES[i:i + w]) / w)


def test_rolling_zscore_naive_parity_and_guards(spark):
    """rolling_zscore vs a pure-Python trailing-window recompute, plus
    the two guards: warm-up rows excluded, zero-variance windows
    excluded (constant symbol emits nothing)."""
    import statistics as st

    vals = [10.0, 11.0, 10.5, 9.5, 10.2, 30.0, 10.1, 10.3, 9.9, 10.0]
    rows = [(1, f"2024-01-{d + 1:02d}", v) for d, v in enumerate(vals)]
    rows += [(2, f"2024-01-{d + 1:02d}", 5.0) for d in range(10)]  # constant
    df = spark.createDataFrame(rows, "symbol long, date string, close double")
    df = df.withColumn("date", F.col("date").cast("date"))
    # note: a trailing window CONTAINS its own point, so |z| is
    # bounded by (w-1)/sqrt(w) — w=5 bounds it at 1.789, reachable
    w, thr = 5, 1.5
    out = {
        (r.symbol, str(r.date)): r.z
        for r in technical.rolling_zscore(
            df, window_size=w, threshold=thr
        ).collect()
    }
    assert not any(s == 2 for s, _ in out)  # zero variance → no rows
    expect = {}
    for i in range(len(vals)):
        if i < w - 1:
            continue  # warm-up exclusion
        win = vals[i - w + 1 : i + 1]
        sd = st.stdev(win)
        if sd == 0:
            continue
        z = round((vals[i] - st.mean(win)) / sd, 6)
        if abs(z) >= thr:
            expect[(1, f"2024-01-{i + 1:02d}")] = z
    assert out == {k: pytest.approx(v) for k, v in expect.items()}
    assert any(abs(z) > 1.4 for z in out.values())  # the spike is caught


def test_acf_and_seasonal_edges(spark):
    """ACF: constant series and too-short series yield NULL acf rows
    (corr undefined), matching the SQL convention; seasonal
    decomposition excludes rows without a full centered window and
    residual = value - trend - seasonal exactly."""
    rows = [(1, f"2024-01-{d + 1:02d}", float(d % 7) + (d * 0.01))
            for d in range(21)]
    rows += [(2, f"2024-01-{d + 1:02d}", 5.0) for d in range(10)]  # constant
    rows += [(3, "2024-01-01", 1.0), (3, "2024-01-02", 2.0)]       # short
    df = spark.createDataFrame(rows, "symbol long, date string, close double")
    df = df.withColumn("date", F.col("date").cast("date"))

    acf = {(r.symbol, r.lag): r for r in technical.acf_report(df).collect()}
    assert acf[(2, 1)].acf is None          # zero variance
    assert acf[(3, 1)].acf is None and acf[(3, 1)].n_pairs == 1
    assert (3, 2) not in acf                # no pairs at lag 2
    assert acf[(1, 7)] if (1, 7) in acf else True
    assert acf[(1, 1)].acf is not None

    dec = technical.seasonal_decomposition(df).collect()
    sym1 = [r for r in dec if r.symbol == 1]
    assert len(sym1) == 21 - 6              # 3 rows trimmed each edge
    for r in sym1:
        assert abs(r.value - r.trend - r.seasonal - r.residual) < 1e-5
    assert not [r for r in dec if r.symbol == 3]  # too short entirely
