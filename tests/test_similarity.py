"""Pins similarity metrics to the reference's self-test vectors.

FIXTURES.md F3 = `algorithms/similarity.py:613-652`:
a=[1..5], b=a, c=reversed, d=noisy; euclidean(a,b)=0, pearson(a,b)=1,
pearson(a,c)=−1, cosine(a,b)=1, dtw(a,b)=0. The engine applies metrics
to aligned log-returns in the bundle path, so the raw-vector pins are
tested on the DTW kernels (`_dtw_numpy`, `_dtw_numpy_batch`) and a
direct agg.
"""

import datetime
import math
import os

import pytest
from pyspark.sql import functions as F

from algoritmos_etl_spark.operators import similarity

A = [1.0, 2.0, 3.0, 4.0, 5.0]
B = [1.0, 2.0, 3.0, 4.0, 5.0]
C = [5.0, 4.0, 3.0, 2.0, 1.0]
D = [1.1, 2.2, 2.8, 4.1, 5.2]


@pytest.fixture(scope="module")
def vec_bars(spark):
    rows = []
    for sym, series in [(1, A), (2, B), (3, C), (4, D)]:
        for i, v in enumerate(series):
            rows.append((sym, datetime.date(2024, 1, i + 1), v))
    return spark.createDataFrame(rows, "symbol long, date date, close double").cache()


def _metrics_on_raw(spark, x, y):
    rows = [(xi, yi) for xi, yi in zip(x, y)]
    df = spark.createDataFrame(rows, "a double, b double")
    a, b = F.col("a"), F.col("b")
    return df.agg(
        F.sqrt(F.sum((a - b) * (a - b))).alias("euclidean"),
        F.coalesce(F.corr(a, b), F.lit(0.0)).alias("pearson"),
        F.coalesce(
            F.sum(a * b) / (F.sqrt(F.sum(a * a)) * F.sqrt(F.sum(b * b))), F.lit(0.0)
        ).alias("cosine"),
    ).collect()[0]


def test_reference_pinned_vectors(spark):
    m_ab = _metrics_on_raw(spark, A, B)
    assert m_ab["euclidean"] == pytest.approx(0.0)
    assert m_ab["pearson"] == pytest.approx(1.0)
    assert m_ab["cosine"] == pytest.approx(1.0)
    m_ac = _metrics_on_raw(spark, A, C)
    assert m_ac["pearson"] == pytest.approx(-1.0)


def test_dtw_identical_is_zero_and_band(spark):
    assert similarity._dtw_numpy(A, B) == pytest.approx(0.0)
    assert similarity._dtw_numpy(A, C) > 0
    # full-matrix (window=0) ≤ banded distance always
    full = similarity._dtw_numpy(A, D, window=0)
    banded = similarity._dtw_numpy(A, D)
    assert full <= banded + 1e-12


def test_dtw_known_value():
    # hand-computed: a=[1,2,3], b=[2,3,4] full-matrix DTW = |1-2|+0+0+|3-4| = 2
    assert similarity._dtw_numpy([1.0, 2.0, 3.0], [2.0, 3.0, 4.0], window=0) == pytest.approx(2.0)


def test_dtw_path_variant():
    dist, path = similarity._dtw_numpy(A, B, window=0, with_path=True)
    assert dist == pytest.approx(0.0)
    assert path[0] == (0, 0) and path[-1] == (4, 4)


def test_dtw_path_downsamples_like_reference(spark):
    """Reference parity (app.py:246-265): series stride-sampled to
    ~80 points before the full matrix, path thinned to ~60 steps."""
    import datetime

    base = datetime.date(2020, 1, 1)
    rows = []
    for sym in (1, 2):
        for i in range(401):  # 400 returns
            px = 100.0 + (i % 7) + (0.5 if sym == 2 else 0.0)
            rows.append((sym, base + datetime.timedelta(days=i), px))
    bars = spark.createDataFrame(rows, "symbol long, date date, close double")
    out = similarity.dtw_path(bars, 1, 2).collect()
    # stride = max(1, 400//80) = 5 → 80 sampled points per side
    assert max(r.i for r in out) <= 80 and max(r.j for r in out) <= 80
    # path thinned to ~60 steps (path length ≤ 2·80, step ≥ 2 → ≤ ~81)
    assert len(out) <= 90
    import numpy as np

    closes = {
        s: np.array([r[2] for r in rows if r[0] == s]) for s in (1, 2)
    }
    ra, rb = (similarity._zero_fill_log_returns(closes[s]) for s in (1, 2))
    _, full = similarity._dtw_numpy(ra, rb, window=0, with_path=True)
    assert len(full) > len(out)  # downsampling actually reduced the work
    assert out[0].dtw == similarity._dtw_numpy(ra[::5], rb[::5], window=0)


def test_pair_metrics_on_aligned_returns(vec_bars):
    row = similarity.pair_metrics(vec_bars, 1, 2).collect()[0]
    assert row["n_points"] == 4  # reference: len(returns) = aligned prices − 1
    assert row["euclidean"] == pytest.approx(0.0)
    assert row["pearson"] == pytest.approx(1.0)
    assert row["cosine"] == pytest.approx(1.0)


@pytest.mark.parametrize("shape", ["random", "constant", "one_point"])
def test_pair_stats_matches_sql_aggregates(spark, shape):
    """`_pair_stats` replays the SQL aggregates pair metrics were first
    defined by (the DuckDB oracle's form) over the same return rows."""
    import random

    import numpy as np

    rng = random.Random(7)
    n = {"random": 60, "constant": 30, "one_point": 1}[shape]
    ra = [rng.gauss(0, 0.02) if shape == "random" else 0.01 for _ in range(n)]
    rb = [rng.gauss(0, 0.03) if shape == "random" else 0.01 for _ in range(n)]
    df = spark.createDataFrame(list(zip(ra, rb)), "a double, b double").coalesce(1)
    a, b = F.col("a"), F.col("b")
    want = df.agg(
        F.sqrt(F.sum((a - b) * (a - b))).alias("euclidean"),
        F.coalesce(
            F.try_divide(F.covar_samp(a, b), F.stddev_samp(a) * F.stddev_samp(b)),
            F.lit(0.0),
        ).alias("pearson"),
        F.coalesce(
            F.try_divide(F.sum(a * b), F.sqrt(F.sum(a * a)) * F.sqrt(F.sum(b * b))),
            F.lit(0.0),
        ).alias("cosine"),
        F.count(F.lit(1)).alias("n_points"),
    ).first().asDict()
    got = similarity._pair_stats(np.array(ra), np.array(rb))
    assert got == pytest.approx(want, rel=1e-12, abs=1e-15)
    if shape != "random":  # zero variance: exactly the degenerate 0.0
        assert got["pearson"] == want["pearson"] == 0.0


def test_dtw_pairs_on_bars(vec_bars):
    import numpy as np

    out = {
        (r["sym_a"], r["sym_b"]): r["dtw"]
        for r in similarity.dtw_pairs(vec_bars).collect()
    }
    assert len(out) == 6  # C(4,2)
    assert out[(1, 2)] == pytest.approx(0.0)
    assert out[(1, 3)] > 0
    # the raw-vector pins on the batched kernel dtw_pairs runs
    raw = similarity._dtw_numpy_batch(np.array([A, A, A]), np.array([B, C, D]))
    assert raw[0] == 0.0 and raw[1] > 0 and raw[2] > 0
    assert list(raw) == [similarity._dtw_numpy(A, x) for x in (B, C, D)]


def test_compare_two_assets_bundle(vec_bars):
    row = similarity.compare_two_assets(vec_bars, 1, 2).collect()[0]
    assert set(row.asDict()) == {"euclidean", "pearson", "cosine", "n_points", "dtw"}
    assert row["dtw"] == pytest.approx(0.0)
    # DTW runs on each symbol's own returns, the other metrics on the
    # aligned ones; both equal the per-pair DP and the aggregates
    far = similarity.compare_two_assets(vec_bars, 1, 4).collect()[0]
    ref = similarity.dtw_pairs(vec_bars).filter("sym_a = 1 AND sym_b = 4").first()
    assert far["dtw"] == ref["dtw"] > 0
    assert far["n_points"] == 4


def test_compare_two_assets_same_symbol(vec_bars):
    row = similarity.compare_two_assets(vec_bars, 4, 4).first()
    assert row["dtw"] == 0.0 and row["euclidean"] == 0.0
    assert row["pearson"] == pytest.approx(1.0)
    assert row["n_points"] == 4


def test_correlation_heatmap_pairs(vec_bars):
    rows = similarity.correlation_heatmap(vec_bars).collect()
    pairs = {(r["sym_a"], r["sym_b"]): r["pearson"] for r in rows}
    assert len(pairs) == 6
    assert all(a < b for a, b in pairs)
    assert pairs[(1, 2)] == pytest.approx(1.0)


def test_aligned_pairs_bounded_for_global_window(bars):
    """pair_metrics aligns one symbol pair in a single task — safe only
    because the pair has ≤ one row per trading day at any corpus scale.
    Pin the invariant that argument rests on: no duplicate dates."""
    aligned = similarity.aligned_pairs(bars, 0, 1)
    dup_dates = (
        aligned.groupBy("date").count().filter(F.col("count") > 1).count()
    )
    assert dup_dates == 0
    # and the row count is bounded by the calendar, not the corpus
    assert aligned.count() <= bars.select("date").distinct().count()


def _relational_emission(bars):
    """The registered heatmap's emission, selected in Python from the
    date-join heatmap: |corr| >= τ, then keep a pair iff it is in either
    endpoint's top-k by (corr desc, partner asc). Both decisions on the
    4-decimal grain, as in the blocked plan. Returns (selection, all
    relational pairs)."""
    from collections import defaultdict

    tau, k = similarity.HEATMAP_MIN_ABS_CORR, similarity.HEATMAP_TOP_K
    rel = {
        (r.sym_a, r.sym_b): (r.pearson, r.n_points)
        for r in similarity.correlation_heatmap(bars).collect()
    }
    neighbors = defaultdict(list)
    for (a, b), (p, n) in rel.items():
        pq = math.floor(p * 10000.0 + 0.5)
        if abs(pq) >= tau * 10000.0:
            neighbors[a].append((pq, b))
            neighbors[b].append((pq, a))
    expected = set()
    for s, lst in neighbors.items():
        lst.sort(key=lambda t: (-t[0], t[1]))
        for p, o in lst[:k]:
            expected.add((min(s, o), max(s, o)))
    return expected, rel


def _assert_blocked_equals_relational(bars):
    expected, rel = _relational_emission(bars)
    blk = {
        (r.sym_a, r.sym_b): (r.pearson, r.n_points)
        for r in similarity.correlation_heatmap_blocked(bars).collect()
    }
    assert expected, "fixture selects no pair: the comparison is vacuous"
    assert set(blk) == expected
    for pair, (p_blk, n_blk) in blk.items():
        p_rel, n_rel = rel[pair]
        assert n_blk == n_rel, pair
        assert p_blk == pytest.approx(p_rel, abs=1e-6), pair
    return blk, rel


def test_blocked_heatmap_matches_relational(bars):
    """The blocked-matrix heatmap reproduces the date-join heatmap's
    τ/top-k selection: same pair set, same n_points, pearson to 1e-6.
    At sf0.001 each block trades on its own set of days, so the pair
    tasks align differing day axes."""
    _assert_blocked_equals_relational(bars)


def test_heatmap_matches_pairwise_corr(bars):
    """Heatmap on real sf0.001 bars agrees with a directly computed pair."""
    rows = similarity.correlation_heatmap(bars).collect()
    assert rows
    some = rows[0]
    direct = (
        similarity.per_symbol_returns(bars)
        .filter(F.col("symbol").isin(some["sym_a"], some["sym_b"]))
        .groupBy("date")
        .pivot("symbol", [some["sym_a"], some["sym_b"]])
        .agg(F.first("ret"))
        .dropna()
    )
    cols = direct.columns[1:]
    expect = direct.agg(F.corr(cols[0], cols[1])).collect()[0][0]
    assert some["pearson"] == pytest.approx(expect if expect is not None else 0.0, abs=1e-9)


def test_blocked_heatmap_sparsified_emission(spark):
    """At sf0.01 (150 symbols) the top-k cut binds: the emission is the
    relational τ/top-k selection, strictly fewer pairs than pass τ."""
    from algoritmos_etl_spark.driver_queries import session_bars

    from conftest import SF_DIR

    bars01 = session_bars(spark, os.path.join(os.path.dirname(SF_DIR), "sf0.01"))
    blk, rel = _assert_blocked_equals_relational(bars01)
    tau = similarity.HEATMAP_MIN_ABS_CORR
    over_tau = sum(abs(math.floor(p * 1e4 + 0.5)) >= tau * 1e4 for p, _ in rel.values())
    assert len(blk) < over_tau
    per_sym = {}
    for a, b in blk:
        per_sym[a] = per_sym.get(a, 0) + 1
        per_sym[b] = per_sym.get(b, 0) + 1
    assert max(per_sym.values()) > similarity.HEATMAP_TOP_K  # kept from the other end


def test_blocked_heatmap_calendar_gaps(spark):
    """Symbols whose blocks trade on different days (each block skips
    its own days, each symbol a few more) give the relational pairs."""
    import random

    rng = random.Random(7)
    n_days, n_syms = 40, 24
    market = [rng.gauss(0, 0.02) for _ in range(n_days)]
    rows = []
    for sym in range(n_syms):
        beta, price = rng.uniform(-1.5, 1.5), 100.0
        for d in range(n_days):
            price *= math.exp(beta * market[d] + rng.gauss(0, 0.01))
            if d % 8 == sym % 8 or rng.random() < 0.1:
                continue  # the block's own gap day, or a symbol gap
            rows.append((sym, datetime.date(2024, 1, 1) + datetime.timedelta(d), price))
    bars = spark.createDataFrame(rows, "symbol long, date date, close double")
    _assert_blocked_equals_relational(bars)


def test_dtw_batch_kernel_matches_per_pair():
    """The width-P batched DP must equal the per-pair kernel exactly —
    same band, same cost, same recurrence."""
    import numpy as np

    from algoritmos_etl_spark.operators.similarity import (
        _dtw_numpy,
        _dtw_numpy_batch,
    )

    rng = np.random.default_rng(0)
    for n, m in [(90, 90), (250, 250), (40, 40), (30, 30)]:
        a = rng.normal(size=(17, n))
        b = rng.normal(size=(17, m))
        batch = _dtw_numpy_batch(a, b)
        single = np.array([_dtw_numpy(a[i], b[i]) for i in range(17)])
        assert np.array_equal(batch, single)
