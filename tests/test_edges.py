"""Edge-case hardening: single-row symbols, windows larger than the
series, all-null inputs, empty frames, disjoint pairs.

These are the inputs that crash hand-rolled engines (the reference
guards them ad hoc: min-length P9, zero-variance Pearson→0.0,
zero-norm cosine→0.0). Every operator must degrade to empty/null
results, never throw."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from algoritmos_etl_spark.operators import (
    cleaning,
    dedup,
    patterns,
    similarity,
    technical,
    text,
    volatility,
)


@pytest.fixture(scope="module")
def edge_bars(spark):
    rows = [
        # symbol 1: single row
        (1, "2024-01-01", 10.0, 11.0, 9.0, 10.5, 100),
        # symbol 2: all-null OHLCV
        (2, "2024-01-01", None, None, None, None, None),
        (2, "2024-01-02", None, None, None, None, None),
        # symbol 3: two rows, disjoint dates from symbol 1
        (3, "2024-02-01", 5.0, 6.0, 4.0, 5.5, 50),
        (3, "2024-02-02", 5.5, 6.5, 4.5, 6.0, 60),
    ]
    return (
        spark.createDataFrame(
            rows,
            "symbol long, date string, open double, high double, low double, "
            "close double, volume long",
        )
        .withColumn("date", F.to_date("date"))
        .cache()
    )


def test_forward_fill_leading_nulls_stay_null(edge_bars):
    out = {(r.symbol, str(r.date)): r for r in cleaning.forward_fill(edge_bars).collect()}
    assert out[(2, "2024-01-01")].close is None
    assert out[(2, "2024-01-02")].close is None  # nothing prior to fill from


def test_returns_single_row_symbol_empty(edge_bars):
    rets = technical.log_returns(edge_bars.filter(F.col("symbol") == 1), zero_fill=True)
    assert rets.count() == 0  # one price → no return rows


def test_sma_window_larger_than_series(edge_bars):
    out = technical.sma(edge_bars.filter(F.col("symbol") == 3), window_size=10)
    rows = out.collect()
    # warm-up rows: SMA must be null until a full window exists
    assert all(r.sma_10 is None for r in rows)


def test_volatility_single_row_and_all_null(edge_bars):
    vols = volatility.historical_volatility(edge_bars)
    got = {r.symbol: r.volatility for r in vols.collect()}
    # symbol 1: zero returns → stddev null/absent; symbol 2: no valid prices
    assert got.get(1) is None or 1 not in got
    assert got.get(2) is None or 2 not in got
    # symbol 3: exactly 1 return → reference reports 0.0, never NULL
    assert got[3] == 0.0


def test_volatility_lt2_returns_classified_conservative(edge_bars):
    # the /api/risk lifecycle without its >10-prices guard
    out = volatility.classify_risk(volatility.historical_volatility(edge_bars))
    by_sym = {r.symbol: r for r in out.collect()}
    # 0.0 volatility lands in the lowest bucket, not the NULL-fallthrough one
    assert by_sym[3].risk_class == volatility.CONSERVATIVE


def test_dtw_empty_series_is_zero():
    # reference dtw_distance returns 0.0 on empty input, not inf
    assert similarity._dtw_numpy([], [1.0, 2.0]) == 0.0
    dist, path = similarity._dtw_numpy([], [], window=0, with_path=True)
    assert dist == 0.0 and path == []


def test_pair_metrics_disjoint_dates(edge_bars):
    row = similarity.pair_metrics(edge_bars, 1, 3).first()
    assert row.n_points == 0
    assert row.euclidean is None  # a sum over no points
    assert row.pearson == 0.0 and row.cosine == 0.0  # reference degeneracy values


def test_pair_metrics_few_shared_dates(spark):
    """Returns run between consecutive ALIGNED dates: one shared date
    gives no return; two shared dates give one return across the gap,
    and Pearson needs two points."""
    import math

    rows = [
        (1, "2024-01-01", 10.0), (1, "2024-01-02", 11.0),
        (1, "2024-01-03", 12.0), (1, "2024-01-05", 15.0),
        (2, "2024-01-03", 20.0), (2, "2024-01-04", 30.0),
        (2, "2024-01-05", 25.0),
        (3, "2024-01-03", 7.0), (3, "2024-01-09", 8.0),
    ]
    bars = spark.createDataFrame(
        rows, "symbol long, date string, close double"
    ).withColumn("date", F.col("date").cast("date"))
    one = similarity.pair_metrics(bars, 2, 3).first()
    assert one.n_points == 0 and one.euclidean is None
    assert one.pearson == 0.0 and one.cosine == 0.0
    two = similarity.pair_metrics(bars, 1, 2).first()
    ra, rb = math.log(15.0 / 12.0), math.log(25.0 / 20.0)
    assert two.n_points == 1
    assert two.euclidean == pytest.approx(abs(ra - rb))
    assert two.pearson == 0.0
    assert two.cosine == pytest.approx(1.0)


def test_patterns_route_single_row_symbol(spark, edge_bars):
    """A one-row symbol has no up or gap flag: the route answers with
    empty dicts, not an error."""
    from algoritmos_etl_spark.serve import JsonApi

    class EdgeApi(JsonApi):
        bars = None

    api = EdgeApi(spark, "unused")
    api.bars = edge_bars
    out = api.patterns(1)
    assert out == {"symbol": 1, "streaks": {}, "gaps": {}}


def test_windowed_streak_histogram_window_too_big(edge_bars):
    out = patterns.windowed_streak_histogram(edge_bars, window_size=50)
    assert out.count() == 0


def test_dtw_single_point_series(edge_bars):
    out = (
        similarity.dtw_pairs(edge_bars)
        .filter("sym_a = 1 AND sym_b = 3")
        .first()
    )
    # a one-close symbol has no returns: the reference's empty-series 0.0
    assert out is not None and out.dtw == 0.0 and out.n_a == 0
    # on raw closes the one point aligns to every point of the other
    assert similarity._dtw_numpy([10.5], [5.5, 6.0]) == pytest.approx(9.5)


def test_empty_documents(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert text.text_stats(empty).count() == 0
    assert dedup.exact_dedup(empty).count() == 0
    assert dedup.minhash_lsh_dedup(empty).count() == 0
    assert dedup.simhash_neardup_pairs(empty).count() == 0


def test_whitespace_only_document(spark):
    docs = spark.createDataFrame([(1, "   ")], "doc_id long, text string")
    row = text.text_stats(docs).first()
    assert row.n_words == 0 and row.avg_word_len == 0.0
    lang = text.lang_id(docs).first()
    assert lang.pred_lang == "und"


def test_min_cost_supplier_argmin_tiebreak(spark):
    """Equal-cost suppliers for one part: struct-min must pick the
    LOWEST suppkey (lexicographic struct comparison), and out-of-region
    suppliers must never win even when cheaper."""
    from algoritmos_etl_spark.operators import relational

    lineitem = spark.createDataFrame(
        [
            # part 1: suppliers 20 and 10 tie at cost 5.0 → pick 10
            (1, 1, 20, 2.0, 10.0),
            (2, 1, 10, 4.0, 20.0),
            # part 1: supplier 99 cheaper but out of region
            (3, 1, 99, 1.0, 1.0),
            # part 2: zero-quantity offer must be ignored
            (4, 2, 10, 0.0, 7.0),
            (5, 2, 20, 1.0, 9.0),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, "
        "l_quantity double, l_extendedprice double",
    )
    part = spark.createDataFrame(
        [(1, "alpha", "T", 30), (2, "beta", "T", 30)],
        "p_partkey long, p_name string, p_type string, p_size int",
    )
    supplier = spark.createDataFrame(
        [(10, "s10", 0, 1.0), (20, "s20", 0, 2.0), (99, "s99", 1, 3.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    )
    nation = spark.createDataFrame(
        [(0, "N_IN", 0), (1, "N_OUT", 1)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    region = spark.createDataFrame(
        [(0, "EUROPE"), (1, "ASIA")], "r_regionkey int, r_name string"
    )
    rows = {
        r.p_partkey: r
        for r in relational.min_cost_supplier(
            lineitem, part, supplier, nation, region, min_size=0
        ).collect()
    }
    assert rows[1].s_suppkey == 10 and rows[1].min_cost == 5.0
    assert rows[2].s_suppkey == 20 and rows[2].min_cost == 9.0


def test_round7_operators_on_empty_and_null_inputs(spark):
    """Every round-7 operator must degrade cleanly on empty / all-null
    input (the routine-gate property the r6 expectations fix was
    about): no crash, no silently dropped group."""
    from algoritmos_etl_spark.operators import (
        cleaning as cl,
        linkage,
        reconcile,
        relational,
        technical,
    )

    empty_kv = spark.createDataFrame([], "k long, v double")
    assert reconcile.table_diff(empty_kv, empty_kv, ["k"]).count() == 0
    t = spark.createDataFrame([], "k long, ts long, s string")
    c = spark.createDataFrame([], "k long, ts long, s string, op string")
    assert reconcile.cdc_merge(t, c, ["k"], "ts", "op").count() == 0
    bars = spark.createDataFrame([], "symbol long, date date, close double")
    assert technical.rolling_zscore(bars).count() == 0
    assert cl.interpolate_missing(bars).count() == 0
    names = spark.createDataFrame([], "id long, name string")
    assert linkage.fuzzy_join(
        names, names, "id", "name", "id", "name"
    ).count() == 0
    # all-null measure: the group must KEEP its quantile rows (null
    # values), same as the SQL formulation — percentile returns NULL,
    # not [NULL]*4, and explode(NULL) would drop the group
    orders1 = spark.createDataFrame(
        [("U", None), ("U", None)],
        "o_orderpriority string, o_totalprice double",
    )
    rows = relational.price_quantiles_by_priority(orders1).collect()
    assert len(rows) == 4
    assert all(r.value is None and r.n_orders == 2 for r in rows)


def test_pair_metrics_constant_series_no_ansi_crash(spark):
    """A constant (zero-variance, zero-return) symbol pair must yield
    the reference's degenerate values (pearson 0.0, cosine 0.0), not
    an ANSI DIVIDE_BY_ZERO crash — halted symbols are routine input."""
    from algoritmos_etl_spark.operators import similarity

    rows = [
        (s, f"2024-01-{d + 1:02d}", 5.0)
        for s in (1, 2)
        for d in range(6)
    ]
    bars = spark.createDataFrame(
        rows, "symbol long, date string, close double"
    ).withColumn("date", F.col("date").cast("date"))
    row = similarity.pair_metrics(bars, 1, 2).first()
    assert row.pearson == 0.0 and row.cosine == 0.0
    assert row.euclidean == 0.0 and row.n_points == 5
