"""Pins W5/W6 semantics to the reference's own self-test fixture.

FIXTURES.md F4 = `algorithms/patterns.py:299-327` (15 days, window=5).
Expected values derived by executing the reference algorithm's exact
semantics by hand:

closes = 100 102 103 101 104 105 106 103 107 108 109 110 108 111 112
ups    =  1   1   0   1   1   1   0   1   1   1   1   0   1   1   (14)
opens  =  99 101 102 103 100 104 105 107 102 106 108 109 111 107 110
gaps[i] = open[i] > high[i-1]:
 101>101F 102>103F 103>104F 100>104F 104>105F 105>106F 107>107F
 102>108F 106>108F 108>109F 109>110F 111>111F 107>112F 110>112F → all 0
"""

from pyspark.sql import functions as F

from algoritmos_etl_spark.operators import patterns

WINDOW = 5


def _reference_windowed_hist(ups, w):
    freq = {}
    for s in range(len(ups) - w + 1):
        run = 0
        for v in ups[s:s + w]:
            if v == 1:
                run += 1
            elif run:
                freq[run] = freq.get(run, 0) + 1
                run = 0
        if run:
            freq[run] = freq.get(run, 0) + 1
    return freq


UPS = [1, 1, 0, 1, 1, 1, 0, 1, 1, 1, 1, 0, 1, 1]


def test_up_flags(micro_bars):
    rows = (
        patterns.up_flags(micro_bars.filter(F.col("symbol") == 1))
        .orderBy("date").collect()
    )
    assert [r["up"] for r in rows] == UPS


def test_global_streak_histogram(micro_bars):
    # runs of UPS: 2,3,4,2 → {2:2, 3:1, 4:1}
    out = {
        r["streak_length"]: r["frequency"]
        for r in patterns.global_streak_histogram(
            micro_bars.filter(F.col("symbol") == 1)
        ).collect()
    }
    assert out == {2: 2, 3: 1, 4: 1}


def test_windowed_streak_histogram_matches_reference(micro_bars):
    expect = _reference_windowed_hist(UPS, WINDOW)
    out = {
        r["streak_length"]: r["frequency"]
        for r in patterns.windowed_streak_histogram(
            micro_bars.filter(F.col("symbol") == 1), WINDOW
        ).collect()
    }
    assert out == expect


def _stats(bars, window):
    rows = patterns.pattern_stats(bars, window).collect()
    assert len(rows) == 1
    return rows[0]


def test_streak_stats(micro_bars):
    row = _stats(micro_bars.filter(F.col("symbol") == 1), WINDOW)
    assert row["total_ups"] == sum(UPS)
    assert row["total_windows"] == len(UPS) - WINDOW + 1
    assert row["max_streak"] == min(4, WINDOW)


def test_gap_flags_and_windows(micro_bars):
    # 14 gap flags, all 0; 10 full windows of them, each counting 0
    row = _stats(micro_bars.filter(F.col("symbol") == 1), WINDOW)
    assert row["total_gaps"] == 0
    assert row["max_gaps_in_window"] == 0
    assert row["gap_dates"] == []
    assert row["total_windows"] == 14 - WINDOW + 1


def test_gap_detection_positive(spark):
    import datetime
    rows = [
        (9, datetime.date(2024, 1, 1), 10.0, 11.0, 9.0, 10.5, 1),
        (9, datetime.date(2024, 1, 2), 12.0, 13.0, 11.5, 12.5, 1),  # gap: 12 > 11
        (9, datetime.date(2024, 1, 3), 12.8, 14.0, 12.5, 13.0, 1),  # no gap
        (9, datetime.date(2024, 1, 4), 15.0, 16.0, 14.5, 15.5, 1),  # gap: 15 > 14
    ]
    df = spark.createDataFrame(
        rows,
        "symbol long, date date, open double, high double, low double, close double, volume long",
    )
    stats = _stats(df, 2)  # gap flags 1 0 1
    assert stats["total_gaps"] == 2
    assert stats["max_gaps_in_window"] == 1
    assert stats["gap_dates"] == [datetime.date(2024, 1, 2), datetime.date(2024, 1, 4)]


def test_streak_stats_window_larger_than_series(micro_bars):
    # window > len(ups) ⇒ zero windows examined ⇒ max_streak 0, and no
    # full window of gap flags ⇒ max_gaps_in_window null
    row = _stats(micro_bars.filter(F.col("symbol") == 1), 500)
    assert row["total_windows"] == 0
    assert row["max_streak"] == 0
    assert row["max_gaps_in_window"] is None
    assert row["total_ups"] == sum(UPS)


def test_pattern_stats_up_run_broken_by_null_close(spark):
    """A null close has no up flag: it ends the run before it, and the
    bar after it is not an up-day either (its previous close is null)."""
    import datetime
    closes = [1.0, 2.0, 3.0, None, 4.0, 5.0, 6.0, 7.0, 8.0]
    df = spark.createDataFrame(
        [
            (5, datetime.date(2024, 1, d + 1), c, c, c, c, 1)
            for d, c in enumerate(closes)
        ],
        "symbol long, date date, open double, high double, low double, close double, volume long",
    )
    # ups over rows 2..9: 1 1 null null 1 1 1 1 → runs 2 and 4
    row = _stats(df, 5)
    assert row["total_ups"] == 6
    assert row["max_streak"] == 4
    assert row["total_windows"] == 8 - 5 + 1
    # a run longer than the window is truncated to it
    assert _stats(df, 3)["max_streak"] == 3


def test_pattern_stats_single_row_symbol_has_no_row(micro_bars):
    one = micro_bars.filter((F.col("symbol") == 1) & (F.col("date") == "2024-01-01"))
    assert patterns.pattern_stats(one, WINDOW).count() == 0


# ---- analytic O(runs+w) histogram ≡ naive O(n·w) simulation ----

from hypothesis import given, settings, strategies as st


@given(
    arr=st.lists(st.integers(min_value=0, max_value=1), min_size=0, max_size=120),
    w=st.integers(min_value=1, max_value=130),
)
@settings(max_examples=400, deadline=None)
def test_analytic_hist_matches_naive(arr, w):
    assert patterns._windowed_streak_hist(arr, w) == \
        patterns._windowed_streak_hist_naive(arr, w)


def test_analytic_hist_reference_fixture():
    assert patterns._windowed_streak_hist(UPS, WINDOW) == \
        _reference_windowed_hist(UPS, WINDOW)
