import pytest
from pyspark.sql import functions as F

from algoritmos_etl_spark.operators import cleaning


def test_missing_value_summary(micro_bars):
    cols = ("open", "high", "low", "close", "volume")
    out = {
        r["symbol"]: r
        for r in cleaning.missing_value_summary(micro_bars, cols).collect()
    }
    assert out[1]["rows_with_null"] == 0
    assert out[2]["null_close"] == 2
    assert out[2]["rows_with_null"] == 2
    assert out[2]["n_rows"] == 5


def test_detect_inconsistencies(micro_bars):
    rows = cleaning.detect_inconsistencies(micro_bars).collect()
    tagged = {(r["date"].isoformat(), r["anomaly"]) for r in rows if r["symbol"] == 2}
    assert ("2024-01-03", "high_lt_low") in tagged
    assert ("2024-01-04", "open_out_of_range") in tagged
    assert ("2024-01-05", "close_out_of_range") in tagged
    # null operands skip the predicate (reference data_cleaner.py:88-147)
    assert not any(d == "2024-01-01" for d, _ in tagged)
    # symbol 1 is fully consistent except low was synthesized below open/close
    assert all(r["symbol"] == 2 for r in rows)


def test_forward_fill_leading_null_stays(micro_bars):
    filled = cleaning.forward_fill(micro_bars, "close").filter(F.col("symbol") == 2)
    by_date = {r["date"].isoformat(): r["close"] for r in filled.collect()}
    assert by_date["2024-01-01"] is None          # leading null stays
    assert by_date["2024-01-03"] == 11.0          # filled from 01-02
    assert by_date["2024-01-05"] == 13.0          # real value untouched


def test_remove_invalid_rows(micro_bars):
    assert cleaning.remove_invalid_rows(micro_bars).filter(
        F.col("close").isNull()
    ).count() == 0


def test_keep_latest_deterministic(spark):
    from algoritmos_etl_spark.operators.cleaning import keep_latest

    df = spark.createDataFrame(
        [(1, "a", 10, 1), (1, "a", 20, 2), (1, "a", 20, 3), (2, "a", 5, 4)],
        "k long, t string, version long, id long",
    )
    out = {(r.k, r.t): r for r in keep_latest(
        df, key_cols=["k", "t"], order_col="version", tiebreak=["id"]
    ).collect()}
    assert out[(1, "a")].id == 3  # max version, tie broken by max id
    assert out[(2, "a")].id == 4


def test_fk_violations_includes_null_keys(spark):
    from algoritmos_etl_spark.operators.cleaning import fk_violations

    child = spark.createDataFrame(
        [(1, 10), (2, 99), (3, None)], "id long, fk long"
    )
    parent = spark.createDataFrame([(10,)], "pk long")
    bad = {r.id for r in fk_violations(child, parent, "fk", "pk").collect()}
    assert bad == {2, 3}


def test_scd2_history_change_points_and_intervals(spark):
    from datetime import datetime

    from algoritmos_etl_spark.operators.cleaning import scd2_history

    t = lambda m: datetime(2024, 1, 1, 0, m)
    rows = [
        # key 1: A A B B A  -> intervals A@0, B@2, A@4
        (1, 1, "A", t(0)), (1, 2, "A", t(1)), (1, 3, "B", t(2)),
        (1, 4, "B", t(3)), (1, 5, "A", t(4)),
        # key 2: single record -> one open interval
        (2, 6, "X", t(0)),
        # key 3: null attr handling (null == null collapses)
        (3, 7, None, t(0)), (3, 8, None, t(1)), (3, 9, "Y", t(2)),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts timestamp"
    )
    out = scd2_history(
        df, ["user_id"], "ts", "event_type", tiebreak=["event_id"]
    )
    got = {
        (r.user_id, r.event_id): (
            r.event_type, r.valid_from, r.valid_to, r.is_current
        )
        for r in out.collect()
    }
    assert len(got) == 6  # 3 + 1 + 2 change points
    assert got[(1, 1)] == ("A", t(0), t(2), False)
    assert got[(1, 3)] == ("B", t(2), t(4), False)
    assert got[(1, 5)] == ("A", t(4), None, True)
    assert got[(2, 6)] == ("X", t(0), None, True)
    assert got[(3, 7)] == (None, t(0), t(2), False)  # nulls collapse
    assert got[(3, 9)] == ("Y", t(2), None, True)
    # exactly one current row per key
    cur = out.filter("is_current").groupBy("user_id").count().collect()
    assert all(r["count"] == 1 for r in cur)


def test_interpolate_missing_time_weighted(spark):
    """Gap interpolation is weighted by CALENDAR distance, and
    one-sided gaps (leading/trailing) stay null."""
    from algoritmos_etl_spark.operators.cleaning import interpolate_missing

    rows = [
        (1, "2024-01-01", None),    # leading null → stays null
        (1, "2024-01-02", 10.0),
        (1, "2024-01-03", None),    # 1/3 of the way to 01-05
        (1, "2024-01-05", 16.0),
        (1, "2024-01-08", None),    # trailing null → stays null
        (2, "2024-01-02", 5.0),     # other symbol must not bleed over
    ]
    df = spark.createDataFrame(rows, "symbol long, date string, close double")
    df = df.withColumn("date", F.col("date").cast("date"))
    out = {
        (r.symbol, str(r.date)): r.interp
        for r in interpolate_missing(df).collect()
    }
    assert out[(1, "2024-01-01")] is None
    assert out[(1, "2024-01-03")] == pytest.approx(10.0 + 6.0 * (1 / 3))
    assert out[(1, "2024-01-08")] is None
    assert out[(1, "2024-01-02")] == 10.0  # known values pass through
    assert out[(2, "2024-01-02")] == 5.0
