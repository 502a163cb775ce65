"""End-to-end ETL lifecycle + DTW path tests."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from algoritmos_etl_spark.driver_queries import session_bars
from algoritmos_etl_spark.operators import similarity
from algoritmos_etl_spark.plans import run_etl

SF_DIR = "/root/testdata/sf0.001"


def test_run_etl_end_to_end(spark, tmp_path):
    out = str(tmp_path / "etl_out")
    report = run_etl(spark, SF_DIR, out, max_wide_symbols=5)
    assert report["n_symbols"] > 0
    assert report["rows_long"] == report["n_symbols"] * report["n_dates"]

    master = spark.read.parquet(f"{out}/master_long.parquet")
    assert master.count() == report["rows_long"]
    # forward-fill + drop-invalid ran BEFORE alignment: any null close in
    # the master is an alignment gap (symbol didn't trade that day)
    assert set(master.columns) >= {"symbol", "date", "close", "volume"}

    wide = spark.read.option("header", True).csv(f"{out}/master_wide_csv")
    assert wide.count() == report["n_dates"]
    assert len(wide.columns) == 1 + 5 * 5  # date + 5 fields x 5 symbols

    # year-partitioned layout: a year filter must prune at planning time
    some_year = master.select(F.min("year")).first()[0]
    pruned = master.filter(F.col("year") == some_year)
    fmt = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [isnotnull(year" in fmt, fmt


def test_read_wide_csv_reference_format(spark, tmp_path):
    """F5+F6: re-ingest a reference-style wide master CSV — capitalized
    field suffixes, literal 'None' strings and empty cells for missing
    values — into the long bars model."""
    from algoritmos_etl_spark.sources import read_wide_csv

    csv = tmp_path / "dataset_maestro.csv"
    csv.write_text(
        "Date,AAPL_Open,AAPL_High,AAPL_Low,AAPL_Close,AAPL_Volume,"
        "MSFT_Open,MSFT_High,MSFT_Low,MSFT_Close,MSFT_Volume\n"
        "2024-01-02,1.0,2.0,0.5,1.5,100,3.0,4.0,2.5,3.5,200\n"
        "2024-01-03,None,None,None,None,None,3.1,4.1,2.6,3.6,201\n"
        "2024-01-04,1.2,2.2,0.7,1.7,102,,,,,\n"
    )
    out = {
        (r.symbol, str(r.date)): r
        for r in read_wide_csv(spark, str(csv), date_col="Date").collect()
    }
    assert len(out) == 6  # 2 symbols x 3 dates (missing rows kept, NULL)
    assert out[("AAPL", "2024-01-02")].close == 1.5
    assert out[("AAPL", "2024-01-02")].volume == 100
    # F6: literal 'None' cells are NULL, not cast noise
    r = out[("AAPL", "2024-01-03")]
    assert r.open is None and r.close is None and r.volume is None
    # F6: empty cells are NULL too
    r = out[("MSFT", "2024-01-04")]
    assert r.close is None and r.volume is None
    assert out[("MSFT", "2024-01-03")].close == 3.6
    # F5: symbols came from the header suffix scan alone
    assert {s for s, _ in out} == {"AAPL", "MSFT"}


def test_wide_csv_roundtrip_through_own_export(spark, tmp_path):
    """The engine's own wide export re-ingests through the same reader
    (lowercase field suffixes take the same path)."""
    from algoritmos_etl_spark.operators import alignment
    from algoritmos_etl_spark.sources import daily_bars, load_table, read_wide_csv
    from pyspark.sql import functions as F

    bars = daily_bars(load_table(spark, SF_DIR, "events")).filter(
        F.col("symbol").isin(0, 1)
    )
    wide = alignment.to_wide(bars, symbols=["0", "1"])
    path = str(tmp_path / "wide_csv")
    wide.coalesce(1).write.option("header", True).csv(path)
    back = read_wide_csv(spark, path).filter(F.col("close").isNotNull())
    orig = {(r.symbol, str(r.date), r.close) for r in bars.collect()}
    got = {(int(r.symbol), str(r.date), r.close) for r in back.collect()}
    assert got == orig


def test_read_wide_csv_rejects_malformed_headers(spark, tmp_path):
    """A header column that is not `{symbol}_{known field}` (no
    underscore, or an unknown suffix) fails loudly instead of leaking
    a phantom ''/'junk' symbol into the suffix scan."""
    import pytest

    from algoritmos_etl_spark.sources import read_wide_csv

    for bad_col in ("Close", "AAPL_Adjusted"):
        csv = tmp_path / f"bad_{bad_col}.csv"
        csv.write_text(f"Date,AAPL_Close,{bad_col}\n2024-01-02,1.5,1.4\n")
        with pytest.raises(ValueError, match="symbol"):
            read_wide_csv(spark, str(csv), date_col="Date")


def test_dtw_path_consistency(spark):
    import numpy as np

    bars = session_bars(spark, SF_DIR)
    rows = similarity.dtw_path(bars, 0, 1).orderBy("step").collect()
    assert rows, "path must be non-empty"
    # the thinned path still starts at (0,0) and never steps backwards
    assert (rows[0].i, rows[0].j) == (0, 0)
    for prev, cur in zip(rows, rows[1:]):
        assert cur.i >= prev.i and cur.j >= prev.j
    # the raw DP/backtrack invariants, on the kernel at full resolution:
    # path (0,0) .. (n-1, m-1) in unit steps
    closes = {
        s: np.array(
            [
                r.close
                for r in bars.filter(F.col("symbol") == s)
                .filter(F.col("close") > 0)
                .orderBy("date")
                .collect()
            ]
        )
        for s in (0, 1)
    }
    ra, rb = (similarity._zero_fill_log_returns(closes[s]) for s in (0, 1))
    full, path = similarity._dtw_numpy(ra, rb, window=0, with_path=True)
    assert path[0] == (0, 0) and path[-1] == (len(ra) - 1, len(rb) - 1)
    for (pi, pj), (ci, cj) in zip(path, path[1:]):
        di, dj = ci - pi, cj - pj
        assert di in (0, 1) and dj in (0, 1) and di + dj >= 1
    # the route's distance is the full-matrix DP on the strided returns
    sa, sb = ra[:: max(1, len(ra) // 80)], rb[:: max(1, len(rb) // 80)]
    assert rows[0].dtw == pytest.approx(similarity._dtw_numpy(sa, sb, window=0))
    # full matrix ≤ the banded distance dtw_pairs reports
    banded = (
        similarity.dtw_pairs(bars).filter("sym_a = 0 AND sym_b = 1").first().dtw
    )
    assert full <= banded + 1e-12
