"""Wide master CSV re-ingest + DTW path tests."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from algoritmos_etl_spark.driver_queries import session_bars
from algoritmos_etl_spark.operators import similarity

SF_DIR = "/root/testdata/sf0.001"


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
        for r in read_wide_csv(spark, str(csv)).collect()
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


def test_wide_csv_roundtrip_through_own_export(spark):
    """`wide_roundtrip` writes the engine's own wide export (lowercase
    field suffixes) once per session and re-ingests it through the
    same reader: every bar of its symbols comes back, and a second
    build reuses the one written CSV."""
    from algoritmos_etl_spark import store
    from algoritmos_etl_spark.driver_queries import REGISTRY

    build = REGISTRY["wide_roundtrip"].build
    back = build(spark, SF_DIR)
    bars = session_bars(spark, SF_DIR).filter(F.col("symbol").isin(0, 1, 2, 3))
    cols = ["symbol", "date", "open", "high", "low", "close", "volume"]
    orig = {tuple(r) for r in bars.select(*cols).collect()}
    assert orig
    assert {tuple(r) for r in back.collect()} == orig
    build(spark, SF_DIR).count()
    keys = [k for k in store._ENTRIES if k[1:] == ("wide_csv", SF_DIR)]
    assert len(keys) == 1


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
            read_wide_csv(spark, str(csv))


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
