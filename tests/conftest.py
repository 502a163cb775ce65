import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from algoritmos_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("algoritmos-etl-tests", cpus=8)
    yield spark


@pytest.fixture(scope="session")
def tables(spark):
    from algoritmos_etl_spark.sources import TABLE_NAMES, load_table

    return {name: load_table(spark, SF_DIR, name) for name in TABLE_NAMES}


@pytest.fixture(scope="session")
def bars(spark):
    """The session's bars artifact. Not `daily_bars(...).cache()`: Spark
    substitutes a cached plan into every later plan over the same
    events, so the registry's landing and `serve.JsonApi` would inherit
    the cache's uncoalesced 64+ partitions."""
    from algoritmos_etl_spark.driver_queries import session_bars

    return session_bars(spark, SF_DIR)


@pytest.fixture(scope="session")
def micro_bars(spark):
    """FIXTURES.md F4 — 15-day patterns micro-series as one symbol,
    plus an OHLCV-null symbol for cleaning ops."""
    closes = [100, 102, 103, 101, 104, 105, 106, 103, 107, 108, 109, 110, 108, 111, 112]
    opens = [99, 101, 102, 103, 100, 104, 105, 107, 102, 106, 108, 109, 111, 107, 110]
    highs = [101, 103, 104, 104, 105, 106, 107, 108, 108, 109, 110, 111, 112, 112, 113]
    rows = [
        (1, f"2024-01-{d + 1:02d}", float(opens[d]), float(highs[d]),
         float(min(opens[d], closes[d]) - 1), float(closes[d]), 100 + d)
        for d in range(15)
    ]
    # symbol 2: nulls + inconsistencies for cleaning ops
    rows += [
        (2, "2024-01-01", None, None, None, None, None),        # leading null close
        (2, "2024-01-02", 10.0, 12.0, 9.0, 11.0, 5),
        (2, "2024-01-03", 10.0, 8.0, 9.0, None, 5),             # high < low, null close
        (2, "2024-01-04", 20.0, 12.0, 9.0, 11.0, 5),            # open out of range
        (2, "2024-01-05", 10.0, 12.0, 9.0, 13.0, 5),            # close out of range
    ]
    df = spark.createDataFrame(
        [(s, __import__("datetime").date.fromisoformat(d), o, h, lo, c, v)
         for s, d, o, h, lo, c, v in rows],
        "symbol long, date date, open double, high double, low double, close double, volume long",
    )
    return df.cache()
