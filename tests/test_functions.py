"""Scalar-function parity tests (SURVEY.md §2.8)."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from algoritmos_etl_spark.functions import (
    cents,
    date_parts,
    date_to_unix,
    regression_line,
)


def test_date_to_unix_is_utc_midnight(spark):
    df = spark.createDataFrame([("2024-03-01",)], "d string").select(
        F.to_date("d").alias("date")
    )
    row = df.select(date_to_unix(F.col("date")).alias("ts")).first()
    assert row.ts == 1709251200  # 2024-03-01T00:00:00Z


def test_date_parts_and_cents(spark):
    df = spark.createDataFrame(
        [("2024-12-31", 7.739999771118164)], "d string, close double"
    ).select(F.to_date("d").alias("date"), "close")
    row = date_parts(df).select(
        "year", "month", "day", cents(F.col("close")).alias("c")
    ).first()
    assert (row.year, row.month, row.day, row.c) == (2024, 12, 31, 774)


def test_regression_line_exact(spark):
    # y = 2x + 1 exactly
    df = spark.createDataFrame(
        [(float(x), 2.0 * x + 1.0) for x in range(10)], "x double, y double"
    )
    row = regression_line(df, y="y", x="x").first()
    assert row.slope == pytest.approx(2.0)
    assert row.intercept == pytest.approx(1.0)
    assert row.r2 == pytest.approx(1.0)
    assert row.n == 10
