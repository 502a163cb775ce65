"""Interval-join tests: exact membership, bucket-width independence."""

from __future__ import annotations

from pyspark.sql import functions as F

from algoritmos_etl_spark.operators import ranges


def _frames(spark):
    points = spark.createDataFrame(
        [(1, 1, 5), (2, 1, 10), (3, 1, 99), (4, 2, 7)],
        "id long, key long, t long",
    )
    intervals = spark.createDataFrame(
        [(1, 0, 10, "a"), (1, 10, 20, "b"), (2, 100, 200, "c")],
        "key long, s long, e long, label string",
    )
    return points, intervals


def test_interval_join_membership(spark):
    points, intervals = _frames(spark)
    for width in (1, 3, 10, 1000):  # correctness never depends on width
        out = {
            r.id: r.label
            for r in ranges.interval_join(
                points, intervals, "key", "t", "s", "e", bucket_width=width
            ).collect()
        }
        # t=5 in [0,10); t=10 in [10,20) (end exclusive, start inclusive)
        assert out == {1: "a", 2: "b"}
