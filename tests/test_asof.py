"""As-of join semantics: inclusive match, no-prior NULL."""

from __future__ import annotations

from algoritmos_etl_spark.operators import asof


def _frames(spark):
    left = spark.createDataFrame(
        [(1, 1, 5), (2, 1, 10), (3, 1, 15), (4, 2, 7), (5, 3, 9)],
        "id long, key long, t long",
    )
    right = spark.createDataFrame(
        [(1, 4, 100.0), (1, 10, 200.0), (1, 12, 300.0), (2, 8, 400.0)],
        "key long, t long, px double",
    )
    return left, right


def test_asof_matches(spark):
    left, right = _frames(spark)
    out = {
        r.id: r
        for r in asof.asof_join(
            left, right, by="key", left_time="t", right_time="t",
            value_cols=["px"],
        ).collect()
    }
    assert out[1].asof_px == 100.0 and out[1].asof_time == 4   # strictly before
    assert out[2].asof_px == 200.0 and out[2].asof_time == 10  # equal time (inclusive)
    assert out[3].asof_px == 300.0                             # latest of several
    assert out[4].asof_px is None                              # right row is later
    assert out[5].asof_px is None                              # key has no right rows
