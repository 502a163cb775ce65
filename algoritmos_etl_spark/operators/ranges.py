"""Interval (range) join — bucketized, never the cross-product.

`events JOIN intervals ON key = key AND start <= t < end` is a join
shape Spark executes as a broadcast-nested-loop or a per-key
cross-product + filter: O(|L|·|R|) per key before the predicate prunes.
The scalable idiom is GRID BUCKETING: quantize time into fixed buckets,
explode each interval across the buckets it covers, join points to
intervals on (key, bucket) — candidates are only the pairs sharing a
bucket — then apply the exact range predicate. Cost: one equi-join with
fan-out = interval_span / bucket_width, independent of row counts.

Bucket width is the tuning knob: ~the typical interval length. Too
small → interval explosion; too large → candidate fan-in. Both
degenerate gracefully (correctness never depends on the width).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    by: str,
    point_time: str,
    start: str,
    end: str,
    bucket_width: int,
) -> DataFrame:
    """Rows of `points` matched to every interval of the same key with
    `start <= point_time < end`. Times are numeric (epoch units);
    `bucket_width` in the same units.
    """
    p = points.withColumn(
        "_bucket", F.floor(F.col(point_time) / F.lit(bucket_width))
    )
    # rename the key on the interval side: points and intervals often
    # descend from the SAME source relation (e.g. events → sessions),
    # and `p[by] == iv[by]` then compares one attribute with itself —
    # Spark disambiguates via dataset ids but warns ("trivially true
    # equals predicate"); the rename makes the join unambiguous by
    # construction
    iv = intervals.withColumnRenamed(by, "_iv_by").withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(start) / F.lit(bucket_width)),
                # end is exclusive: a bucket is covered iff it contains
                # some t with start <= t < end ⇒ last bucket holds end-1
                F.floor((F.col(end) - 1) / F.lit(bucket_width)),
            )
        ),
    )
    on = [p[by] == iv["_iv_by"], p["_bucket"] == iv["_bucket"]]
    cond = (p[point_time] >= iv[start]) & (p[point_time] < iv[end])
    joined = p.join(iv, on).filter(cond)
    return joined.drop(iv["_iv_by"]).drop(p["_bucket"]).drop(iv["_bucket"])
