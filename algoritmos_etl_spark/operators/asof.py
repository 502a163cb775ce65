"""As-of (point-in-time) join — the operator Spark lacks natively.

SURVEY.md §2.3 notes the reference's forward-fill IS an implicit as-of
lookup (missing close ← last prior value). This module makes it an
explicit operator: every left row matches the LATEST right row with
`right.time ≤ left.time` within the same key — the feature-store /
market-data staple ("price as of the trade", "features as of the
label timestamp" — the join that prevents training-data leakage).

Scale shape — the union idiom, NOT a range join:
a naive `left JOIN right ON key = key AND r.time <= l.time` + window
explodes to O(|L|·|R|) per key before ranking. Instead: tag and union
both sides (one column layout), sort per key by (time, side) in ONE
shuffle, and forward-fill the right side's values down to left rows
with `last(ignorenulls)` over the cumulative frame. Cost = one shuffle
+ one window pass over |L|+|R| rows, regardless of how many right rows
precede each left row. Right-before-left ordering at equal timestamps
gives the inclusive (≤) match, mirroring DuckDB/Pandas ASOF semantics
(the oracle uses DuckDB's native ASOF JOIN).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: str,
    left_time: str,
    right_time: str,
    value_cols: list[str],
) -> DataFrame:
    """Each left row + the latest right `value_cols` at-or-before its
    time (NULLs when no prior right row)."""
    l_tagged = left.withColumn("_t", F.col(left_time)).withColumn(
        "_side", F.lit(1)
    )
    for v in value_cols:
        l_tagged = l_tagged.withColumn(f"_r_{v}", F.lit(None))
    r_tagged = right.select(
        F.col(by),
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_side"),
        *[F.col(v).alias(f"_r_{v}") for v in value_cols],
    )
    for c in l_tagged.columns:
        if c not in r_tagged.columns:
            r_tagged = r_tagged.withColumn(c, F.lit(None))
    unioned = l_tagged.unionByName(r_tagged.select(l_tagged.columns))

    # right rows (side 0) sort before left rows (side 1) at equal _t →
    # inclusive as-of; cumulative last(ignorenulls) is the actual match
    w = (
        Window.partitionBy(by)
        .orderBy(F.col("_t").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned
    for v in value_cols:
        filled = filled.withColumn(
            f"_r_{v}", F.last(f"_r_{v}", ignorenulls=True).over(w)
        )
    filled = filled.withColumn(
        "_match_t",
        F.last(F.when(F.col("_side") == 0, F.col("_t")), ignorenulls=True).over(w),
    )

    out = filled.filter(F.col("_side") == 1)
    renames = {f"_r_{v}": f"asof_{v}" for v in value_cols}
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    return out.withColumnRenamed("_match_t", "asof_time").drop("_t", "_side")
