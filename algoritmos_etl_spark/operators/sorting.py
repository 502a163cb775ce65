"""Multi-key sort rank and top-K.

Reference parity (SURVEY.md §2.6): the reference ships 12 sort
algorithms behind one registry (`algorithms/sorting.py:33-857`) plus a
composite integer sort key (`main.py:139-169`) and a partial-selection
top-K (`main.py:216-267`). Physically they are all ONE capability —
stable multi-key sort — which Spark executes as a range-partitioned
Tungsten sort; the 12-way algorithm identity is a deliberate non-goal
(SURVEY.md §7.3). What we preserve:

- O13 multi-key ordering (date asc, close asc) — no integer encoding
  needed; `with_sort_rank` materializes the order as a rank column so
  an order-insensitive comparison verifies it (O16).
- W9 top-K by volume — `orderBy(desc).limit(k)` which Catalyst plans as
  `TakeOrderedAndProject`: per-partition heap of k, no global sort —
  exactly the reference's partial-selection optimization, distributed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from algoritmos_etl_spark.functions.scalars import one_partition


def with_sort_rank(df: DataFrame, keys: Sequence) -> DataFrame:
    """Sort order materialized as a rank column.

    Makes ordering checkable by an order-insensitive comparator (the
    driver hashes sorted rows): equal ranks ⟺ equal total order.

    Scale shape: a bare `row_number() OVER (ORDER BY …)` drags every
    row into ONE partition. Instead we partition by the leading key:
    global_rank = (cumulative count of earlier leading-key groups)
                + (local rank within the group by the remaining keys).
    The only non-partitioned step is a running sum over DISTINCT
    leading-key values — |dates|, not |rows| — which stays trivial at
    any data scale; the per-group rank distributes normally.
    """
    keys = list(keys)
    lead = keys[0]
    # Single-key: rows within a leading-key group are total-order ties, so
    # ranking the group by the lead itself (constant within the group)
    # yields an arbitrary-but-valid tie order — the same semantics the
    # bare global `row_number() OVER (ORDER BY lead)` would give, minus
    # the single-partition shuffle.
    rest = keys[1:] or [lead]
    lead_col = F.col(lead) if isinstance(lead, str) else lead
    counts = df.groupBy(lead_col.alias("_lead")).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    # The offsets running sum is over DISTINCT leading keys (bounded);
    # the non-foldable constant key makes the deliberate single
    # partition explicit in the plan (no WindowExec warning).
    w_off = (
        Window.partitionBy(one_partition(F.col("_cnt")))
        .orderBy("_lead")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_lead",
        F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).cast("long").alias("_off"),
    )
    w_local = Window.partitionBy(lead_col).orderBy(*rest)
    return (
        # eqNullSafe: a NULL leading key must still meet its offsets row
        # (plain equi-join silently drops those rows)
        df.join(F.broadcast(offsets), lead_col.eqNullSafe(F.col("_lead")))
        .withColumn("sort_rank", F.row_number().over(w_local) + F.col("_off"))
        .drop("_lead", "_off")
    )


def top_k_by(
    df: DataFrame, order_col: str, k: int, tiebreak: Sequence[str] = ()
) -> DataFrame:
    """W9: top-k rows by `order_col` desc (deterministic via tiebreak),
    returned ascending like the reference (`main.py:216-267`)."""
    keys = [F.col(order_col).desc()] + [F.col(c).asc() for c in tiebreak]
    top = df.orderBy(*keys).limit(k)
    return top.orderBy(F.col(order_col).asc(), *[F.col(c).asc() for c in tiebreak])


def top_k_per_group(
    df: DataFrame, group_col: str, order_col: str, k: int,
    tiebreak: Sequence[str] = ()
) -> DataFrame:
    """Distributed top-k within every group (window rank ≤ k).

    The reference runs its top-15 per symbol in a Python loop; the
    relational form is one window pass — shuffle on group, per-partition
    streaming rank.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.col(order_col).desc(), *[F.col(c).asc() for c in tiebreak]
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )

