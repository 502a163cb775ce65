"""Behavioral analytics over the events stream table.

Funnel conversion, cohort retention, and JSON property extraction —
the event-analytics counterpart of the reference's per-symbol pattern
scans (reference algorithms/patrones.py analyzes per-entity ordered
event sequences; here the entity is a user and the sequence is their
event stream). All three are built so the expensive grain is the
per-user aggregation: one shuffle on `user_id` with map-side partial
aggregation, then a second shuffle on a bounded key (step index /
cohort week / event type), which is the plan that holds at 100 TB —
per-user state is a handful of timestamps, never the user's raw
events, and no window function orders the global stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel_counts(events: DataFrame, steps: list[str]) -> DataFrame:
    """Ordered-funnel conversion: how many users reached step k, where
    "reached" means their earliest `steps[k]` event is at or after
    their earliest `steps[k-1]` event (classic first-touch funnel).

    One groupBy on user_id computes min-ts per step (map-side partial:
    per-user state is len(steps) timestamps); the reached-step flags
    are a pure projection; the final rollup shuffles only len(steps)
    keys. Returns (step_idx, step, n_users) sorted by step_idx.
    """
    mins = events.filter(F.col("event_type").isin(steps)).groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"t{i}")
            for i, s in enumerate(steps)
        ]
    )
    # reached(k) = every prior step's min-ts exists and is ordered
    flag = F.col("t0").isNotNull()
    flags = [flag]
    for i in range(1, len(steps)):
        flag = flag & F.col(f"t{i}").isNotNull() & (
            F.col(f"t{i}") >= F.col(f"t{i-1}")
        )
        flags.append(flag)
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).alias("step_idx"),
                F.lit(s).alias("step"),
                flags[i].cast("long").alias("reached"),
            )
            for i, s in enumerate(steps)
        ]
    )
    return (
        mins.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.step_idx").alias("step_idx"), F.col("p.step").alias("step"))
        .agg(F.sum("p.reached").alias("n_users"))
        .orderBy("step_idx")
    )


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Weekly cohort retention: users grouped by the ISO week of their
    first event; for each (cohort_week, week_offset) the number of
    cohort members active that week.

    Single pass to the per-user grain: groupBy user_id collects the
    user's DISTINCT active days alongside their first day (per-user
    state is bounded by distinct days, not raw events), so cohort
    assignment and the offset explode need no join back to the fact
    table. The final rollup is count(*) — the (user, day) grain is
    already distinct — shuffled on the bounded (cohort_week, offset)
    key.
    """
    per_user = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day"),
        F.collect_set(F.to_date("ts")).alias("days"),
    )
    cohort = F.date_trunc("week", F.col("first_day")).cast("date")
    return (
        per_user.select(
            cohort.alias("cohort_week"),
            F.col("user_id"),
            F.explode("days").alias("day"),
        )
        .groupBy(
            "cohort_week",
            F.floor(
                F.datediff(F.date_trunc("week", F.col("day")).cast("date"),
                           F.col("cohort_week")) / 7
            ).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


def props_stats(events: DataFrame) -> DataFrame:
    """F10 (JSON navigation) at the registered-query grain: extract the
    integer field `k` from the `props` JSON column with `get_json_object`
    (JVM-side Jackson path evaluation — no Python in the loop) and
    aggregate it per event type. The extraction is a projection fused
    into the scan; the groupBy key is the bounded event-type domain.

    Reference parity: etl/data_fetcher.py navigates fetched JSON
    payloads field-by-field; this is the same navigation as a columnar
    expression over a JSON-typed column.
    """
    val = F.get_json_object(F.col("props"), "$.k").cast("int")
    return events.select("event_type", val.alias("v")).groupBy("event_type").agg(
        F.count("v").alias("n_present"),
        F.round(F.avg("v"), 6).alias("avg_v"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )
