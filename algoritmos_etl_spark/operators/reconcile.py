"""Table reconciliation: snapshot diff and CDC MERGE.

Two warehouse-maintenance primitives the reference's batch ETL world
implies but never needed at its scale (its master dataset is rebuilt
from scratch per run — `etl/etl_pipeline.py:136-157`). At 100 TB a
rebuild is off the table; you reconcile:

- `table_diff` — what changed between two snapshots of a keyed table
  (migration validation, replica drift, backfill audit);
- `cdc_merge` — apply a change-data-capture stream onto a target
  snapshot (the MERGE INTO of every warehouse), as a pure aggregation
  so it partial-aggregates map-side instead of window-sorting.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def table_diff(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
) -> DataFrame:
    """Keyed snapshot diff over every non-key column of `left`: one
    row per key that differs —
    (key…, diff_type ∈ {added, removed, changed}, changed_cols) where
    `changed_cols` is the comma-joined sorted list of differing
    columns (NULL for added/removed). `added` = in right only,
    `removed` = in left only. NULL-safe per-column comparison.

    Plan: ONE full-outer sort-merge join on the key — each side
    shuffles once; on tables bucketed by the key the exchanges vanish
    entirely, which is how a 100 TB nightly drift-check stays
    affordable. All column comparisons are JVM
    expressions on the joined row; unchanged keys are dropped by a
    filter, so the output is |diff|, not |table|.

    Both sides must be KEYED snapshots (unique on `key_cols`) — with
    duplicate keys a full-outer join multiplies rows and the per-key
    diff is ill-defined; dedupe first (`cleaning.keep_latest`).
    """
    compare_cols = [c for c in left.columns if c not in set(key_cols)]
    lsel = left.select(
        *[F.col(c).alias(f"_lk_{c}") for c in key_cols],
        *[F.col(c).alias(f"_l_{c}") for c in compare_cols],
        F.lit(True).alias("_l_present"),
    )
    rsel = right.select(
        *[F.col(c).alias(f"_rk_{c}") for c in key_cols],
        *[F.col(c).alias(f"_r_{c}") for c in compare_cols],
        F.lit(True).alias("_r_present"),
    )
    cond = None
    for c in key_cols:
        eq = F.col(f"_lk_{c}").eqNullSafe(F.col(f"_rk_{c}"))
        cond = eq if cond is None else cond & eq
    joined = lsel.join(rsel, cond, "full_outer")

    changed = F.array_sort(
        F.filter(
            F.array(
                *[
                    F.when(
                        ~F.col(f"_l_{c}").eqNullSafe(F.col(f"_r_{c}")),
                        F.lit(c),
                    )
                    for c in compare_cols
                ]
            ),
            lambda x: x.isNotNull(),
        )
    )
    l_present = F.coalesce(F.col("_l_present"), F.lit(False))
    r_present = F.coalesce(F.col("_r_present"), F.lit(False))
    diff_type = (
        F.when(~l_present, F.lit("added"))
        .when(~r_present, F.lit("removed"))
        .when(F.size(changed) > 0, F.lit("changed"))
    )
    return (
        joined.withColumn("diff_type", diff_type)
        .filter(F.col("diff_type").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"_lk_{c}"), F.col(f"_rk_{c}")).alias(c)
                for c in key_cols
            ],
            "diff_type",
            F.when(
                F.col("diff_type") == "changed",
                F.array_join(changed, ","),
            ).alias("changed_cols"),
        )
    )


def cdc_merge(
    target: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    op_col: str,
    tiebreak: Sequence[str] = (),
    target_op_col: str | None = None,
    keep_tombstones: bool = False,
) -> DataFrame:
    """MERGE a CDC stream into a target snapshot: per key, the newest
    record wins (upsert); a newest-record delete op removes the key.
    Target rows carry no op column — they are implicit upserts older
    than every change (their own `ts_col` orders them among changes
    that predate the snapshot, which makes the merge idempotent when
    replayed over an overlapping change window).

    Plan shape this operator exists for: keep-latest as an AGGREGATION
    (`max_by(struct(all columns), struct(ts, tiebreak))`), not a
    window — partial aggregation collapses each map partition to one
    row per key BEFORE the shuffle, where the window formulation
    shuffles and sorts every change record. For a 100 TB target + a
    daily delta, the shuffle carries |keys|, not |records|. Delete
    filtering happens AFTER the argmax, so a delete followed by a
    re-insert resurrects the key with the newer attributes.

    Tombstone persistence (`keep_tombstones=True` + `target_op_col`):
    a ONE-SHOT merge may drop deleted keys from its output, but a
    target that will be merged AGAIN must keep its tombstones — with
    them dropped, a late-arriving change OLDER than the delete would
    win the next argmax unopposed and silently resurrect the key.
    With `keep_tombstones` the output retains every key's newest
    record including deletes (the op exposed as `op_col`); filter
    `op_col != 'D'` at the serving edge. `target_op_col` names
    the op column of such a tombstone-carrying target (instead of the
    implicit all-upsert target).
    """
    drop = set(key_cols) | {ts_col}
    if target_op_col:
        drop.add(target_op_col)
    data_cols = [c for c in target.columns if c not in drop]
    tgt = target.select(
        *key_cols,
        F.col(ts_col).alias("_ts"),
        (F.col(target_op_col) if target_op_col else F.lit("U")).alias("_op"),
        *data_cols,
    )
    chg = changes.select(
        *key_cols,
        F.col(ts_col).alias("_ts"),
        F.col(op_col).alias("_op"),
        *data_cols,
    )
    ordering = F.struct(
        F.col("_ts"), *[F.col(c) for c in tiebreak], F.col("_op")
    )
    payload = F.struct(F.col("_ts"), F.col("_op"), *data_cols)
    merged = (
        tgt.unionByName(chg)
        .groupBy(*key_cols)
        .agg(F.max_by(payload, ordering).alias("_w"))
    )
    if keep_tombstones:
        return merged.select(
            *key_cols,
            F.col("_w._ts").alias(ts_col),
            F.col("_w._op").alias(op_col),
            *[F.col(f"_w.{c}").alias(c) for c in data_cols],
        )
    return (
        merged.filter(F.col("_w._op") != "D")
        .select(
            *key_cols,
            F.col("_w._ts").alias(ts_col),
            *[F.col(f"_w.{c}").alias(c) for c in data_cols],
        )
    )
