"""Incremental materialized-view maintenance over a keyed aggregate.

The lifecycle a 100 TB warehouse runs for its hot aggregates,
expressed with Structured Streaming + parquet deltas:

- `streaming_agg_mv` consumes a stream and writes ONE per-key partial
  aggregate per micro-batch under `path/delta/batch_id=N` — never
  touching previous state (no read-modify-write of a 100 TB base per
  batch; per-batch cost is the batch's own partial agg, map-side
  combined). The per-batch overwrite of its own directory makes
  replays idempotent, same contract as the streaming near-dup index.
- `read_agg_mv` is the VIEW: base (if compacted) + deltas, re-reduced
  by key. Sums are carried as decimal(30,10) through every merge —
  including compaction folds — and become double only at the view
  edge, so the view equals the batch GROUP BY bit-for-bit no matter
  how many deltas/compactions the total passed through
  (oracle-checked): Structured Streaming's incremental-view-
  maintenance guarantee made inspectable on disk.
- `compact_agg_mv` is the maintenance pass: folds all deltas (and the
  previous base) into `base/upto=N`. The read rule — base at max
  `upto`, plus deltas with `batch_id > upto` — stays correct while a
  compaction lands; re-running a crashed compaction rewrites the same
  fold, double-counting nothing. Merged deltas are retired lazily
  (they're ignored by the read rule the moment the base lands).

Partial-aggregability is the only requirement on the measure —
sum/count here; min/max/HLL merge the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

_SUM_T = "decimal(30,10)"
_PART_COLS = ("sum_part", "n_part")


# availableNow maintenance runs that outrun this raise TimeoutError
_DRAIN_TIMEOUT_S = 120


def _partial(df: DataFrame, key_cols: list[str], value_col: str) -> DataFrame:
    return df.groupBy(*key_cols).agg(
        F.sum(F.col(value_col).cast(_SUM_T)).alias("sum_part"),
        F.count(F.lit(1)).alias("n_part"),
    )


def streaming_agg_mv(
    stream: DataFrame,
    path: str,
    key_cols: list[str],
    value_col: str,
    checkpoint: str,
):
    """Maintain the (key → sum, count) view incrementally; see module
    docstring for the delta layout and idempotency contract."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        (
            _partial(batch_df, key_cols, value_col)
            .write.mode("overwrite")
            .parquet(f"{path}/delta/batch_id={batch_id}")
        )

    query = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination(timeout) returns False on timeout with the
    # writer still in flight; returning normally then would hand the
    # caller a silently partial view (and racing cleanup code a live
    # writer). Stop the query and fail loudly instead.
    if not query.awaitTermination(_DRAIN_TIMEOUT_S):
        query.stop()
        raise TimeoutError(
            f"streaming_agg_mv: availableNow run exceeded {_DRAIN_TIMEOUT_S}s; "
            f"view at {path} is incomplete"
        )
    return query


def _read_or_none(spark: SparkSession, pattern: str, base: str):
    # Existence-check before handing the path to Spark: the first read
    # of a not-yet-created layer otherwise logs a 90-line benign
    # FileStreamSink.hasMetadata WARN stack (Hadoop probes
    # <dir>/_spark_metadata on a missing dir) into every driver tail.
    # All MV layers are local directories, so an os-level probe is
    # authoritative and free.
    import os

    local = pattern[5:] if pattern.startswith("file:") else pattern
    if not os.path.isdir(local):
        return None  # no such layer yet
    try:
        return spark.read.option("basePath", base).parquet(pattern)
    except AnalysisException:
        return None  # dir exists but holds no parquet yet


def _base_upto(spark: SparkSession, path: str) -> int:
    """Highest compacted base layer under `path`, -1 if none."""
    base = _read_or_none(spark, f"{path}/base", f"{path}/base")
    if base is None:
        return -1
    row = base.agg(F.max("upto")).first()
    return row[0] if row[0] is not None else -1


def _fold_partials(spark: SparkSession, path: str) -> DataFrame:
    """base-at-max-upto + applicable deltas, re-reduced by key; sums
    stay decimal-exact (the only double cast is at the view edge)."""
    deltas = _read_or_none(spark, f"{path}/delta", f"{path}/delta")
    base = _read_or_none(spark, f"{path}/base", f"{path}/base")
    upto = -1
    if base is not None:
        row = base.agg(F.max("upto")).first()
        upto = row[0] if row[0] is not None else -1
        base = base.filter(F.col("upto") == upto).drop("upto")
    parts = []
    if base is not None:
        parts.append(base)
    if deltas is not None:
        parts.append(deltas.filter(F.col("batch_id") > upto).drop("batch_id"))
    if not parts:
        raise ValueError(f"no MV state under {path}")
    all_parts = parts[0]
    for p in parts[1:]:
        all_parts = all_parts.unionByName(p)
    key_cols = [c for c in all_parts.columns if c not in _PART_COLS]
    return all_parts.groupBy(*key_cols).agg(
        F.sum("sum_part").cast(_SUM_T).alias("sum_part"),
        F.sum("n_part").alias("n_part"),
    )


def read_agg_mv(spark: SparkSession, path: str) -> DataFrame:
    """The view: one row per key, (key…, total_value double, n_rows)."""
    folded = _fold_partials(spark, path)
    key_cols = [c for c in folded.columns if c not in _PART_COLS]
    return folded.select(
        *key_cols,
        F.col("sum_part").cast("double").alias("total_value"),
        F.col("n_part").alias("n_rows"),
    )


def compact_agg_mv(spark: SparkSession, path: str) -> dict:
    """Fold every applicable delta (plus the previous base) into a new
    base layer; returns {"upto": N, "keys": k} for scheduler logging."""
    deltas = _read_or_none(spark, f"{path}/delta", f"{path}/delta")
    if deltas is None:
        raise ValueError(f"no deltas under {path}")
    max_bid = deltas.agg(F.max("batch_id")).first()[0]
    upto = _base_upto(spark, path)
    if max_bid <= upto:
        # nothing newer than the base: a rewrite would overwrite the
        # very directory the fold lazily reads from — no-op instead
        n = spark.read.parquet(f"{path}/base/upto={upto}").count()
        return {"upto": int(upto), "keys": int(n)}
    _fold_partials(spark, path).write.mode("overwrite").parquet(
        f"{path}/base/upto={max_bid}"
    )
    n_keys = spark.read.parquet(f"{path}/base/upto={max_bid}").count()
    return {"upto": int(max_bid), "keys": int(n_keys)}


def vacuum_agg_mv(path: str) -> dict:
    """Retire state the read rule can no longer see: delta layers with
    `batch_id <=` the newest base's `upto`, and every base layer older
    than the newest. Pure directory surgery — safe to run any time
    after a compaction lands, because the read rule already ignores
    everything this deletes. Returns counts for scheduler logging."""
    import glob
    import re
    import shutil

    bases = sorted(
        glob.glob(f"{path}/base/upto=*"),
        key=lambda p: int(re.search(r"upto=(\d+)", p).group(1)),
    )
    if not bases:
        return {"deltas_removed": 0, "bases_removed": 0}
    upto = int(re.search(r"upto=(\d+)", bases[-1]).group(1))
    n_d = n_b = 0
    for d in glob.glob(f"{path}/delta/batch_id=*"):
        if int(re.search(r"batch_id=(\d+)", d).group(1)) <= upto:
            shutil.rmtree(d, ignore_errors=True)
            n_d += 1
    for b in bases[:-1]:
        shutil.rmtree(b, ignore_errors=True)
        n_b += 1
    return {"deltas_removed": n_d, "bases_removed": n_b}


# ---------------------------------------------------------------------------
# Streaming CDC merge: the keyed-STATE sibling of the aggregate MV above.
# Same disk contract (versioned layers, idempotent per-batch overwrite,
# read rule picks the newest applicable layer), but the maintained object
# is the keep-latest MERGE state (operators/reconcile.cdc_merge), not a
# partial aggregate.
# ---------------------------------------------------------------------------


def read_cdc_state(
    spark: SparkSession,
    path: str,
    before_batch: int | None = None,
    op_col: str = "op",
    serving: bool = True,
):
    """Newest state snapshot, optionally restricted to versions written
    BEFORE `before_batch` (the replay read rule: batch N merges onto
    the state as of N-1 even when newer versions exist on disk).

    Snapshots PERSIST tombstones (see `reconcile.cdc_merge`): the
    serving view filters them out and drops the op column; the merge
    loop reads raw (`serving=False`) so a late change older than a
    delete can never resurrect the key."""
    import glob
    import re

    versions = sorted(
        int(re.search(r"version=(\d+)", p).group(1))
        for p in glob.glob(f"{path}/state/version=*")
    )
    if before_batch is not None:
        versions = [v for v in versions if v < before_batch]
    if not versions:
        return None
    state = spark.read.parquet(f"{path}/state/version={versions[-1]}")
    if serving:
        state = state.filter(F.col(op_col) != "D").drop(op_col)
    return state


def streaming_cdc_merge(
    stream: DataFrame,
    path: str,
    key_cols: list[str],
    ts_col: str,
    op_col: str,
    checkpoint: str,
    tiebreak: list[str] | None = None,
):
    """Maintain MERGE state incrementally: each micro-batch upserts
    onto the previous snapshot via `reconcile.cdc_merge` (keep-latest
    as a partial aggregation, tombstones applied) and writes the new
    snapshot to `path/state/version=<batch_id>`.

    Per-batch cost is |previous state| + |batch| — the state is the
    KEYED CURRENT ROWS (tombstones included), already collapsed, so
    unlike a naive read-modify-write of raw history the merge input
    never grows with time, only with seen keys. Replays are idempotent: batch N reads
    the newest version < N (never a version a later batch wrote) and
    overwrites its own version=N directory with identical content.
    Old versions are retired by `vacuum_cdc_state`.
    """
    from ..operators.reconcile import cdc_merge

    tb = list(tiebreak or [])

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # RAW read: tombstones ride along so older late arrivals
        # cannot win the next argmax against a deleted key
        prev = read_cdc_state(
            spark, path, before_batch=batch_id, op_col=op_col, serving=False,
        )
        if prev is None:
            data_cols = [
                c
                for c in batch_df.columns
                if c not in set(key_cols) | {ts_col, op_col}
            ]
            prev = (
                batch_df.select(*key_cols, ts_col, op_col, *data_cols)
                .filter(F.lit(False))
            )
        merged = cdc_merge(
            prev,
            batch_df,
            key_cols=key_cols,
            ts_col=ts_col,
            op_col=op_col,
            tiebreak=tb,
            target_op_col=op_col,
            keep_tombstones=True,
        )
        merged.write.mode("overwrite").parquet(
            f"{path}/state/version={batch_id}"
        )

    query = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not query.awaitTermination(_DRAIN_TIMEOUT_S):
        query.stop()
        raise TimeoutError(
            f"streaming_cdc_merge: availableNow run exceeded "
            f"{_DRAIN_TIMEOUT_S}s; state at {path} is incomplete"
        )
    return query


def vacuum_cdc_state(path: str, keep: int = 2) -> dict:
    """Retire old state versions, RETAINING the `keep` newest (>= 2).

    Why two and not one: if batch N wrote state/version=N and crashed
    BEFORE its streaming checkpoint commit, the replayed batch N reads
    the newest version < N. A single-version vacuum run in that window
    would delete version N-1, so the replay would merge onto an EMPTY
    target and silently shrink the state to that batch's keys. Keeping
    the two newest means the replay target always survives: version N
    is only uncommitted while N-1 still exists, and once N's commit is
    durable N-1 is garbage the NEXT vacuum (after batch N+1) retires.
    """
    import glob
    import re
    import shutil

    keep = max(2, int(keep))
    versions = sorted(
        glob.glob(f"{path}/state/version=*"),
        key=lambda p: int(re.search(r"version=(\d+)", p).group(1)),
    )
    doomed = versions[:-keep] if len(versions) > keep else []
    for p in doomed:
        shutil.rmtree(p, ignore_errors=True)
    return {"versions_removed": len(doomed)}


# ---------------------------------------------------------------------------
# Incremental DISTINCT-COUNT view: the third measure family the module
# docstring promises ("min/max/HLL merge the same way") made concrete.
# Same delta/base/vacuum layout as the sum/count MV — the per-batch
# partial is a DataSketches HLL sketch (hll_sketch_agg), the fold is
# hll_union_agg: register-wise max is commutative and associative, so
# incremental union over any batch split estimates exactly like the
# one-shot sketch (pinned in tests).
# ---------------------------------------------------------------------------


def _hll_partial(
    df: DataFrame, key_cols: list[str], value_col: str
) -> DataFrame:
    return df.groupBy(*key_cols).agg(
        F.hll_sketch_agg(value_col).alias("sk_part"),
        F.count(F.lit(1)).alias("n_part"),
    )


def streaming_distinct_mv(
    stream: DataFrame,
    path: str,
    key_cols: list[str],
    value_col: str,
    checkpoint: str,
):
    """Maintain (key → approx distinct values, row count) incrementally:
    one HLL partial per micro-batch under `path/delta/batch_id=N`,
    idempotent overwrite, never a read-modify-write of the base —
    identical lifecycle to `streaming_agg_mv`, sketch instead of sum."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        (
            _hll_partial(batch_df, key_cols, value_col)
            .write.mode("overwrite")
            .parquet(f"{path}/delta/batch_id={batch_id}")
        )

    query = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not query.awaitTermination(_DRAIN_TIMEOUT_S):
        query.stop()
        raise TimeoutError(
            f"streaming_distinct_mv: availableNow run exceeded "
            f"{_DRAIN_TIMEOUT_S}s; view at {path} is incomplete"
        )
    return query


def _fold_hll(spark: SparkSession, path: str) -> DataFrame:
    deltas = _read_or_none(spark, f"{path}/delta", f"{path}/delta")
    base = _read_or_none(spark, f"{path}/base", f"{path}/base")
    upto = -1
    if base is not None:
        row = base.agg(F.max("upto")).first()
        upto = row[0] if row[0] is not None else -1
        base = base.filter(F.col("upto") == upto).drop("upto")
    parts = []
    if base is not None:
        parts.append(base)
    if deltas is not None:
        parts.append(deltas.filter(F.col("batch_id") > upto).drop("batch_id"))
    if not parts:
        raise ValueError(f"no distinct-MV state under {path}")
    all_parts = parts[0]
    for p in parts[1:]:
        all_parts = all_parts.unionByName(p)
    key_cols = [c for c in all_parts.columns if c not in ("sk_part", "n_part")]
    return all_parts.groupBy(*key_cols).agg(
        F.hll_union_agg("sk_part").alias("sk_part"),
        F.sum("n_part").alias("n_part"),
    )


def read_distinct_mv(spark: SparkSession, path: str) -> DataFrame:
    """The view: (key…, approx_distinct, n_rows)."""
    folded = _fold_hll(spark, path)
    key_cols = [c for c in folded.columns if c not in ("sk_part", "n_part")]
    return folded.select(
        *key_cols,
        F.hll_sketch_estimate("sk_part").cast("long").alias(
            "approx_distinct"
        ),
        F.col("n_part").alias("n_rows"),
    )


def compact_distinct_mv(spark: SparkSession, path: str) -> dict:
    """Fold deltas (+ previous base) into base/upto=N; the sketch
    union is the merge, so compaction loses nothing. `vacuum_agg_mv`
    applies unchanged (same directory layout)."""
    deltas = _read_or_none(spark, f"{path}/delta", f"{path}/delta")
    if deltas is None:
        raise ValueError(f"no deltas under {path}")
    max_bid = deltas.agg(F.max("batch_id")).first()[0]
    upto = _base_upto(spark, path)
    if max_bid <= upto:
        # no newer deltas: rewriting base/upto=N in place would race
        # its own lazy read — no-op (same guard as compact_agg_mv)
        n = spark.read.parquet(f"{path}/base/upto={upto}").count()
        return {"upto": int(upto), "keys": int(n)}
    _fold_hll(spark, path).write.mode("overwrite").parquet(
        f"{path}/base/upto={max_bid}"
    )
    n_keys = spark.read.parquet(f"{path}/base/upto={max_bid}").count()
    return {"upto": int(max_bid), "keys": int(n_keys)}


# --------------------------------------------------------------------------
# Count-min sketch MV: fourth measure family on the same delta+base
# layout (sum/count, HLL, now CM). The partial is the sketch GRID
# itself — (d, bucket) cell counts from operators/sketches — and the
# fold is a plain per-cell SUM, which is commutative/associative/exact:
# the incrementally-maintained grid equals the one-shot grid CELL FOR
# CELL, so unlike the HLL view a CM-backed query keeps a full SQL
# oracle. Per-batch cost is the batch's own bounded partial
# (<= depth*width cells); the base is never read-modify-written.
# --------------------------------------------------------------------------


def streaming_sketch_mv(
    stream: DataFrame,
    path: str,
    item_col: str,
    checkpoint: str,
    depth: int = 4,
    width: int = 1024,
):
    """Maintain a count-min grid over a stream of items: one bounded
    (d, bucket, cnt_part) delta per micro-batch under
    `path/delta/batch_id=N`, idempotent overwrite — identical
    lifecycle to `streaming_agg_mv`, sketch cells instead of sums."""
    from ..operators.sketches import count_min_build

    def process(batch_df: DataFrame, batch_id: int) -> None:
        (
            count_min_build(batch_df, item_col, depth=depth, width=width)
            .withColumnRenamed("cnt", "cnt_part")
            .write.mode("overwrite")
            .parquet(f"{path}/delta/batch_id={batch_id}")
        )

    query = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not query.awaitTermination(_DRAIN_TIMEOUT_S):
        query.stop()
        raise TimeoutError(
            f"streaming_sketch_mv: availableNow run exceeded "
            f"{_DRAIN_TIMEOUT_S}s; view at {path} is incomplete"
        )
    return query


def read_sketch_mv(spark: SparkSession, path: str) -> DataFrame:
    """The view: the folded count-min grid (d, bucket, cnt) — drop-in
    for `sketches.count_min_build` output (feed it to
    `sketches.count_min_estimate`). Base at max `upto` plus newer
    deltas, re-summed per cell."""
    deltas = _read_or_none(spark, f"{path}/delta", f"{path}/delta")
    base = _read_or_none(spark, f"{path}/base", f"{path}/base")
    upto = -1
    if base is not None:
        row = base.agg(F.max("upto")).first()
        upto = row[0] if row[0] is not None else -1
        base = base.filter(F.col("upto") == upto).drop("upto")
    parts = []
    if base is not None:
        parts.append(base)
    if deltas is not None:
        parts.append(deltas.filter(F.col("batch_id") > upto).drop("batch_id"))
    if not parts:
        raise ValueError(f"no sketch-MV state under {path}")
    all_parts = parts[0]
    for p in parts[1:]:
        all_parts = all_parts.unionByName(p)
    return all_parts.groupBy("d", "bucket").agg(
        F.sum("cnt_part").alias("cnt")
    )


def compact_sketch_mv(spark: SparkSession, path: str) -> dict:
    """Fold deltas (+ previous base) into base/upto=N. Cell sums merge
    losslessly; `vacuum_agg_mv` applies unchanged (same layout)."""
    deltas = _read_or_none(spark, f"{path}/delta", f"{path}/delta")
    if deltas is None:
        raise ValueError(f"no deltas under {path}")
    max_bid = deltas.agg(F.max("batch_id")).first()[0]
    upto = _base_upto(spark, path)
    if max_bid <= upto:
        # no newer deltas: rewriting base/upto=N in place would race
        # its own lazy read — no-op (same guard as compact_agg_mv)
        n = spark.read.parquet(f"{path}/base/upto={upto}").count()
        return {"upto": int(upto), "cells": int(n)}
    read_sketch_mv(spark, path).withColumnRenamed(
        "cnt", "cnt_part"
    ).write.mode("overwrite").parquet(f"{path}/base/upto={max_bid}")
    n_cells = spark.read.parquet(f"{path}/base/upto={max_bid}").count()
    return {"upto": int(max_bid), "cells": int(n_cells)}
