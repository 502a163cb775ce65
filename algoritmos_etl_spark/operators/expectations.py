"""Declarative data-quality expectations, compiled to ONE aggregation.

The generalization of the ad-hoc checks in `cleaning.py` (P4/P5) into
the framework a pipeline schedules as a gate: declare rules against a
table, get back one long-format report row per rule —
(rule, n_checked, n_violations, passed) — from a single corpus pass.

Scale shape: every row-predicate rule (not_null / in_range / in_set /
matches / custom) compiles to a pair of conditional-count AGGREGATE
EXPRESSIONS inside one `agg()` — the table is scanned once, partial
sums map-side, one 1-row result exploded to the long report (JVM
array-of-structs, no Python). `unique` rules add count-distinct
columns to the same agg (Catalyst plans multi-distinct via Expand —
still one scan, one extra shuffle tier). `foreign_key` rules need a
second relation; each broadcast-left-joins the deduped dim key set
onto the fact with a match marker, and the miss count rides the SAME
aggregation as the row predicates (r12: previously the FK arm
re-scanned the fact twice — once for the denominator, once for the
anti-join count). A 100 TB table therefore pays one scan for the
whole rule set, not one scan per rule — the property that makes
running the gate on every ingest batch affordable.

Violation semantics (documented per rule, pinned by tests and the
registered DuckDB oracle): NULL fails in_range / in_set / matches
(a null can't be proven in-domain); `unique` counts surplus rows
(count − distinct count over non-null keys, so each duplicate group
of size g contributes g−1); `foreign_key` counts non-null keys with
no match in the dimension.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Expectation:
    name: str
    checked: Column  # 1/0 per row: participates in the rule's denominator
    violated: Column  # 1/0 per row


def _rule(name: str, violated: Column) -> Expectation:
    return Expectation(
        name=name,
        checked=F.lit(1).cast("long"),
        violated=violated.cast("long"),
    )


def not_null(col: str) -> Expectation:
    return _rule(f"not_null({col})", F.col(col).isNull().cast("int"))


def in_range(col: str, lo, hi) -> Expectation:
    c = F.col(col)
    return _rule(
        f"in_range({col},{lo},{hi})",
        (c.isNull() | (c < F.lit(lo)) | (c > F.lit(hi))).cast("int"),
    )


def in_set(col: str, values: tuple) -> Expectation:
    c = F.col(col)
    return _rule(
        f"in_set({col})",
        (c.isNull() | ~c.isin(*values)).cast("int"),
    )


def matches(col: str, pattern: str) -> Expectation:
    c = F.col(col)
    return _rule(
        f"matches({col})",
        (c.isNull() | ~c.rlike(pattern)).cast("int"),
    )


@dataclass(frozen=True)
class UniqueExpectation:
    name: str
    cols: tuple


def unique(*cols: str) -> UniqueExpectation:
    return UniqueExpectation(name=f"unique({','.join(cols)})", cols=tuple(cols))


@dataclass(frozen=True)
class ForeignKeyExpectation:
    name: str
    col: str
    dim: DataFrame
    dim_col: str


def foreign_key(col: str, dim: DataFrame, dim_col: str) -> ForeignKeyExpectation:
    return ForeignKeyExpectation(
        name=f"foreign_key({col}->{dim_col})", col=col, dim=dim, dim_col=dim_col
    )


def check(df: DataFrame, rules: list) -> DataFrame:
    """Evaluate all rules; returns (rule, n_checked, n_violations,
    passed) — one row per rule, deterministic content (row order is
    up to the consumer, as everywhere in the engine)."""
    row_rules = [r for r in rules if isinstance(r, Expectation)]
    uniq_rules = [r for r in rules if isinstance(r, UniqueExpectation)]
    fk_rules = [r for r in rules if isinstance(r, ForeignKeyExpectation)]
    if not (row_rules or uniq_rules or fk_rules):
        raise ValueError("no expectations given")

    # Fold FK rules into the same single fact scan: broadcast-left-join
    # each deduped dim key set with a match marker, then count misses as
    # conditional sums beside the row predicates. The join is key-deduped
    # so row multiplicity (and every other rule's counts) is unchanged.
    work = df
    fk_markers = []
    for k, r in enumerate(fk_rules):
        # marker name guaranteed absent from the fact's columns: a
        # user fact already carrying __fk_hit_k would make the marker
        # reference ambiguous and fail check() (ADVICE r12 #1)
        marker = f"__fk_hit_{k}"
        while marker in df.columns:
            marker += "_"
        dim_keys = (
            r.dim.select(F.col(r.dim_col).alias(r.col))
            .dropDuplicates()
            .withColumn(marker, F.lit(True))
        )
        work = work.join(F.broadcast(dim_keys), r.col, "left")
        fk_markers.append(marker)

    parts = []
    aggs = []
    # F.sum over zero rows is NULL; an empty batch is a routine gate
    # input and a NULL `passed` falls out of both `passed` and
    # `NOT passed` filters, so coalesce every sum to 0 — an empty
    # table reports (0, 0, passed=true) for every rule.
    for i, r in enumerate(row_rules):
        aggs.append(F.coalesce(F.sum(r.checked), F.lit(0)).alias(f"c{i}"))
        aggs.append(F.coalesce(F.sum(r.violated), F.lit(0)).alias(f"v{i}"))
    for j, r in enumerate(uniq_rules):
        key_ok = F.lit(True)
        for c in r.cols:
            key_ok = key_ok & F.col(c).isNotNull()
        aggs.append(
            F.coalesce(F.sum(key_ok.cast("long")), F.lit(0)).alias(f"uc{j}")
        )
        aggs.append(
            F.count_distinct(*[F.col(c) for c in r.cols]).alias(f"ud{j}")
        )
    for k, r in enumerate(fk_rules):
        key_present = F.col(r.col).isNotNull()
        aggs.append(
            F.coalesce(F.sum(key_present.cast("long")), F.lit(0)).alias(f"fc{k}")
        )
        aggs.append(
            F.coalesce(
                F.sum(
                    (key_present & F.col(fk_markers[k]).isNull()).cast("long")
                ),
                F.lit(0),
            ).alias(f"fv{k}")
        )
    if aggs:
        one = work.agg(*aggs)
        structs = [
            F.struct(
                F.lit(r.name).alias("rule"),
                F.col(f"c{i}").alias("n_checked"),
                F.col(f"v{i}").alias("n_violations"),
            )
            for i, r in enumerate(row_rules)
        ] + [
            F.struct(
                F.lit(r.name).alias("rule"),
                F.col(f"uc{j}").alias("n_checked"),
                (F.col(f"uc{j}") - F.col(f"ud{j}")).alias("n_violations"),
            )
            for j, r in enumerate(uniq_rules)
        ] + [
            F.struct(
                F.lit(r.name).alias("rule"),
                F.col(f"fc{k}").alias("n_checked"),
                F.col(f"fv{k}").alias("n_violations"),
            )
            for k, r in enumerate(fk_rules)
        ]
        parts.append(
            one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn("passed", F.col("n_violations") == 0)
