"""Scalar function surface (SURVEY.md §2.8, F1-F10).

The reference's scalar helpers map almost one-to-one onto built-in
`pyspark.sql.functions` — this module pins the exact semantics each
call site relies on, so the parity is explicit and testable rather than
implied:

- F1 date ↔ unix ts         (`etl/data_fetcher.py:37-53`)
- F2 date components        (`main.py:163-166`)
- F4 float→cents ints       (`algorithms/sorting.py:331-337, 805-816`)
- F8 regression slope/intcpt (`static/js/similarity.js:220-231`)
- F9 arccos angle display   (`static/js/similarity.js:326`)

F3 (`log/sqrt/abs/round`) is used inline throughout the operators; F5/F6
(string suffix schema discovery, null-ish string predicates) are
obsolete by design — the long schema and real SQL NULLs remove the
problems they solved; F7 (pad lists) is ingestion-only; F10 (JSON
navigation) lives at the source edge (`spark.read.json` schema-on-read).

Everything here is JVM-side expression work — these helpers never leave
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import store


def one_partition(col: Column) -> Column:
    """All-zero NON-FOLDABLE partition key for windows that are
    deliberately single-partition (bounded inputs: one symbol pair's
    dates, a distinct-key offsets table, a trading calendar).

    An empty partition spec triggers `WindowExec: No Partition Defined`
    warnings, and a foldable key is stripped by the optimizer (for
    non-nullable inputs even `col * 0` constant-folds) — so the key
    must depend on a column while still evaluating to a constant.
    `pmod(hash(col), 1)` is 0 for every row (hash is total: any type,
    NULL included) and Catalyst has no pmod-by-one simplification, so
    it survives to the physical plan as an explicit hashpartitioning
    exchange. Pinned by `test_plans.py::test_single_key_sort_rank_
    distributes` — if a future Spark folds it, that test catches the
    regression.
    """
    return F.pmod(F.hash(col), F.lit(1))


def date_to_unix(date: Column) -> Column:
    """F1: date → unix seconds (UTC midnight, matching the reference's
    `datetime.timestamp()` on UTC-naive dates)."""
    return F.unix_timestamp(date.cast("timestamp"))


def date_parts(df: DataFrame) -> DataFrame:
    """F2: year/month/day extraction from `date` (the reference slices
    the ISO string; DateType makes these native)."""
    d = F.col("date")
    return df.withColumns(
        {
            "year": F.year(d),
            "month": F.month(d),
            "day": F.dayofmonth(d),
        }
    )


def cents(price: Column) -> Column:
    """F4: float price → integer cents (`int(round(v*100))` in the
    reference). Divergence pinned here: Python's round() banker-rounds
    exact .5 cents while `F.round` rounds half-up (as DuckDB does);
    the reference only uses cents as sort keys, where any consistent
    total order is equivalent — so we standardize on half-up."""
    return F.round(price * 100, 0).cast("long")


def fixed6(col: Column) -> Column:
    """floor(x·10⁶ + 0.5) as BIGINT — the shared cross-engine DECISION
    grain at 6 decimals (the PSI q4 quantizer's precision-matched
    sibling). Use it wherever a float ORDERS or CLASSIFIES rows whose
    emitted form is round(x, 6): Spark and DuckDB aggregate floats
    with last-ulp differences, and with enough rows (the 100× notch's
    150k symbols) an ulp WILL land between two ranks or exactly on a
    threshold. The quantizer is pure IEEE arithmetic — bit-identical
    in numpy/Spark/DuckDB — so decisions made on it agree everywhere
    the displayed values do. DuckDB twin: floor(x * 1000000 + 0.5)."""
    return F.floor(col * 1_000_000 + F.lit(0.5)).cast("long")


def regression_line(df: DataFrame, y: str, x: str) -> DataFrame:
    """F8: least-squares slope/intercept — the scatter-plot regression
    the reference computes client-side in JS. Built-in
    `regr_slope`/`regr_intercept` (Spark 3.4+), one aggregation pass."""
    return df.agg(
        F.regr_slope(F.col(y), F.col(x)).alias("slope"),
        F.regr_intercept(F.col(y), F.col(x)).alias("intercept"),
        F.regr_r2(F.col(y), F.col(x)).alias("r2"),
        F.regr_count(F.col(y), F.col(x)).alias("n"),
    )


# Per-SparkContext memo of reusable unresolved Column trees (r13):
# large constant expression families (the 16-permutation minhash
# aggregates, the 64 simhash vote sums, the PSL literal-set flags)
# cost 0.2-1.3 s of py4j round trips to CONSTRUCT, and several hot
# queries rebuilt them on every invocation.
def ctx_memo(tag, build):
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:  # no active context — nothing to pin the handles to
        return build()
    return store.value(sc, "ctx_memo", tag, build)
