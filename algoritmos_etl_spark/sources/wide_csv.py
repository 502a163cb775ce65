"""S3/F5/F6: re-ingest the reference's wide master CSV.

The reference's canonical artifact is `data/dataset_maestro.csv` — one
row per date, `{SYMBOL}_{Field}` columns — written by Python `csv`
with literal `"None"` strings for missing cells (`etl/
data_unifier.py`), and re-read everywhere through two helpers this
module re-expresses relationally:

- F5 suffix schema discovery (`app.py:80-85`, `main.py:84-98`): the
  symbol universe is whatever `_close`-suffixed columns the header
  holds — no side-channel catalog. `alignment.wide_to_long` performs
  the same scan on the DataFrame header.
- F6 string-null predicate (`app.py:93-97`): a cell is missing iff it
  is the literal string `None` or empty. Spark's CSV reader only maps
  `""` to NULL for typed columns, so the read stays `string` and the
  predicate is applied explicitly BEFORE the numeric cast — otherwise
  `None` cells become cast failures (NULL under non-ANSI, error under
  ANSI) indistinguishable from corrupt data.

Everything is one projection pass (header-driven, JVM-only) feeding
the standard melt; the long model comes out exactly as if the data had
arrived through the parquet path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.alignment import wide_to_long

NULL_STRINGS = ("None", "")

FIELD_TYPES = {
    "open": "double",
    "high": "double",
    "low": "double",
    "close": "double",
    "volume": "long",
}


def string_null(col: F.Column) -> F.Column:
    """F6: the reference's missing-cell predicate — literal 'None' or
    empty string (after trim) means NULL."""
    t = F.trim(col)
    return F.when(t.isin(*NULL_STRINGS), F.lit(None)).otherwise(col)


def read_wide_csv(spark: SparkSession, path: str) -> DataFrame:
    """Wide master CSV → the engine's long bars model.

    Reads header-first with every column as `string`, applies the F6
    null predicate, casts each `{symbol}_{field}` column by its field's
    type, and melts via the F5 suffix scan in `wide_to_long`. The date
    header matches case-insensitively, as Spark's resolver does: the
    reference writes `Date`, the engine's own export `date`. Column
    count is 1 + symbols×fields (bounded by the export that wrote it);
    rows scale with the calendar, so the single explode-melt pass is
    the whole ingest cost.
    """
    raw = spark.read.option("header", True).csv(path)
    cols = [F.col("date").cast("date").alias("date")]
    for c in raw.columns:
        if c.lower() == "date":
            continue
        # the reference writes `{SYM}_Close` (capitalized field); the
        # engine's own export writes `{sym}_close` — normalize the
        # FIELD suffix (after the last underscore) to lowercase so the
        # F5 suffix scan sees one convention
        sym, _, field = c.rpartition("_")
        field = field.lower()
        if not sym or field not in FIELD_TYPES:
            # a header without `{symbol}_{known field}` shape (no
            # underscore → empty symbol, or an unknown suffix) is not
            # part of the wide model — fail loudly rather than letting
            # a '_close' phantom symbol flow into the suffix scan
            raise ValueError(
                f"wide CSV column {c!r} is not '{{symbol}}_{{field}}' "
                f"with field in {sorted(FIELD_TYPES)} (or the date column)"
            )
        cols.append(
            string_null(F.col(c)).cast(FIELD_TYPES[field]).alias(f"{sym}_{field}")
        )
    return wide_to_long(raw.select(*cols))
