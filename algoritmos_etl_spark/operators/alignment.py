"""Calendar construction + alignment + wide pivot.

Reference parity (SURVEY.md §2.3):
- J1 `build_master_calendar`     — `etl/data_unifier.py:14-70`
- J2 `align_assets_to_calendar`  — `etl/data_unifier.py:73-154`
- J3 `build_master_dataset`      — `etl/data_unifier.py:157-223`

The reference hand-rolls a set-union + insertion sort and a per-asset
dict-probe left join; relationally these are `distinct`, a broadcast
LEFT JOIN, and a pivot. The calendar (one row per trading day) is tiny
at any data scale — broadcast it, never shuffle the fact table for it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def align_to_calendar(df: DataFrame) -> DataFrame:
    """Every (symbol, calendar-date) pair; missing days → null OHLCV (J2).

    calendar × symbols is a cross join of two broadcast-sized distinct
    sets (days × assets — thousands, not billions, even at 100 TB of
    raw events), then a LEFT JOIN back to the bars. Spark plans the
    probe side as the big table; the build side stays broadcast.
    """
    calendar = df.select("date").distinct()
    symbols = df.select("symbol").distinct()
    scaffold = calendar.crossJoin(symbols)
    return scaffold.join(df, ["symbol", "date"], "left")


BAR_FIELDS = ("open", "high", "low", "close", "volume")


def to_wide(df: DataFrame, symbols: Sequence[str] | None = None) -> DataFrame:
    """Pivot long bars to the reference's wide master table (J3).

    Output: one row per date, columns `{symbol}_{field}` — the shape of
    `data/dataset_maestro.csv` (1 + 5k columns). Passing the symbol
    list explicitly skips Spark's extra distinct-collection job and
    keeps the plan deterministic; wide export is an edge format only
    (SURVEY.md §7.1) — engine internals stay long.
    """
    pivoted = (
        df.groupBy("date")
        .pivot("symbol", list(symbols) if symbols is not None else None)
        .agg(*[F.first(f).alias(f) for f in BAR_FIELDS])
    )
    return pivoted


def wide_to_long(wide: DataFrame) -> DataFrame:
    """Inverse of `to_wide`: melt `{symbol}_{field}` columns back to the
    long model (S3 parity — re-ingesting the reference's wide CSV).

    One projection + explode of per-symbol structs: row count multiplies
    by k in the explode, but no shuffle and no Python. Symbols are
    discovered from the header exactly like the reference's `_Close`
    suffix scan (`app.py:80-85`).
    """
    symbols = sorted(
        {c[: -len("_close")] for c in wide.columns if c.endswith("_close")}
    )
    structs = [
        F.struct(
            F.lit(s).alias("symbol"),
            *[F.col(f"{s}_{f}").alias(f) for f in BAR_FIELDS],
        )
        for s in symbols
    ]
    exploded = wide.select(
        "date", F.explode(F.array(*structs)).alias("r")
    )
    return exploded.select("date", "r.*")
