"""Sources: schema-explicit parquet readers + the canonical bars model.

Reference parity (see SURVEY.md §2.1): the reference ingests columnar
JSON from an HTTP API (`etl/data_fetcher.py:256-283`), persists a wide
CSV (`etl/etl_pipeline.py:270-281`), and re-loads it with `csv.DictReader`
(`main.py:84-98`). Here the engine-internal model is a **long/tidy**
DataFrame (SURVEY.md §7.1) and the storage format is parquet — columnar,
splittable, predicate-pushdown-able — which is what you want at 100 TB.

Scale notes:
- Explicit schemas for every fixed-layout table: schema inference is an
  extra pass at cluster scale and non-deterministic under schema drift.
- `events.parquet` may carry TIMESTAMP(NANOS), which Spark's parquet
  reader rejects; we read it as raw nanos (``nanosAsLong``) and convert
  to microsecond TimestampType in one JVM-side expression — no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The fixture tables' schemas, equal to what Spark infers from the
# parquet footers at every scale (pinned by
# `test_sources.py::test_pinned_schemas_match_inferred`). Reading with
# them skips the footer-inference job `spark.read.parquet` runs per call.
# `events` is left to inference: its `ts` is TIMESTAMP(NANOS) in some
# testdata generations and µs in others, and `nanosAsLong` inference
# reads either; the bars-based queries load it once per session
# (`session_bars`), so its footer read is not on their warm path.
SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, "
    "p_size int, p_retailprice double",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
    "l_linenumber int, l_quantity double, l_extendedprice double, "
    "l_discount double, l_tax double, l_returnflag string, "
    "l_linestatus string, l_shipdate timestamp_ntz",
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}
TABLE_NAMES = (*SCHEMAS, "events")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table with its pinned schema; `events` is inferred
    and gets its nanos→µs timestamp repair."""
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        return with_event_time(spark.read.parquet(path))
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def with_event_time(events: DataFrame) -> DataFrame:
    """Convert raw nanosecond `ts` (read as long) to TimestampType.

    Integer division truncates toward zero — identical to how DuckDB/
    Arrow truncate ns to µs when surfacing Python datetimes, so oracle
    comparisons line up exactly.
    """
    ts_type = dict(events.dtypes).get("ts")
    if ts_type == "bigint":
        # `ts div 1000`, NOT `ts / 1000`: `/` is double division and
        # epoch-nanos (~1.7e18) exceed double's 53-bit mantissa, so the
        # float path lands up to ±1 µs off. DIV is exact long division.
        events = events.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Streaming watermarks demand TIMESTAMP (LTZ). The session is
        # pinned to UTC, so interpreting the NTZ wall clock in session
        # time is a micros-exact relabel, not a conversion.
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events


def daily_bars(events: DataFrame) -> DataFrame:
    """events → canonical per-symbol daily OHLCV bars (long format).

    This is the driver-table incarnation of the reference's per-asset
    daily bar rows (`etl/data_fetcher.py:228-239`; FIXTURES.md F7):
    `user_id`→symbol, `date(ts)`→date, last value of the day→close,
    first→open, max/min→high/low, event count→volume.

    One shuffle on (symbol, date); partial aggregation happens map-side.
    At 100 TB the groupBy key has daily cardinality × users — high enough
    to spread evenly, no skew mitigation needed.
    """
    return (
        events.groupBy(
            F.col("user_id").alias("symbol"), F.to_date("ts").alias("date")
        )
        .agg(
            F.min_by("value", "event_id").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "event_id").alias("close"),
            F.count(F.lit(1)).alias("volume"),
        )
    )


# DuckDB twin of daily_bars(), shared by every oracle query that starts
# from bars. Kept textually here so the Spark builder and its oracle
# stay in one reviewable place.
ORACLE_BARS_CTE = """
bars AS (
    SELECT user_id AS symbol,
           CAST(ts AS DATE) AS date,
           min_by(value, event_id) AS open,
           max(value) AS high,
           min(value) AS low,
           max_by(value, event_id) AS close,
           count(*) AS volume
    FROM events
    GROUP BY user_id, CAST(ts AS DATE)
)
"""
