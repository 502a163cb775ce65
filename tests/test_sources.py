"""Fixture-table readers: the pinned schemas and the nanos `ts` repair."""

from __future__ import annotations

import os

import pytest

from algoritmos_etl_spark.sources.readers import SCHEMAS, load_table

from conftest import SF_DIR

TESTDATA = os.path.dirname(SF_DIR)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_pinned_schemas_match_inferred(spark, sf):
    """Every pinned schema is exactly what Spark infers from the footer,
    nullability and array element nullability included."""
    for name in SCHEMAS:
        inferred = spark.read.parquet(f"{TESTDATA}/{sf}/{name}.parquet").schema
        assert load_table(spark, f"{TESTDATA}/{sf}", name).schema == inferred, name


def test_load_table_launches_no_jobs(spark):
    """Every pinned table loads without a footer-inference job."""
    sc = spark.sparkContext
    sc.setJobGroup("load-table", "load-table")
    try:
        for name in SCHEMAS:
            load_table(spark, SF_DIR, name)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    assert list(sc.statusTracker().getJobIdsForGroup("load-table")) == []


def test_load_table_reads_nanos_events(spark, tmp_path):
    """An `events` file that stores ts as TIMESTAMP(NANOS) loads to the
    same rows as the µs fixture it was written from."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(f"{SF_DIR}/events.parquet")
    ts = table.schema.get_field_index("ts")
    nanos = table.set_column(ts, "ts", table.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(nanos, tmp_path / "events.parquet")

    got = load_table(spark, str(tmp_path), "events")
    want = load_table(spark, SF_DIR, "events")
    assert dict(got.dtypes)["ts"] == "timestamp"
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
