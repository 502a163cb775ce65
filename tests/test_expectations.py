"""Expectation-suite semantics on adversarial synthetic inputs."""

from __future__ import annotations

import pytest


from algoritmos_etl_spark.operators import expectations as E


@pytest.fixture(scope="module")
def tbl(spark):
    return spark.createDataFrame(
        [
            # id, key, amount, status
            (1, 10, 50.0, "O"),
            (2, 10, -1.0, "F"),  # in_range violation; duplicate key
            (3, None, 150.0, "X"),  # null key; bad status
            (4, 20, None, "O"),  # null amount fails in_range
            (5, 30, 99.0, None),  # null status fails in_set
            (6, 10, 100.0, "P"),  # triplicate key
        ],
        "id long, key long, amount double, status string",
    )


def _report(df, rules):
    return {r.rule: r for r in E.check(df, rules).collect()}


def test_row_rules_null_semantics(tbl):
    rep = _report(
        tbl,
        [
            E.not_null("key"),
            E.in_range("amount", 0, 100),
            E.in_set("status", ("O", "F", "P")),
        ],
    )
    r = rep["not_null(key)"]
    assert (r.n_checked, r.n_violations, r.passed) == (6, 1, False)
    r = rep["in_range(amount,0,100)"]
    # -1 out of range, 150 out of range, NULL fails
    assert (r.n_checked, r.n_violations, r.passed) == (6, 3, False)
    r = rep["in_set(status)"]
    # 'X' and NULL fail
    assert (r.n_checked, r.n_violations, r.passed) == (6, 2, False)


def test_unique_counts_surplus_rows_over_nonnull_keys(tbl):
    rep = _report(tbl, [E.unique("key"), E.unique("id")])
    r = rep["unique(key)"]
    # 5 non-null keys, 3 distinct → 2 surplus (the g−1 rule: group of 3
    # contributes 2)
    assert (r.n_checked, r.n_violations, r.passed) == (5, 2, False)
    r = rep["unique(id)"]
    assert (r.n_checked, r.n_violations, r.passed) == (6, 0, True)


def test_foreign_key_ignores_nulls_counts_misses(tbl, spark):
    dim = spark.createDataFrame([(10,), (20,)], "k long")
    rep = _report(tbl, [E.foreign_key("key", dim, "k")])
    r = rep["foreign_key(key->k)"]
    # 5 non-null keys checked; key=30 misses (once)
    assert (r.n_checked, r.n_violations, r.passed) == (5, 1, False)


def test_matches_counts_pattern_misses(tbl):
    rep = _report(tbl, [E.matches("status", "^[OF]$")])
    r = rep["matches(status)"]
    # P, X, NULL fail the [OF] pattern
    assert (r.n_checked, r.n_violations) == (6, 3)


def test_single_pass_plan_shape(tbl):
    """All row + unique rules must land in ONE aggregation over the
    table — a scan per rule would be the 100 TB anti-pattern."""
    out = E.check(
        tbl,
        [
            E.not_null("key"),
            E.in_range("amount", 0, 100),
            E.unique("key"),
        ],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one scan of the (in-memory) relation in the physical plan
    n_scans = plan.count("LocalTableScan") + plan.count("Scan ExistingRDD")
    assert n_scans == 1, plan


def test_fk_rides_the_single_fact_scan(tbl, spark):
    """FK rules fold into the same aggregation via a broadcast-marker
    join: the fact relation is scanned ONCE total (plus one scan of the
    dim), not once per FK arm (r12 optimization)."""
    dim = spark.createDataFrame([(10,), (20,)], "k long")
    out = E.check(
        tbl,
        [
            E.not_null("key"),
            E.unique("key"),
            E.foreign_key("key", dim, "k"),
        ],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # exactly two relation scans: the fact once, the dim once
    n_scans = plan.count("LocalTableScan") + plan.count("Scan ExistingRDD")
    assert n_scans == 2, plan
    # and the values are unchanged from the multi-scan formulation
    rep = {r.rule: r for r in out.collect()}
    r = rep["foreign_key(key->k)"]
    assert (r.n_checked, r.n_violations, r.passed) == (5, 1, False)


def test_empty_rules_raise(tbl):
    with pytest.raises(ValueError):
        E.check(tbl, [])
