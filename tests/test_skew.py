"""Skew mitigation tests: salted join ≡ plain join, heavy hitters."""

from __future__ import annotations

from pyspark.sql import functions as F

from algoritmos_etl_spark.operators import skew


def _skewed(spark):
    # 5000 rows of key 'hot' + 100 spread keys, small dim of 101 keys
    hot = spark.range(5000).select(
        F.lit("hot").alias("k"), F.col("id").alias("payload")
    )
    cold = spark.range(100).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"), F.col("id").alias("payload")
    )
    big = hot.union(cold)
    dim = spark.range(101).select(
        F.when(F.col("id") == 100, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), F.col("id")))
        .alias("k"),
        F.col("id").alias("dim_val"),
    )
    return big, dim


def test_salted_join_equals_plain_join(spark):
    big, dim = _skewed(spark)
    plain = big.join(dim, "k").select("k", "payload", "dim_val")
    salted = skew.salted_join(big, dim, on="k", n_salts=8).select(
        "k", "payload", "dim_val"
    )
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).isEmpty()
    assert plain.exceptAll(salted).isEmpty()

