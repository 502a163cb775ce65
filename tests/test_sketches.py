"""Count-min and Bloom semi-join: estimation guarantees, pruning
correctness, and the no-shuffle plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from algoritmos_etl_spark.operators import sketches
from algoritmos_etl_spark.operators.text import words_col
from algoritmos_etl_spark.sources.readers import load_table

SF_DIR = "/root/testdata/sf0.001"


def _words(spark):
    docs = load_table(spark, SF_DIR, "documents")
    return docs.select(F.explode(words_col(F.col("text"))).alias("word"))


def test_count_min_never_undercounts(spark):
    """The defining CM guarantee: estimate >= true count for EVERY
    item, at any width — checked at a deliberately tight width so
    collisions actually occur."""
    words = _words(spark)
    sketch = sketches.count_min_build(words, "word", depth=4, width=64)
    exact = words.groupBy("word").agg(F.count(F.lit(1)).alias("exact_n"))
    est = sketches.count_min_estimate(
        sketch, exact.select("word"), "word", depth=4, width=64
    )
    joined = exact.join(est, "word").collect()
    assert joined
    assert all(r.cm_n >= r.exact_n for r in joined)
    # width 64 over a real vocabulary MUST collide somewhere — the
    # guarantee is one-sided, not an accident of no collisions
    assert any(r.cm_n > r.exact_n for r in joined)


def test_count_min_bounded_cells_and_absent_items(spark):
    words = _words(spark)
    sketch = sketches.count_min_build(words, "word", depth=4, width=1024)
    assert sketch.count() <= 4 * 1024
    ghost = words.sparkSession.createDataFrame(
        [("zzz-not-a-word-zzz",)], "word string"
    )
    est = sketches.count_min_estimate(sketch, ghost, "word").collect()
    # an item that never occurred can still collide into counted cells,
    # but with an empty cell anywhere the min coalesces to >= 0
    assert est[0].cm_n >= 0


def test_bloom_semi_join_is_a_lossless_prune(spark):
    lineitem = load_table(spark, SF_DIR, "lineitem")
    part = load_table(spark, SF_DIR, "part")
    keys = part.filter(F.col("p_size") == 15)
    pruned = sketches.bloom_semi_join(lineitem, keys, "l_partkey", "p_partkey")
    true_semi = lineitem.join(
        keys.select(F.col("p_partkey").alias("l_partkey")).distinct(),
        "l_partkey",
        "left_semi",
    )
    n_all, n_pruned, n_true = lineitem.count(), pruned.count(), true_semi.count()
    # no false negatives: every true match survives the prune
    lost = true_semi.join(pruned.select("l_orderkey", "l_linenumber"),
                          ["l_orderkey", "l_linenumber"], "left_anti")
    assert lost.count() == 0
    assert n_pruned >= n_true
    assert n_pruned < n_all  # and it actually prunes


def test_bloom_semi_join_plan_never_shuffles_big_side(spark):
    """Every bloom stage must be a broadcast left-semi join — the whole
    point is zero fact-table shuffle before the real join."""
    lineitem = load_table(spark, SF_DIR, "lineitem")
    part = load_table(spark, SF_DIR, "part")
    keys = part.filter(F.col("p_size") == 15)
    pruned = sketches.bloom_semi_join(lineitem, keys, "l_partkey", "p_partkey")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LeftSemi") == sketches.BLOOM_HASHES
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_registered_bloom_query_matches_plain_join(spark):
    """The registered query's contract: bloom prune + real join ==
    plain join, row for row."""
    from algoritmos_etl_spark.driver_queries import REGISTRY

    got = REGISTRY["bloom_join_prune"].build(spark, SF_DIR).collect()
    lineitem = load_table(spark, SF_DIR, "lineitem")
    part = load_table(spark, SF_DIR, "part")
    plain = (
        lineitem.join(
            part.filter(F.col("p_size") == 15).select("p_partkey", "p_brand"),
            lineitem.l_partkey == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .collect()
    )
    key = lambda r: r.p_brand  # noqa: E731
    assert sorted(got, key=key) == sorted(plain, key=key)
