"""graph.pagerank / textrank_keywords vs a pure-Python reference."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from algoritmos_etl_spark.operators import graph
from conftest import SF_DIR


def _py_pagerank(edges, iterations=graph.ITERATIONS):
    """Reference: same integer fixed-point recurrence, plain dicts."""
    from collections import defaultdict

    w = defaultdict(int)
    for u, v, n in edges:
        w[(u, v)] += n
    wu = defaultdict(int)
    for (u, _v), n in w.items():
        wu[u] += n
    nodes = {u for u, _ in w} | {v for _, v in w}
    r = {n: graph.SCALE for n in nodes}
    base = (15 * graph.SCALE) // 100
    for _ in range(iterations):
        inflow = defaultdict(int)
        for (u, v), n in w.items():
            inflow[v] += (r[u] // wu[u]) * n + ((r[u] % wu[u]) * n) // wu[u]
        r = {n: base + (85 * inflow[n]) // 100 for n in nodes}
    return r


def test_pagerank_matches_python_reference(spark):
    edges = [
        ("a", "b", 3), ("b", "a", 3),       # strong mutual pair
        ("c", "a", 1), ("d", "a", 1),       # star into a
        ("a", "c", 1), ("a", "d", 1),
        ("d", "e", 2), ("e", "d", 2),
        ("f", "f2", 1), ("f2", "f", 1),     # separate component
    ]
    df = spark.createDataFrame(edges, "u string, v string, w long")
    rows = graph.pagerank(df).collect()
    got = {r.node: r.rank_e12 for r in rows}
    assert got == _py_pagerank(edges)
    # the hub must outrank leaves
    assert got["a"] > got["c"] and got["a"] > got["f"]
    # degrees are distinct-neighbour counts over the aggregated edges
    out_nb, in_nb = {n: set() for n in got}, {n: set() for n in got}
    for u, v, _w in edges:
        out_nb[u].add(v)
        in_nb[v].add(u)
    assert {r.node: (r.n_out, r.n_in) for r in rows} == {
        n: (len(out_nb[n]), len(in_nb[n])) for n in got
    }


def test_pagerank_symmetric_cycle_is_uniform(spark):
    n = 5
    edges = [(str(i), str((i + 1) % n), 1) for i in range(n)]
    edges += [(str((i + 1) % n), str(i), 1) for i in range(n)]
    df = spark.createDataFrame(edges, "u string, v string, w long")
    ranks = {r.rank_e12 for r in graph.pagerank(df).collect()}
    assert len(ranks) == 1  # perfect symmetry → identical integer ranks


def test_pagerank_dangling_node_keeps_base_rank(spark):
    # v has no out-edges: it receives mass but redistributes none
    df = spark.createDataFrame(
        [("u", "v", 1), ("w", "u", 1), ("u", "w", 1)],
        "u string, v string, w long",
    )
    got = {r.node: r.rank_e12 for r in graph.pagerank(df).collect()}
    assert got == _py_pagerank([("u", "v", 1), ("w", "u", 1), ("u", "w", 1)])


def test_pagerank_nonpositive_weights_dropped_not_divide_by_zero(spark):
    """Zero/negative summed weights are filtered at edge prep (the
    ANSI-hardening rule): ranks equal the graph with only the
    positive-weight edges, instead of a DIVIDE_BY_ZERO mid-iteration
    (wu = 0) or silently corrupted ranks."""
    df = spark.createDataFrame(
        [
            ("a", "b", 2), ("b", "a", 2),
            ("z", "a", 0),              # zero weight → dropped
            ("y", "b", 3), ("y", "b", -3),  # sums to 0 → dropped
            ("c", "a", 1), ("a", "c", 1),
        ],
        "u string, v string, w long",
    )
    got = {r.node: r.rank_e12 for r in graph.pagerank(df).collect()}
    assert got == _py_pagerank(
        [("a", "b", 2), ("b", "a", 2), ("c", "a", 1), ("a", "c", 1)]
    )
    assert "z" not in got and "y" not in got


def test_pagerank_null_endpoint_edges_dropped(spark):
    df = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 1), ("a", None, 5), (None, "b", 5)],
        "u string, v string, w long",
    )
    got = {r.node: r.rank_e12 for r in graph.pagerank(df).collect()}
    assert got == _py_pagerank([("a", "b", 1), ("b", "a", 1)])


@pytest.mark.parametrize(
    "w_ac",
    [
        2**62 - 1,  # wu(a) = 2^63 - 1 fits; (r mod wu)·w does not
        2**62,  # the out-weight sum wu(a) itself overflows
    ],
    ids=["product", "out_weight_sum"],
)
def test_pagerank_int64_overflow_raises(spark, w_ac):
    """An int64 overflow anywhere in the loop raises ARITHMETIC_OVERFLOW
    (Spark's ANSI error class); it never hands back wrapped ranks."""
    df = spark.createDataFrame(
        [("a", "b", 2**62), ("a", "c", w_ac), ("b", "a", 1), ("c", "a", 1)],
        "u string, v string, w long",
    )
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        graph.pagerank(df).collect()


def test_pagerank_empty_edge_list(spark):
    df = spark.createDataFrame([], "u string, v string, w long")
    out = graph.pagerank(df)
    assert out.columns == ["node", "rank_e12", "n_out", "n_in"]
    assert out.collect() == []


def _jobs_of(spark, group: str, fn):
    """(fn's result, number of Spark jobs fn launched), read from the
    status tracker through a job group of fn's own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", ["textrank_keywords", "host_pagerank"])
def test_graph_query_construction_is_constant(spark, name):
    """Building a PageRank query launches no more jobs than loading its
    input table does (the loop runs at collect, in one Arrow task), and
    its plan holds exactly one FlatMapGroupsInPandas."""
    from algoritmos_etl_spark.driver_queries import REGISTRY
    from algoritmos_etl_spark.sources import load_table

    build = REGISTRY[name].build
    build(spark, SF_DIR)  # land the session artifacts the query reads
    df, jobs = _jobs_of(
        spark, f"graph-build-{name}", lambda: build(spark, SF_DIR)
    )
    _, load_jobs = _jobs_of(
        spark,
        f"graph-load-{name}",
        lambda: load_table(spark, SF_DIR, "documents"),
    )
    assert jobs <= load_jobs, f"{name}: build() ran {jobs} jobs"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1, plan


def test_textrank_warm_build_launches_no_jobs(spark):
    """With the input read through a pinned schema (no footer-inference
    job), a warm build of the registered query is pure construction."""
    from algoritmos_etl_spark.driver_queries import REGISTRY

    build = REGISTRY["textrank_keywords"].build
    build(spark, SF_DIR)
    _, jobs = _jobs_of(spark, "textrank-warm-build", lambda: build(spark, SF_DIR))
    assert jobs == 0


def test_textrank_keywords_shape(spark, tables):
    out = graph.textrank_keywords(tables["documents"], top_k=10).collect()
    assert len(out) == 10
    ranks = [r.rank_e12 for r in out]
    assert ranks == sorted(ranks, reverse=True)
    assert all(r.n_edges >= 1 for r in out)
