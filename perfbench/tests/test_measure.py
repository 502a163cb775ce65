"""Tests of the benchmark's pure helpers (no JVM needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
from collections import Counter

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import measure  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def test_per_op_median_sum_takes_medians_before_summing():
    passes = [
        {"a": 1.0, "b": 10.0},
        {"a": 3.0, "b": 11.0},
        {"a": 2.0, "b": 90.0},  # one slow pass of b must not move its median
    ]
    assert measure.per_op_median_sum(passes) == pytest.approx(2.0 + 11.0)
    # the sum of per-op medians (2 + 2), not the median of the pass sums (6)
    passes = [{"a": 1.0, "b": 5.0}, {"a": 5.0, "b": 1.0}, {"a": 2.0, "b": 2.0}]
    assert measure.per_op_median_sum(passes) == pytest.approx(4.0)


def test_per_op_median_sum_skips_a_failed_op_in_its_pass():
    passes = [{"a": 1.0, "b": 4.0}, {"a": 3.0}]
    assert measure.per_op_median_sum(passes) == pytest.approx(2.0 + 4.0)


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_every_seed_runs_the_same_operations_per_pass(workload):
    ops = Counter(workloads.WORKLOADS[workload]["ops"])
    seen_orders = set()
    for seed in range(40):
        for order in workloads.orders(workload, seed, 4):
            assert Counter(order) == ops
            seen_orders.add(tuple(order))
    assert len(seen_orders) > 1  # the seed does reorder


def test_api_requests_use_distinct_pairs_from_the_first_symbols():
    symbols = list(range(100, 100 + workloads.N_SYMBOLS))
    for seed in range(50):
        idx = workloads.symbol_index(seed)
        path, query = workloads.api_request("similarity", symbols, idx)
        assert path == "/api/similarity"
        assert query["a"] != query["b"]
        assert {int(query["a"]), int(query["b"])} <= set(symbols)


def test_request_key_is_stable():
    assert workloads.request_key("/api/similarity", {"b": "2", "a": "1"}) == "/api/similarity?a=1&b=2"
    assert workloads.request_key("/api/risk", {}) == "/api/risk"


def _verify_local():
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(ROOT, "tools", "verify_local.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


SAMPLE_COLS = ["sym_b", "pearson", "sym_a", "label", "flag", "missing"]
SAMPLE_ROWS = [
    (2, 0.123456789012, 1, "x", True, None),
    (3, -0.0, 1, "y", False, None),
    (5, float("nan"), 4, "z|w", True, 7),
    (2, 1e-12, 0, "", False, 1.5),
]


def test_table_digest_matches_the_correctness_gate():
    ref = _verify_local().table_digest
    assert measure.table_digest(SAMPLE_COLS, SAMPLE_ROWS) == ref(SAMPLE_COLS, SAMPLE_ROWS)
    rev = list(reversed(SAMPLE_ROWS))
    assert measure.table_digest(SAMPLE_COLS, rev) == ref(SAMPLE_COLS, SAMPLE_ROWS)


def test_json_digest_ignores_row_order_but_not_values():
    a = {"pairs": [{"sym_a": 0, "sym_b": 1, "p": 0.5}, {"sym_a": 0, "sym_b": 2, "p": 0.25}]}
    b = {"pairs": list(reversed(a["pairs"]))}
    c = {"pairs": [{"sym_a": 0, "sym_b": 1, "p": 0.5}, {"sym_a": 0, "sym_b": 2, "p": 0.26}]}
    assert measure.json_digest(a) == measure.json_digest(b)
    assert measure.json_digest(a) != measure.json_digest(c)
    assert measure.json_digest({"gap_dates": ["b", "a"]}) != measure.json_digest({"gap_dates": ["a", "b"]})


def test_rss_reader(tmp_path):
    status = tmp_path / "status"
    status.write_text("Name:\tpython3\nVmPeak:\t 999 kB\nVmRSS:\t  204800 kB\nThreads:\t1\n")
    assert measure.rss_mb(str(status)) == pytest.approx(200.0)
    assert measure.rss_mb() > 1.0
    status.write_text("Name:\tpython3\n")
    with pytest.raises(ValueError):
        measure.rss_mb(str(status))


def test_steal_reader(tmp_path):
    hz = os.sysconf("SC_CLK_TCK")
    stat = tmp_path / "stat"
    stat.write_text(
        f"cpu  100 0 50 900 3 0 7 {5 * hz} 0 0\ncpu0 50 0 25 450 1 0 3 {2 * hz} 0 0\nintr 1\n"
    )
    assert measure.steal_seconds(str(stat)) == pytest.approx(5.0)
    assert measure.steal_seconds() >= 0.0


def test_union_seconds_counts_overlap_once():
    assert measure.union_seconds([]) == 0.0
    assert measure.union_seconds([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert measure.union_seconds([(5, 6), (0, 10)]) == pytest.approx(10.0)


def test_benchmark_json_lists_the_metrics_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
