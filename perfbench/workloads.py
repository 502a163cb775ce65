"""Workload definitions: which operations one pass runs, and how the
seed turns into an order of operations and a choice of API symbols.

The seed never changes how much work a pass does: it permutes the
order of the operations within each pass and picks which of the first
N_SYMBOLS symbols the per-symbol API routes ask for.
"""

from __future__ import annotations

import random

from measure import pass_order

# The repo's fixed, read-only fixture tables (see TESTDATA.md).
TESTDATA = "/root/testdata"

# Batch user: registry queries built and fully materialized at sf0.1.
# correlation_heatmap is execution-bound (Arrow/BLAS); textrank_keywords
# is the iterative family, bound by plan construction. dominant_suppliers
# and then streaming_cdc_state were cut to keep the benchmark's series of
# runs inside its time budget (NOTES.md).
BATCH_OPS = ["correlation_heatmap", "textrank_keywords"]

# Analyst: the six /api routes of serve.JsonApi.dispatch at sf0.001. At
# sf0.01 a run took 77-82 s on a 4-vCPU host in a phase of heavy CPU
# steal, past its share of the benchmark's total time budget; the routes
# are bound by fixed per-request costs at either scale.
API_ROUTES = ["symbols", "similarity", "heatmap", "candlestick", "patterns", "risk"]

# Symbols the per-symbol routes draw from: the first N of /api/symbols
# (all 15 at sf0.001).
N_SYMBOLS = 15

WORKLOADS = {
    "batch_sf01": {"sf": "sf0.1", "ops": BATCH_OPS},
    "api_session": {"sf": "sf0.001", "ops": API_ROUTES},
}

# Seconds of --seconds one warm pass stands for, in both workloads.
PASS_S = 15


def warm_passes(seconds: int) -> int:
    """Fixed warm-pass count for a run of `seconds`: a function of the
    argument only, never of how fast the host happens to be."""
    return max(1, seconds // PASS_S)


def orders(workload: str, seed: int, n_passes: int) -> list[list[str]]:
    return pass_order(WORKLOADS[workload]["ops"], seed, n_passes)


def symbol_index(seed: int) -> int:
    """Index into the first N_SYMBOLS symbols for this seed's requests."""
    return random.Random(f"symbols-{seed}").randrange(N_SYMBOLS)


def api_request(route: str, symbols: list[int], idx: int) -> tuple[str, dict]:
    """(path, query) of one route. similarity asks for a distinct pair:
    a == b raises IndexError inside serve.py."""
    sym = symbols[idx]
    if route == "similarity":
        other = symbols[(idx + 1) % len(symbols)]
        return "/api/similarity", {"a": str(sym), "b": str(other)}
    if route in ("candlestick", "patterns"):
        return f"/api/{route}/{sym}", {}
    return f"/api/{route}", {}


def request_key(path: str, query: dict) -> str:
    """Key of a request in the pinned digest table."""
    if not query:
        return path
    return path + "?" + "&".join(f"{k}={query[k]}" for k in sorted(query))
