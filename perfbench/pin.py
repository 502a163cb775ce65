"""Pin the output digests the benchmark checks every run against.

    SPARK_GRAFT_DRIVER_MEM=4g python3 perfbench/pin.py

Every pinned digest is first proven against the repo's DuckDB oracles:

- each batch operation at sf0.1 must hash-equal its registry oracle
  (the same comparison tools/verify_local.py makes);
- /api/risk, /api/heatmap and /api/similarity at the API workload's
  scale are cross-checked against the risk_classification,
  correlation_heatmap and pair_metrics oracles on the columns they
  share.

Only then is perfbench/digests.json rewritten. Exits non-zero on any
mismatch.
"""

from __future__ import annotations

import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

import duckdb  # noqa: E402
from verify_local import TABLES, table_digest  # noqa: E402

import workloads  # noqa: E402
from measure import json_digest  # noqa: E402

# Every batch operation of the workload's full list, cut ones included,
# so putting one back needs no re-pin.
PIN_BATCH = ["correlation_heatmap", "dominant_suppliers", "textrank_keywords", "streaming_cdc_state"]


def oracle(sf_dir: str, name: str):
    from algoritmos_etl_spark.driver_queries import REGISTRY

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    rel = con.sql(REGISTRY[name].oracle)
    return [d[0] for d in rel.description], rel.fetchall()


def project(cols, rows, keep):
    idx = [cols.index(c) for c in keep]
    return [tuple(_r6(r[i]) for i in idx) for r in rows]


def _r6(v):
    return round(v, 6) if isinstance(v, float) else v


def heatmap_emission(pairs: list[dict], min_abs: float, top_k: int) -> list[tuple]:
    """The registered heatmap's sparsified emission, applied in Python to
    the route's full pair list: |corr| >= τ and each symbol's top-k
    partners, both decided on the 4-decimal grain."""
    def q4(p):
        return math.floor(p * 10000 + 0.5)

    kept = [p for p in pairs if abs(q4(p["pearson"])) >= min_abs * 10000]
    directed: dict[int, list] = {}
    for p in kept:
        directed.setdefault(p["sym_a"], []).append((p["sym_b"], p))
        directed.setdefault(p["sym_b"], []).append((p["sym_a"], p))
    out = {}
    for sym, partners in directed.items():
        partners.sort(key=lambda op: (-q4(op[1]["pearson"]), op[0]))
        for other, p in partners[:top_k]:
            key = (min(sym, other), max(sym, other))
            out[key] = (key[0], key[1], q4(p["pearson"]) / 10000.0, p["n_points"])
    return list(out.values())


def main() -> int:
    from algoritmos_etl_spark.driver_queries import HEATMAP_MIN_ABS_CORR, HEATMAP_TOP_K, REGISTRY
    from algoritmos_etl_spark.serve import JsonApi
    from algoritmos_etl_spark.session import get_spark

    spark = get_spark("perfbench-pin", cpus=len(os.sched_getaffinity(0)))
    problems: list[str] = []
    pins: dict = {"batch_sf01": {}, "api_session": {"requests": {}}}

    sf01 = os.path.join(workloads.TESTDATA, workloads.WORKLOADS["batch_sf01"]["sf"])
    for q in PIN_BATCH:
        df = REGISTRY[q].build(spark, sf01)
        got = table_digest(df.columns, df.collect())
        want = table_digest(*oracle(sf01, q))
        if got != want:
            problems.append(f"{q}: spark {got[:12]} != oracle {want[:12]}")
        pins["batch_sf01"][q] = got
        print(f"[pin] {q} {got[:12]} (oracle {'ok' if got == want else 'MISMATCH'})", flush=True)

    sf_api = os.path.join(workloads.TESTDATA, workloads.WORKLOADS["api_session"]["sf"])
    api = JsonApi(spark, sf_api)
    requests = pins["api_session"]["requests"]

    def call(path, query):
        status, payload = api.dispatch(path, query)
        if status != 200:
            problems.append(f"{path} {query}: status {status}")
        requests[workloads.request_key(path, query)] = json_digest(payload)
        return payload

    symbols = call("/api/symbols", {})["symbols"][: workloads.N_SYMBOLS]
    pins["api_session"]["symbols"] = symbols

    risk = call("/api/risk", {})["assets"]
    keep = ["symbol", "volatility", "risk_class", "rank", "p_low", "p_high", "n_returns"]
    got = table_digest(keep, [tuple(_r6(a[c]) for c in keep) for a in risk])
    ocols, orows = oracle(sf_api, "risk_classification")
    if got != table_digest(keep, project(ocols, orows, keep)):
        problems.append("/api/risk disagrees with the risk_classification oracle")

    pairs = call("/api/heatmap", {})["pairs"]
    emitted = heatmap_emission(pairs, HEATMAP_MIN_ABS_CORR, HEATMAP_TOP_K)
    keep = ["sym_a", "sym_b", "pearson", "n_points"]
    ocols, orows = oracle(sf_api, "correlation_heatmap")
    if table_digest(keep, emitted) != table_digest(keep, project(ocols, orows, keep)):
        problems.append("/api/heatmap disagrees with the correlation_heatmap oracle")

    for idx in range(workloads.N_SYMBOLS):
        for route in ("similarity", "candlestick", "patterns"):
            path, query = workloads.api_request(route, symbols, idx)
            payload = call(path, query)
            if route == "similarity" and (query["a"], query["b"]) == ("0", "1"):
                keep = ["euclidean", "pearson", "cosine", "n_points"]
                ocols, orows = oracle(sf_api, "pair_metrics")
                if table_digest(keep, [tuple(_r6(payload[c]) for c in keep)]) != table_digest(
                    keep, project(ocols, orows, keep)
                ):
                    problems.append("/api/similarity?a=0&b=1 disagrees with the pair_metrics oracle")
        print(f"[pin] symbol #{idx} ({symbols[idx]})", flush=True)
    spark.stop()

    if problems:
        print("\n".join(problems), file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "digests.json"), "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"[pin] wrote {len(requests)} request digests and {len(pins['batch_sf01'])} batch digests")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
