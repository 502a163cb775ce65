"""Pure helpers shared by the benchmark worker and its tests.

Nothing here imports pyspark, so the helper tests run without a JVM.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import statistics
import time


def per_op_median_sum(passes: list[dict[str, float]]) -> float:
    """Take each operation's median over the passes that timed it, then
    sum over operations (a failed operation has no time in its pass)."""
    ops = sorted({op for p in passes for op in p})
    return sum(statistics.median(p[op] for p in passes if op in p) for op in ops)


def pass_order(ops: list[str], seed: int, n_passes: int) -> list[list[str]]:
    """One permutation of `ops` per pass. The seed only reorders; every
    pass runs each operation exactly once."""
    rng = random.Random(seed)
    orders = []
    for _ in range(n_passes):
        order = list(ops)
        rng.shuffle(order)
        orders.append(order)
    return orders


# _canon_value and table_digest repeat tools/verify_local's canon_value
# and table_digest (a test keeps them equal): importing verify_local
# imports duckdb, which would add to the worker's RSS and so to
# retained_mb.
def _canon_value(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0:
            return "0"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return "t" if v else "f"
    return str(v)


def table_digest(cols: list[str], rows) -> str:
    """Order-insensitive value hash: columns sorted by name, rows
    sorted, floats at 9 significant digits (the canonical form of the
    repo's correctness gate)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted("|".join(_canon_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in canon_rows:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def json_digest(payload) -> str:
    """Digest of an API payload: every list of flat dicts becomes a
    table (order-insensitive), scalars are canonicalised as above."""
    h = hashlib.sha256()
    _feed(h, payload)
    return h.hexdigest()


def _feed(h, v) -> None:
    if isinstance(v, dict):
        h.update(b"{")
        for k in sorted(v):
            h.update(k.encode() + b":")
            _feed(h, v[k])
            h.update(b",")
        h.update(b"}")
    elif isinstance(v, list) and v and all(
        isinstance(r, dict) and not any(isinstance(x, (dict, list)) for x in r.values())
        for r in v
    ):
        cols = sorted({k for r in v for k in r})
        h.update(table_digest(cols, [tuple(r.get(c) for c in cols) for r in v]).encode())
    elif isinstance(v, list):
        h.update(b"[")
        for x in v:
            _feed(h, x)
            h.update(b",")
        h.update(b"]")
    else:
        h.update(_canon_value(v).encode())


def rss_mb(status_path: str = "/proc/self/status") -> float:
    """Resident set size of a process, from its /proc status file."""
    with open(status_path) as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmRSS line in {status_path}")


def steal_seconds(stat_path: str = "/proc/stat") -> float:
    """CPU seconds stolen by the hypervisor, summed over all CPUs, from
    the aggregate `cpu` line of /proc/stat (8th counter, in USER_HZ)."""
    with open(stat_path) as fh:
        for line in fh:
            fields = line.split()
            if fields and fields[0] == "cpu":
                return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    raise ValueError(f"no aggregate cpu line in {stat_path}")


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals (overlapping jobs
    count once)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spin_probe() -> float:
    """Fixed single-thread spin (the same loop as bench.py's probe):
    its wall time rises with host descheduling."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t0
