"""One benchmark run inside a fresh process.

Started by run.py, never by hand: it sets up a Spark session the way a
user of the package does, runs one cold pass and a fixed number of warm
passes of the workload, checks every output against the pinned
digests outside the timed region, and writes its numbers as JSON to
the file named by --out.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time
from contextlib import nullcontext

import measure
import workloads
from measure import per_op_median_sum, table_digest

HERE = os.path.dirname(os.path.abspath(__file__))
MB = 1024.0 * 1024.0


def warmup(spark) -> None:
    """The first half of bench.py's warm-up: one first JVM job. Its second
    half, an Arrow stage that spawns the Python worker pool, is left out:
    both workloads spawn the pool themselves in their cold pass, so it only
    moved that cost from `cold_pass_s` into `setup_s` and made runs longer."""
    from pyspark.sql import functions as F

    spark.range(1_000_000).select(F.sum("id")).collect()


class Run:
    """One workload's operations, their timing and their output checks."""

    def __init__(self, args, spark, tracer):
        self.workload = args.workload
        self.spark = spark
        self.tracer = tracer
        with open(os.path.join(HERE, "digests.json")) as fh:
            self.pinned = json.load(fh)[self.workload]
        self.sf_dir = os.path.join(workloads.TESTDATA, workloads.WORKLOADS[self.workload]["sf"])
        self.failed = 0
        self.attempted = 0
        self.failures: list[str] = []
        self.digests: dict[str, str] = {}
        self.seed = args.seed

    def span(self, name, op):
        return self.tracer.span(name, op) if self.tracer else nullcontext()

    def run_pass(self, order: list[str], traced: bool = False):
        """Run each operation once; returns (seconds per op, pass wall,
        steal seconds, trace or None). Outputs are checked after the pass,
        outside the timing."""
        if traced:
            self.tracer.begin_pass()
        results, times = {}, {}
        steal0 = measure.steal_seconds()
        wall0 = time.perf_counter()
        for op in order:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                results[op] = self.run_op(op)
            except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
                self.fail(op, f"{type(e).__name__}: {e}")
                continue
            times[op] = time.perf_counter() - t0
        wall = time.perf_counter() - wall0
        steal = measure.steal_seconds() - steal0
        trace = self.tracer.end_pass() if traced else None
        for op, res in results.items():
            self.check(op, res)
        return times, wall, steal, trace

    def fail(self, op: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{op}: {why}"[:300])


class BatchRun(Run):
    def setup(self) -> None:
        from algoritmos_etl_spark.driver_queries import REGISTRY

        self.registry = REGISTRY

    def run_op(self, q: str):
        with self.span("build", q):
            df = self.registry[q].build(self.spark, self.sf_dir)
        with self.span("exec", q):
            rows = df.collect()
        return df.columns, rows

    def check(self, q: str, res) -> None:
        digest = table_digest(*res)
        self.digests[q] = digest
        if digest != self.pinned.get(q):
            self.fail(q, f"digest {digest[:12]} != pinned")


class ApiRun(Run):
    def setup(self) -> None:
        from algoritmos_etl_spark.serve import JsonApi

        self.api = JsonApi(self.spark, self.sf_dir)
        idx = workloads.symbol_index(self.seed)
        self.requests = {
            r: workloads.api_request(r, self.pinned["symbols"], idx)
            for r in workloads.API_ROUTES
        }

    def run_op(self, route: str):
        path, query = self.requests[route]
        with self.span("dispatch", route):
            return self.api.dispatch(path, query)

    def check(self, route: str, res) -> None:
        status, payload = res
        key = workloads.request_key(*self.requests[route])
        digest = measure.json_digest(payload)
        self.digests[key] = digest
        if status != 200:
            self.fail(route, f"status {status}")
        elif digest != self.pinned["requests"].get(key):
            self.fail(route, f"digest {digest[:12]} != pinned for {key}")


def retained_mb(spark) -> tuple[list[float], float]:
    """(heap-used readings after full GCs, driver Python RSS) in MB.

    Spark's ContextCleaner frees broadcast and shuffle state on its own
    thread once a GC has cleared the weak references to it, so a second
    back-to-back GC can read the same, still inflated, heap. Each GC is
    therefore followed by a pause, and the GCs repeat until three
    consecutive readings agree within 1 MB.
    """
    gc.collect()
    jvm = spark._jvm
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings: list[float] = []
    while len(readings) < 12:
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        readings.append(bean.getHeapMemoryUsage().getUsed() / MB)
        last = readings[-3:]
        if len(last) == 3 and max(last) - min(last) < 1.0:
            break
    return readings, measure.rss_mb()


def unpinned_heap() -> str:
    """The driver heap the package would choose without the pin."""
    from algoritmos_etl_spark.session import _default_driver_mem

    pinned = os.environ.pop("SPARK_GRAFT_DRIVER_MEM")
    try:
        return _default_driver_mem()
    finally:
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = pinned


def layer_metrics(run, spans_cold, spans_warm, times_cold, times_warm, wall_warm, overhead_s, setup) -> dict:
    """The per-layer metrics of a traced run (defined in NOTES.md)."""
    from tracing import job_seconds

    from algoritmos_etl_spark.driver_queries import session_cache_storage_bytes

    def named(spans, name):
        return [s for s in spans if s["name"] == name]

    def dur(s):
        return s["end"] - s["start"]

    build = named(spans_warm, "build")
    execs = named(spans_warm, "exec") + named(spans_warm, "dispatch")
    ejobs = [j for s in execs for j in s["jobs"]]
    stages = [st for j in ejobs for st in j["stages"]]
    shapes = [sh for s in execs for sh in s["shapes"]]
    build_s = sum(dur(s) for s in build)
    build_job_s = sum(job_seconds(s["jobs"]) for s in build)
    out = {
        "session.start_s": setup["start_s"],
        "session.warmup_s": setup["warmup_s"],
        "build.s": build_s,
        "build.self_s": build_s - build_job_s,
        "build.jobs": sum(len(s["jobs"]) for s in build),
        "build.job_s": build_job_s,
        "exec.s": sum(job_seconds(s["jobs"]) for s in execs),
        "exec.jobs": len(ejobs),
        "exec.stages": len(stages),
        "exec.exchanges": sum(sh["exchange"] for sh in shapes),
        "exec.python_ops": sum(sh["python"] for sh in shapes),
    }
    for key in ("tasks", "run_s", "cpu_s", "gc_s", "input_mb", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb"):
        out[f"exec.{key}"] = sum(st[key] for st in stages)
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_ms"] = sum(s["catalyst_ms"][phase] for s in spans_warm)
    out["cache.block_mb"] = session_cache_storage_bytes(run.spark) / MB
    cold_build_jobs = sum(len(s["jobs"]) for s in named(spans_cold, "build"))
    out["cache.landing_jobs"] = max(0, cold_build_jobs - out["build.jobs"])
    out["cache.first_use_s"] = sum(times_cold[op] - times_warm[op] for op in times_warm if op in times_cold)
    dispatch = {s["op"]: s for s in named(spans_warm, "dispatch")}
    for route in workloads.API_ROUTES:
        out[f"serve.{route}_ms"] = dur(dispatch[route]) * 1e3 if route in dispatch else 0.0
    out["serve.jobs_per_request"] = (
        sum(len(s["jobs"]) for s in dispatch.values()) / len(dispatch) if dispatch else 0.0
    )
    out["serve.self_ms"] = sum(dur(s) - job_seconds(s["jobs"]) for s in dispatch.values()) * 1e3
    out["trace.overhead_s"] = overhead_s
    out["trace.coverage"] = sum(dur(s) for s in spans_warm) / wall_warm
    return out


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--t0", type=float, required=True, help="epoch seconds the run was launched")
    ap.add_argument("--root", required=True, help="checkout root holding the package")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    sys.path.insert(0, args.root)

    from algoritmos_etl_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus)
    start_s = time.perf_counter() - t
    t = time.perf_counter()
    warmup(spark)
    warmup_s = time.perf_counter() - t

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
    cls = BatchRun if args.workload == "batch_sf01" else ApiRun
    run = cls(args, spark, tracer)
    run.setup()
    setup_s = time.time() - args.t0

    n_warm = workloads.warm_passes(args.seconds)
    orders = workloads.orders(args.workload, args.seed, 1 + n_warm + args.trace)
    probes, steal = [], []

    def one_pass(order, traced=False):
        probes.append(measure.spin_probe())
        times, wall, st, trace = run.run_pass(order, traced)
        steal.append(st)
        return times, wall, trace

    times_cold, _, trace_cold = one_pass(orders[0], traced=bool(args.trace))
    warm = [one_pass(o)[0] for o in orders[1:1 + n_warm]]
    result = {
        "setup_s": setup_s,
        "cold_pass_s": sum(times_cold.values()),
        "warm_pass_s": per_op_median_sum(warm),
    }
    layers = None
    if args.trace:
        times_tr, wall_tr, trace_warm = one_pass(orders[-1], traced=True)
        layers = layer_metrics(
            run, trace_cold["spans"], trace_warm["spans"], times_cold, times_tr, wall_tr,
            overhead_s=sum(times_tr.values()) - sum(warm[-1].values()),
            setup={"start_s": start_s, "warmup_s": warmup_s},
        )
        plan_shapes = {
            s["op"]: s["shapes"] for s in trace_warm["spans"] if s["shapes"]
        }
    heap_readings, rss = retained_mb(spark)
    result["retained_mb"] = heap_readings[-1] + rss

    sidecar = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": cpus,
        "warm_passes": n_warm,
        "orders": orders,
        "cold_s": times_cold,
        "warm_s": warm,
        "retained": {"heap_after_gc_mb": heap_readings, "driver_rss_mb": rss},
        "digests": run.digests,
        "failures": run.failures,
        "environment": {
            "steal_s_per_pass": steal,
            "spin_probe_s_per_pass": probes,
            "spin_probe_median_s": statistics.median(probes),
            "heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "heap_default_unpinned": unpinned_heap(),
            "heap_why": (
                "pinned through SPARK_GRAFT_DRIVER_MEM: with no cgroup memory "
                "limit the package default is 32g, whatever the host's memory"
            ),
        },
    }
    if layers is not None:
        sidecar["layers"] = layers
        sidecar["plan_shapes"] = plan_shapes
    with open(args.out, "w") as fh:
        json.dump({
            "result": result,
            "layers": layers,
            "attempted": run.attempted,
            "failed": run.failed,
            "sidecar": sidecar,
        }, fh, indent=1)


if __name__ == "__main__":
    main()
    # No spark.stop() and no interpreter teardown: run.py kills the whole
    # session (JVM and Python workers) and deletes every file the run
    # wrote, which takes a fraction of the ~2.5 s an orderly exit does.
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)
