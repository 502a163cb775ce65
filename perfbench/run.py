"""Benchmark entry point.

    python3 perfbench/run.py --workload {batch_sf01,api_session} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Each run starts one fresh worker
process (worker.py) on local[nproc] with the driver heap pinned through
the package's own SPARK_GRAFT_DRIVER_MEM, waits for it, and prints one
JSON line: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1. Scratch files (Spark local dirs, temp files,
session workdirs) live under .perfbench_work/ and are removed at the
end; the per-run sidecar is kept in .perfbench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
# The package defaults to a 32g heap when the cgroup reports no memory
# limit; a fixed heap keeps GC behaviour the same on every host.
HEAP = "4g"
WORKER_TIMEOUT_S = 170

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s", "retained_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "build.s": "s",
    "build.self_s": "s",
    "build.jobs": "count",
    "build.job_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.exchanges": "count",
    "exec.python_ops": "count",
    "cache.block_mb": "MB",
    "cache.landing_jobs": "count",
    "cache.first_use_s": "s",
    "serve.symbols_ms": "ms",
    "serve.similarity_ms": "ms",
    "serve.heatmap_ms": "ms",
    "serve.candlestick_ms": "ms",
    "serve.patterns_ms": "ms",
    "serve.risk_ms": "ms",
    "serve.jobs_per_request": "count",
    "serve.self_ms": "ms",
    "trace.overhead_s": "s",
    "trace.coverage": "ratio",
}


def missing_inputs(workload: str) -> list[str]:
    need = [
        os.path.join(ROOT, "algoritmos_etl_spark", "__init__.py"),
        os.path.join(HERE, "digests.json"),
        os.path.join(workloads.TESTDATA, workloads.WORKLOADS[workload]["sf"]),
    ]
    return [p for p in need if not os.path.exists(p)]


def session_pids(sid: int) -> list[int]:
    """Processes of session `sid`. The worker leads its own session; the
    JVM inherits it, and so does PySpark's worker daemon, which moves to
    a process group of its own but cannot leave the session."""
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid pgrp session ...
        if int(stat.rsplit(")", 1)[1].split()[3]) == sid:
            pids.append(int(pid))
    return pids


def stop_session(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's session (the worker, the
    JVM, PySpark's daemon and its Python workers) and wait until every
    one of them has ended."""
    deadline = time.time() + 30
    while time.time() < deadline:
        pids = session_pids(proc.pid)
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if proc.poll() is None:
            proc.wait()
        if not pids:
            return
        time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still kills its worker session (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = missing_inputs(args.workload)
    if missing:
        print(f"perfbench: missing inputs: {missing}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(out_dir, exist_ok=True)
    env = dict(
        os.environ,
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    out_file = os.path.join(work, "result.json")
    try:
        with open(os.path.join(work, "worker.log"), "w") as log:
            t0 = time.time()
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"),
                 "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--t0", repr(t0), "--root", ROOT, "--out", out_file],
                cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                code = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                stop_session(proc)
        if code != 0 or not os.path.exists(out_file):
            with open(os.path.join(work, "worker.log")) as fh:
                tail = fh.read()[-3000:]
            print(f"perfbench: worker {'timed out' if code is None else f'exited {code}'}\n{tail}",
                  file=sys.stderr)
            return 1
        with open(out_file) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it

    sidecar = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(sidecar, "w") as fh:
        json.dump(res["sidecar"], fh, indent=1)
    values, units = (res["layers"], PER_LAYER) if args.trace else (res["result"], END_TO_END)
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in units.items()}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
