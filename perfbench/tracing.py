"""Per-layer tracing for the benchmark's traced runs.

Spans sit in the benchmark's own code, around its calls into the
program's public functions (`get_spark`, `REGISTRY[q].build`, the
materializing `collect`, `JsonApi.dispatch`). The numbers under them
come from Spark itself:

- jobs and stages from the status store (`SparkContext.statusStore`),
  each job attributed to the innermost span open when it was submitted
  (one client, so nothing else submits jobs meanwhile);
- Catalyst phase times from the `QueryPlanningTracker` of every query
  the pass executes through `DataFrame.collect` / `DataFrame.toJSON`
  (both wrapped in traced runs). Analysis of the intermediate DataFrames
  a builder constructs happens eagerly inside the build span and counts
  as construction, not here;
- a plan-shape digest from the executed physical plan of those queries.
"""

from __future__ import annotations

import hashlib
import re
import time
from contextlib import contextmanager

from measure import union_seconds

MB = 1024.0 * 1024.0

PHASES = ("analysis", "optimization", "planning")


def _opt(o):
    """Scala Option → Python value or None."""
    return o.get() if o.isDefined() else None


def _epoch(date_opt):
    d = _opt(date_opt)
    return None if d is None else d.getTime() / 1000.0


class PlanShape:
    """Operator counts and a hash of the argument-free physical tree, as
    `explain()` shows it before execution."""

    COUNTED = ("exchange", "broadcast_hash_join", "python", "generate")

    def __init__(self, plan):
        self.counts = dict.fromkeys(self.COUNTED, 0)
        self.tree = self._walk(plan)
        self.digest = hashlib.sha256(self.tree.encode()).hexdigest()[:16]

    def _walk(self, node) -> str:
        name = re.sub(r"\s*\(\d+\)$", "", node.nodeName())
        if name == "AdaptiveSparkPlan":
            # the plan before runtime re-optimization: AQE's final plan can
            # differ from run to run, the initial one cannot
            return self._walk(node.initialPlan())
        if "Exchange" in name:
            self.counts["exchange"] += 1
        if name == "BroadcastHashJoin":
            self.counts["broadcast_hash_join"] += 1
        if "Python" in name or "Pandas" in name or "InArrow" in name:
            self.counts["python"] += 1
        if name == "Generate":
            self.counts["generate"] += 1
        kids = node.children()
        inner = ",".join(self._walk(kids.apply(i)) for i in range(kids.length()))
        return f"{name}({inner})" if inner else name

    def as_dict(self) -> dict:
        return {**self.counts, "tree_hash": self.digest}


class Tracer:
    """Collects spans, query executions and Spark's own counters for the
    passes run between `begin_pass` and `end_pass`."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._max_job = -1
        self._active = False
        self._spans: list[dict] = []
        self._stack: list[dict] = []
        self._install_wrappers()

    # -- wrappers around the two DataFrame actions the program uses
    def _install_wrappers(self) -> None:
        from pyspark.core.rdd import RDD
        from pyspark.serializers import UTF8Deserializer
        from pyspark.sql.classic.dataframe import DataFrame

        tracer = self
        collect = DataFrame.collect

        def traced_collect(df):
            rows = collect(df)
            if tracer._active:
                tracer._note_qe(df._jdf.queryExecution())
            return rows

        def traced_to_json(df, use_unicode=True):
            # Dataset.rdd plans a private copy of the query, so plan the
            # JSON query's own execution too, to read its phases and shape
            jds = df._jdf.toJSON()
            rdd = RDD(jds.toJavaRDD(), df._sc, UTF8Deserializer(use_unicode))
            if tracer._active:
                qe = jds.queryExecution()
                qe.executedPlan()
                tracer._note_qe(qe)
            return rdd

        DataFrame.collect = traced_collect
        DataFrame.toJSON = traced_to_json

    def _note_qe(self, qe) -> None:
        if self._stack:
            self._stack[-1].setdefault("qes", []).append(qe)

    # -- spans
    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Record a span while a traced pass is open; a no-op otherwise."""
        if not self._active:
            yield None
            return
        rec = {"name": name, "op": op, "start": time.time()}
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._spans.append(rec)

    def begin_pass(self) -> None:
        self._active = True
        self._spans = []

    def end_pass(self) -> dict:
        """Resolve the pass's spans into per-span job, stage, Catalyst and
        plan-shape numbers."""
        self._active = False
        self._bus.waitUntilEmpty(30_000)
        jobs = self._new_jobs()
        spans = sorted(self._spans, key=lambda s: (s["start"], -s["end"]))
        for s in spans:
            s["jobs"] = []
        for job in jobs:
            owner = None
            for s in spans:  # innermost = latest-starting span that contains it
                if s["start"] <= job["submit"] <= s["end"]:
                    owner = s
            if owner is not None:
                owner["jobs"].append(job)
        for s in spans:
            s["catalyst_ms"] = dict.fromkeys(PHASES, 0.0)
            s["shapes"] = []
            for qe in s.pop("qes", []):
                phases = qe.tracker().phases()
                for p in PHASES:
                    summary = _opt(phases.get(p))
                    if summary is not None:
                        s["catalyst_ms"][p] += summary.durationMs()
                s["shapes"].append(PlanShape(qe.executedPlan()).as_dict())
        return {"spans": spans}

    def _new_jobs(self) -> list[dict]:
        out = []
        jobs = self._store.jobsList(None)
        for jd in (jobs.apply(i) for i in range(jobs.length())):
            jid = jd.jobId()
            if jid <= self._max_job:
                continue
            submit, end = _epoch(jd.submissionTime()), _epoch(jd.completionTime())
            if submit is None:
                continue
            stage_ids = jd.stageIds()
            stages = [self._stage(stage_ids.apply(i)) for i in range(stage_ids.length())]
            out.append({
                "id": jid,
                "submit": submit,
                "end": end if end is not None else submit,
                "stages": [st for st in stages if st is not None],
            })
        if out:
            self._max_job = max(self._max_job, *(j["id"] for j in out))
        return out

    def _stage(self, stage_id: int) -> dict | None:
        sd = self._store.lastStageAttempt(stage_id)
        if sd.status().toString() == "SKIPPED":
            return None
        return {
            "tasks": sd.numCompleteTasks(),
            "run_s": sd.executorRunTime() / 1e3,
            "cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1e3,
            "input_mb": sd.inputBytes() / MB,
            "shuffle_read_mb": sd.shuffleReadBytes() / MB,
            "shuffle_write_mb": sd.shuffleWriteBytes() / MB,
            "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB,
        }


def job_seconds(jobs: list[dict]) -> float:
    return union_seconds([(j["submit"], j["end"]) for j in jobs])
