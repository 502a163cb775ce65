"""Plan-hygiene gate over EVERY registry query.

Automates the anti-pattern scan a reviewer would run by hand: no
registered query may plan a row-at-a-time Python UDF (BatchEvalPython —
all Python boundaries must be Arrow-batched), and cartesian/nested-loop
joins may appear only where they are provably bounded (declared below
with the reason). New queries inherit the gate automatically.
"""

from __future__ import annotations

import pytest

from algoritmos_etl_spark.driver_queries import REGISTRY

SF_DIR = "/root/testdata/sf0.001"

# queries whose plans legitimately contain a cartesian/nested-loop join,
# with the boundedness argument
CROSS_OK = {
    "domain_token_budget": "domain rollup × 1-row total-words broadcast",
    "bm25_topk": "postings × 1-row corpus stats (N, avgdl) broadcast",
    "pps_sample": "weighted line × 1-row total-weight broadcast",
    "triplet_mining": "near-dup pairs × 1-row corpus-count broadcast",
    "table_profile": "1-row plain-stats agg × 1-row distinct-counts agg",
    "pair_metrics": "1-row similarity × 1-row regression bundles",
    "risk_classification": "per-symbol rows × 1-row percentile thresholds",
    "risk_summary": "per-symbol rows × 1-row percentile thresholds",
    "dtw_report": "array-packed series rows capped at 100 symbols (distance "
    "arm) + two single-series rows for one pair (path arm)",
    "correlation_heatmap": "returns × the 1-row block-count broadcast",
    "align_to_calendar": "calendar × symbol dimension grid (both bounded dims)",
    "interpolated_bars": "same calendar × symbol dimension grid",
    "price_quantiles": "4-quantile literal array exploded against the "
    "bounded per-priority aggregate",
    "ann_cosine_topk": "corpus streamed once against a BROADCAST handful of "
    "query vectors (n×q with tiny q) — the brute-force baseline by design",
    "quality_expectations": "1-row n_checked agg × 1-row anti-join count per "
    "foreign_key rule",
    "idle_rich_customers": "customer scan × the 1-row global-average "
    "scalar subquery",
    "dsir_weights": "1024-bucket distribution grid × the 1-row "
    "corpus-totals aggregate",
    "doc_quality_scores": "1024-bucket class-distribution grid × the "
    "1-row class-totals aggregate (the dsir_weights shape)",
    "important_parts": "per-part aggregate rows × the 1-row global-total "
    "scalar subquery (the Q11/Q22 shape)",
    "hybrid_rrf_topk": "inherits bm25's 1-row corpus-stats broadcast and "
    "cosine's broadcast query handful (both declared above)",
    "order_value_drift": "per-row × the 1-row baseline-quantile bounds "
    "array, then 10-bucket grid × the 1-row totals aggregate",
    "priority_drift_categorical": "bounded category grid (top-N + "
    "__OTHER__) × the 1-row totals aggregate — the categorical twin of "
    "order_value_drift's declared shape",
    "quality_tiers": "inherits doc_quality_scores' 1024-cell grid × "
    "1-row totals cross, plus per-doc scores × the 1-row tercile-cuts "
    "aggregate (the risk_classification threshold shape)",
}


def _walk_physical(p):
    """Yield every node of a JVM SparkPlan tree, descending through
    the AQE wrapper's initial plan (the shape WindowExec warns from)."""
    yield p
    if p.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        yield from _walk_physical(p.initialPlan())
        return
    ch = p.children()
    for i in range(ch.size()):
        yield from _walk_physical(ch.apply(i))


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_antipattern_in_plan(spark, name):
    from pyspark.sql.types import ArrayType, MapType, StructType

    df = REGISTRY[name].build(spark, SF_DIR)
    # Driver contract (VERDICT r8 task #1): registered outputs carry
    # ATOMIC columns only — the harness canonicalizes results by
    # sorting in pandas, where an array/map/struct cell is unhashable
    # (r8's bpe_encode `err`). Builders may return nested types;
    # the REGISTERED view must project them to scalars.
    nested = [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not nested, (
        f"{name}: non-atomic output columns {nested} — project to a "
        f"deterministic scalar (concat_ws/to_json) in the registered query"
    )
    jplan = df._jdf.queryExecution().executedPlan()
    plan = jplan.toString()
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF in plan — use an Arrow-batched "
        f"mapInPandas/applyInPandas boundary instead"
    )
    # Standing bench-tail invariant (VERDICT r8 task #2): no registered
    # query may plan a WindowExec with an EMPTY partition spec — that's
    # the `WindowExec: No Partition Defined` WARN class polluting the
    # driver's harvested output tail. Deliberate single-partition
    # windows over bounded inputs must use functions.scalars.
    # one_partition (non-foldable all-zero key) instead.
    empty_windows = [
        node.getClass().getSimpleName()
        for node in _walk_physical(jplan)
        if node.getClass().getSimpleName()
        in ("WindowExec", "WindowInPandasExec")
        and node.partitionSpec().isEmpty()
    ]
    assert not empty_windows, (
        f"{name}: window with no partition spec ({empty_windows}) — use "
        f"one_partition() so the driver log stays WARN-free"
    )
    has_cross = (
        "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan
    )
    if has_cross:
        assert name in CROSS_OK, (
            f"{name}: unexpected cartesian/nested-loop join — either fix the "
            f"plan or declare it in CROSS_OK with a boundedness argument"
        )


# ---------------------------------------------------------------------------
# Static no-collect gate (VERDICT r6 task #8): driver-side materialization
# in ENGINE modules is allowed only at the documented provably-bounded
# sites below; serving/report edges are exempt by module. A new
# .collect()/.toPandas() anywhere else fails this test until it is
# either made distributed or documented here with its bound.
# ---------------------------------------------------------------------------

import os
import re

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "algoritmos_etl_spark",
)

# module (relative to the package) -> (max allowed sites, bound argument)
_COLLECT_BOUNDED = {
    "operators/vectors.py": (
        3,
        "PQ codebooks (m*ks*dsub ints), k-means/PQ seeds (limit(ks)), "
        "PCA Gram cells (D*D+D+1 rows)",
    ),
    "operators/bpe.py": (
        2,
        "one winning merge pair per BPE round (limit(1)); the training "
        "alphabet (bounded by the script's character set)",
    ),
    "operators/text.py": (
        1,
        "lang_id_trained's B×4 class-count grid (n_buckets=2048 rows) — "
        "the model codebook, collected so ln runs in CPython libm "
        "(== DuckDB libm) instead of JVM Math.log (r10 ADVICE pin)",
    ),
    "sources/snapshots.py": (
        2,
        "the snapshot-WAP gate's one-row-per-rule expectation report; "
        "the copy-on-write delete's touched-file list (bounded by the "
        "delete batch's file spread)",
    ),
    "plans/etl_pipeline.py": (
        1,
        "wide-CSV export symbol list (distinct symbols, "
        "limit(max_wide_symbols))",
    ),
}
# presentation/serving edges: collect IS their job
_EDGE_MODULES = {"serve.py", "report.py", "pdf_report.py"}

_PATTERN = re.compile(r"\.collect\(\)|\.toPandas\(\)")


def test_no_undeclared_driver_collect_in_engine_modules():
    violations = []
    for root, _dirs, files in os.walk(_PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, _PKG).replace(os.sep, "/")
            if rel in _EDGE_MODULES:
                continue
            with open(path) as fh:
                n = len(_PATTERN.findall(fh.read()))
            if n == 0:
                continue
            allowed = _COLLECT_BOUNDED.get(rel, (0, ""))[0]
            if n > allowed:
                violations.append(f"{rel}: {n} collect sites (allowed {allowed})")
    assert not violations, (
        "undeclared driver-side collect in engine modules — make it "
        f"distributed or declare the bound: {violations}"
    )


# ---------------------------------------------------------------------------
# Static no-memo gate: per-session artifacts live in `store.py`, the one
# table with a lock, dead-context eviction and exit cleanup. A
# module-level name bound to an empty {} / dict() / [] elsewhere is the
# start of another memo with none of those; the registry is the one
# module-level collection that is not a memo.
# ---------------------------------------------------------------------------

import ast

_EMPTY_OK = {("driver_queries.py", "REGISTRY")}


def _is_empty_collection(node) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.List):
        return not node.elts
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "dict"
        and not node.args
        and not node.keywords
    )


def test_no_module_level_memo_outside_store():
    violations = []
    for root, _dirs, files in os.walk(_PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, _PKG).replace(os.sep, "/")
            if rel == "store.py":
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in tree.body:
                if isinstance(node, ast.Assign):
                    targets, value = node.targets, node.value
                elif isinstance(node, ast.AnnAssign) and node.value is not None:
                    targets, value = [node.target], node.value
                else:
                    continue
                if not _is_empty_collection(value):
                    continue
                for t in targets:
                    name = t.id if isinstance(t, ast.Name) else ast.unparse(t)
                    if (rel, name) not in _EMPTY_OK:
                        violations.append(f"{rel}:{node.lineno} {name}")
    assert not violations, (
        "module-level empty collection outside store.py — land the "
        f"artifact through algoritmos_etl_spark.store: {violations}"
    )


# A `.cache()`/`.persist()` is a second session-cache idiom, and Spark
# substitutes the cached plan into every later plan over the same
# input: a `store.blocks` landing of that plan would inherit the
# cache's uncoalesced partition layout.
_CACHE_CALL = re.compile(r"\.(cache|persist)\(")


def test_no_cache_or_persist_in_package():
    violations = []
    for root, _dirs, files in os.walk(_PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, _PKG).replace(os.sep, "/")
            with open(path) as fh:
                for lineno, line in enumerate(fh, 1):
                    if _CACHE_CALL.search(line):
                        violations.append(f"{rel}:{lineno}")
    assert not violations, (
        "DataFrame cache()/persist() in the package — land the artifact "
        f"through algoritmos_etl_spark.store instead: {violations}"
    )


# ---------------------------------------------------------------------------
# Static reachability gate: every package function or class must be
# reachable from a real caller — a registered builder or oracle, the
# serving/report edges, the driver entry, bench.py, tools/ or the
# benchmark — or sit on the allowlist below with its reason. A copy
# that only tests call is review time, Tier-1 minutes and README lines
# spent on a capability nothing runs. References resolve through each
# file's imports (name-based within a module), so a call through an
# alias, a re-export or a relative import still counts.
# ---------------------------------------------------------------------------

_REPO = os.path.dirname(_PKG)
_TEST_REF = "test reference: the comparison side of a test of a live operator"
_FUSED_REF = (
    "test reference: single-semantic builder that tests/test_fused.py "
    "compares with the live fused operator"
)
_STREAM_HARNESS = (
    "stream-test harness: drives the stream==batch parity tests of the "
    "live sliding_stats and session_stats"
)
_DISK_STATE = (
    "disk-state maintenance and recovery, the target of the "
    "kill-and-resume harness (ROADMAP item 5)"
)
_INGEST = (
    "reference ingest surface: the paper's data_fetcher, etl_pipeline "
    "and wide-CSV stages"
)
_TEST_ONLY_OK = {
    "operators.patterns._windowed_streak_hist_naive": _TEST_REF,
    "operators.vectors.cosine_neardup_pairs": (
        "test reference: the brute-force recall baseline of the LSH tests"
    ),
    "operators.bpe.bpe_decode_bytes": (
        "test reference: inverts the live byte-level BPE encoder"
    ),
    "operators.technical.simple_returns": _FUSED_REF,
    "operators.technical.sma": _FUSED_REF,
    "operators.technical.series_stats": (
        "test reference: the library builder the live risk_classification "
        "profile is compared with"
    ),
    "operators.text.text_stats": _FUSED_REF,
    "operators.text.token_counts": _FUSED_REF,
    "operators.text.pii_stats": _FUSED_REF,
    "operators.text.repetition_stats": _FUSED_REF,
    "operators.multimodal.payload_stats": _FUSED_REF,
    "operators.multimodal.decode_features": _FUSED_REF,
    "operators.dedup.exact_dedup": _FUSED_REF,
    "operators.dedup.positional_token_shingles": (
        "test reference: the string-first form the live hash-first "
        "exact_repeat_runs_tokens is compared with"
    ),
    "streaming.streams.read_event_stream": _STREAM_HARNESS,
    "streaming.streams.run_to_memory_sink": _STREAM_HARNESS,
    "streaming.streams.streaming_running_streaks": _DISK_STATE,
    "sources.snapshots.snapshot_publish": _DISK_STATE,
    "sources.snapshots.snapshot_vacuum": _DISK_STATE,
    "streaming.mv.compact_agg_mv": _DISK_STATE,
    "streaming.mv.compact_distinct_mv": _DISK_STATE,
    "streaming.mv.compact_sketch_mv": _DISK_STATE,
    "streaming.mv.vacuum_agg_mv": _DISK_STATE,
    "streaming.mv.vacuum_cdc_state": _DISK_STATE,
    "plans.etl_pipeline.run_etl": _INGEST,
    "operators.cleaning.missing_value_summary": _INGEST,
    "operators.cleaning.drop_empty_symbols": _INGEST,
    "sources.json_source.urllib_fetch": _INGEST,
    "sources.json_source.fetch_with_retry": _INGEST,
    "sources.json_source.fetch_multiple": _INGEST,
    "sources.json_source.assert_min_success": _INGEST,
    "sources.json_source.parse_chart_payloads": _INGEST,
    "sources.json_source.read_chart_payloads": _INGEST,
    "sources.wide_csv.read_wide_csv": _INGEST,
    "sources.wide_csv.string_null": _INGEST,
}
_EDGE_ROOTS = ("serve", "report", "pdf_report")


def _dotted(path: str) -> str:
    rel = os.path.relpath(path, _REPO)[: -len(".py")].replace(os.sep, ".")
    return rel[: -len(".__init__")] if rel.endswith(".__init__") else rel


def _import_aliases(tree, mod: str, is_pkg: bool) -> dict:
    """Every name a file's imports bind (at any depth) → dotted target."""
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                out[a.asname or a.name.split(".")[0]] = (
                    a.name if a.asname else a.name.split(".")[0]
                )
        elif isinstance(node, ast.ImportFrom):
            src = node.module or ""
            if node.level:
                base = mod.split(".")[: None if is_pkg else -1]
                base = base[: len(base) - node.level + 1]
                src = ".".join(base + ([node.module] if node.module else []))
            for a in node.names:
                out[a.asname or a.name] = f"{src}.{a.name}"
    return out


def _reachability():
    """({package unit: def node}, units reached from the roots, units
    reached from the roots plus the allowlist)."""
    paths = [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(_PKG)
        for f in files
        if f.endswith(".py")
    ]
    scripts = [os.path.join(_REPO, f) for f in ("__spark_entry__.py", "bench.py")]
    for sub in ("tools", "perfbench"):  # perfbench/tests/ is not listed
        d = os.path.join(_REPO, sub)
        scripts += [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".py")]
    files = {}  # dotted module → (tree, aliases, top-level defs)
    for path in paths + scripts:
        with open(path) as fh:
            tree = ast.parse(fh.read())
        mod = _dotted(path)
        defs = {
            n.name: n
            for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        }
        is_pkg = path.endswith("__init__.py")
        files[mod] = (tree, _import_aliases(tree, mod, is_pkg), defs)
    pkg = os.path.basename(_PKG)
    units = {
        f"{m}.{n}": node
        for m, (_t, _a, defs) in files.items()
        if m.split(".")[0] == pkg
        for n, node in defs.items()
    }

    def resolve(dotted: str, depth: int = 0):
        parts = dotted.split(".")
        for i in range(len(parts) - 1, 0, -1):
            mod = ".".join(parts[:i])
            if mod not in files:
                continue
            unit = f"{mod}.{parts[i]}"
            if unit in units:
                return unit
            aliases = files[mod][1]  # a re-export: follow it
            if parts[i] in aliases and depth < 8:
                target = ".".join([aliases[parts[i]]] + parts[i + 1:])
                return resolve(target, depth + 1)
            return None
        return None

    def refs(nodes, mod: str) -> set:
        _tree, aliases, defs = files[mod]
        out = set()
        for top in nodes:
            for node in ast.walk(top):
                chain = []
                while isinstance(node, ast.Attribute):
                    chain.append(node.attr)
                    node = node.value
                if not isinstance(node, ast.Name):
                    continue
                chain = [node.id] + chain[::-1]
                if node.id in defs and f"{mod}.{node.id}" in units:
                    out.add(f"{mod}.{node.id}")
                elif node.id in aliases:
                    unit = resolve(".".join([aliases[node.id]] + chain[1:]))
                    if unit:
                        out.add(unit)
        return out

    edges, roots = {}, set()
    edge_modules = {f"{pkg}.{m}" for m in _EDGE_ROOTS}
    for mod, (tree, _aliases, defs) in files.items():
        module_code = [
            n
            for n in tree.body
            if not isinstance(n, (ast.Import, ast.ImportFrom))
            and n not in defs.values()
        ]
        decorators = [d for n in defs.values() for d in n.decorator_list]
        roots |= refs(module_code + decorators, mod)
        for name, node in defs.items():
            unit = f"{mod}.{name}"
            inner = refs([node], mod) - {unit}
            if unit not in units:  # a script's function
                roots |= inner
                continue
            edges[unit] = inner
            if mod in edge_modules:
                roots.add(unit)
    for spec in REGISTRY.values():
        qual = spec.build.__qualname__.split(".<locals>")[0]
        roots.add(f"{spec.build.__module__}.{qual}")

    def closure(start) -> set:
        seen, stack = set(), list(start)
        while stack:
            u = stack.pop()
            if u in units and u not in seen:
                seen.add(u)
                stack.extend(edges.get(u, ()))
        return seen

    allowed = {f"{pkg}.{name}" for name in _TEST_ONLY_OK}
    return units, closure(roots), closure(roots | allowed)


def test_no_test_only_package_functions():
    units, live, covered = _reachability()
    pkg = os.path.basename(_PKG)
    unreached = sorted(set(units) - covered)
    assert not unreached, (
        "package functions no registered query, serving edge, tool or "
        "benchmark reaches (only tests do, or nothing) — delete them, or "
        "add a test reference to _TEST_ONLY_OK with its reason: "
        + ", ".join(
            f"{u[len(pkg) + 1:]} "
            f"({units[u].end_lineno - units[u].lineno + 1} lines)"
            for u in unreached
        )
    )
    stale = sorted(
        name
        for name in _TEST_ONLY_OK
        if f"{pkg}.{name}" not in units or f"{pkg}.{name}" in live
    )
    assert not stale, (
        f"_TEST_ONLY_OK entries that are gone or now have a real caller: {stale}"
    )
