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
# either made distributed or documented here with its bound. Each
# allowance is exact and each listed module must exist, so a removed
# site or module cannot leave an unused allowance behind.
# ---------------------------------------------------------------------------

import os
import re

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "algoritmos_etl_spark",
)

# module (relative to the package) -> (number of sites, bound argument)
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
}
# presentation/serving edges: collect IS their job
_EDGE_MODULES = {"serve.py", "report.py", "pdf_report.py"}

_PATTERN = re.compile(r"\.collect\(\)|\.toPandas\(\)")


def test_no_undeclared_driver_collect_in_engine_modules():
    violations, seen = [], set()
    for root, _dirs, files in os.walk(_PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, _PKG).replace(os.sep, "/")
            if rel in _EDGE_MODULES:
                continue
            seen.add(rel)
            with open(path) as fh:
                n = len(_PATTERN.findall(fh.read()))
            allowed = _COLLECT_BOUNDED.get(rel, (0, ""))[0]
            if n != allowed:
                violations.append(f"{rel}: {n} collect sites (declared {allowed})")
    assert not violations, (
        "driver-side collect count differs from its declaration in engine "
        "modules — make a new site distributed or declare its bound, and "
        f"lower the allowance when a site goes: {violations}"
    )
    stale = sorted(set(_COLLECT_BOUNDED) - seen)
    assert not stale, f"_COLLECT_BOUNDED entries that are gone: {stale}"


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


def _index(sources: dict) -> dict:
    """{dotted module: (tree, aliases, top-level defs)} for sources
    given as {dotted module: (source text, is a package __init__)}."""
    files = {}
    for mod, (text, is_pkg) in sources.items():
        tree = ast.parse(text)
        defs = {
            n.name: n
            for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        }
        files[mod] = (tree, _import_aliases(tree, mod, is_pkg), defs)
    return files


def _live_files() -> dict:
    """The package, the driver entry, bench.py, tools/ and perfbench/
    (not perfbench/tests/): every file whose calls count as live."""
    paths = [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(_PKG)
        for f in files
        if f.endswith(".py")
    ]
    paths += [os.path.join(_REPO, f) for f in ("__spark_entry__.py", "bench.py")]
    for sub in ("tools", "perfbench"):
        d = os.path.join(_REPO, sub)
        paths += [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".py")]
    sources = {}
    for path in paths:
        with open(path) as fh:
            sources[_dotted(path)] = (fh.read(), path.endswith("__init__.py"))
    return _index(sources)


def _package_units(files: dict, pkg: str) -> dict:
    return {
        f"{m}.{n}": node
        for m, (_t, _a, defs) in files.items()
        if m.split(".")[0] == pkg
        for n, node in defs.items()
    }


def _resolve(files: dict, units: dict, dotted: str, depth: int = 0):
    """(unit, the attribute names after it) that a dotted reference
    names, following re-exports; None outside the units."""
    parts = dotted.split(".")
    for i in range(len(parts) - 1, 0, -1):
        mod = ".".join(parts[:i])
        if mod not in files:
            continue
        unit = f"{mod}.{parts[i]}"
        if unit in units:
            return unit, parts[i + 1:]
        aliases = files[mod][1]  # a re-export: follow it
        if parts[i] in aliases and depth < 8:
            target = ".".join([aliases[parts[i]]] + parts[i + 1:])
            return _resolve(files, units, target, depth + 1)
        return None
    return None


def _chain(node):
    """(head name, [attributes]) of a Name/Attribute chain, else None."""
    chain = []
    while isinstance(node, ast.Attribute):
        chain.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    return node.id, chain[::-1]


def _reachability():
    """({package unit: def node}, units reached from the roots, units
    reached from the roots plus the allowlist)."""
    files = _live_files()
    pkg = os.path.basename(_PKG)
    units = _package_units(files, pkg)

    def refs(nodes, mod: str) -> set:
        _tree, aliases, defs = files[mod]
        out = set()
        for top in nodes:
            for node in ast.walk(top):
                named = _chain(node)
                if named is None:
                    continue
                head, rest = named
                if head in defs and f"{mod}.{head}" in units:
                    out.add(f"{mod}.{head}")
                elif head in aliases:
                    hit = _resolve(files, units, ".".join([aliases[head]] + rest))
                    if hit:
                        out.add(hit[0])
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


# ---------------------------------------------------------------------------
# Static option gate: a defaulted parameter that no live call sets is a
# constant with a second spelling — a configuration nothing runs, that
# tests and review must still cover. Calls resolve through the same
# imports as the reachability gate; a call with *args/**kw sets every
# parameter, and a method called on an instance (whose type the scan
# cannot see) counts for every package method of that name. Parameters
# of the _TEST_ONLY_OK functions are exempt: those functions exist for
# tests. The same scan lists module-level names nothing references.
# ---------------------------------------------------------------------------

_OPTION_OK = {
    "__version__": "package metadata that packaging tools read",
    "serve.serve(port)": "deployment setting: the port the JSON API binds",
    "operators.corpus.nb_quality_scores(is_pos)": (
        "test seam: an injected label column lets tests hand-check the "
        "closed-form Naive Bayes weights (live queries label with the "
        "curation gate)"
    ),
}


def _param_units(files: dict, pkg: str) -> dict:
    """{function key: (positional params, defaulted params, kind)} for
    every package function, method and nested function; a @dataclass
    contributes its generated __init__. kind is "static", "class" or
    "method" for methods, "function" otherwise."""
    out = {}
    fn_types = (ast.FunctionDef, ast.AsyncFunctionDef)

    def add(key, fn, kind):
        a = fn.args
        pos = [p.arg for p in a.posonlyargs + a.args]
        dflt = pos[len(pos) - len(a.defaults):] if a.defaults else []
        dflt += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
        out[key] = (pos, dflt, kind)

    def nested(node, prefix, in_fn):
        """Functions nested in a function, keyed under it."""
        for child in ast.iter_child_nodes(node):
            if isinstance(child, fn_types + (ast.ClassDef,)):
                key = f"{prefix}.{child.name}"
                if in_fn and isinstance(child, fn_types):
                    add(key, child, "function")
                nested(child, key, isinstance(child, fn_types))
            else:
                nested(child, prefix, in_fn)

    for mod, (tree, _aliases, defs) in files.items():
        if mod.split(".")[0] != pkg:
            continue
        for name, node in defs.items():
            if isinstance(node, ast.ClassDef):
                decos = {ast.unparse(d).split("(")[0] for d in node.decorator_list}
                if decos & {"dataclass", "dataclasses.dataclass"}:
                    fields = [
                        (f.target.id, f.value is not None)
                        for f in node.body
                        if isinstance(f, ast.AnnAssign) and isinstance(f.target, ast.Name)
                    ]
                    out[f"{mod}.{name}.__init__"] = (
                        ["self"] + [f for f, _ in fields],
                        [f for f, has in fields if has],
                        "method",
                    )
                for m in node.body:
                    if isinstance(m, fn_types):
                        names = {ast.unparse(d) for d in m.decorator_list}
                        kind = (
                            "static" if "staticmethod" in names
                            else "class" if "classmethod" in names
                            else "method"
                        )
                        add(f"{mod}.{name}.{m.name}", m, kind)
            else:
                add(f"{mod}.{name}", node, "function")
        nested(tree, mod, False)
    return out


def _set_params(files: dict, params: dict) -> dict:
    """{function key: parameter names some call in `files` sets}; a
    call with *args/**kw sets them all."""
    units = {k.rsplit(".", 1)[0] for k in params} | set(params)
    by_method = {}  # bare method name → method keys
    by_nested = {}  # (module, bare name) → nested function keys
    for key, (_pos, _dflt, kind) in params.items():
        owner, name = key.rsplit(".", 1)
        if kind != "function":
            by_method.setdefault(name, []).append(key)
        elif owner not in files:
            mod = max((m for m in files if key.startswith(m + ".")), key=len)
            by_nested.setdefault((mod, name), []).append(key)
    out = {}

    def on_instance(name):
        """obj.name(...) on an object the scan cannot type: every
        package method of that name, `self` implicit."""
        return [
            (k, 0 if params[k][2] == "static" else 1)
            for k in by_method.get(name, ())
        ]

    def targets(call, mod):
        """(function key, implicit leading positionals) per callee."""
        _tree, aliases, defs = files[mod]
        named = _chain(call.func)
        if named is None:
            if isinstance(call.func, ast.Attribute):
                return on_instance(call.func.attr)
            return []
        head, rest = named
        if head in defs:
            hit = f"{mod}.{head}", rest
        elif head in aliases:
            hit = _resolve(files, units, ".".join([aliases[head]] + rest))
            if hit is None:  # an outside module's function or method
                return []
        elif rest:
            return on_instance(rest[-1])
        else:
            return [(k, 0) for k in by_nested.get((mod, head), ())]
        unit, rest = hit
        key = ".".join([unit] + rest)
        if key in params:  # a function, or Class.method(...) with `self` explicit
            return [(key, 1 if params[key][2] == "class" else 0)]
        if not rest and f"{unit}.__init__" in params:  # instantiation
            return [(f"{unit}.__init__", 1)]
        return []

    for mod, (tree, _aliases, _defs) in files.items():
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            spread = any(isinstance(a, ast.Starred) for a in call.args) or any(
                k.arg is None for k in call.keywords
            )
            for key, shift in targets(call, mod):
                pos = params[key][0]
                got = out.setdefault(key, set())
                if spread:
                    got |= set(pos) | set(params[key][1])
                    continue
                got |= set(pos[shift : shift + len(call.args)])
                got |= {k.arg for k in call.keywords}
    return out


def _unset_options(files: dict, pkg: str, exempt=()) -> list:
    """Every "module.function(param)" of the package, relative to the
    package, whose default no call in `files` overrides, plus every
    module-level name of the package nothing in `files` references;
    functions under an `exempt` prefix are skipped."""
    params = _param_units(files, pkg)
    set_by = _set_params(files, params)
    listed = []
    for key, (_pos, dflt, _kind) in params.items():
        rel = key[len(pkg) + 1:]
        if any(rel == e or rel.startswith(e + ".") for e in exempt):
            continue
        listed += [f"{rel}({p})" for p in dflt if p not in set_by.get(key, ())]
    units = _package_units(files, pkg)
    consts = {}
    for mod, (tree, _aliases, _defs) in files.items():
        if mod.split(".")[0] != pkg:
            continue
        for node in tree.body:
            targets = (
                node.targets if isinstance(node, ast.Assign)
                else [node.target] if isinstance(node, ast.AnnAssign)
                else []
            )
            for t in targets:
                if isinstance(t, ast.Name):
                    consts[f"{mod}.{t.id}"] = t
    used = set()
    for mod, (tree, aliases, _defs) in files.items():
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                used.add(f"{mod}.{node.id}")
            named = _chain(node)
            if named and named[0] in aliases:
                dotted = ".".join([aliases[named[0]]] + named[1])
                used.add(dotted)
                parts = dotted.split(".")
                for i in range(len(parts) - 1, 0, -1):  # through re-exports
                    hit = _resolve(files, {**units, **consts}, ".".join(parts[: i + 1]))
                    if hit:
                        used.add(hit[0])
            elif isinstance(node, ast.ImportFrom):
                for a in node.names:
                    used.add(aliases.get(a.asname or a.name, ""))
    listed += [c[len(pkg) + 1:] for c in consts if c not in used]
    return sorted(listed)


def _option_findings(files: dict, pkg: str, exempt, option_ok: dict):
    """(listed values not on `option_ok`, stale `option_ok` entries)."""
    listed = _unset_options(files, pkg, exempt)
    unset = [v for v in listed if v not in option_ok]
    return unset, sorted(set(option_ok) - set(listed))


def test_no_option_without_a_live_setter():
    unset, stale = _option_findings(
        _live_files(), os.path.basename(_PKG), _TEST_ONLY_OK, _OPTION_OK
    )
    assert not unset, (
        f"{len(unset)} package options no live call sets (only tests do, or "
        "nothing) and module-level names nothing references — fold each "
        "into its body as a constant, or add a deployment setting or test "
        "seam to _OPTION_OK with its reason: " + ", ".join(unset)
    )
    assert not stale, (
        f"_OPTION_OK entries that are gone or now have a live setter: {stale}"
    )


_SCAN_PKG = '''
USED = 1
UNUSED = 2


def f(a, b=1, c=2, d=3):
    return a + USED


def g(a, b=1):
    return a


def h(a, b=1):
    return a


class K:
    def by_instance(self, x, y=0):
        return x

    def by_class(self, x, y=0):
        return x
'''

_SCAN_CALLER = '''
from p.m import K, f, g, h


def run(args, kw):
    f(1, 2)  # positional: b
    f(1, c=3)  # keyword: c
    K().by_instance(1, 2)  # self implicit: 2 is y
    K.by_class(K(), 1)  # self explicit: 1 is x, y unset
    g(*args)  # *args sets every parameter
    h(1, **kw)  # so does **kw
'''


def test_option_scan_on_a_small_source():
    files = _index(
        {"p": ("", True), "p.m": (_SCAN_PKG, False), "tools.t": (_SCAN_CALLER, False)}
    )
    assert _unset_options(files, "p") == ["m.K.by_class(y)", "m.UNUSED", "m.f(d)"]
    unset, stale = _option_findings(
        files, "p", (), {"m.f(d)": "a seam", "m.f(b)": "set by f(1, 2)"}
    )
    assert unset == ["m.K.by_class(y)", "m.UNUSED"]
    assert stale == ["m.f(b)"]
