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
    "correlation_heatmap": "B(B+1)/2 block-pair rows, B bounded by symbol target",
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
    "sources/compact.py": (
        2,
        "touched-partition list (bounded by the update batch's own "
        "partition spread, pushed as static partition pruning) and the "
        "WAP gate's one-row-per-rule expectation report",
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
