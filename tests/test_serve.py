"""Serving-demo tests: every reference API route answers with the
engine's numbers through the framework-free dispatch core."""

from __future__ import annotations

import json

import pytest

from algoritmos_etl_spark.driver_queries import session_bars
from algoritmos_etl_spark.serve import JsonApi

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def api(spark):
    return JsonApi(spark, SF_DIR)


def _jobs_of(spark, group: str, fn):
    """(fn's result, ids of the Spark jobs fn launched), read from the
    status tracker through a job group of fn's own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_construction_launches_no_job(spark):
    _, jobs = _jobs_of(spark, "serve-construct", lambda: JsonApi(spark, SF_DIR))
    assert jobs == []


def test_whole_dataset_routes_are_memoized(spark):
    api = JsonApi(spark, SF_DIR)
    for path in ("/api/symbols", "/api/heatmap", "/api/risk"):
        first = api.dispatch(path, {})
        again, jobs = _jobs_of(
            spark, f"serve-memo{path}", lambda: api.dispatch(path, {})
        )
        assert again == first and again[0] == 200
        assert jobs == [], f"{path} ran {len(jobs)} job(s) on a repeat"


def test_routes_read_the_session_bars_artifact(spark, api):
    """The API shares the registry's bars landing: no route plan scans a
    cached (InMemoryRelation) copy of its own."""
    assert api.bars is session_bars(spark, SF_DIR)
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        runs = store.executionsList()
        return [runs.apply(i) for i in range(runs.length())]

    seen = {e.executionId() for e in executions()}
    fresh = JsonApi(spark, SF_DIR)
    for path, query in (
        ("/api/symbols", {}), ("/api/similarity", {"a": "0", "b": "1"}),
        ("/api/heatmap", {}), ("/api/candlestick/0", {}),
        ("/api/patterns/0", {}), ("/api/risk", {}),
    ):
        assert fresh.dispatch(path, query)[0] == 200
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    plans = [
        e.physicalPlanDescription() for e in executions()
        if e.executionId() not in seen
    ]
    assert plans
    assert not any("InMemory" in p for p in plans)


def test_warm_candlestick_runs_few_tasks(spark, api):
    """At sf0.001 the bars landing is one partition, so a warm
    per-symbol route runs a handful of tasks, not one per cached
    partition."""
    api.dispatch("/api/candlestick/0", {})
    (status, _), jobs = _jobs_of(
        spark, "serve-candlestick", lambda: api.dispatch("/api/candlestick/0", {})
    )
    assert status == 200
    store = spark.sparkContext._jsc.sc().statusStore()
    tasks = sum(store.job(j).numCompletedTasks() for j in jobs)
    assert 0 < tasks < 8


@pytest.mark.parametrize(
    "path, query",
    [
        ("/api/similarity", {"a": "2", "b": "3"}),
        ("/api/patterns/2", {}),
        ("/api/candlestick/2", {}),
    ],
)
def test_warm_per_symbol_route_runs_at_most_two_jobs(spark, api, path, query):
    """Each per-symbol route is one small plan: no exchange for the
    one-symbol window and aggregate, no per-pair DTW join, no range
    sort's sampling job."""
    api.dispatch(path, query)
    (status, _), jobs = _jobs_of(
        spark, f"serve-jobs{path}", lambda: api.dispatch(path, query)
    )
    assert status == 200
    assert 0 < len(jobs) <= 2, f"{path} ran {len(jobs)} jobs"


def test_symbols_route(api):
    status, out = api.dispatch("/api/symbols", {})
    assert status == 200
    assert out["symbols"] == sorted(out["symbols"]) and out["symbols"]


def test_similarity_route_and_validation(api):
    status, out = api.dispatch("/api/similarity", {"a": "0", "b": "1"})
    assert status == 200
    assert {"euclidean", "pearson", "cosine", "dtw", "n_points"} <= set(out)
    status, out = api.dispatch("/api/similarity", {"a": "0", "b": "0"})
    assert status == 200
    assert out["dtw"] == 0.0 and out["euclidean"] == 0.0 and out["n_points"] > 0
    status, out = api.dispatch("/api/similarity", {"a": "0", "b": "999999"})
    assert status == 400 and "error" in out
    status, out = api.dispatch("/api/similarity", {"a": "0"})
    assert status == 400


def test_heatmap_route(api):
    status, out = api.dispatch("/api/heatmap", {})
    assert status == 200
    assert all(p["sym_a"] < p["sym_b"] for p in out["pairs"])


def test_candlestick_route_thinned(api):
    status, out = api.dispatch("/api/candlestick/0", {})
    assert status == 200
    assert out["bars"] and all("close" in b for b in out["bars"])
    dates = [b["date"] for b in out["bars"]]
    assert all(a < b for a, b in zip(dates, dates[1:])), "bars not in date order"


def test_patterns_route(api):
    status, out = api.dispatch("/api/patterns/0", {})
    assert status == 200
    assert "total_ups" in out["streaks"] and "total_gaps" in out["gaps"]


def test_risk_route(api):
    status, out = api.dispatch("/api/risk", {})
    assert status == 200
    ranks = [a["rank"] for a in out["assets"]]
    assert ranks == sorted(ranks)
    assert all(a["risk_class"] in ("Conservador", "Moderado", "Agresivo")
               for a in out["assets"])


def test_unknown_route_404(api):
    status, out = api.dispatch("/api/nope", {})
    assert status == 404


def test_payloads_json_serializable(api):
    for path in ("/api/symbols", "/api/heatmap", "/api/risk"):
        _, out = api.dispatch(path, {})
        json.dumps(out)  # must not raise


def _parse_pdf(body: bytes) -> tuple[int, str]:
    """Tiny structural PDF parser: validates header/EOF, walks the xref
    table checking every object really starts at its declared offset,
    reads /Count from the page tree, and concatenates the text drawn
    by `(...) Tj` operators across all content streams. Returns
    (page_count, drawn_text)."""
    import re

    assert body.startswith(b"%PDF-1.4"), body[:16]
    assert body.rstrip().endswith(b"%%EOF")
    m = re.search(rb"startxref\s+(\d+)\s+%%EOF\s*$", body)
    assert m, "missing startxref"
    xref_pos = int(m.group(1))
    assert body[xref_pos : xref_pos + 4] == b"xref"
    lines = body[xref_pos:].split(b"\n")
    first, n_entries = map(int, lines[1].split())
    for i, line in enumerate(lines[2 : 2 + n_entries]):
        off, _gen, kind = line.split()
        if kind == b"n":
            obj_id = first + i
            at = int(off)
            assert body[at:].startswith(f"{obj_id} 0 obj".encode()), (
                f"object {obj_id} not at declared offset {at}"
            )
    count = re.search(rb"/Type /Pages [^>]*?/Count (\d+)", body)
    assert count, "no page tree"
    raw = b" ".join(re.findall(rb"\(((?:[^()\\]|\\.)*)\) Tj", body))
    text = re.sub(r"\\([()\\])", r"\1", raw.decode("latin-1"))
    return int(count.group(1)), text


def test_pdf_route_renders_valid_pdf(api):
    """S7: /export/pdf returns a structurally valid %PDF-1.4 body whose
    content streams draw the risk + patterns tables."""
    status, out = api.dispatch("/export/pdf", {})
    assert status == 200
    assert out["content_type"] == "application/pdf"
    n_pages, text = _parse_pdf(out["body"])
    assert n_pages >= 1
    for section in (
        "Risk class distribution", "Assets by volatility rank", "Pattern scan",
    ):
        assert section in text, f"missing section {section!r}"
    risk = api.risk()["assets"]
    assert str(risk[0]["symbol"]) in text
    assert any(c in text for c in ("Conservador", "Moderado", "Agresivo"))


def test_pdf_writer_paginates_and_escapes():
    """Many rows must spill onto further pages; parens/backslashes in
    cell text must survive literal-string escaping."""
    from algoritmos_etl_spark.pdf_report import PdfDoc

    doc = PdfDoc()
    doc.table(
        "Big (test) table \\ with escapes",
        ["id", "value"],
        [(i, f"row({i})") for i in range(200)],
    )
    n_pages, text = _parse_pdf(doc.render())
    assert n_pages >= 3  # ~48 rows/page at 14 pt leading
    assert "Big (test) table \\ with escapes" in text
    assert "row(199)" in text


def test_report_route_renders_html(api):
    """S7 stand-in: /export/report renders the risk + patterns result
    DataFrames into one standalone HTML document."""
    status, out = api.dispatch("/export/report", {})
    assert status == 200
    assert out["content_type"] == "text/html"
    body = out["body"]
    assert body.startswith("<!DOCTYPE html>")
    for section in (
        "Risk class distribution", "Assets by volatility rank", "Pattern scan",
    ):
        assert section in body
    # one data row per asset in the rank table, classes from the X4 pipeline
    risk = api.risk()["assets"]
    assert f"<td>{risk[0]['symbol']}</td>" in body
    assert any(c in body for c in ("Conservador", "Moderado", "Agresivo"))
