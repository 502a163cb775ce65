"""Thin JSON API demo over the engine's result DataFrames (S6).

Mirrors the reference's serving surface (`app.py:156-486`) route for
route; the PDF export (S7) is painted by the stdlib PDF writer in
`pdf_report.py`, with an HTML twin of the same document in `report.py`:

    /api/symbols              — app.py:156-163
    /api/similarity?a=&b=     — app.py:166-319 (X3 bundle + DTW)
    /api/heatmap              — app.py:322-353 (J5)
    /api/candlestick/<symbol> — app.py:360-406 (P8 tail + O15 stride)
    /api/patterns/<symbol>    — app.py:409-444 (W5/W6 scalars)
    /api/risk                 — app.py:447-486 (X4 pipeline)
    /export/pdf               — S7 (visualization/pdf_export.py)
    /export/report            — S7 HTML twin

This is deliberately a DEMO edge, not an app server: every route is a
bounded result set (per-symbol scalars, top slices, one-row bundles)
serialized straight from the DataFrame via `.toJSON()`, and the layer
is pure stdlib (`http.server`) so the engine gains no web-framework
dependency. The engine's real serving story at scale is writing result
tables to a sink; this module exists to show a reference user where
each of their endpoints' numbers comes from.
"""

from __future__ import annotations

import functools
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .driver_queries import session_bars
from .operators import patterns, sampling, similarity, volatility

# /api/patterns and the reports scan 5-bar windows, as the reference's
# pattern self-test (`algorithms/patterns.py:299-327`) and the
# risk_classification profile do; /api/candlestick thins a series to at
# most 200 bars (`app.py:215-229`).
PATTERN_WINDOW = 5
CANDLE_POINTS = 200
# /api/patterns splits pattern_stats' row into the reference's two
# dicts; a null field is absent, as in every `.toJSON()` row.
_STREAK_KEYS = ("symbol", "total_ups", "total_windows", "max_streak")
_GAP_KEYS = ("symbol", "total_gaps", "gap_dates", "max_gaps_in_window")


def _rows(df: DataFrame) -> list[dict]:
    """Bounded result DataFrame → list of JSON-safe dicts (the S6
    `.toJSON()` edge; callers must pass aggregates/slices, never raw
    fact tables)."""
    return [json.loads(s) for s in df.toJSON().collect()]


def _memoized(route):
    """Compute a whole-dataset route once per `JsonApi` and keep the
    finished payload on the instance."""

    @functools.wraps(route)
    def answer(self) -> dict:
        if route.__name__ not in self._answers:
            self._answers[route.__name__] = route(self)
        return self._answers[route.__name__]

    return answer


class JsonApi:
    """Route handlers over one SparkSession + dataset directory.

    Every route reads the session's bars artifact
    (`driver_queries.session_bars`), the same landing the registry
    queries share, taken on first use so that construction runs no
    Spark work.

    /api/symbols, /api/heatmap and /api/risk are memoized per instance:
    their answers depend only on the dataset, and the reference keeps
    them the same way (`app.py:324-325, 449-450, 481`). Building their
    plans alone takes 0.5-0.9 s per call at sf0.001, before any job
    runs. A memoized payload is shared by every caller, so callers must
    not mutate it. The per-symbol and per-pair routes build and run
    their plans on every request, each as one small plan: the symbol's
    (or pair's) bars in one partition, so its window and aggregate need
    no exchange, and one job answers the request.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._answers: dict[str, dict] = {}

    @property
    def bars(self) -> DataFrame:
        return session_bars(self.spark, self.sf_dir)

    # -- /api/symbols (app.py:156-163)
    @_memoized
    def symbols(self) -> dict:
        rows = self.bars.select("symbol").distinct().orderBy("symbol").collect()
        return {"symbols": [r.symbol for r in rows]}

    # -- /api/similarity?a=&b= (app.py:166-319)
    def similarity(self, sym_a: int, sym_b: int) -> dict:
        known = set(self.symbols()["symbols"])
        if sym_a not in known or sym_b not in known:
            return {"error": "symbol not found"}
        bundle = _rows(similarity.compare_two_assets(self.bars, sym_a, sym_b))[0]
        return {"a": sym_a, "b": sym_b, **bundle}

    # -- /api/heatmap (app.py:322-353)
    @_memoized
    def heatmap(self) -> dict:
        rows = _rows(
            similarity.correlation_heatmap(self.bars).orderBy("sym_a", "sym_b")
        )
        return {"pairs": rows}

    def _series(self, symbol: int) -> DataFrame:
        """One symbol's bars in one partition: a single partition already
        satisfies the per-symbol window and groupBy, so the route's plan
        has no exchange and runs as one job."""
        return self.bars.filter(F.col("symbol") == symbol).coalesce(1)

    # -- /api/candlestick/<symbol> (app.py:360-406): tail slice, thinned
    def candlestick(self, symbol: int) -> dict:
        thinned = sampling.stride_sample(
            self._series(symbol), partition_col="symbol", order_cols=["date"],
            max_points=CANDLE_POINTS,
        )
        # a sort inside the one partition, not a global orderBy: range
        # partitioning would cost a sampling job for ≤ CANDLE_POINTS rows
        return {"symbol": symbol, "bars": _rows(thinned.sortWithinPartitions("date"))}

    # -- /api/patterns/<symbol> (app.py:409-444)
    def patterns(self, symbol: int) -> dict:
        stats = _rows(
            patterns.pattern_stats(self._series(symbol), PATTERN_WINDOW).withColumn(
                "gap_dates", F.col("gap_dates").cast("array<string>")
            )
        )
        row = stats[0] if stats else {}
        return {
            "symbol": symbol,
            "streaks": {k: row[k] for k in _STREAK_KEYS if k in row},
            "gaps": {k: row[k] for k in _GAP_KEYS if k in row},
        }

    # -- /api/risk (app.py:447-486)
    @_memoized
    def risk(self) -> dict:
        out = volatility.analyze_portfolio_risk(self.bars).orderBy("rank")
        return {"assets": _rows(out)}

    def _report_inputs(self):
        """The X4 risk + X5 pattern result DataFrames both report
        renderers (HTML, PDF) consume. Two consumers of the risk
        pipeline (table + histogram): one materialization, or the
        whole X4 pipeline executes twice per request."""
        classified = volatility.analyze_portfolio_risk(
            self.bars
        ).localCheckpoint(eager=False)
        summary = volatility.risk_summary(
            classified.select("symbol", "volatility", "risk_class")
        )
        pats = patterns.pattern_stats(self.bars, PATTERN_WINDOW)
        return classified, summary, pats

    # -- /export/report — the same document as /export/pdf rendered to
    # standalone HTML (browser-friendly twin)
    def report(self) -> dict:
        from .report import render_html_report

        classified, summary, pats = self._report_inputs()
        return {
            "content_type": "text/html",
            "body": render_html_report(classified, summary, pats),
        }

    # -- /export/pdf — S7 (reference /export/pdf,
    # visualization/pdf_export.py): risk + patterns results painted as
    # a real PDF 1.4 byte stream by the stdlib writer in pdf_report.py
    def pdf(self) -> dict:
        from .pdf_report import render_pdf_report

        classified, summary, pats = self._report_inputs()
        return {
            "content_type": "application/pdf",
            "body": render_pdf_report(classified, summary, pats),
        }

    # ------------------------------------------------------------- routing

    def dispatch(self, path: str, query: dict[str, str]) -> tuple[int, dict]:
        """(status, payload) for a request path — the framework-free
        core the HTTP wrapper and the tests share."""
        if path == "/api/symbols":
            return 200, self.symbols()
        if path == "/api/similarity":
            try:
                a, b = int(query["a"]), int(query["b"])
            except (KeyError, ValueError):
                return 400, {"error": "params a and b required"}
            out = self.similarity(a, b)
            return (400, out) if "error" in out else (200, out)
        if path == "/api/heatmap":
            return 200, self.heatmap()
        if path.startswith("/api/candlestick/"):
            try:
                sym = int(path.rsplit("/", 1)[1])
            except ValueError:
                return 400, {"error": "symbol must be an integer"}
            return 200, self.candlestick(sym)
        if path.startswith("/api/patterns/"):
            try:
                sym = int(path.rsplit("/", 1)[1])
            except ValueError:
                return 400, {"error": "symbol must be an integer"}
            return 200, self.patterns(sym)
        if path == "/api/risk":
            return 200, self.risk()
        if path == "/export/report":
            return 200, self.report()
        if path == "/export/pdf":
            return 200, self.pdf()
        return 404, {"error": f"no route for {path}"}


def serve(api: JsonApi, port: int = 8000) -> None:
    """Blocking stdlib HTTP loop around `JsonApi.dispatch` — demo only
    (single-threaded; a production edge would sit behind a real
    framework or, at scale, read pre-computed result tables)."""
    from http.server import BaseHTTPRequestHandler, HTTPServer
    from urllib.parse import parse_qsl, urlparse

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (stdlib contract)
            parsed = urlparse(self.path)
            status, payload = api.dispatch(
                parsed.path, dict(parse_qsl(parsed.query))
            )
            if "content_type" in payload and "body" in payload:
                ctype, body = payload["content_type"], payload["body"]
                if isinstance(body, str):
                    body = body.encode()
            else:
                ctype, body = "application/json", json.dumps(payload).encode()
            self.send_response(status)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # quiet demo server
            pass

    HTTPServer(("127.0.0.1", port), Handler).serve_forever()
