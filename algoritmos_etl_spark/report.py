"""HTML report sink — the browser-friendly twin of the PDF export
(S7, `visualization/pdf_export.py:84-415` in the reference).

The same RESULT DataFrames (X4 risk pipeline, X5 pattern bundle —
both registered, oracle-checked queries) rendered to a single
standalone HTML document with zero new dependencies (stdlib `html`
only). The real PDF paint lives in `pdf_report.py` (pure-stdlib PDF
1.4 writer) at `/export/pdf`; this HTML form is served at
`/export/report` for browsers.

The inputs are bounded per-symbol aggregates (one row per asset), the
same boundedness class as every other serving route.
"""

from __future__ import annotations

import html
from typing import Iterable

from pyspark.sql import DataFrame


def _table(title: str, cols: list[str], rows: Iterable[tuple]) -> str:
    head = "".join(f"<th>{html.escape(c)}</th>" for c in cols)
    body = "\n".join(
        "<tr>" + "".join(
            f"<td>{html.escape('' if v is None else str(v))}</td>" for v in row
        ) + "</tr>"
        for row in rows
    )
    return (
        f"<h2>{html.escape(title)}</h2>\n"
        f"<table>\n<thead><tr>{head}</tr></thead>\n<tbody>\n{body}\n</tbody></table>"
    )


TITLE = "Portfolio analysis report"
# Both renderers (this HTML one and `pdf_report`) draw the top MAX_ASSETS
# assets by rank, so a document stays bounded at any corpus size.
MAX_ASSETS = 100
# (title, column headers) of the tables both renderers draw, in order
TABLES = (
    ("Risk class distribution", ["risk class", "assets"]),
    ("Assets by volatility rank", ["rank", "symbol", "annualized volatility", "risk class"]),
    (
        "Pattern scan",
        ["symbol", "up days", "windows", "max streak (win)", "gap-ups", "max gap-ups / window"],
    ),
)


def report_rows(
    risk: DataFrame, risk_summary: DataFrame, pattern_stats: DataFrame
) -> list[list[tuple]]:
    """The rows of each of `TABLES` from the X4/X5 result DataFrames (one
    row per asset). The driver-side collect here is the serving edge,
    same class as every JSON route."""
    return [
        [(r.risk_class, r.n_assets) for r in risk_summary.orderBy("risk_class").collect()],
        [
            (r.rank, r.symbol, round(r.volatility, 6), r.risk_class)
            for r in risk.orderBy("rank").limit(MAX_ASSETS).collect()
        ],
        [
            (
                r.symbol, r.total_ups, r.total_windows, r.max_streak,
                r.total_gaps, r.max_gaps_in_window,
            )
            for r in pattern_stats.orderBy("symbol").limit(MAX_ASSETS).collect()
        ],
    ]


def render_html_report(
    risk: DataFrame, risk_summary: DataFrame, pattern_stats: DataFrame
) -> str:
    """One standalone HTML document from the risk + patterns results."""
    rows = report_rows(risk, risk_summary, pattern_stats)
    parts = [
        "<!DOCTYPE html><html><head><meta charset='utf-8'>",
        f"<title>{html.escape(TITLE)}</title>",
        "<style>body{font-family:sans-serif;margin:2em}"
        "table{border-collapse:collapse}"
        "td,th{border:1px solid #999;padding:4px 8px;text-align:right}"
        "th{background:#eee}</style></head><body>",
        f"<h1>{html.escape(TITLE)}</h1>",
        *(_table(title, cols, r) for (title, cols), r in zip(TABLES, rows)),
        "</body></html>",
    ]
    return "\n".join(parts)
