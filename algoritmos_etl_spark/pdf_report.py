"""S7: PDF report sink — a minimal pure-stdlib PDF 1.4 writer.

Reference parity: `visualization/pdf_export.py:84-415` renders a
title page, an ETL summary, the risk-classification table, the
pattern-scan results and an algorithms note with ReportLab. The
document class is text + ruled tables only (no images), which a
base-14-font PDF expresses directly: Helvetica/Helvetica-Bold need no
font embedding, so the whole byte stream is a few literal objects, a
cross-reference table and uncompressed content streams — zero
dependencies, valid in any reader.

The report composes from the SAME result DataFrames as
`report.render_html_report` (X4 risk pipeline + X5 pattern bundle,
both oracle-checked registered queries); only the paint differs.
Served at `/export/pdf` (`serve.JsonApi`); the HTML twin stays at
`/export/report`. Inputs are bounded per-symbol aggregates — the
driver-side collect here is the serving edge, the same boundedness
class as every JSON route.
"""

from __future__ import annotations

import io
from typing import Iterable, Sequence

from pyspark.sql import DataFrame

from .report import MAX_ASSETS, TABLES, TITLE, report_rows

PAGE_W, PAGE_H = 612, 792  # US letter, points
MARGIN = 54
LINE_H = 14


def _esc(s: str) -> str:
    """PDF literal-string escaping (Latin-1 repertoire; others -> '?')."""
    s = s.encode("latin-1", "replace").decode("latin-1")
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


class PdfDoc:
    """Line/table cursor over letter pages; `render()` emits the file.

    Content streams use only `BT/Tf/Td/Tj/ET` text blocks and `m/l/S`
    rules — the minimal operator set every PDF reader implements.
    """

    def __init__(self) -> None:
        self._pages: list[str] = []
        self._cur: list[str] = []
        self._y = float(PAGE_H - MARGIN)

    # ------------------------------------------------------------ layout
    def _flush_page(self) -> None:
        if self._cur:
            self._pages.append("\n".join(self._cur))
            self._cur = []
        self._y = float(PAGE_H - MARGIN)

    def _need(self, height: float) -> None:
        if self._y - height < MARGIN:
            self._flush_page()

    def text(
        self,
        line: str,
        bold: bool = False,
        size: int = 10,
        x: float = MARGIN,
        advance: bool = True,
    ) -> None:
        self._need(size + 4)
        font = "/F2" if bold else "/F1"
        self._cur.append(
            f"BT {font} {size} Tf {x:.1f} {self._y:.1f} Td ({_esc(line)}) Tj ET"
        )
        if advance:
            self._y -= max(LINE_H, size + 4)

    def rule(self) -> None:
        y = self._y + LINE_H - 4
        self._cur.append(f"0.5 w {MARGIN} {y:.1f} m {PAGE_W - MARGIN} {y:.1f} l S")

    def spacer(self, pts: float = LINE_H) -> None:
        self._y -= pts

    def table(
        self,
        title: str,
        cols: Sequence[str],
        rows: Iterable[tuple],
        widths: Sequence[float] | None = None,
    ) -> None:
        """Ruled table: bold header row + one text row per tuple.
        `widths` are column widths in points (defaults to equal split).
        """
        cols = list(cols)
        if widths is None:
            widths = [(PAGE_W - 2 * MARGIN) / len(cols)] * len(cols)
        xs = [MARGIN]
        for w in widths[:-1]:
            xs.append(xs[-1] + w)

        self._need(3 * LINE_H + 18)
        self.text(title, bold=True, size=13)
        self.spacer(2)
        for x, c in zip(xs, cols):
            self.text(str(c), bold=True, size=9, x=x, advance=False)
        self._y -= LINE_H
        self.rule()
        for row in rows:
            self._need(LINE_H)
            for x, v in zip(xs, row):
                self.text("" if v is None else str(v), size=9, x=x, advance=False)
            self._y -= LINE_H
        self.spacer(6)

    # ------------------------------------------------------------ assembly
    def render(self, compress: bool = False) -> bytes:
        """Assemble objects + xref into a complete PDF 1.4 byte stream.
        `compress=True` Flate-encodes each content stream (zlib,
        `/Filter /FlateDecode`) — the layout the reading tier
        (`sources/pdf.py`) must inflate, and the fixture twin of its
        compressed-stream path (the `encode_jpeg_gray` pattern)."""
        self._flush_page()
        pages = self._pages or [""]
        n_pages = len(pages)
        page_ids = [6 + 2 * i for i in range(n_pages)]

        buf = io.BytesIO()
        buf.write(b"%PDF-1.4\n")
        offsets: dict[int, int] = {}

        def obj(obj_id: int, payload: bytes) -> None:
            offsets[obj_id] = buf.tell()
            buf.write(f"{obj_id} 0 obj\n".encode())
            buf.write(payload)
            buf.write(b"\nendobj\n")

        kids = " ".join(f"{pid} 0 R" for pid in page_ids)
        obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
        obj(2, f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode())
        obj(3, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
        obj(4, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica-Bold >>")
        for i, content in enumerate(pages):
            data = content.encode("latin-1", "replace")
            filt = b""
            if compress:
                import zlib

                data = zlib.compress(data, 6)
                filt = b" /Filter /FlateDecode"
            cid, pid = 5 + 2 * i, 6 + 2 * i
            obj(
                cid,
                b"<< /Length %d%s >>\nstream\n%s\nendstream"
                % (len(data), filt, data),
            )
            obj(
                pid,
                (
                    f"<< /Type /Page /Parent 2 0 R "
                    f"/MediaBox [0 0 {PAGE_W} {PAGE_H}] "
                    f"/Resources << /Font << /F1 3 0 R /F2 4 0 R >> >> "
                    f"/Contents {cid} 0 R >>"
                ).encode(),
            )

        n_objs = 4 + 2 * n_pages
        xref_pos = buf.tell()
        buf.write(f"xref\n0 {n_objs + 1}\n".encode())
        buf.write(b"0000000000 65535 f \n")
        for oid in range(1, n_objs + 1):
            buf.write(f"{offsets[oid]:010d} 00000 n \n".encode())
        buf.write(
            (
                f"trailer\n<< /Size {n_objs + 1} /Root 1 0 R >>\n"
                f"startxref\n{xref_pos}\n%%EOF"
            ).encode()
        )
        return buf.getvalue()


def render_pdf_report(
    risk: DataFrame, risk_summary: DataFrame, pattern_stats: DataFrame
) -> bytes:
    """The reference's `/export/pdf` document from the X4/X5 result
    DataFrames — the same tables and rows as the HTML twin
    (`report.report_rows`).
    """
    tables = report_rows(risk, risk_summary, pattern_stats)
    doc = PdfDoc()
    doc.text(TITLE, bold=True, size=20)
    doc.spacer(4)
    doc.text(
        f"Assets analyzed: {len(tables[1])} (top {MAX_ASSETS} by rank)", size=10
    )
    doc.spacer(LINE_H)
    widths = ([180, 100], [60, 80, 180, 120], [60, 70, 70, 110, 70, 120])
    for (title, cols), rows, w in zip(TABLES, tables, widths):
        doc.table(title, cols, rows, widths=w)
    doc.spacer(4)
    doc.text("Methods", bold=True, size=13)
    doc.text(
        "Volatility: sample stddev of log returns, annualized by sqrt(252);",
        size=9,
    )
    doc.text(
        "risk classes at exact P33/P66 thresholds. Patterns: consecutive",
        size=9,
    )
    doc.text(
        "up-day streaks and >2% gap-ups over 5-day sliding windows.",
        size=9,
    )
    return doc.render()
