"""PDF text-extraction tier (`sources/pdf.py`): bit-exact round trip
against the package's own writer (`pdf_report.PdfDoc` — the fixture
twin), pagination math, quarantine contract, both stream encodings,
the REPORT document (tables, bold, rules), and the
extraction → curation composition."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from algoritmos_etl_spark import pdf_report
from algoritmos_etl_spark.sources import pdf as pdf_src


def _wrap_pdf(text: str, compress: bool) -> bytes:
    words = text.split(" ")
    doc = pdf_report.PdfDoc()
    for i in range(0, len(words), pdf_src.WORDS_PER_LINE):
        doc.text(" ".join(words[i : i + pdf_src.WORDS_PER_LINE]), size=10)
    return doc.render(compress=compress)


@pytest.mark.parametrize("compress", [False, True])
def test_roundtrip_bit_exact(compress):
    text = "the quick brown fox " * 40 + "end."
    text = text.strip()
    meta = pdf_src.decode_pdf(_wrap_pdf(text, compress))
    assert meta["text"] == text
    assert meta["n_chars"] == len(text)
    assert meta["n_pages"] == 1


def test_roundtrip_edge_texts():
    cases = [
        "",  # empty doc still renders one page
        "one",
        "parens (nested (deep)) and \\ backslash survive",
        "multiple  spaces   preserved",
        "unicode é ñ ü stays; 中文 becomes ?",
    ]
    for t in cases:
        expected = t.encode("latin-1", "replace").decode("latin-1")
        meta = pdf_src.decode_pdf(_wrap_pdf(t, True))
        assert meta["text"] == expected, t
        assert meta["n_pages"] == 1


def test_pagination_matches_lines_per_page_constant():
    """The oracle's page math rests on LINES_PER_PAGE — pin it against
    the writer's ACTUAL cursor behavior so a layout tweak that shifts
    pagination fails here before it breaks the registered hash."""
    lpp = pdf_src.LINES_PER_PAGE
    for n_lines, want_pages in [
        (1, 1), (lpp, 1), (lpp + 1, 2), (3 * lpp, 3), (3 * lpp + 1, 4),
    ]:
        doc = pdf_report.PdfDoc()
        for i in range(n_lines):
            doc.text(f"line {i}", size=10)
        meta = pdf_src.decode_pdf(doc.render())
        assert meta["n_pages"] == want_pages, n_lines
        # text joins across the page break without loss
        assert meta["text"] == " ".join(f"line {i}" for i in range(n_lines))


def test_quarantine_contract():
    good = _wrap_pdf("hello world", True)
    with pytest.raises(ValueError, match=pdf_src.ERR_BAD_PDF):
        pdf_src.decode_pdf(b"GIF89a not a pdf")
    with pytest.raises(ValueError, match=pdf_src.ERR_TRUNCATED):
        pdf_src.decode_pdf(good[: len(good) * 3 // 5])
    # unsupported filter quarantines with its own code
    bad_filter = good.replace(b"/FlateDecode", b"/LZWDecode\x20\x20")
    with pytest.raises(ValueError, match=pdf_src.ERR_BAD_FILTER):
        pdf_src.decode_pdf(bad_filter)


def test_report_document_extracts_in_reading_order(spark):
    """The serving-edge report PDF (title, tables with same-y cells,
    rules, bold runs) parses through the same reader; shown text
    arrives in stream order = reading order."""
    risk = spark.createDataFrame(
        [(1, "AAA", 0.25, "Agresivo"), (2, "BBB", 0.10, "Conservador")],
        "rank int, symbol string, volatility double, risk_class string",
    )
    summary = spark.createDataFrame(
        [("Agresivo", 1), ("Conservador", 1)],
        "risk_class string, n_assets long",
    )
    pats = spark.createDataFrame(
        [("AAA", 5, 10, 3, 2, 1)],
        "symbol string, total_ups long, total_windows long, "
        "max_streak long, total_gaps long, max_gaps_in_window long",
    )
    data = pdf_report.render_pdf_report(risk, summary, pats)
    meta = pdf_src.decode_pdf(data)
    txt = meta["text"]
    assert txt.startswith("Portfolio analysis report")
    for needle in [
        "Risk class distribution", "Agresivo", "Conservador",
        "Assets by volatility rank", "AAA", "0.25", "Pattern scan",
        "Methods",
    ]:
        assert needle in txt
    # table rows read left-to-right: rank 1 then its symbol
    assert txt.index("Risk class distribution") < txt.index("AAA")


def test_extract_pdf_text_distributed_and_composes_with_curation(spark):
    rows = [
        (
            i,
            f"Document number {i} has the body of "
            + " ".join(f"w{i}x{j}" for j in range(14)),
        )
        for i in range(22)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = pdf_src.extract_pdf_text(pdf_src.synthesize_pdf_corpus(docs))
    got = {r["doc_id"]: r for r in out.collect()}
    assert len(got) == 22
    torn = {i for i in range(22) if i % pdf_src.PDF_TORN_EVERY == 3}
    for i, text in rows:
        if i in torn:
            assert got[i]["ok"] is False
            assert got[i]["err"] == pdf_src.ERR_TRUNCATED
            assert got[i]["text"] is None
        else:
            assert got[i]["ok"] is True
            assert got[i]["text"] == text
            assert got[i]["n_chars"] == len(text)
    # extraction -> curation composition: recovered docs feed the
    # corpus gate exactly like native text (quarantine rows excluded
    # VISIBLY, not silently)
    from algoritmos_etl_spark.plans.curation import curate_corpus

    recovered = out.filter("ok").select("doc_id", "text")
    curated = curate_corpus(recovered)  # 21 words, 2 stopwords, "the": English
    assert curated.count() > 0
    assert set(r["doc_id"] for r in curated.collect()) <= set(
        i for i, _ in rows
    ) - torn
