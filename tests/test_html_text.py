"""HTML → text extraction tests: scale-tier regex chain, robust
html.parser tier with jusText-style boilerplate removal, quarantine
contract, and the extraction → curation composition."""

from __future__ import annotations

from pyspark.sql import functions as F

from algoritmos_etl_spark.operators import html_text
from algoritmos_etl_spark.sources.readers import load_table

SF_DIR = "/root/testdata/sf0.001"


def _pages(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, html string")


def test_scale_tier_strips_markup_and_decodes_entities(spark):
    rows = [
        (
            0,
            "<html><head><script>var a = 1 < 2;</script>"
            "<style>p { color: blue; }</style></head>"
            "<body><!-- note --><p>Tom &amp; Jerry say &quot;hi&quot;"
            " &lt;now&gt;</p>\n\n<div>second   block</div></body></html>",
        ),
        (1, None),
        (2, ""),
    ]
    out = {
        r.doc_id: (r.text, r.n_words)
        for r in html_text.html_to_text(_pages(spark, rows)).collect()
    }
    assert out[0] == ('Tom & Jerry say "hi" <now> second block', 8)
    assert out[1] == ("", 0)
    assert out[2] == ("", 0)


def test_scale_tier_script_case_and_multiline(spark):
    rows = [
        (
            0,
            "<SCRIPT type='x'>\nmulti\nline // 1 < 2 > 0\n</SCRIPT>"
            "<p>kept</p><STYLE>\n.a{}\n</STYLE>",
        )
    ]
    out = html_text.html_to_text(_pages(spark, rows)).collect()[0]
    assert out.text == "kept"


def test_fixture_body_survives_extraction(spark):
    """On the synthesized corpus, the document body survives extraction
    verbatim (modulo whitespace collapse), the nav shell is kept, and
    script/style never leak."""
    docs = load_table(spark, SF_DIR, "documents").limit(20)
    pages = html_text.synthesize_html_corpus(docs)
    regex_out = {
        r.doc_id: r.text for r in html_text.html_to_text(pages).collect()
    }
    body = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    assert set(regex_out) == set(body)
    for d, t in regex_out.items():
        assert "Home" in t
        collapsed = " ".join((body[d] or "").split())
        if collapsed:
            assert collapsed in t
        assert "var x" not in t and "color: red" not in t


def test_extraction_feeds_curation(spark):
    """Composition: extracted text flows into the existing quality
    gate exactly like native text — the CommonCrawl-shaped pipeline
    (html -> text -> curation) end to end."""
    from algoritmos_etl_spark.operators import text as text_ops

    docs = load_table(spark, SF_DIR, "documents").limit(30)
    pages = html_text.synthesize_html_corpus(docs)
    extracted = html_text.html_to_text(pages).select("doc_id", "text")
    gated = text_ops.text_quality_gate(extracted)
    rows = gated.collect()
    assert len(rows) == 30
    assert {"n_words", "stopword_ratio", "pred_lang"} <= set(gated.columns)
    assert all(r.n_words > 0 for r in rows)


def test_sql_twins_stay_in_sync():
    """The DuckDB twins live next to the Spark chain; this pins their
    output against the Spark tier on literal strings via duckdb."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT 7 AS doc_id, "
        "'alpha beta  gamma' AS text"
    )
    html = con.execute(
        f"SELECT {html_text.synthesize_html_sql()} FROM documents"
    ).fetchone()[0]
    assert html.startswith("<html>") and "alpha beta  gamma" in html
    out = con.execute(
        f"SELECT {html_text.html_to_text_sql(html_text.synthesize_html_sql())} "
        "FROM documents"
    ).fetchone()[0]
    assert "alpha beta gamma" in out
    assert "<" not in out.replace("<now>", "") and "var x" not in out
    # entity decode parity spots
    assert "Doc & Page" in out and "'ok'" in out
