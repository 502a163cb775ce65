"""HTML → text extraction: the FIRST operator a CommonCrawl-shaped
pretraining pipeline reaches for (the documents table starts at clean
text; real crawls start at markup).

`html_to_text` is a pure-JVM `regexp_replace` chain (drop script/style
blocks, drop comments, strip tags, decode the six standard entities,
collapse whitespace). One projection pass, no shuffle, no Python; every
step has a DuckDB twin (RE2 has no backreferences, so script and style
use separate patterns), which is what lets the registered query carry a
FULL value oracle. Contract: well-formed-ish markup — a '<' inside a
text node that never closes would swallow text to the next '>' (the
chain is a lexer, not a parser).

Reference scope note: the reference (`/root/reference/`) has no HTML
ingestion — its source edge is the Yahoo JSON chart API
(`etl/data_fetcher.py`); this module is extension surface for the
100 TB training-data brief (VERDICT r8 task #5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# the six entities every HTML snapshot carries; decoded LAST so a
# literal '&amp;lt;' round-trips to '&lt;' not '<' (standard order)
_ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)

# (java_pattern, duckdb_pattern_is_same) — RE2 and java.util.regex agree
# on every construct used here: inline (?is) flags, lazy .*?, classes.
_SCRIPT = r"(?is)<script[^>]*>.*?</script>"
_STYLE = r"(?is)<style[^>]*>.*?</style>"
_COMMENT = r"(?s)<!--.*?-->"
_TAG = r"(?s)<[^>]*>"
_WS = r"\s+"


def html_to_text_col(html: Column) -> Column:
    """The extraction chain as one JVM expression (see module doc)."""
    s = F.regexp_replace(html, _SCRIPT, " ")
    s = F.regexp_replace(s, _STYLE, " ")
    s = F.regexp_replace(s, _COMMENT, " ")
    s = F.regexp_replace(s, _TAG, " ")
    for ent, ch in _ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(s, _WS, " "))


def html_to_text(pages: DataFrame) -> DataFrame:
    """Scale-tier extraction: (doc_id, text, n_words) from raw markup.
    One whole-stage-codegen projection — at 100 TB this is a map-only
    pass with zero shuffle."""
    text = html_to_text_col(F.coalesce(F.col("html"), F.lit("")))
    return pages.select(
        "doc_id",
        text.alias("text"),
    ).select(
        "doc_id",
        "text",
        F.size(F.filter(F.split("text", " "), lambda w: w != "")).alias(
            "n_words"
        ),
    )


def html_to_text_sql(html_expr: str) -> str:
    """DuckDB twin of `html_to_text_col` over an SQL expression —
    kept HERE next to the Spark chain so the two dialects can never
    drift apart silently. RE2 needs the 'g' (global) option that
    java.util.regex implies; inline (?is) flags are shared syntax."""
    s = html_expr
    for pat in (_SCRIPT, _STYLE, _COMMENT, _TAG):
        s = f"regexp_replace({s}, '{pat}', ' ', 'g')"
    for ent, ch in _ENTITIES:
        lit = ch.replace("'", "''")
        s = f"replace({s}, '{ent.replace(chr(39), chr(39) * 2)}', '{lit}')"
    return f"trim(regexp_replace({s}, '{_WS}', ' ', 'g'))"


# ------------------------------------------------------------- fixture

# the boilerplate shell every synthesized page shares — nav links and a
# footer, a script and a style block (the chain drops both), entities
# in the title (the chain decodes them)
_HTML_PREFIX = (
    "<html><!-- synthesized fixture --><head>"
    "<title>Doc &amp; Page</title>"
    '<script type="text/javascript">var x = 1; if (x < 2) { x = 3; }'
    "</script><style>.nav { color: red; }</style></head><body>"
    '<nav><a href="/home">Home</a> <a href="/about">About</a> '
    '<a href="/contact">Contact</a></nav><h1>Entry</h1><p>'
)
_HTML_SUFFIX = (
    '</p><div class="footer"><a href="/terms">Terms</a> '
    '<a href="/privacy">Privacy</a> &#39;ok&#39;</div></body></html>'
)


def synthesize_html_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic HTML fixture corpus: (doc_id, html) wrapping each
    document's text in the shared boilerplate shell above — the
    TEST-FIXTURE twin of an ingest that lands crawled pages as string
    columns (the `synthesize_png_corpus` pattern). Pure string concat,
    so a SQL oracle rebuilds it byte-for-byte."""
    return docs.select(
        "doc_id",
        F.concat(
            F.lit(_HTML_PREFIX),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(_HTML_SUFFIX),
        ).alias("html"),
    )


def synthesize_html_sql() -> str:
    """DuckDB twin of `synthesize_html_corpus` (SQL expression for the
    html column over the documents view)."""
    pre = _HTML_PREFIX.replace("'", "''")
    suf = _HTML_SUFFIX.replace("'", "''")
    return f"'{pre}' || coalesce(text, '') || '{suf}'"
