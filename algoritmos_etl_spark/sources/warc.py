"""WARC (ISO 28500) crawl-archive source tier — the edge where a real
CommonCrawl-shaped pretraining pipeline STARTS: gzip'd WARC files of
HTTP response records, not clean text or even bare HTML.

Three pieces, mirroring the codec-family contract
(`multimodal.decode_png`: real binary format, deterministic fixture
synthesizer, quarantine instead of task failure):

- `synthesize_warc_corpus` — deterministic fixture twin of a crawl
  drop: wraps each document's text in the shared HTML shell
  (`html_text`'s prefix/suffix, so the SQL oracle rebuilds the markup
  byte-for-byte), frames it as a WARC/1.0 `response` record with a
  full HTTP/1.1 envelope, gzips each record as its OWN member
  (CommonCrawl layout — member-per-record is what makes range-request
  record access possible), and concatenates `docs_per_file` members
  per file. Every `torn_every`-th file has its LAST member truncated
  mid-stream — the torn-record case the quarantine contract exists
  for. Distributed: one `applyInPandas` per output file; the only
  window is the fixture's global row_number (fixture-only — a real
  crawl already has files).
- `parse_warc_records` — the real parser: member-wise gzip
  decompression (zlib `wbits=31`, `unused_data` walks to the next
  member), WARC header block parse (version line, colon fields,
  Content-Length framing), HTTP envelope strip (status line, headers,
  `\\r\\n\\r\\n` body split). Arrow-batched `mapInPandas`; a torn or
  malformed record yields a quarantine row (ok=false, err=<reason>)
  and NEVER fails the task. A truncated gzip member emits ONE
  quarantine row for its torn region and the parser RESYNCS by
  scanning for the next gzip magic (1f 8b 08) — one torn record costs
  one record, not the file tail, exactly what real WARC readers do
  (a chance magic inside compressed bytes fails the CRC-checked
  decompress and is skipped without minting extra rows, so the
  output is a pure function of the records, not the noise).
- `parse_warc_records_cdx` — record-level parallelism. WARC is a tape
  format, so `parse_warc_records` is sequential per file (CommonCrawl
  files are ~1 GiB: one Arrow batch per file). The member offsets
  index, which the cdx sidecar files carry in real crawls, lets this
  path explode the index, slice members JVM-side, repartition to full
  parallelism and parse each record independently.

Reference scope note: the reference (/root/reference) has no crawl
ingestion — its source edge is a JSON chart API (etl/data_fetcher.py);
this module is extension surface for the 100 TB training-data brief
(VERDICT r9 task #1).
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import one_partition
from ..operators.html_text import _HTML_PREFIX, _HTML_SUFFIX

# fixed, deterministic fixture geometry — the SQL oracle reproduces
# file membership and torn-ness from these same constants
DOCS_PER_FILE = 50
TORN_EVERY = 5  # every 5th file (file_no % 5 == TORN_EVERY - 1) is torn

ERR_TORN = "torn_gzip_member"
ERR_BAD_WARC = "bad_warc_header"
ERR_SHORT_PAYLOAD = "short_payload"
ERR_BAD_HTTP = "bad_http_envelope"
ERR_CHUNKED = "unsupported_transfer_encoding"
ERR_BAD_UTF8 = "undecodable_body"
ERR_UNKNOWN_CHARSET = "unknown_charset"

_URL_PREFIX = "https://example.com/doc/"

# mixed-charset fixture modes (doc_id % 4 picks one) — real crawls are
# 20-30% legacy-charset, declared in the HTTP Content-Type or an HTML
# meta tag (VERDICT r11 task #1). Each mode: (codec, declared-in-
# header?, marker). The marker is appended to the body text so the
# wire bytes are GENUINELY non-UTF-8 for the legacy modes (the corpus
# text is ASCII; without a marker the codecs would be indistinguishable
# and the fixture vacuous): € is 0x80 in cp1252 (proves the cp1252
# table, not latin-1), ï/± are 0xEF/0xB1 in latin-1 (invalid UTF-8
# sequences), ‘ ’ • are 0x91/0x92/0x95 cp1252 (the meta-sniff mode).
# Legacy-mode bodies are ASCII-folded first (non-ASCII → '?') so the
# strict encode can never fail — identity on the ASCII corpus, and an
# exact one-regex SQL twin otherwise.
CHARSET_MODES = (
    ("utf-8", True, "§µ—€"),
    ("windows-1252", True, "café €"),
    ("iso-8859-1", True, "naïve ±"),
    ("windows-1252", False, "‘q’ •"),
)

# java.util.regex form; the DuckDB twin uses RE2's braced hex escapes
_ASCII_FOLD_JAVA = "[^\\x00-\\x7f]"
_ASCII_FOLD_RE2 = "[^\\x{00}-\\x{7f}]"


def charset_html_col(doc_id, text):
    """The mixed-charset fixture page as ONE Column expression:
    mode = doc_id % 4 picks the codec/marker (CHARSET_MODES), legacy
    modes ASCII-fold the body, mode 3 declares its codec via a
    `<meta charset=...>` tag instead of the Content-Type header.
    `charset_html_sql` is the DuckDB twin — kept adjacent so the
    dialects cannot drift."""
    from ..operators.html_text import _HTML_PREFIX, _HTML_SUFFIX

    t = F.coalesce(text, F.lit(""))
    folded = F.regexp_replace(t, _ASCII_FOLD_JAVA, "?")
    mode = F.pmod(doc_id, F.lit(4))
    body = (
        F.when(mode == 0, F.concat(t, F.lit(" " + CHARSET_MODES[0][2])))
        .when(mode == 1, F.concat(folded, F.lit(" " + CHARSET_MODES[1][2])))
        .when(mode == 2, F.concat(folded, F.lit(" " + CHARSET_MODES[2][2])))
        .otherwise(F.concat(folded, F.lit(" " + CHARSET_MODES[3][2])))
    )
    meta_prefix = _HTML_PREFIX.replace(
        "<head>", f'<head><meta charset="{CHARSET_MODES[3][0]}">', 1
    )
    prefix = F.when(mode == 3, F.lit(meta_prefix)).otherwise(
        F.lit(_HTML_PREFIX)
    )
    return F.concat(prefix, body, F.lit(_HTML_SUFFIX))


def charset_html_sql() -> str:
    """DuckDB twin of `charset_html_col` over the documents view
    (text, doc_id). The meta tag is OMITTED on purpose: the tag
    regex replaces every tag with a space and collapses runs, so a
    tag between two other tags leaves the extracted text identical —
    the oracle reconstructs the extraction OUTPUT, and the Spark side
    carrying the real tag is exactly what proves the sniffer works
    (an ignored meta tag quarantines the page and breaks the hash)."""
    from ..operators.html_text import _HTML_PREFIX, _HTML_SUFFIX

    pre = _HTML_PREFIX.replace("'", "''")
    suf = _HTML_SUFFIX.replace("'", "''")
    t = "coalesce(text, '')"
    folded = f"regexp_replace({t}, '{_ASCII_FOLD_RE2}', '?', 'g')"
    arms = " ".join(
        f"WHEN {m} THEN {t if m == 0 else folded} || ' {mk}'"
        for m, (_cs, _hdr, mk) in enumerate(CHARSET_MODES[:3])
    )
    body = (
        f"(CASE (doc_id) % 4 {arms}"
        f" ELSE {folded} || ' {CHARSET_MODES[3][2]}' END)"
    )
    return f"'{pre}' || {body} || '{suf}'"

_PARSE_SCHEMA = (
    "warc_file string, url string, warc_date string, warc_type string,"
    " http_status int, content_type string, html string,"
    " ok boolean, err string"
)


def warc_date(doc_id: int) -> str:
    """Deterministic fixture fetch timestamp: 2024-01-01 plus
    (doc_id mod 86400) seconds, ISO-8601 Z. Pure integer math so the
    DuckDB oracle rebuilds the exact string (`warc_date_sql`)."""
    s = int(doc_id) % 86400
    return f"2024-01-01T{s // 3600:02d}:{(s % 3600) // 60:02d}:{s % 60:02d}Z"


def warc_date_sql(doc_id_expr: str) -> str:
    """DuckDB twin of `warc_date` — kept next to it so the dialects
    cannot drift."""
    return (
        f"'2024-01-01T' || lpad(CAST(({doc_id_expr}) % 86400 // 3600 AS VARCHAR), 2, '0')"
        f" || ':' || lpad(CAST(({doc_id_expr}) % 3600 // 60 AS VARCHAR), 2, '0')"
        f" || ':' || lpad(CAST(({doc_id_expr}) % 60 AS VARCHAR), 2, '0') || 'Z'"
    )


# messy-URL fixture pool (the `messy_urls=True` crawl): 8 hosts whose
# CASE variants, default ports, tracking params, trailing slashes, and
# fragments exercise every `url_ops.normalize_url_col` rule. Hosts 0
# and 1 differ only by case, so docs with doc_id % 8 in {0, 1} COLLIDE
# at the canonical grain — by the (i // 2) % 2 scheme rule and the
# i // 16 page rule, each 16-doc block's {0, 1, 8, 9} residues share
# one canonical URL (a 4-way duplicate group), which is what
# `url_dedup`'s keep-first contract is graded on.
# indices 4 and 5 are ccTLD-SLD hosts (r12): the naive 2-label cut
# collapses BOTH to 'co.uk' while the PSL grain keeps example.co.uk
# and other.co.uk apart — the registrable-domain fixture case
_MESSY_HOSTS = [
    "Example.COM",
    "example.com",
    "www.example.com",
    "news.example.com",
    "Docs.Example.CO.UK",
    "blog.other.co.uk",
    "spam.tracker.NET",
    "ads.clickfarm.biz",
]


def messy_url(doc_id: int) -> str:
    """Deterministic messy crawl URL for a doc — pure integer
    arithmetic so the DuckDB oracle rebuilds the exact string
    (`messy_url_sql`). The '#r<i>' fragment makes every RAW url
    globally unique (normalization strips it), so keep-first-by-
    (fetch ts, raw url) is a total, engine-independent order even
    when warc_date wraps its 86400-second day."""
    i = int(doc_id)
    https = (i // 2) % 2 == 0
    scheme = "HTTPS" if https else "http"
    host = _MESSY_HOSTS[i % 8]
    if i % 8 == 7:
        port = ":8080"
    elif i % 5 == 0:
        port = ":443" if https else ":80"
    else:
        port = ""
    page = i // 16
    slash = "/" if i % 3 == 0 else ""
    if i % 2 == 0:
        query = f"?utm_source=feed&v={page % 10}"
    else:
        query = f"?v={page % 10}&fbclid=x{i % 9}"
    return f"{scheme}://{host}{port}/page/{page}{slash}{query}#r{i}"


def messy_url_sql(e: str) -> str:
    """DuckDB twin of `messy_url` — kept next to it so the dialects
    cannot drift (the `warc_date_sql` pattern). `e` is a nonnegative
    BIGINT expression (// and % agree across engines there)."""
    host = (
        f"(CASE ({e}) % 8"
        " WHEN 0 THEN 'Example.COM' WHEN 1 THEN 'example.com'"
        " WHEN 2 THEN 'www.example.com' WHEN 3 THEN 'news.example.com'"
        " WHEN 4 THEN 'Docs.Example.CO.UK' WHEN 5 THEN 'blog.other.co.uk'"
        " WHEN 6 THEN 'spam.tracker.NET' ELSE 'ads.clickfarm.biz' END)"
    )
    https = f"(({e}) // 2) % 2 = 0"
    port = (
        f"(CASE WHEN ({e}) % 8 = 7 THEN ':8080'"
        f" WHEN ({e}) % 5 = 0 THEN"
        f" (CASE WHEN {https} THEN ':443' ELSE ':80' END)"
        " ELSE '' END)"
    )
    page = f"CAST(({e}) // 16 AS VARCHAR)"
    vpar = f"CAST((({e}) // 16) % 10 AS VARCHAR)"
    query = (
        f"(CASE WHEN ({e}) % 2 = 0 THEN '?utm_source=feed&v=' || {vpar}"
        f" ELSE '?v=' || {vpar} || '&fbclid=x' || CAST(({e}) % 9 AS VARCHAR)"
        " END)"
    )
    return (
        f"((CASE WHEN {https} THEN 'HTTPS' ELSE 'http' END) || '://' || "
        f"{host} || {port} || '/page/' || {page} || "
        f"(CASE WHEN ({e}) % 3 = 0 THEN '/' ELSE '' END) || {query} || "
        f"'#r' || CAST({e} AS VARCHAR))"
    )


# outlink fixture pool (the `links=True` crawl): the 8 crawled messy
# hosts plus 3 external-only targets, so the host graph has nodes the
# crawl never fetched (they receive rank but emit none — the directed
# dangling case) and exercises the PSL grain and href case noise again
_LINK_HOSTS = _MESSY_HOSTS + [
    "cdn.assets.example.net",  # generic-TLD external target
    "static.mirror.co.uk",     # ccTLD-SLD external: PSL grain in hrefs
    "WWW.Partner.IO",          # case noise inside the href itself
]

# PSL registrable domain of each _LINK_HOSTS entry, index-aligned —
# the oracle's direct pool-index -> domain mapping (the Spark side
# derives it through normalize/host/PSL machinery; a pytest pins this
# list against `with_registrable_domain_psl` so the twins cannot
# drift)
_LINK_DOMAINS = [
    "example.com",    # Example.COM
    "example.com",    # example.com
    "example.com",    # www.example.com
    "example.com",    # news.example.com
    "example.co.uk",  # Docs.Example.CO.UK
    "other.co.uk",    # blog.other.co.uk
    "tracker.net",    # spam.tracker.NET
    "clickfarm.biz",  # ads.clickfarm.biz
    "example.net",    # cdn.assets.example.net
    "mirror.co.uk",   # static.mirror.co.uk
    "partner.io",     # WWW.Partner.IO
]


def link_html_expr(e: str = "doc_id") -> str:
    """Spark SQL expression: the deterministic outlink footer for doc
    `e` — 2 + e%3 anchors; link j is a mailto (skipped by extraction)
    when (e+j)%11=0, a RELATIVE href (resolves to the page's own host
    → a domain self-edge the graph drops) when (e+j)%7=0, else an
    absolute https href into `_LINK_HOSTS` at index
    (e·(2j+3) + j²) mod 11. Pure integer arithmetic so the DuckDB
    oracle rebuilds the exact edge list without parsing HTML
    (`link_targets_sql` — kept below so the dialects cannot drift)."""
    pool = ", ".join(f"'{h}'" for h in _LINK_HOSTS)
    t = f"(({e}) * (2*j + 3) + j*j) % {len(_LINK_HOSTS)}"
    return (
        f"array_join(transform(sequence(1L, 2L + ({e}) % 3), j -> "
        f"CASE WHEN (({e}) + j) % 11 = 0 "
        "THEN '<a href=\"mailto:crawl@example.com\">mail</a>' "
        f"WHEN (({e}) + j) % 7 = 0 "
        "THEN concat('<a href=\"/local/', j, '\">here</a>') "
        f"ELSE concat('<a href=\"https://', "
        f"element_at(array({pool}), CAST({t} AS INT) + 1), "
        "'/l/', j, '\">out</a>') END), ' ')"
    )


IMG_URL_PREFIX = "https://cdn.assets.example.net/img/"
IMG_POOL = 1000  # image ids are doc_id % IMG_POOL (bounded cdn corpus)


def img_html_expr(e: str = "doc_id") -> str:
    """Spark SQL expression: the deterministic <img src alt> block for
    doc `e` — e%3 images; image j targets cdn id (e·7 + j·13) mod
    IMG_POOL with an ABSOLUTE cdn src when (e+j)%2=0 and a
    rooted-RELATIVE src otherwise (resolves to the page's own host —
    never in the cdn corpus, the 404-shaped miss arm), and a
    three-arm caption: empty alt / too-short 'logo' / a full
    sentence. Pure integer arithmetic; DuckDB twin `img_pairs_sql`
    kept below so the dialects cannot drift."""
    g = f"(({e}) * 7 + j * 13) % {IMG_POOL}"
    cap = (
        f"CASE (({e}) + 3*j) % 5 WHEN 0 THEN '' WHEN 1 THEN 'logo' "
        f"ELSE concat('Chart ', j, ' for page ', ({e}) DIV 16, "
        "' shows sample data trends over time') END"
    )
    src = (
        f"CASE WHEN (({e}) + j) % 2 = 0 "
        f"THEN concat('{IMG_URL_PREFIX}', {g}, '.png') "
        f"ELSE concat('/img/', {g}, '.png') END"
    )
    # slice(…, 1, e%3): sequence(a, b) DESCENDS when b < a, so the
    # j-range is sliced from a fixed [1,2] instead
    return (
        f"array_join(transform(slice(sequence(1L, 2L), 1, "
        f"CAST(({e}) % 3 AS INT)), j -> "
        f"concat('<img src=\"', {src}, '\" alt=\"', {cap}, '\">')), ' ')"
    )


def img_pairs_sql(src: str) -> str:
    """DuckDB twin of `img_html_expr`'s PAIR-LIST consequence as a
    WITH-fragment: consumes relation `src` (exposing `doc_id`),
    yields `img_pairs` (i, j, g, absolute, caption) — one row per
    img tag those docs' pages carry."""
    return f"""_ij AS (
        SELECT doc_id AS i,
               unnest(range(1, doc_id % 3 + 1)) AS j
        FROM {src}
    ),
    img_pairs AS (
        SELECT i, j, (i * 7 + j * 13) % {IMG_POOL} AS g,
               (i + j) % 2 = 0 AS absolute,
               CASE (i + 3*j) % 5 WHEN 0 THEN '' WHEN 1 THEN 'logo'
                    ELSE 'Chart ' || j || ' for page ' || (i // 16) ||
                         ' shows sample data trends over time' END
                   AS caption
        FROM _ij
    )"""


def link_targets_sql(src: str) -> str:
    """DuckDB twin of `link_html_expr`'s EDGE-LIST consequence as a
    WITH-fragment: consumes relation `src` (exposing `doc_id` =
    nonnegative BIGINT doc ids), yields `link_edges` (u, v, w) — the
    registrable-domain outlink edges those docs' pages carry, mailto
    and relative (self-edge) arms excluded, self-edges at the domain
    grain dropped, weights = link counts. Domains come from the
    index-aligned `_LINK_DOMAINS` constant."""
    dom = " ".join(
        f"WHEN {k} THEN '{d}'" for k, d in enumerate(_LINK_DOMAINS)
    )
    return f"""_lj AS (
        SELECT doc_id AS i,
               unnest(range(1, 2 + doc_id % 3 + 1)) AS j
        FROM {src}
    ),
    _lt AS (
        SELECT i, j, (i * (2*j + 3) + j*j) % {len(_LINK_HOSTS)} AS t
        FROM _lj
        WHERE (i + j) % 11 <> 0 AND (i + j) % 7 <> 0
    ),
    _ld AS (
        SELECT (CASE i % 8 {dom} END) AS u, (CASE t {dom} END) AS v
        FROM _lt
    ),
    link_edges AS (
        SELECT u, v, CAST(count(*) AS BIGINT) AS w
        FROM _ld WHERE u <> v GROUP BY u, v
    )"""


def build_warc_member(
    doc_id: int,
    html: str,
    url: str | None = None,
    charset: str = "utf-8",
    charset_in_header: bool = True,
) -> bytes:
    """One gzip member holding one WARC/1.0 `response` record with a
    full HTTP/1.1 envelope around `html` — the real wire layout, built
    with stdlib zlib only. Deterministic: fixed compression level, no
    mtime/filename in the gzip header (wbits=31 writes a bare header).
    `charset` encodes the body (STRICT — the fixture guarantees
    encodability; an error here is a fixture bug, not a crawl
    condition); `charset_in_header=False` drops the charset parameter
    from Content-Type, leaving only an in-body meta tag (if any) to
    declare it — the sniffer path."""
    body = html.encode(charset)
    ctype = (
        f"text/html; charset={charset}" if charset_in_header else "text/html"
    )
    http = (
        b"HTTP/1.1 200 OK\r\n"
        + f"Content-Type: {ctype}\r\n".encode("ascii")
        + b"Content-Length: %d\r\n\r\n" % len(body)
        + body
    )
    warc_headers = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Target-URI: {url or f'{_URL_PREFIX}{doc_id}'}\r\n"
        f"WARC-Date: {warc_date(doc_id)}\r\n"
        f"WARC-Record-ID: <urn:md5:{doc_id}>\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n"
        "\r\n"
    ).encode("ascii")
    record = warc_headers + http + b"\r\n\r\n"
    comp = zlib.compressobj(6, zlib.DEFLATED, 31)
    return comp.compress(record) + comp.flush()


def synthesize_warc_corpus(
    docs: DataFrame,
    docs_per_file: int = DOCS_PER_FILE,
    torn_every: int = TORN_EVERY,
    messy_urls: bool = False,
    with_cdx: bool = False,
    charsets: bool = False,
    links: bool = False,
) -> DataFrame:
    """(warc_file, content binary) — the fixture crawl drop (see
    module doc). Documents are laid out in doc_id order (global
    row_number — fixture-only; a real crawl already has files), sliced
    into files of `docs_per_file`, and every `torn_every`-th file's
    LAST gzip member is cut mid-stream (never shorter than the gzip
    header, always past the 8-byte trailer, so decompression is
    guaranteed to fail rather than short-read). `messy_urls=True`
    swaps the clean per-doc URI for `messy_url(doc_id)` — the
    URL-curation fixture with case noise, default ports, tracking
    params, and canonical-grain duplicate groups. `with_cdx=True`
    adds the member-offset index column (the CommonCrawl cdx sidecar
    shape) that `parse_warc_records_cdx` needs for RECORD-level
    parallelism. `charsets=True` swaps the all-UTF-8 page shell for
    the mixed-charset modes (`CHARSET_MODES`: cp1252/latin-1 bodies
    with non-ASCII markers, one mode declared only via meta tag) —
    the decoder-recall fixture (VERDICT r11 task #1). `links=True`
    (plain shell only) inserts the deterministic cross-host outlink
    footer (`link_html_expr`) between the text paragraph and the
    boilerplate footer — the host-graph fixture."""
    if links and charsets:
        raise ValueError("links fixture composes with the plain shell only")
    if links:
        # _HTML_SUFFIX opens with '</p>'; close the paragraph, emit
        # the outlink nav and the image figures, then continue with
        # the footer boilerplate
        html = F.concat(
            F.lit(_HTML_PREFIX),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit('</p><nav class="outlinks">'),
            F.expr(link_html_expr("doc_id")),
            F.lit('</nav><div class="figures">'),
            F.expr(img_html_expr("doc_id")),
            F.lit("</div>"),
            F.lit(_HTML_SUFFIX[len("</p>"):]),
        )
    elif charsets:
        html = charset_html_col(F.col("doc_id"), F.col("text"))
    else:
        html = F.concat(
            F.lit(_HTML_PREFIX),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(_HTML_SUFFIX),
        )
    w = Window.partitionBy(one_partition(F.col("doc_id"))).orderBy("doc_id")
    laid = docs.select(
        "doc_id",
        html.alias("_html"),
        (F.row_number().over(w) - 1).alias("_seq"),
    ).withColumn("_file", F.floor(F.col("_seq") / docs_per_file).cast("long"))

    def build_file(pdf):
        import pandas as pd

        pdf = pdf.sort_values("_seq")
        file_no = int(pdf["_file"].iloc[0])

        def member(d: int, h: str) -> bytes:
            cs, in_hdr, _mk = (
                CHARSET_MODES[d % 4] if charsets else CHARSET_MODES[0]
            )
            return build_warc_member(
                d,
                h,
                url=messy_url(d) if messy_urls else None,
                charset=cs,
                charset_in_header=in_hdr,
            )

        members = [
            member(int(d), h) for d, h in zip(pdf["doc_id"], pdf["_html"])
        ]
        if torn_every and file_no % torn_every == torn_every - 1 and members:
            last = members[-1]
            cut = len(last) // 2
            if cut >= len(last) - 8:
                cut = max(11, len(last) - 9)
            members[-1] = last[:cut]
        # cdx sidecar: member byte ranges as they exist ON DISK (the
        # torn last member's entry covers only its surviving bytes, so
        # the range read returns a truncated gzip stream and the
        # record quarantines — same contract as the sequential walk)
        offs, pos = [], 0
        for m, d in zip(members, pdf["doc_id"]):
            offs.append((int(d), pos, len(m)))
            pos += len(m)
        return pd.DataFrame(
            {
                "warc_file": [f"warc-{file_no:05d}.warc.gz"],
                "content": [b"".join(members)],
                "cdx": [offs],
            }
        )

    out = laid.groupBy("_file").applyInPandas(
        build_file,
        schema=(
            "warc_file string, content binary,"
            " cdx array<struct<doc_id:long,offset:long,length:long>>"
        ),
    )
    return out if with_cdx else out.drop("cdx")


def _parse_member(raw: bytes) -> dict:
    """Parse one decompressed WARC record into an output-row dict.
    Raises ValueError(err_code) on malformed framing."""
    head, sep, rest = raw.partition(b"\r\n\r\n")
    if not sep or not head.startswith(b"WARC/"):
        raise ValueError(ERR_BAD_WARC)
    fields: dict[bytes, bytes] = {}
    for ln in head.split(b"\r\n")[1:]:
        k, colon, v = ln.partition(b":")
        if colon:
            fields[k.strip().lower()] = v.strip()
    try:
        clen = int(fields[b"content-length"])
    except (KeyError, ValueError):
        raise ValueError(ERR_BAD_WARC)
    payload = rest[:clen]
    if len(payload) < clen:
        raise ValueError(ERR_SHORT_PAYLOAD)
    wtype = fields.get(b"warc-type", b"").decode("ascii", "replace")
    uri = fields.get(b"warc-target-uri", b"").decode("ascii", "replace") or None
    wdate = fields.get(b"warc-date", b"").decode("ascii", "replace") or None
    row = {
        "url": uri,
        "warc_date": wdate,
        "warc_type": wtype,
        "http_status": None,
        "content_type": None,
        "html": None,
        "ok": True,
        "err": None,
    }
    if wtype != "response":
        return row  # warcinfo/request/metadata: framing-valid, no body
    hhead, hsep, hbody = payload.partition(b"\r\n\r\n")
    hlines = hhead.split(b"\r\n")
    status_parts = hlines[0].split()
    if (
        not hsep
        or len(status_parts) < 2
        or not status_parts[0].startswith(b"HTTP/")
        or not status_parts[1].isdigit()
    ):
        raise ValueError(ERR_BAD_HTTP)
    hfields: dict[bytes, bytes] = {}
    for ln in hlines[1:]:
        k, colon, v = ln.partition(b":")
        if colon:
            hfields[k.strip().lower()] = v.strip()
    if hfields.get(b"transfer-encoding", b"").lower() == b"chunked":
        raise ValueError(ERR_CHUNKED)
    ctype = hfields.get(b"content-type")
    body = _decode_body(hbody, ctype)
    row["http_status"] = int(status_parts[1])
    row["content_type"] = (
        ctype.decode("ascii", "replace") if ctype is not None else None
    )
    row["html"] = body
    return row


# charset=NAME inside a Content-Type header value or a meta tag; name
# charset per RFC 2978 (alnum plus the registry's punctuation)
_CHARSET_PARAM_RE = re.compile(
    rb"charset\s*=\s*[\"']?([A-Za-z0-9_.:\-]+)", re.IGNORECASE
)
# <meta charset="..."> AND <meta http-equiv=Content-Type
# content="text/html; charset=..."> — both carry `charset=` inside the
# tag, so one pattern covers the two declaration forms
_META_CHARSET_RE = re.compile(
    rb"<meta\s[^>]{0,200}?charset\s*=\s*[\"']?([A-Za-z0-9_.:\-]+)",
    re.IGNORECASE,
)
# prescan window for the meta declaration — the WHATWG prescan reads
# the first 1024 bytes, and real emitters put the tag at the top
_META_SNIFF_BYTES = 1024


def _decode_body(hbody: bytes, ctype: bytes | None) -> str:
    """Charset-aware body decode (VERDICT r11 task #1 — real crawls
    are 20-30% legacy-charset; decoding UTF-8-only silently
    quarantined them all). Precedence mirrors WHATWG: the HTTP
    Content-Type charset parameter wins; absent that, a meta-tag
    prescan over the first 1024 bytes; absent both, UTF-8 (documented
    policy — the modern-web default, where WHATWG's windows-1252
    default is a legacy-rendering rule, not an archival one). The
    selected codec decodes STRICTLY: an unknown name quarantines as
    `unknown_charset`, bytes invalid for the declared codec as
    `undecodable_body` — typed codes only, never a fallback cascade
    whose output would depend on which engine's guesser ran."""
    import codecs

    declared = None
    if ctype is not None:
        m = _CHARSET_PARAM_RE.search(ctype)
        if m:
            declared = m.group(1)
    if declared is None:
        m = _META_CHARSET_RE.search(hbody[:_META_SNIFF_BYTES])
        if m:
            declared = m.group(1)
    enc = declared.decode("ascii") if declared is not None else "utf-8"
    try:
        codecs.lookup(enc)
    except LookupError:
        raise ValueError(ERR_UNKNOWN_CHARSET) from None
    try:
        return hbody.decode(enc)
    except LookupError:
        # resolvable but NOT a text encoding (charset=base64/hex/...):
        # bytes.decode refuses it at call time, same typed verdict
        raise ValueError(ERR_UNKNOWN_CHARSET) from None
    except (UnicodeDecodeError, ValueError):
        raise ValueError(ERR_BAD_UTF8) from None


def _quarantine(err: str) -> dict:
    return {
        "url": None,
        "warc_date": None,
        "warc_type": None,
        "http_status": None,
        "content_type": None,
        "html": None,
        "ok": False,
        "err": err,
    }


def parse_warc_records(files: DataFrame) -> DataFrame:
    """(warc_file, url, warc_date, warc_type, http_status,
    content_type, html, ok, err) — one row per WARC record, quarantine
    rows (ok=false, err) for torn/malformed records, magic-scan resync
    after torn members. See the module doc for the member-walk and
    torn-region contracts."""
    src = files.select("warc_file", "content")

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for fname, data in zip(pdf["warc_file"], pdf["content"]):
                data = bytes(data) if data is not None else b""
                # zero-copy member walk: data[pos:] would memcpy the
                # remaining file bytes PER MEMBER — O(members × size),
                # tens of TB of copying on a CommonCrawl-geometry file
                # (~1 GiB, ~100k members). memoryview slices are
                # views; zlib accepts any buffer. data.find for the
                # resync scan stays on the original bytes (find does
                # not copy).
                mv = memoryview(data)
                pos = 0
                in_torn = False
                while pos < len(data):
                    d = zlib.decompressobj(wbits=31)
                    try:
                        raw = d.decompress(mv[pos:])
                        if not d.eof:
                            raise zlib.error("truncated member")
                    except zlib.error:
                        # RESYNC: scan forward for the next gzip member
                        # header (magic 1f 8b, deflate method 08) — what
                        # real WARC readers do, so one torn record costs
                        # one record, not the file tail. Exactly ONE
                        # quarantine row per contiguous torn REGION:
                        # compressed bytes can contain the magic by
                        # chance (~2^-24/offset), and a false candidate
                        # fails the CRC-checked decompress above — it
                        # must not mint another quarantine row, or the
                        # output would vary with compressed noise.
                        if not in_torn:
                            rows.append(
                                {"warc_file": fname, **_quarantine(ERR_TORN)}
                            )
                            in_torn = True
                        nxt = data.find(b"\x1f\x8b\x08", pos + 1)
                        if nxt == -1:
                            break
                        pos = nxt
                        continue
                    in_torn = False
                    pos = len(data) - len(d.unused_data)
                    try:
                        rows.append({"warc_file": fname, **_parse_member(raw)})
                    except ValueError as e:
                        rows.append(
                            {"warc_file": fname, **_quarantine(str(e))}
                        )
            yield pd.DataFrame(
                rows,
                columns=[
                    "warc_file", "url", "warc_date", "warc_type",
                    "http_status", "content_type", "html", "ok", "err",
                ],
            )

    return src.mapInPandas(parse, schema=_PARSE_SCHEMA)


def parse_warc_records_cdx(files: DataFrame) -> DataFrame:
    """Record-level-parallel WARC parse via the cdx member-offset
    index — the path the module doc's 100 TB note calls for: the
    sequential member walk (`parse_warc_records`) is per-FILE
    sequential because WARC is a tape format, but real crawls ship a
    cdx sidecar with member byte ranges, and with it each RECORD
    becomes an independent unit of work. `files` is
    `synthesize_warc_corpus(..., with_cdx=True)` output (or any
    (warc_file, content, cdx array<struct<doc_id, offset, length>>)
    relation; on a cluster the slice would be an object-store range
    request instead of a substring over the fetched file).

    Plan shape: explode the cdx, slice each member with the built-in
    binary `substring` (JVM-side), REPARTITION to full parallelism —
    the explode is what turns N files into N×members work units —
    then one Arrow batch per partition gunzips + parses its members.
    A member whose range is short/torn (the fixture cuts the archive
    after the cdx was written) quarantines exactly like the
    sequential walk; same output schema, same row contract."""
    members = (
        files.select(
            "warc_file",
            F.explode("cdx").alias("_c"),
            F.col("content"),
        )
        .select(
            "warc_file",
            F.expr(
                "substring(content, _c.offset + 1,"
                " cast(_c.length as int))"
            ).alias("_member"),
        )
        .repartition(files.sparkSession.sparkContext.defaultParallelism)
    )

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for fname, member in zip(pdf["warc_file"], pdf["_member"]):
                member = bytes(member) if member is not None else b""
                d = zlib.decompressobj(wbits=31)
                try:
                    raw = d.decompress(member)
                    if not d.eof:
                        raise zlib.error("truncated member")
                    rows.append({"warc_file": fname, **_parse_member(raw)})
                except zlib.error:
                    rows.append(
                        {"warc_file": fname, **_quarantine(ERR_TORN)}
                    )
                except ValueError as e:
                    rows.append({"warc_file": fname, **_quarantine(str(e))})
            yield pd.DataFrame(
                rows,
                columns=[
                    "warc_file", "url", "warc_date", "warc_type",
                    "http_status", "content_type", "html", "ok", "err",
                ],
            )

    return members.mapInPandas(parse, schema=_PARSE_SCHEMA)


def warc_extract_pages(parsed: DataFrame) -> DataFrame:
    """Crawl → text composition: successful `response` records run the
    scale-tier `html_to_text` chain (map-only, zero shuffle); torn and
    malformed records pass through as quarantine rows so downstream
    curation SEES the loss instead of silently dropping it. Output:
    (warc_file, url, http_status, text, n_words, ok, err)."""
    from ..operators.html_text import html_to_text_col

    is_page = F.col("ok") & (F.col("warc_type") == "response")
    text = F.when(
        is_page, html_to_text_col(F.coalesce(F.col("html"), F.lit("")))
    )
    return parsed.filter(
        (F.col("warc_type") == "response") | ~F.col("ok")
    ).select(
        "warc_file",
        "url",
        "http_status",
        text.alias("text"),
        F.when(
            is_page,
            F.size(F.filter(F.split(text, " "), lambda w: w != "")),
        ).cast("int").alias("n_words"),
        "ok",
        "err",
    )
