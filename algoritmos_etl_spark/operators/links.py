"""Host-graph link analytics — the RefinedWeb/CommonCrawl curation
prior the HTML tier was throwing away: harvest `<a href>` targets
during extraction, resolve them against the page's own host, roll the
endpoints up to the Public-Suffix-List registrable-domain grain, and
run the engine's integer fixed-point PageRank (`operators/graph.py`)
over the resulting edge list. The rank is a DOMAIN-quality signal a
crawl pipeline joins back as a gate input (`plans/crawl.py` takes it
as the optional `host_rank` argument).

Scale shape: href extraction and resolution are map-only Column
expressions (whole-stage codegen — no Python anywhere); the edge
rollup is one partial-agg shuffle onto the (src domain, dst domain)
pair grain, which is bounded by the square of the web's registrable-
domain count but in practice by the link structure (~edges of the
host graph: billions of rows from 100 TB of pages, trivially
shuffled); the fixed-point loop then runs on the BOUNDED domain
graph, exactly like `textrank_keywords` runs on the vocabulary graph
— 100 TB of HTML feeds one partial-agg shuffle, and all the
iterations run in one Arrow task over the domain edge list.

Reference scope note: the reference (/root/reference) has no link or
graph surface; this module is extension surface for the 100 TB
training-data brief (VERDICT r11 task #3 — "host-graph link
analytics"), composing the r10/r11 WARC + URL tiers with the r9
integer PageRank engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .graph import pagerank
from .url_ops import _AUTH_RE, url_host_col, with_registrable_domain_psl

# href attribute inside an anchor tag, either quote style — bounded
# lookahead so a pathological tag can't make the regex scan the page
_HREF_RE = "(?i)<a\\s[^>]{0,500}?href\\s*=\\s*[\"']([^\"']*)[\"']"

# href schemes that are not navigation — no edge, not even a self-edge
_SKIP_RE = "^(mailto:|javascript:|tel:|data:|about:)"


def extract_hrefs_col(html: Column) -> Column:
    """All `<a href>` values in `html`, document order, as
    array<string> — one JVM regex pass, no Python."""
    return F.regexp_extract_all(html, F.lit(_HREF_RE), F.lit(1))


def link_target_host_col(href: Column, page_host: Column) -> Column:
    """The lowercase port-stripped host a href NAVIGATES to, resolved
    against the page's own (already-normalized) host: absolute URLs
    keep their authority, protocol-relative `//host/..` borrows
    https, anything else (rooted or relative paths, bare `?query`)
    stays on the page host; fragments-only, empty, and non-navigation
    schemes (mailto/javascript/tel/data/about) yield NULL."""
    h = F.regexp_replace(F.trim(href), "#.*$", "")
    widened = F.when(
        h.rlike("^//"), F.concat(F.lit("https:"), h)
    ).otherwise(h)
    host = F.regexp_replace(
        F.lower(F.regexp_extract(widened, _AUTH_RE, 1)), ":[0-9]+$", ""
    )
    is_abs = widened.rlike(_AUTH_RE)
    return (
        F.when(h.rlike(_SKIP_RE) | (h == ""), F.lit(None))
        .when(is_abs, host)
        .otherwise(page_host)
    )


def host_link_edges(pages: DataFrame) -> DataFrame:
    """(u, v, w) — the registrable-domain link graph of `pages`
    (already URL-deduped rows exposing the normalized `url_norm` and
    the raw `html`): u links to v with weight w = number of anchors.
    Self-edges at the domain grain (site navigation — the overwhelming
    majority of real links) are dropped; domains come from the PSL
    longest-suffix match (broadcast joins, map-only). One shuffle:
    the partial-agg count onto the (u, v) pair grain."""
    # the page host's PSL domain is computed at PAGE grain, BEFORE the
    # href explode (r12 optimization round): one PSL evaluation per
    # page instead of per anchor, and the explode's fused codegen body
    # stays under Janino's 64 KB method limit (both PSL expressions
    # below the Generate overflowed it and fell back to interpreted
    # eval — measured 3x slower on the edge-build stage)
    hosted = pages.select(
        url_host_col(F.col("url_norm")).alias("_page_host"),
        F.col("html").alias("_html"),
    )
    src = with_registrable_domain_psl(hosted, "_page_host", out_col="u")
    # resolve every href INSIDE one array transform at page grain:
    # the per-anchor regex work compiles as a loop body in the
    # higher-order function instead of being inlined into the
    # explode's downstream consume path (which, with the PSL match
    # and the partial agg, overflowed Janino's 64 KB method limit
    # and fell back to interpreted eval)
    tgt_hosts = F.filter(
        F.transform(
            extract_hrefs_col(F.col("_html")),
            lambda h: link_target_host_col(h, F.col("_page_host")),
        ),
        lambda t: t.isNotNull() & (t != ""),
    )
    targeted = src.select(
        "u", F.explode(tgt_hosts).alias("_tgt_host")
    )
    both = with_registrable_domain_psl(targeted, "_tgt_host", out_col="v")
    return (
        both.filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )


def host_pagerank(pages: DataFrame) -> DataFrame:
    """Domain-grain PageRank over the crawl's link graph — the
    RefinedWeb-style quality prior: (domain, rank_e12, n_out, n_in)
    with rank in the engine's 1e12 integer fixed point (bit-identical
    on any engine/partitioning — `graph.pagerank`'s contract, so the
    iterative algorithm carries a full value-hash oracle). n_out /
    n_in are distinct linked-domain degrees, counted by the same
    single-task fixed point that ranks; external domains the crawl
    never fetched appear with n_out = 0 (they receive rank, emit none
    — the simple dangling convention)."""
    return (
        pagerank(host_link_edges(pages))
        .withColumnRenamed("node", "domain")
        .orderBy(F.col("rank_e12").desc(), F.col("domain").asc())
    )


# ------------------------------------------- image-text pair mining

# img tag, either quote style, bounded like the anchor pattern
_IMG_TAG_RE = "(?i)<img\\s[^>]{0,500}?>"
_SRC_RE = "(?i)src\\s*=\\s*[\"']([^\"']*)[\"']"
_ALT_RE = "(?i)alt\\s*=\\s*[\"']([^\"']*)[\"']"


def extract_img_pairs_col(html: Column) -> Column:
    """All <img> tags in `html` as array<struct<src,alt>> — one JVM
    regex pass for the tags, per-tag attribute extraction inside a
    transform (attributes may appear in either order or be absent;
    a missing attribute extracts as '')."""
    tags = F.regexp_extract_all(html, F.lit(_IMG_TAG_RE), F.lit(0))
    return F.transform(
        tags,
        lambda t: F.struct(
            F.regexp_extract(t, _SRC_RE, 1).alias("src"),
            F.regexp_extract(t, _ALT_RE, 1).alias("alt"),
        ),
    )


def resolve_src_col(src: Column, page_host: Column) -> Column:
    """Full (un-normalized) URL an img src FETCHES from, resolved
    against the page host: absolute and protocol-relative keep their
    authority; rooted and bare relatives resolve against the page
    ROOT (a documented simplification — per-page directory resolution
    needs the path, which curation-grain mining doesn't);
    non-navigation schemes and empty srcs yield NULL."""
    s = F.regexp_replace(F.trim(src), "#.*$", "")
    return (
        F.when(s.rlike(_SKIP_RE) | (s == ""), F.lit(None))
        .when(s.rlike("^//"), F.concat(F.lit("https:"), s))
        .when(s.rlike(_AUTH_RE), s)
        .when(
            s.rlike("^/"),
            F.concat(F.lit("https://"), page_host, s),
        )
        .otherwise(F.concat(F.lit("https://"), page_host, F.lit("/"), s))
    )


def synthesize_image_url_corpus(
    docs: DataFrame, with_payload: bool = True
) -> DataFrame:
    """Deterministic URL-keyed image corpus — the fixture twin of a
    fetched cdn image store: (img_id, img_url, payload) with img_id =
    doc_id mod IMG_POOL (distinct — the bounded cdn namespace the
    links fixture's absolute srcs point into) and payload a real PNG
    (`multimodal.synthesize_png_corpus`).

    `with_payload=False` emits the same rows with a NULL payload and
    skips the PNG encode entirely (r12 optimization round): the
    mining join only needs the URL key, and a consumer that drops
    `payload` cannot have it pruned for free — the encode runs inside
    an opaque mapInPandas, beyond Catalyst's column pruning (guide
    §4.1: pass only what the function needs). The dHash/pixel arm
    (tests/test_links.py) keeps the real bytes."""
    from ..sources.warc import IMG_POOL, IMG_URL_PREFIX

    ids = docs.select(
        (F.col("doc_id") % IMG_POOL).alias("doc_id")
    ).distinct()
    url = F.concat(
        F.lit(IMG_URL_PREFIX), F.col("doc_id"), F.lit(".png")
    ).alias("img_url")
    if not with_payload:
        return ids.select(
            F.col("doc_id").alias("img_id"),
            url,
            F.lit(None).cast("binary").alias("payload"),
        )
    from .multimodal import synthesize_png_corpus

    return synthesize_png_corpus(ids).select(
        F.col("doc_id").alias("img_id"),
        url,
        "payload",
    )


# The LAION-style alt-text gate, read by the miner and its oracle.
CAPTION_MIN_WORDS = 3
CAPTION_MAX_CHARS = 200


def mine_image_caption_pairs(pages: DataFrame, images: DataFrame) -> DataFrame:
    """LAION-shape image-text pair mining over a (deduped) crawl of
    (url_norm, html) pages:
    harvest <img src, alt> pairs, resolve each src against its page,
    normalize, and inner-join the URL-keyed image corpus — one row
    per (page, img tag) whose image the corpus actually has:
    (img_id, img_url, page_url, caption, n_caption_words,
    caption_ok, payload). `caption_ok` is a REPORT column (word floor
    + length ceiling — the LAION-style alt-text gate); consumers
    filter, the miner never drops a matched pair.

    Scale shape: harvest + resolution are map-only Column
    expressions; the single wide operation is the equi-join on the
    normalized image URL — both sides shuffle on a high-cardinality
    key (at fixture scale the bounded image side broadcasts
    instead). 100 TB of pages and a billion-image store meet in ONE
    hash join; caption gating is row-local."""
    from .text import words_col
    from .url_ops import normalize_url_col

    host = url_host_col(F.col("url_norm"))
    tagged = pages.select(
        F.col("url_norm").alias("page_url"),
        host.alias("_page_host"),
        F.explode(extract_img_pairs_col(F.col("html"))).alias("_t"),
    )
    resolved = tagged.select(
        "page_url",
        normalize_url_col(
            resolve_src_col(F.col("_t.src"), F.col("_page_host"))
        ).alias("img_url"),
        F.col("_t.alt").alias("caption"),
    ).filter(F.col("img_url").isNotNull() & (F.col("img_url") != ""))
    n_words = F.size(words_col(F.col("caption"))).cast("long")
    gated = resolved.select(
        "page_url",
        "img_url",
        "caption",
        n_words.alias("n_caption_words"),
        (
            (n_words >= CAPTION_MIN_WORDS)
            & (F.length("caption") <= CAPTION_MAX_CHARS)
        ).alias("caption_ok"),
    )
    return gated.join(images, "img_url").select(
        "img_id",
        "img_url",
        "page_url",
        "caption",
        "n_caption_words",
        "caption_ok",
        "payload",
    )
