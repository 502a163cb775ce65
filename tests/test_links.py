"""Host-graph link analytics (`operators/links.py`): href extraction
and resolution arms, the fixture-pool domain pin, cross-engine edge
parity (Spark HTML harvest vs the DuckDB integer link twin), the
fixed-point rank over the crawl fixture, and the crawl-plan rank
signal join."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from algoritmos_etl_spark.operators import links, url_ops
from algoritmos_etl_spark.sources import warc


def test_link_domains_pin_psl(spark):
    """`warc._LINK_DOMAINS` (the oracle's pool-index -> domain CASE)
    must equal what the real PSL machinery derives from the pool
    hosts — the twin-drift pin."""
    rows = [(h.lower(),) for h in warc._LINK_HOSTS]
    df = spark.createDataFrame(rows, "host string")
    got = [
        r["domain"]
        for r in url_ops.with_registrable_domain_psl(df, "host")
        .collect()
    ]
    # createDataFrame preserves row order on a local list
    assert got == warc._LINK_DOMAINS


HREF_CASES = [
    # (href, page_host, expected target host)
    ("https://Other.ORG/x", "a.com", "other.org"),
    ("http://b.com:8080/y", "a.com", "b.com"),     # port stripped
    ("//cdn.c.com/z", "a.com", "cdn.c.com"),       # protocol-relative
    ("/local/1", "a.com", "a.com"),                # rooted relative
    ("page2.html", "a.com", "a.com"),              # bare relative
    ("?q=1", "a.com", "a.com"),                    # query-only
    ("https://d.com/x#frag", "a.com", "d.com"),    # fragment stripped
    ("#top", "a.com", None),                       # fragment-only
    ("", "a.com", None),
    ("mailto:x@y.com", "a.com", None),
    ("javascript:void(0)", "a.com", None),
    ("tel:+1555", "a.com", None),
]


def test_link_target_host_arms(spark):
    df = spark.createDataFrame(
        [(h, p) for h, p, _ in HREF_CASES], "href string, page string"
    )
    got = [
        r["t"]
        for r in df.select(
            links.link_target_host_col(
                F.col("href"), F.col("page")
            ).alias("t")
        ).collect()
    ]
    assert got == [e for _, _, e in HREF_CASES]


def test_extract_hrefs(spark):
    html = (
        '<p><a href="/a">x</a><A HREF="https://b.com/y">y</A>'
        "<a class=\"z\" href='s.html'>s</a><a>no href</a></p>"
    )
    df = spark.createDataFrame([(html,)], "html string")
    got = df.select(
        links.extract_hrefs_col(F.col("html")).alias("h")
    ).collect()[0]["h"]
    assert got == ["/a", "https://b.com/y", "s.html"]


def test_fixture_edges_match_integer_twin(spark):
    """The edges Spark harvests from the links-fixture HTML must equal
    the DuckDB integer twin's edge list for the same doc ids — the
    href footer, extraction regex, resolution arms, PSL grain, and
    self-edge drop all sit between the two."""
    ids = list(range(40))
    docs = spark.createDataFrame(
        [(i, f"body text {i}") for i in ids], "doc_id long, text string"
    )
    files = warc.synthesize_warc_corpus(
        docs, messy_urls=True, links=True, torn_every=0
    )
    pages = warc.parse_warc_records(files).filter(
        F.col("ok") & (F.col("warc_type") == "response")
    ).withColumn("url_norm", url_ops.normalize_url_col(F.col("url")))
    got = {
        (r["u"], r["v"]): r["w"]
        for r in links.host_link_edges(pages).collect()
    }
    vals = ", ".join(f"({i})" for i in ids)
    sql = (
        f"WITH ids AS (SELECT * FROM (VALUES {vals}) s(doc_id)), "
        + warc.link_targets_sql("ids")
        + " SELECT u, v, w FROM link_edges"
    )
    con = duckdb.connect()
    want = {(u, v): w for u, v, w in con.sql(sql).fetchall()}
    con.close()
    assert got == want
    # sanity: the graph is non-trivial and reaches external-only hosts
    assert len(got) > 5
    assert any(v in ("example.net", "mirror.co.uk", "partner.io")
               for _, v in got)


def test_host_pagerank_shape(spark):
    docs = spark.createDataFrame(
        [(i, f"t {i}") for i in range(64)], "doc_id long, text string"
    )
    files = warc.synthesize_warc_corpus(
        docs, messy_urls=True, links=True, torn_every=0
    )
    pages = warc.parse_warc_records(files).filter(
        F.col("ok") & (F.col("warc_type") == "response")
    )
    deduped = url_ops.url_dedup(pages, "url", "warc_date")
    out = links.host_pagerank(deduped).collect()
    doms = {r["domain"] for r in out}
    # crawled domains that emit links
    assert "example.com" in doms and "tracker.net" in doms
    # external-only targets receive rank but emit none
    ext = [r for r in out if r["domain"] == "partner.io"]
    assert ext and ext[0]["n_out"] == 0 and ext[0]["n_in"] > 0
    # ranks are positive int64 fixed-point; base floor for any node
    assert all(r["rank_e12"] >= 150_000_000_000 for r in out)
    # output is rank-desc ordered
    ranks = [r["rank_e12"] for r in out]
    assert ranks == sorted(ranks, reverse=True)


# -------------------------------------- image-text pair mining


def test_img_pair_extraction_attribute_arms(spark):
    html = (
        '<img src="/a.png" alt="one two three">'
        "<img alt='reversed order' src='/b.png'>"
        '<img src="/c.png">'          # no alt -> ''
        '<IMG SRC="/d.png" ALT="x">'  # case-insensitive
        "<imgx src=\"/not-an-img.png\">"
    )
    df = spark.createDataFrame([(html,)], "html string")
    got = df.select(
        links.extract_img_pairs_col(F.col("html")).alias("p")
    ).collect()[0]["p"]
    assert [(r["src"], r["alt"]) for r in got] == [
        ("/a.png", "one two three"),
        ("/b.png", "reversed order"),
        ("/c.png", ""),
        ("/d.png", "x"),
    ]


def test_crawl_to_pairs_composition_with_dhash(spark):
    """The crawl -> pairs -> dHash composition: mine pairs from the
    links fixture (keep-first deduped), keep the payload arm, and
    difference-hash the matched images through the REAL PNG decode —
    the pixel side the relational oracle can't see."""
    from algoritmos_etl_spark.operators import multimodal

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(64)], "doc_id long, text string"
    )
    files = warc.synthesize_warc_corpus(
        docs, messy_urls=True, links=True, torn_every=0
    )
    pages = warc.parse_warc_records(files).filter(
        F.col("ok") & (F.col("warc_type") == "response")
    )
    deduped = url_ops.url_dedup(pages, "url", "warc_date")
    images = links.synthesize_image_url_corpus(docs)
    pairs = links.mine_image_caption_pairs(deduped, images)
    rows = pairs.collect()
    assert rows, "fixture must yield matched pairs"
    # every matched image id is in the bounded cdn namespace and the
    # caption gate splits (all three caption arms occur)
    assert all(0 <= r["img_id"] < warc.IMG_POOL for r in rows)
    oks = {r["caption_ok"] for r in rows}
    assert oks == {True, False}
    assert any(r["n_caption_words"] == 0 for r in rows)   # empty alt
    assert any(r["caption_ok"] for r in rows)
    # relative-src pairs never match (the cdn corpus is the only
    # image store; page hosts are not in it)
    assert all(r["img_url"].startswith(warc.IMG_URL_PREFIX) for r in rows)
    # dHash arm: decode + hash the matched images; every hash lands
    hashed = multimodal.image_dhash(
        pairs.select(F.col("img_id").alias("doc_id"), "payload")
        .distinct()
    ).collect()
    assert hashed and all(r["dhash"] is not None for r in hashed)
    # and equals hashing the corpus directly at the same ids
    direct = {
        r["doc_id"]: r["dhash"]
        for r in multimodal.image_dhash(
            images.select(F.col("img_id").alias("doc_id"), "payload")
        ).collect()
    }
    for r in hashed:
        assert r["dhash"] == direct[r["doc_id"]]
