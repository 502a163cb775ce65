"""URL/domain-grain curation (`operators/url_ops.py`): normalization
rule-by-rule, cross-engine parity of the Column/SQL twins, keep-first
dedup semantics, the blocklist gate, and the judge-mandated
WARC → URL-dedup → extract → curate composition."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from algoritmos_etl_spark.operators import url_ops
from algoritmos_etl_spark.sources import warc


# (raw, canonical) — one case per normalization rule plus stacked ones
NORM_CASES = [
    # scheme + host case
    ("HTTPS://Example.COM/a", "https://example.com/a"),
    # default ports strip per scheme; non-default survives
    ("http://a.com:80/x", "http://a.com/x"),
    ("https://a.com:443/x", "https://a.com/x"),
    ("http://a.com:443/x", "http://a.com:443/x"),
    ("https://a.com:8080/x", "https://a.com:8080/x"),
    # fragment strip
    ("https://a.com/x#sec2", "https://a.com/x"),
    # trailing slash collapse (root too)
    ("https://a.com/x///", "https://a.com/x"),
    ("https://a.com/", "https://a.com"),
    ("https://a.com", "https://a.com"),
    # tracking params drop, survivors sort; '?' vanishes when empty
    ("https://a.com/x?utm_source=f&b=2&a=1", "https://a.com/x?a=1&b=2"),
    ("https://a.com/x?gclid=1&fbclid=2&ref=3&msclkid=4", "https://a.com/x"),
    ("https://a.com/x?utm_campaign=c", "https://a.com/x"),
    # anchored param match: href/butm_x are NOT tracking params
    ("https://a.com/x?href=1&butm_x=2", "https://a.com/x?butm_x=2&href=1"),
    # path case PRESERVED (paths are case-sensitive)
    ("https://a.com/CaseSensitive", "https://a.com/CaseSensitive"),
    # schemeless garbage passes through as trim(lower(x))
    ("  Not A URL  ", "not a url"),
    # everything stacked
    (
        "HTTP://News.Example.COM:80/Page/7/?utm_source=rss&v=3#frag",
        "http://news.example.com/Page/7?v=3",
    ),
]


def test_normalize_rules(spark):
    df = spark.createDataFrame([(r,) for r, _ in NORM_CASES], "url string")
    got = [
        r["n"]
        for r in df.select(
            url_ops.normalize_url_col(F.col("url")).alias("n")
        ).collect()
    ]
    assert got == [c for _, c in NORM_CASES]


def test_normalize_idempotent(spark):
    df = spark.createDataFrame([(r,) for r, _ in NORM_CASES], "url string")
    once = df.select(url_ops.normalize_url_col(F.col("url")).alias("url"))
    twice = once.select(url_ops.normalize_url_col(F.col("url")).alias("n"))
    assert [r["n"] for r in twice.collect()] == [
        r["url"] for r in once.collect()
    ]


def test_normalize_sql_twin_parity(spark):
    """The DuckDB CTE must agree with the Column version byte-for-byte
    on every rule case AND on the messy-URL fixture space."""
    urls = [r for r, _ in NORM_CASES] + [warc.messy_url(i) for i in range(200)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    spark_out = [
        r["n"]
        for r in df.select(
            url_ops.normalize_url_col(F.col("url")).alias("n")
        ).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE src AS SELECT * FROM (VALUES "
        + ", ".join("(?)" for _ in urls)
        + ") t(url)",
        urls,
    )
    duck_out = [
        r[0]
        for r in con.execute(
            f"WITH {url_ops.normalize_url_cte('src')} "
            "SELECT url_norm FROM normed"
        ).fetchall()
    ]
    assert spark_out == duck_out


def test_messy_url_sql_twin(spark):
    con = duckdb.connect()
    for i in [0, 1, 7, 9, 15, 16, 100, 86401, 123456]:
        sql_val = con.execute(
            f"SELECT {warc.messy_url_sql(str(i))}"
        ).fetchone()[0]
        assert sql_val == warc.messy_url(i), i


def test_url_dedup_keep_first_and_counts(spark):
    rows = [
        # three raw spellings of one canonical url, distinct ts
        ("HTTPS://A.com/x?utm_source=1", "2024-01-01T00:00:02Z"),
        ("https://a.com/x#f", "2024-01-01T00:00:01Z"),
        ("https://a.com/x/", "2024-01-01T00:00:03Z"),
        # ts tie -> raw-url tiebreak (lexicographic min wins)
        ("https://b.com/y?z=1", "2024-01-01T00:00:00Z"),
        ("https://b.com/y/?z=1", "2024-01-01T00:00:00Z"),
        # singleton
        ("https://c.com/z", "2024-01-01T00:00:09Z"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_date string")
    out = {
        r["url_norm"]: (r["url"], r["n_dups"])
        for r in url_ops.url_dedup(df).collect()
    }
    assert out == {
        "https://a.com/x": ("https://a.com/x#f", 3),
        "https://b.com/y?z=1": ("https://b.com/y/?z=1", 2),
        "https://c.com/z": ("https://c.com/z", 1),
    }


def test_domain_rollup_and_gate(spark):
    rows = [
        ("https://spam.tracker.net/a",),
        ("https://deep.sub.tracker.net/b",),
        ("https://news.example.com/c",),
        ("https://example.com/c",),  # same registrable domain as above
        ("https://localhost/x",),  # single-label host passes through
    ]
    df = spark.createDataFrame(rows, "url string")
    roll = {
        r["domain"]: (r["n_pages"], r["n_hosts"], r["n_urls"], r["blocked"])
        for r in url_ops.domain_rollup(
            df, blocklist=["tracker.net"]
        ).collect()
    }
    assert roll == {
        "tracker.net": (2, 2, 2, True),
        "example.com": (2, 2, 2, False),
        "localhost": (1, 1, 1, False),
    }
    kept = {
        r["url"] for r in url_ops.domain_gate(df, ["tracker.net"]).collect()
    }
    # the blocklist entry covers every subdomain
    assert kept == {
        "https://news.example.com/c",
        "https://example.com/c",
        "https://localhost/x",
    }


def test_warc_url_dedup_extract_curate_composition(spark):
    """The judge-mandated end-to-end: messy-URL WARC fixture → binary
    parse → URL dedup → html_to_text extraction → domain gate."""
    rows = [(i, f"Body text number {i} with words") for i in range(32)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    files = warc.synthesize_warc_corpus(
        docs, docs_per_file=16, torn_every=0, messy_urls=True
    )
    pages = warc.parse_warc_records(files).filter(
        F.col("ok") & (F.col("warc_type") == "response")
    )
    deduped = url_ops.url_dedup(pages, "url", "warc_date")
    # 32 docs = 2 full 16-blocks -> 7 canonical urls each (8 (j, j+8)
    # pairs, of which the host-case pair {0,1,8,9} folds into one)
    assert deduped.count() == 14
    # keep-first: the group {0,1,8,9} keeps doc 0's fetch (earliest ts)
    grp = deduped.filter(F.col("url_norm") == "https://example.com/page/0?v=0")
    row = grp.collect()[0]
    assert row["n_dups"] == 4 and row["url"] == warc.messy_url(0)
    # extraction still works downstream of dedup (html survived)
    extracted = warc.warc_extract_pages(deduped)
    assert extracted.filter(F.col("n_words") > 0).count() == 14
    # curation gate drops the junk domains
    kept = url_ops.domain_gate(
        extracted, ["tracker.net", "clickfarm.biz"], url_col="url"
    )
    hosts = {
        r["h"]
        for r in kept.select(
            url_ops.url_host_col(
                url_ops.normalize_url_col(F.col("url"))
            ).alias("h")
        ).collect()
    }
    assert "spam.tracker.net" not in hosts
    assert "ads.clickfarm.biz" not in hosts
    assert kept.count() == 10  # 14 - 2x tracker - 2x clickfarm


def test_crawl_to_corpus_composition(spark):
    """plans/crawl.py end-to-end: parse -> URL dedup -> domain gate ->
    extract -> rule-pack gate, with per-stage effects visible."""
    from algoritmos_etl_spark.plans.crawl import crawl_to_corpus

    rows = [
        (
            i,
            " ".join(
                f"word{i // 16}x{j}" for j in range(60)
            ),  # >= 50 words, mean len ok; dup-group members share text
        )
        for i in range(64)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    files = warc.synthesize_warc_corpus(docs, torn_every=0, messy_urls=True)
    out = crawl_to_corpus(
        warc.parse_warc_records(files),
        blocklist=["tracker.net", "clickfarm.biz"],
        quality_rules=(
            "word_count", "mean_word_length", "symbol_word_ratio",
            "alpha_word_ratio",
        ),
    ).collect()
    # 64 docs = 4 blocks x 7 canonical urls = 28, minus 2 junk domains
    # per block = 20 survivors (every doc passes the rule subset)
    assert len(out) == 20
    doms = {r["domain"] for r in out}
    # crawl_to_corpus documents the naive 2-label grain (PSL is the
    # rollup/gate option): both co.uk registrants collapse here
    assert doms == {"example.com", "co.uk"}
    # keep-first: each 4-way group keeps its min doc_id's fetch, and
    # n_dups records the group size
    by_url = {r["url_norm"]: r for r in out}
    g0 = by_url["https://example.com/page/0?v=0"]
    assert g0["n_dups"] == 4 and g0["warc_date"] == warc.warc_date(0)
    # the HTML shell contributes a fixed word overhead (title/footer
    # boilerplate the scale tier keeps); all docs share one shape
    n_words = {r["n_words"] for r in out}
    assert len(n_words) == 1 and n_words.pop() >= 60
    # doc_id is the canonical-url hash: deterministic + distinct
    assert len({r["doc_id"] for r in out}) == 20


# -------------------------------------- Public-Suffix-List grain


PSL_CASES = [
    # (host, expected registrable domain per the PSL algorithm)
    ("docs.example.co.uk", "example.co.uk"),   # ccTLD-SLD rule
    ("blog.other.co.uk", "other.co.uk"),       # ≠ example.co.uk
    ("www.example.com", "example.com"),
    ("example.com", "example.com"),
    ("foo.bar.ck", "foo.bar.ck"),              # wildcard *.ck
    ("www.ck", "www.ck"),                      # exception !www.ck
    ("sub.www.ck", "www.ck"),                  # exception wins in subtree
    ("a.b.nsw.edu.au", "b.nsw.edu.au"),        # 3-label rule
    ("deep.a.b.example.co.uk", "example.co.uk"),
    ("localhost", "localhost"),                # single label passthrough
    ("thing.internal", "thing.internal"),      # unknown TLD → default rule
    ("co.uk", "co.uk"),                        # host IS a public suffix
    ("y.x.np", "y.x.np"),                      # wildcard *.np
]


def test_psl_registrable_domain_cases(spark):
    df = spark.createDataFrame([(h,) for h, _ in PSL_CASES], "host string")
    got = {
        r["host"]: r["domain"]
        for r in url_ops.with_registrable_domain_psl(df, "host").collect()
    }
    assert got == dict(PSL_CASES)


def test_psl_sql_twin_parity(spark):
    hosts = [h for h, _ in PSL_CASES] + ["", "weird..double", "x.np", "uk"]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = {
        r["host"]: r["domain"]
        for r in url_ops.with_registrable_domain_psl(df, "host").collect()
    }
    vals = ", ".join(f"('{h}')" for h in hosts)
    sql = (
        f"WITH src AS (SELECT * FROM (VALUES {vals}) s(host)), "
        + url_ops.psl_domain_cte("src", "host")
        + " SELECT host, domain FROM psl_domained"
    )
    con = duckdb.connect()
    oracle = dict(con.sql(sql).fetchall())
    con.close()
    assert got == oracle


def test_psl_rollup_separates_cctld_sld_registrants(spark):
    rows = [
        ("https://docs.example.co.uk/a",),
        ("https://m.example.co.uk/b",),
        ("https://blog.other.co.uk/c",),
        ("https://news.example.com/d",),
    ]
    df = spark.createDataFrame(rows, "url string")
    naive = {
        r["domain"] for r in url_ops.domain_rollup(df).collect()
    }
    assert "co.uk" in naive  # the documented naive-collapse defect
    psl = {
        r["domain"]: r["n_pages"]
        for r in url_ops.domain_rollup(df, psl=True).collect()
    }
    assert psl == {"example.co.uk": 2, "other.co.uk": 1, "example.com": 1}


def test_psl_blocklist_no_overmatch(spark):
    rows = [
        ("https://docs.example.co.uk/a",),
        ("https://blog.other.co.uk/c",),
    ]
    df = spark.createDataFrame(rows, "url string")
    # naive grain: the registrant entry matches NOTHING (both are co.uk)
    assert url_ops.domain_gate(df, ["example.co.uk"]).count() == 2
    # PSL grain: exactly the one registrant is blocked
    blocked = {
        r["domain"]: r["blocked"]
        for r in url_ops.domain_rollup(
            df, blocklist=["example.co.uk"], psl=True
        ).collect()
    }
    assert blocked == {"example.co.uk": True, "other.co.uk": False}
    # ...and blocking a public suffix at PSL grain blocks nothing,
    # because no host's REGISTRABLE domain is ever a bare suffix
    assert not any(
        r["blocked"]
        for r in url_ops.domain_rollup(df, blocklist=["co.uk"], psl=True)
        .collect()
    )


def test_psl_gate_is_map_only(spark):
    # r12 optimization round: the PSL match is a pure codegen
    # projection over a compile-time rule table — no join of ANY kind
    # (the old shape paid 3 BroadcastExchanges per call), no shuffle
    df = spark.createDataFrame([("a.co.uk",)], "host string")
    plan = (
        url_ops.with_registrable_domain_psl(df, "host")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan
    assert "BroadcastExchange" not in plan
    assert "Exchange hashpartitioning" not in plan  # no shuffle
