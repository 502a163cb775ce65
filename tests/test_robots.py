"""robots.txt tier (`operators/robots.py`): relational parse
(groups, multi-agent lines, comments, empty-Disallow), regex
translation arms, RFC group resolution, longest-match/Allow-wins
precedence, and Spark-vs-DuckDB parity on the fixture bodies."""

from __future__ import annotations

from pyspark.sql import functions as F

from algoritmos_etl_spark.operators import robots


FIXTURE_BODY = """# top comment
User-agent: *
Disallow: /private/
Allow: /private/public/
Disallow: /tmp*.bak$

User-agent: alpha
User-agent: beta
Disallow: /only-ab/
Allow:

Crawl-delay: 10
Sitemap: https://x.example/sitemap.xml
"""


def _rules(spark, body=FIXTURE_BODY, host="h.example"):
    df = spark.createDataFrame([(host, body)], "host string, body string")
    return robots.parse_robots(df).collect()


def test_parse_groups_and_directives(spark):
    rows = _rules(spark)
    got = {(r["agent"], r["allow"], r["path"]) for r in rows}
    assert got == {
        ("*", False, "/private/"),
        ("*", True, "/private/public/"),
        ("*", False, "/tmp*.bak$"),
        # the two consecutive agent lines share ONE group
        ("alpha", False, "/only-ab/"),
        ("beta", False, "/only-ab/"),
        # empty Allow/Disallow emit no rule; crawl-delay/sitemap ignored
    }
    # plen is the raw pattern length (precedence key)
    by_path = {r["path"]: r for r in rows if r["agent"] == "*"}
    assert by_path["/private/"]["plen"] == len("/private/")


def test_regex_translation_arms(spark):
    cases = [
        # (pattern, path, matches?)
        ("/a/b", "/a/b/c", True),        # plain prefix
        ("/a/b", "/a/x", False),
        ("/a*.c", "/a/zz.c/d", True),    # * wildcard
        ("/a$", "/a", True),             # trailing $ anchors
        ("/a$", "/a/b", False),
        ("/p+q", "/p+q/r", True),        # metachars are literal
        ("/p+q", "/ppq/r", False),
        ("/d$x", "/d$x/y", True),        # mid-pattern $ is literal
    ]
    df = spark.createDataFrame(
        [(p, u) for p, u, _ in cases], "path string, url string"
    )
    got = (
        df.select(
            robots.robots_path_regex_col(F.col("path")).alias("rx"), "url"
        )
        .select(F.expr("url RLIKE rx").alias("m"))
        .collect()
    )
    assert [r["m"] for r in got] == [m for _, _, m in cases]


def test_gate_precedence_and_resolution(spark):
    body_a = (
        "User-agent: *\nDisallow: /x/\nAllow: /x/ok/\n"
    )
    body_b = (
        "User-agent: *\nDisallow: /\n"
        "User-agent: trainingbot\nAllow: /data/\nDisallow: /data/raw/\n"
    )
    rules = robots.parse_robots(
        spark.createDataFrame(
            [("a.com", body_a), ("b.com", body_b)],
            "host string, body string",
        )
    )
    pages = spark.createDataFrame(
        [
            ("https://a.com/x/secret",),      # blocked by /x/
            ("https://a.com/x/ok/page",),     # longer Allow wins
            ("https://a.com/free",),          # no match -> allowed
            ("https://b.com/anything",),      # named group: no match ->
                                              # allowed (the * Disallow /
                                              # does NOT apply)
            ("https://b.com/data/set",),      # named Allow
            ("https://b.com/data/raw/1",),    # named longer Disallow
            ("https://nobots.io/a",),         # host without rules
        ],
        "url_norm string",
    )
    got = {
        r["url_norm"]: r["allowed"]
        for r in robots.robots_gate(
            pages, rules, agent="TrainingBot"
        ).collect()
    }
    assert got == {
        "https://a.com/x/secret": False,
        "https://a.com/x/ok/page": True,
        "https://a.com/free": True,
        "https://b.com/anything": True,
        "https://b.com/data/set": True,
        "https://b.com/data/raw/1": False,
        "https://nobots.io/a": True,
    }


def test_fixture_bodies_parse_parity(spark):
    """Spark parse of the registered fixture bodies must equal the
    DuckDB relational-parse twin (the oracle's CTE chain, exercised
    here standalone over the same bodies)."""
    import duckdb

    from algoritmos_etl_spark.sources.warc import _MESSY_HOSTS

    rows = [
        (h.lower(), robots.robots_body(i))
        for i, h in enumerate(_MESSY_HOSTS)
    ]
    got = {
        (r["host"], r["agent"], r["allow"], r["path"], r["plen"], r["rx"])
        for r in robots.parse_robots(
            spark.createDataFrame(rows, "host string, body string")
        ).collect()
    }
    hosts_vals = ", ".join(
        f"({i}, '{h.lower()}')" for i, h in enumerate(_MESSY_HOSTS)
    )
    esc = (
        r"regexp_replace(regexp_replace(path, '\$$', ''),"
        r" '([.\[\]{}()+?^\\|$])', '\\\1', 'g')"
    )
    rx = (
        f"'^' || regexp_replace({esc}, '\\*', '.*', 'g') ||"
        r" (CASE WHEN regexp_matches(path, '\$$') THEN '$' ELSE '' END)"
    )
    sql = f"""WITH rhosts AS (SELECT * FROM (VALUES {hosts_vals})
        _rh(hidx, host)),
    rbodies AS (SELECT host, {robots.robots_body_sql('hidx')} AS body
                FROM rhosts),
    rlines AS (
        SELECT host, unnest(ls) AS rawline,
               unnest(range(1, len(ls)+1)) AS lidx
        FROM (SELECT host, string_split(replace(body, chr(13), ''),
                     chr(10)) AS ls FROM rbodies)
    ),
    rnorm AS (SELECT host, lidx,
              trim(regexp_replace(rawline, '#.*$', '')) AS line
              FROM rlines),
    rtyped AS (
        SELECT host, lidx,
               lower(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1)) AS key,
               trim(regexp_extract(line, '^[A-Za-z-]+\\s*:(.*)$', 1)) AS val
        FROM rnorm
        WHERE lower(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1))
              IN ('user-agent', 'allow', 'disallow')
    ),
    ropen AS (
        SELECT host, lidx, key, val,
               CASE WHEN key = 'user-agent'
                    AND coalesce(lag(key) OVER (PARTITION BY host
                        ORDER BY lidx), '') <> 'user-agent'
                    THEN 1 ELSE 0 END AS opener
        FROM rtyped
    ),
    rgrp AS (
        SELECT host, lidx, key, val,
               sum(opener) OVER (PARTITION BY host ORDER BY lidx) AS grp
        FROM ropen
    ),
    ragents AS (SELECT host, grp, lower(val) AS agent FROM rgrp
                WHERE key = 'user-agent'),
    rdirs AS (SELECT host, grp, key = 'allow' AS allow, val AS path
              FROM rgrp WHERE key <> 'user-agent' AND val <> '')
    SELECT d.host, a.agent, d.allow, d.path,
           CAST(length(d.path) AS BIGINT) AS plen, {rx} AS rx
    FROM rdirs d JOIN ragents a USING (host, grp)"""
    con = duckdb.connect()
    want = set(map(tuple, con.sql(sql).fetchall()))
    con.close()
    assert got == want


def test_crawl_composition_with_robots_stage(spark):
    """robots_gate composed onto the crawl corpus drops exactly the
    disallowed URLs."""
    from algoritmos_etl_spark.operators.text import QUALITY_RULES
    from algoritmos_etl_spark.plans.crawl import crawl_to_corpus
    from algoritmos_etl_spark.sources import warc

    docs = spark.createDataFrame(
        [(i, "word " * 60 + "tail.") for i in range(64)],
        "doc_id long, text string",
    )
    files = warc.synthesize_warc_corpus(docs, messy_urls=True, torn_every=0)
    parsed = warc.parse_warc_records(files)
    rules = robots.parse_robots(
        spark.createDataFrame(
            [
                (h.lower(), robots.robots_body(i))
                for i, h in enumerate(warc._MESSY_HOSTS)
            ],
            "host string, body string",
        )
    )
    q = tuple(n for n, _ in QUALITY_RULES if n != "stopword_floor")
    plain = crawl_to_corpus(parsed, blocklist=[], quality_rules=q)
    gated = robots.robots_gate(plain, rules, agent=robots.ROBOTS_AGENT).filter(
        "allowed"
    )
    plain_urls = {r["url_norm"] for r in plain.collect()}
    gated_urls = {r["url_norm"] for r in gated.collect()}
    assert gated_urls < plain_urls  # strictly smaller: some URLs blocked
    # the dropped set is exactly the robots-disallowed subset
    from pyspark.sql import functions as FF

    verdicts = {
        r["url_norm"]: r["allowed"]
        for r in robots.robots_gate(
            spark.createDataFrame(
                [(u,) for u in plain_urls], "url_norm string"
            ),
            rules,
            agent=robots.ROBOTS_AGENT,
        ).collect()
    }
    assert gated_urls == {u for u in plain_urls if verdicts[u]}
