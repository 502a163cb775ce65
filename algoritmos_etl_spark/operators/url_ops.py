"""URL/domain-grain curation — the FIRST stage of every real crawl
pipeline (C4's bad-domain filter, RefinedWeb's URL scoring, the
CommonCrawl dedup order: URL-level exact dedup BEFORE any content
hash). Three operators over the WARC tier's (url, fetch ts) output:

- `normalize_url_col` — RFC 3986-flavored syntactic canonicalization
  as ONE Column expression (zero shuffles, whole-stage codegen):
  fragment strip, scheme+authority lowercase, default-port strip
  (:80 for http, :443 for https — non-default ports survive),
  trailing-slash collapse, tracking-parameter removal
  (utm_*/gclid/fbclid/msclkid/ref) and query-parameter sort. Every
  rule has a DuckDB twin (`normalize_url_cte`) kept in this module so
  the dialects cannot drift. Policy notes: `www.` is NOT stripped
  (it is a real hostname; folding it is a site-specific heuristic),
  http/https are NOT folded (different origins), userinfo is
  lowercased with the authority (not present in crawl fixtures),
  and a string with no `scheme://` passes through as trim(lower(x))
  so non-URL garbage stays inert instead of erroring.
- `url_dedup` — URL-level EXACT dedup, keep-first-by-fetch-ts with a
  raw-url tiebreak (total order even when timestamps collide): one
  hash shuffle on the normalized URL (high-cardinality key — no skew
  beyond real crawl skew, which AQE handles), row_number + group
  count in one window pass.
- `domain_rollup` / `domain_gate` — per-domain aggregation at the
  registrable-domain grain and the C4-shape blocklist gate
  (registrable-domain match, so a blocklist entry covers all its
  subdomains). Two grains: the naive last-two-labels cut (the
  dependency-free floor) and, with `psl=True`, the real Public
  Suffix List longest-suffix match (`with_registrable_domain_psl` —
  broadcast joins over a bounded rule table with normal/wildcard/
  exception kinds, r12), under which `example.co.uk` and
  `other.co.uk` roll up apart and a blocklist entry can never cover
  a whole country registry.

Reference scope note: the reference (/root/reference) has no URL
surface; this module is extension surface for the 100 TB
training-data brief (VERDICT r10 task #1), consuming the round-10
WARC tier (`sources/warc.py`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import ctx_memo

# tracking parameters removed by normalization — the published
# cross-site tracking set (Google Analytics utm_*, Google/Facebook/
# Microsoft click ids, bare ref). Anchored at the param name so a
# legitimate `?href=` or `?butm_x=` survives; `(=|$)` so a VALUELESS
# tracking param (`?utm_source`, `?gclid`) is removed too instead of
# splitting what should be one canonical URL (ADVICE r11 #4).
TRACKING_PARAM_RE = "^(utm_[a-z0-9_]*|gclid|fbclid|msclkid|ref)(=|$)"

_SCHEME_RE = "^([A-Za-z][A-Za-z0-9+.-]*)://"
_AUTH_RE = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATH_RE = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?]*)"


def normalize_url_col(url: Column) -> Column:
    """Canonical form of `url` (see module doc for the rule set and
    policy). Pure built-in Column expression — runs inside
    whole-stage codegen, no UDF, no shuffle."""
    u0 = F.regexp_replace(url, "#.*$", "")
    scheme = F.lower(F.regexp_extract(u0, _SCHEME_RE, 1))
    auth = F.lower(F.regexp_extract(u0, _AUTH_RE, 1))
    host = (
        F.when(scheme == "http", F.regexp_replace(auth, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(auth, ":443$", ""))
        .otherwise(auth)
    )
    path = F.regexp_replace(F.regexp_extract(u0, _PATH_RE, 1), "/+$", "")
    q = F.regexp_extract(u0, "\\?(.*)$", 1)
    kept = F.array_sort(
        F.filter(
            F.split(q, "&"),
            lambda x: (x != "") & ~x.rlike(TRACKING_PARAM_RE),
        )
    )
    q2 = F.array_join(kept, "&")
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(q2 == "", F.lit("")).otherwise(F.concat(F.lit("?"), q2)),
    )
    return F.when(scheme == "", F.trim(F.lower(url))).otherwise(rebuilt)


def normalize_url_cte(src: str) -> str:
    """DuckDB twin of `normalize_url_col` as a WITH-fragment: consumes
    relation `src` (which must expose `url`), defines relations
    `_n0.._n2` and `normed` = src + `url_norm`. Kept next to the
    Column version so the dialects cannot drift. DuckDB gotchas
    pinned here: regexp_extract returns '' on no-match (same as
    Spark), string_split('') is [''] (same), but array_to_string([])
    is NULL where Spark's array_join([]) is '' — hence the coalesce."""
    return f"""_n0 AS (
        SELECT *, regexp_replace(url, '#.*$', '') AS _u0 FROM {src}
    ),
    _n1 AS (
        SELECT *,
            lower(regexp_extract(_u0, '{_SCHEME_RE}', 1)) AS _scheme,
            lower(regexp_extract(_u0, '{_AUTH_RE}', 1)) AS _auth,
            regexp_extract(_u0, '{_PATH_RE}', 1) AS _rawpath,
            regexp_extract(_u0, '\\?(.*)$', 1) AS _q
        FROM _n0
    ),
    _n2 AS (
        SELECT *,
            CASE WHEN _scheme = 'http' THEN regexp_replace(_auth, ':80$', '')
                 WHEN _scheme = 'https' THEN regexp_replace(_auth, ':443$', '')
                 ELSE _auth END AS _host,
            regexp_replace(_rawpath, '/+$', '') AS _path,
            coalesce(array_to_string(list_sort(list_filter(
                string_split(_q, '&'),
                x -> x <> '' AND NOT regexp_matches(x, '{TRACKING_PARAM_RE}')
            )), '&'), '') AS _q2
        FROM _n1
    ),
    normed AS (
        SELECT * EXCLUDE (_u0, _scheme, _auth, _rawpath, _q, _host,
                          _path, _q2),
            CASE WHEN _scheme = '' THEN trim(lower(url))
                 ELSE _scheme || '://' || _host || _path ||
                      (CASE WHEN _q2 = '' THEN ''
                            ELSE '?' || _q2 END) END AS url_norm
        FROM _n2
    )"""


def url_host_col(url_norm: Column) -> Column:
    """Hostname of a NORMALIZED url (port stripped even when
    non-default — a domain gate keys on the name, not the port)."""
    return F.regexp_replace(
        F.regexp_extract(url_norm, _AUTH_RE, 1), ":[0-9]+$", ""
    )


def registrable_domain_col(host: Column) -> Column:
    """Last two labels of the host — the naive registrable-domain cut
    (module-doc policy note: production consults the Public Suffix
    List; two labels is the deterministic, dependency-free floor).
    Single-label hosts (e.g. 'localhost') pass through whole."""
    two = F.regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
    return F.when(two == "", host).otherwise(two)


def url_host_sql(url_norm: str) -> str:
    """DuckDB twin of `url_host_col`."""
    return (
        f"regexp_replace(regexp_extract({url_norm}, '{_AUTH_RE}', 1),"
        " ':[0-9]+$', '')"
    )


def registrable_domain_sql(host: str) -> str:
    """DuckDB twin of `registrable_domain_col`."""
    return (
        f"(CASE WHEN regexp_extract({host}, '([^.]+\\.[^.]+)$', 1) = ''"
        f" THEN {host}"
        f" ELSE regexp_extract({host}, '([^.]+\\.[^.]+)$', 1) END)"
    )


# ---------------------------------- Public-Suffix-List domain grain

# Bounded subset of the Public Suffix List (publicsuffix.org — public
# knowledge; the full list is ~10k rules, this fixture carries the
# high-traffic registries plus one wildcard/exception family so every
# rule KIND is exercised). Format is the PSL's own: bare suffix =
# normal rule, '*.' prefix = wildcard (every child of the suffix is
# itself a public suffix), '!' prefix = exception (this exact name is
# registrable despite a covering wildcard). VERDICT r11 task #2: the
# naive 2-label cut collapses example.co.uk to co.uk, so one
# blocklist entry nukes a whole country registry and rollups
# mis-group.
PSL_RULES = (
    # generic TLDs
    "com", "org", "net", "edu", "gov", "mil", "int", "info", "biz",
    "name", "mobi", "io", "ai", "app", "dev", "page", "xyz", "site",
    "online", "tech", "store", "blog", "news", "cloud", "shop",
    # country TLDs whose second level is open registration
    "de", "fr", "nl", "it", "es", "se", "no", "fi", "dk", "pl", "ch",
    "at", "be", "cz", "pt", "gr", "hu", "ro", "ie", "ca", "us", "eu",
    "ru", "cn", "tv", "me", "co",
    # countries with registry-controlled second levels
    "uk", "co.uk", "org.uk", "net.uk", "ac.uk", "gov.uk", "sch.uk",
    "nhs.uk", "police.uk",
    "jp", "co.jp", "or.jp", "ne.jp", "ac.jp", "ad.jp", "ed.jp",
    "go.jp", "gr.jp", "lg.jp",
    "au", "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au",
    "id.au", "act.edu.au", "nsw.edu.au",
    "br", "com.br", "net.br", "org.br", "gov.br", "edu.br",
    "in", "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in",
    "mx", "com.mx", "org.mx", "net.mx", "gob.mx", "edu.mx",
    "kr", "co.kr", "or.kr", "ne.kr", "re.kr", "go.kr", "ac.kr",
    "tw", "com.tw", "org.tw", "net.tw", "edu.tw", "gov.tw",
    "hk", "com.hk", "org.hk", "net.hk", "edu.hk", "gov.hk",
    "sg", "com.sg", "org.sg", "net.sg", "edu.sg", "gov.sg",
    "za", "co.za", "org.za", "net.za", "web.za", "gov.za", "ac.za",
    "ar", "com.ar", "org.ar", "net.ar", "gob.ar", "edu.ar",
    "nz", "co.nz", "org.nz", "net.nz", "govt.nz", "ac.nz",
    "school.nz", "geek.nz", "gen.nz",
    "my", "com.my", "org.my", "net.my", "gov.my", "edu.my",
    "th", "co.th", "or.th", "in.th", "go.th", "ac.th",
    "vn", "com.vn", "org.vn", "net.vn", "gov.vn", "edu.vn",
    "id", "co.id", "or.id", "web.id", "ac.id", "go.id",
    "ph", "com.ph", "org.ph", "net.ph", "gov.ph", "edu.ph",
    "il", "co.il", "org.il", "net.il", "gov.il", "ac.il", "muni.il",
    "tr", "com.tr", "org.tr", "net.tr", "gov.tr", "edu.tr",
    "ua", "com.ua", "org.ua", "net.ua", "gov.ua", "edu.ua", "in.ua",
    # wildcard registries + the exception that proves the kind
    "*.ck", "!www.ck", "*.bd", "*.np",
)

# deepest rule key in the table — bounds the suffix candidates a host
# needs (wildcards match one label DEEPER than their key)
_PSL_MAX_LABELS = max(
    r.lstrip("!*.").count(".") + 1 for r in PSL_RULES
)


def _psl_rule_rows() -> list[tuple[str, bool, bool, bool]]:
    """PSL_RULES folded to one row per suffix key:
    (key, has_normal, has_wildcard, has_exception). Wildcard rules
    are keyed by their PARENT ('*.ck' → key 'ck'): a wildcard match
    at key depth k makes the public suffix k+1 labels deep."""
    acc: dict[str, list[bool]] = {}
    for r in PSL_RULES:
        if r.startswith("!"):
            key, slot = r[1:], 2
        elif r.startswith("*."):
            key, slot = r[2:], 1
        else:
            key, slot = r, 0
        flags = acc.setdefault(key, [False, False, False])
        flags[slot] = True
    return [(k, f[0], f[1], f[2]) for k, f in sorted(acc.items())]


def _psl_depth_sets() -> tuple[dict, dict, dict]:
    """`_psl_rule_rows` bucketed by (kind, label depth): three
    {depth: sorted suffix list} dicts (normal, wildcard, exception).
    A k-label tail can only string-equal a k-label suffix, so the
    per-depth buckets partition the rule table exactly the way the
    old per-depth equi-joins matched it."""
    normal: dict[int, list] = {}
    wild: dict[int, list] = {}
    exc: dict[int, list] = {}
    for key, has_n, has_w, has_e in _psl_rule_rows():
        d = key.count(".") + 1
        if has_n:
            normal.setdefault(d, []).append(key)
        if has_w:
            wild.setdefault(d, []).append(key)
        if has_e:
            exc.setdefault(d, []).append(key)
    return normal, wild, exc


def with_registrable_domain_psl(
    df: DataFrame, host_col: str, out_col: str = "domain"
) -> DataFrame:
    """Append `out_col` = the PSL registrable domain of `host_col`
    (publicsuffix.org algorithm: exception rule wins; else the
    LONGEST matching rule is the public suffix, wildcards matching
    one label deeper than their key; no match → the last label; the
    registrable domain is the public suffix plus one label, or the
    whole host when the host IS a public suffix — the same
    passthrough the naive cut applies to single labels).

    Scale shape: map-only, zero joins (r12 optimization round). The
    rule table is a compile-time constant, so each per-depth
    membership test compiles to a codegen hash-set `IN` over the
    depth's suffixes instead of a broadcast hash join — the old shape
    paid 3 BroadcastExchanges per call (6 in the host-graph edge
    builder, which domains BOTH endpoints), pure fixed overhead on a
    table that never changes at runtime. The intermediates (tails,
    per-depth flags, the public-suffix depth) are STAGED as aliased
    columns used more than once, so CollapseProject keeps the
    projection boundaries and each subexpression is evaluated — and
    codegen'd — exactly once (a single inlined expression tree
    overflowed Janino's method limit and fell back to interpreted
    eval). The DuckDB twin (`psl_domain_cte`) keeps the join
    formulation — same rule table, same result."""
    m = _PSL_MAX_LABELS
    p = "_psl"

    def _build_cols():
        # the literal-set flag trees (~200 suffixes across three rule
        # kinds) cost ~0.3 s of py4j construction per call — memoised
        # per SparkContext (r13), since every tree is a pure function
        # of (host_col, the compile-time rule table)
        host = F.col(host_col)
        normal, wild, exc = _psl_depth_sets()

        tails = {
            k: F.when(
                F.col(f"{p}_n") >= k, F.substring_index(host, ".", -k)
            )
            for k in range(1, m + 1)
        }

        def flag(sets: dict, k: int) -> Column:
            keys = sets.get(k)
            if not keys:
                return F.lit(False)
            return F.coalesce(F.col(f"{p}_t{k}").isin(*keys), F.lit(False))

        # ps depth = max(normal k, wildcard k+1, default 1)
        ps = F.lit(1)
        for k in range(1, m + 1):
            ps = F.greatest(
                ps,
                F.when(flag(normal, k), F.lit(k)).otherwise(F.lit(1)),
                F.when(flag(wild, k), F.lit(k + 1)).otherwise(F.lit(1)),
            )

        # exception at depth k: that exact tail is registrable; else
        # registrable = the last ps+1 labels (substring_index handles
        # the count arithmetically — no per-depth CASE ladder), or the
        # whole host when the host IS a public suffix
        reg = None
        for k in range(m, 0, -1):
            arm = (flag(exc, k), F.col(f"{p}_t{k}"))
            reg = F.when(*arm) if reg is None else reg.when(*arm)
        deeper = F.expr(
            f"substring_index({host_col}, '.', -({p}_ps + 1))"
        )
        reg = reg.otherwise(
            F.when(F.col(f"{p}_n") > F.col(f"{p}_ps"), deeper).otherwise(
                host
            )
        )
        return F.size(F.split(host, "\\.")), tails, ps, reg

    n_col, tails, ps, reg = ctx_memo(
        ("psl_cols", host_col, out_col), _build_cols
    )
    # one withColumns per STAGE (not per column): the staged
    # projection boundaries that keep each subexpression under
    # Janino's method limit are preserved, while the plan-op count —
    # each of which resolves the growing schema eagerly — drops from
    # m+3 to 3
    s1 = df.withColumn(f"{p}_n", n_col).withColumns(
        {f"{p}_t{k}": tails[k] for k in range(1, m + 1)}
    )
    out = s1.withColumn(f"{p}_ps", ps).withColumn(out_col, reg)
    return out.drop(
        f"{p}_n", f"{p}_ps", *[f"{p}_t{k}" for k in range(1, m + 1)]
    )


def psl_rules_values_sql() -> str:
    """The folded rule table as a DuckDB VALUES relation, derived from
    the same constant as the Spark side."""
    rows = ", ".join(
        f"('{k}', {str(n).upper()}, {str(w).upper()}, {str(e).upper()})"
        for k, n, w, e in _psl_rule_rows()
    )
    return (
        f"(SELECT * FROM (VALUES {rows}) AS _pr"
        "(suffix, has_normal, has_wildcard, has_exception))"
    )


def psl_domain_cte(src: str, host_col: str) -> str:
    """DuckDB twin of `with_registrable_domain_psl` as a
    WITH-fragment: consumes relation `src` (exposing `host_col`),
    yields `psl_domained` = src + `domain`. Kept next to the Column
    version so the dialects cannot drift."""
    m = _PSL_MAX_LABELS
    tails = ", ".join(
        f"""CASE WHEN len(string_split({host_col}, '.')) >= {k}
             THEN array_to_string(list_slice(
                  string_split({host_col}, '.'), -{k}, -1), '.')
           END AS _tail{k}"""
        for k in range(1, m + 3)
    )
    joins = "\n        ".join(
        f"LEFT JOIN {psl_rules_values_sql()} r{k}"
        f" ON r{k}.suffix = c._tail{k}"
        for k in range(1, m + 1)
    )
    exc_arms = " ".join(
        f"WHEN coalesce(r{k}.has_exception, FALSE) THEN c._tail{k}"
        for k in range(m, 0, -1)
    )
    ps_terms = ", ".join(
        f"CASE WHEN coalesce(r{k}.has_normal, FALSE) THEN {k} ELSE 1 END,"
        f" CASE WHEN coalesce(r{k}.has_wildcard, FALSE) THEN {k + 1}"
        f" ELSE 1 END"
        for k in range(1, m + 1)
    )
    deeper_arms = " ".join(
        f"WHEN _ps + 1 = {k} THEN _tail{k}" for k in range(m + 2, 1, -1)
    )
    return f"""_psl_tails AS (
        SELECT *, {tails} FROM {src}
    ),
    _psl_matched AS (
        SELECT c.*, greatest(1, {ps_terms}) AS _ps,
               CASE {exc_arms} ELSE NULL END AS _exc
        FROM _psl_tails c
        {joins}
    ),
    psl_domained AS (
        SELECT * EXCLUDE (_ps, _exc,
                {', '.join(f'_tail{k}' for k in range(1, m + 3))}),
            coalesce(_exc,
                CASE WHEN len(string_split({host_col}, '.')) > _ps
                     THEN (CASE {deeper_arms} END)
                     ELSE {host_col} END) AS domain
        FROM _psl_matched
    )"""


def url_dedup(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_date",
) -> DataFrame:
    """URL-level exact dedup: one row per CANONICAL url, keeping the
    first fetch (min `ts_col`, raw-url tiebreak — a total order, so
    the keeper is engine-independent even when the fetch clock
    collides). Output: every `pages` column of the kept row, plus
    `url_norm` and `n_dups` (group size — the re-crawl count a
    curation report wants).

    Scale shape: ONE hash shuffle on url_norm (the window's
    partitionBy); row_number and the group count share that single
    window pass. At crawl scale the canonical URL is a
    high-cardinality nearly-unique key — skew only where real crawls
    have it (hot pages re-fetched constantly), which AQE's skew-join
    handling and the 2-column narrowness of the exchanged row keep
    benign."""
    w = Window.partitionBy("url_norm").orderBy(ts_col, url_col)
    grp = Window.partitionBy("url_norm")
    return (
        pages.withColumn("url_norm", normalize_url_col(F.col(url_col)))
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("n_dups", F.count(F.lit(1)).over(grp))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def domain_rollup(
    pages: DataFrame,
    url_col: str = "url",
    blocklist: list[str] | None = None,
    psl: bool = False,
) -> DataFrame:
    """Per-registrable-domain aggregation with the C4-shape blocklist
    verdict: (domain, n_pages, n_hosts, n_urls, blocked). `blocklist`
    entries are registrable domains — matching is at that grain, so
    one entry covers every subdomain. `psl=True` computes the grain
    with the Public-Suffix-List longest-suffix match
    (`with_registrable_domain_psl` — broadcast joins, still map-only)
    instead of the naive 2-label cut, so example.co.uk and
    other.co.uk roll up apart and a blocklist entry can never cover a
    whole country registry. One partial-agg shuffle onto the domain
    grain (bounded by the web's registrable-domain count, ~milllions
    — trivially clustered at 100 TB); the blocklist is a literal isin
    against the bounded list (a real pipeline would broadcast-join a
    blocklist table; isin keeps the fixture's plan free of a join on
    a 2-element list)."""
    norm = normalize_url_col(F.col(url_col))
    host = url_host_col(F.col("url_norm"))
    enriched = pages.withColumn("url_norm", norm).withColumn("_host", host)
    if psl:
        enriched = with_registrable_domain_psl(enriched, "_host")
    else:
        enriched = enriched.withColumn(
            "domain", registrable_domain_col(F.col("_host"))
        )
    blocked = (
        F.col("domain").isin(*blocklist) if blocklist else F.lit(False)
    )
    return (
        enriched.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.countDistinct("_host").alias("n_hosts"),
            F.countDistinct("url_norm").alias("n_urls"),
        )
        .withColumn("blocked", blocked)
    )


def domain_gate(
    pages: DataFrame,
    blocklist: list[str],
    url_col: str = "url",
) -> DataFrame:
    """Drop pages whose naive 2-label registrable domain is
    blocklisted (the C4 bad-domain filter). Map-only: the verdict is a
    per-row expression against the bounded literal list — zero
    shuffles, composes in front of any curation gate."""
    dom = registrable_domain_col(
        url_host_col(normalize_url_col(F.col(url_col)))
    )
    return pages.filter(~dom.isin(*blocklist))
