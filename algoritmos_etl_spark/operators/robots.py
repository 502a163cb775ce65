"""robots.txt compliance tier (REP, RFC 9309) — the crawl-politeness
gate every production pipeline applies between fetch and curation:
parse per-host robots.txt bodies into a rule table, resolve the
applicable user-agent group per host (a named agent's group wins over
`*` when present — RFC 9309 §2.2.1), and gate URLs by
longest-match precedence with Allow winning ties (the published
Google matcher semantics; no rule → allowed).

Everything is RELATIONAL — deliberately: the line-group structure of
a robots file ("consecutive User-agent lines open a group; directives
bind to the open group") is a running-sum window over line numbers,
not a stateful scan, so BOTH engines express parsing identically and
the whole tier carries a full value-hash oracle:

- `parse_robots`: explode lines → flag agent/directive lines → a
  group id = running count of group-OPENING agent lines (an agent
  line whose predecessor is not an agent line) → agents × directives
  joined on (host, group). One window partitioned by host (robots
  files are ≤ a few hundred lines — the window never sees unbounded
  partitions) plus one bounded self-join.
- `robots_gate`: pages join the (bounded, broadcastable) rule table
  on host, path-match each rule as an anchored regex (robots `*`
  wildcards and `$` end-anchor translated; all other regex
  metacharacters escaped — the translation is itself a Column
  expression with a DuckDB twin), and keep the longest matching rule
  (tie → Allow) via one max(struct(plen, allow)) partial agg. Pages
  with no applicable rule pass.

Matching scope note: directive patterns support the RFC's `*` and
`$`; percent-encoding equivalence (§2.2.2's %-normalization) is the
URL tier's job (`url_ops.normalize_url_col` runs FIRST in every
composition here).

Reference scope note: the reference (/root/reference) has no crawl
surface; this module is extension surface for the 100 TB
training-data brief, composing with the WARC/URL tiers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .url_ops import url_host_col


def _norm_line(line: Column) -> Column:
    """Comment-stripped, trimmed, lowercased-key robots line."""
    return F.trim(F.regexp_replace(line, "#.*$", ""))


def robots_path_regex_col(path: Column) -> Column:
    """Anchored Java/RE2-shared regex for a robots path pattern:
    a TRAILING `$` is the end anchor (detected and stripped first);
    every remaining regex metacharacter INCLUDING a now-literal `$`
    is escaped; `*` translates to `.*`; the whole pattern anchors at
    the path start."""
    endanch = path.rlike("\\$$")
    stripped = F.regexp_replace(path, "\\$$", "")
    esc = F.regexp_replace(
        stripped, "([.\\[\\]{}()+?^\\\\|$])", "\\\\$1"
    )
    wc = F.regexp_replace(esc, "\\*", ".*")
    return F.concat(
        F.lit("^"), wc, F.when(endanch, F.lit("$")).otherwise(F.lit(""))
    )


def parse_robots(robots: DataFrame) -> DataFrame:
    """Parse (host, body) robots.txt bodies into the rule table
    (host, agent, allow, path, plen, rx): one row per
    (user-agent, directive) pair, with `rx` the anchored match regex
    and `plen` the raw pattern length (the precedence key). Empty
    Disallow ("allow all" idiom) emits no rule. Unknown directives
    (crawl-delay, sitemap) are ignored."""
    lines = robots.select(
        "host",
        F.posexplode(
            F.split(F.regexp_replace(F.col("body"), "\r", ""), "\n")
        ).alias("idx", "_raw"),
    ).select(
        "host", "idx", _norm_line(F.col("_raw")).alias("line")
    )
    key = F.lower(F.regexp_extract(F.col("line"), "^([A-Za-z-]+)\\s*:", 1))
    val = F.trim(F.regexp_extract(F.col("line"), "^[A-Za-z-]+\\s*:(.*)$", 1))
    typed = lines.select(
        "host", "idx", key.alias("key"), val.alias("val")
    ).filter(F.col("key").isin("user-agent", "allow", "disallow"))
    w = Window.partitionBy("host").orderBy("idx")
    is_ua = (F.col("key") == "user-agent").cast("int")
    # an agent line OPENS a group iff its predecessor is not an agent
    # line; group id = running count of openers up to this line. Two
    # projections: a window result cannot feed another window in the
    # same SELECT (both engines reject nested window calls)
    flagged = typed.select(
        "host", "idx", "key", "val", is_ua.alias("_ua"),
        (
            (F.col("key") == "user-agent")
            & (F.coalesce(F.lag("key").over(w), F.lit("")) != "user-agent")
        ).cast("int").alias("_opener"),
    )
    # grouped feeds BOTH sides of the agents × directives join —
    # materialize the (bounded: hosts × robots lines) table once or
    # the explode + two window passes run twice, no CSE across
    # self-join branches (r12 optimization round)
    grouped = flagged.withColumn(
        "grp", F.sum("_opener").over(w)
    ).localCheckpoint(eager=False)
    agents = grouped.filter(F.col("_ua") == 1).select(
        "host", "grp", F.lower(F.col("val")).alias("agent")
    )
    directives = grouped.filter(
        (F.col("_ua") == 0) & (F.col("val") != "")
    ).select(
        "host",
        "grp",
        "idx",
        (F.col("key") == "allow").alias("allow"),
        F.col("val").alias("path"),
    )
    rules = directives.join(agents, ["host", "grp"])
    return rules.select(
        "host",
        "agent",
        "allow",
        "path",
        F.length("path").cast("long").alias("plen"),
        robots_path_regex_col(F.col("path")).alias("rx"),
    )


def robots_gate(
    pages: DataFrame,
    rules: DataFrame,
    agent: str = "trainingbot",
) -> DataFrame:
    """Append (allowed, rule_path) to `pages`: the RFC 9309 verdict of
    `rules` for `agent` against each page's `url_norm` path. Group
    resolution per RFC §2.2.1: hosts with any rule for the NAMED
    agent use exactly those; otherwise the `*` group; hosts with no
    rules (or absent from `rules`) allow everything.

    Scale shape: the rule table is bounded (hosts × a few rules) —
    broadcast; pages fan out only onto their own host's applicable
    rules, the verdict is one max(struct(plen, allow)) partial agg on
    the page key, and a left join puts it back — no row ever leaves
    its page grain unbounded."""
    named = rules.filter(F.col("agent") == agent.lower())
    star = rules.filter(F.col("agent") == "*")
    has_named = named.select("host").distinct()
    # `rules` is referenced three times (named, star, the anti-join's
    # build side) and the result is broadcast anyway — materialize the
    # bounded resolved table once instead of re-running the rule parse
    # per reference (r12 optimization round: robots_gate's plan
    # carried the parse subtree 4×, 42 Exchanges)
    applicable = (
        named.unionByName(star.join(has_named, "host", "left_anti"))
        .select("host", "allow", "path", "plen", "rx")
        .localCheckpoint(eager=False)
    )

    path = F.regexp_extract(F.col("url_norm"), "^[a-z+.-]+://[^/]*(/.*)?$", 1)
    keyed = pages.withColumn(
        "_r_host", url_host_col(F.col("url_norm"))
    ).withColumn("_r_path", F.when(path == "", "/").otherwise(path))
    hits = (
        keyed.select(F.col("url_norm").alias("_r_url"), "_r_host", "_r_path")
        .join(
            F.broadcast(applicable),
            F.col("_r_host") == F.col("host"),
        )
        .filter(F.expr("_r_path RLIKE rx"))
        .groupBy("_r_url")
        .agg(F.max(F.struct("plen", "allow", "path")).alias("_best"))
    )
    return (
        keyed.join(hits, keyed["url_norm"] == hits["_r_url"], "left")
        .select(
            *pages.columns,
            F.coalesce(F.col("_best.allow"), F.lit(True)).alias("allowed"),
            F.col("_best.path").alias("rule_path"),
        )
    )


# -------------------------------------------------------------- fixture

# deterministic per-host robots fixture over the messy-host crawl:
# host index h (the url fixture's i % 8 grain) gets a body exercising
# group structure (consecutive agent lines share a group), both
# directives, the `*` wildcard, the `$` end anchor, the empty-
# Disallow idiom, comments, and — on odd hosts — a named-agent group
# that OVERRIDES `*` (RFC group resolution)
ROBOTS_AGENT = "trainingbot"


def robots_body(h: int) -> str:
    base = (
        "# synthetic robots fixture\n"
        "User-agent: *\n"
        f"Disallow: /page/{h}\n"
        "Allow: /page/" + str(h) + "0\n"
        "Disallow: /*.gif$\n"
        "Disallow:\n"
    )
    if h % 2 == 1:
        base += (
            "\nUser-agent: otherbot\n"
            f"User-agent: {ROBOTS_AGENT}\n"
            f"Disallow: /page/{(h + 1) % 10}*\n"
            "Allow: /page/\n"
        )
    return base


def robots_body_sql(h: str) -> str:
    """DuckDB twin of `robots_body` — kept next to it so the dialects
    cannot drift."""
    base = (
        "'# synthetic robots fixture\n"
        "User-agent: *\nDisallow: /page/' || CAST(({h}) AS VARCHAR) || '\n"
        "Allow: /page/' || CAST(({h}) AS VARCHAR) || '0\n"
        "Disallow: /*.gif$\nDisallow:\n'"
    ).replace("{h}", h)
    named = (
        "'\nUser-agent: otherbot\nUser-agent: " + ROBOTS_AGENT + "\n"
        "Disallow: /page/' || CAST((({h}) + 1) % 10 AS VARCHAR) || '*\n"
        "Allow: /page/\n'"
    ).replace("{h}", h)
    return (
        f"(CASE WHEN ({h}) % 2 = 1 THEN {base} || {named} ELSE {base} END)"
    )
