"""Crawl → training-corpus composition: the C4/RefinedWeb pipeline
ORDER assembled from the round-10/11 tiers, end to end in one plan —

    WARC binary parse  (sources/warc, quarantine contract)
    → URL-grain exact dedup, keep-first-by-fetch-ts  (url_ops —
      the FIRST dedup real crawl pipelines apply, before any
      content hash, and BEFORE extraction so duplicate fetches
      never pay HTML processing)
    → registrable-domain blocklist gate  (url_ops.domain_gate,
      the C4 bad-domain filter)
    → html_to_text extraction  (scale tier, map-only)
    → Gopher/Dolma rule-pack quality gate  (text.quality_keep_expr)

Every stage has a DuckDB twin, so the registered `crawl_corpus` query
carries a FULL oracle across the whole composition: the fixture's
file layout, the messy-URL integer builder, each normalization rule,
the keep-first window, the domain cut, the HTML round trip, and all
seven published quality thresholds must agree for the hash to match.

Scale shape: parse and extraction are map-only; the single wide
operation is the URL-dedup window's hash shuffle on the canonical URL
(high-cardinality key); the domain gate and rule pack are row-local
projections — the quality gate is an INLINE filter over the extracted
text (`text.quality_keep_expr`), not a recompute-and-join-back on the
minted doc_id (VERDICT r11 task #6 / ADVICE r11 #1: the self-join
both re-ran the extraction chain on a build side and made the keep
verdict ride a 60-bit hash key whose collisions would cross-
contaminate verdicts at ~2^30 URLs). A 100 TB crawl pays one shuffle
before the corpus-grain dedup family takes over.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import url_ops
from ..operators.html_text import html_to_text_col
from ..operators.text import quality_keep_expr, token_hash, words_col


def crawl_to_corpus(
    parsed: DataFrame,
    blocklist: list[str],
    quality_rules: tuple[str, ...] | None = None,
) -> DataFrame:
    """`parsed` is `sources.warc.parse_warc_records` output. Returns
    one row per SURVIVING document: (doc_id — the 60-bit hash of the
    canonical URL, the corpus-grain key a real pipeline mints when
    crawl records have no upstream id —, url_norm, domain, warc_date,
    n_dups, n_words, n_chars, text). `quality_rules` selects the
    rule-pack subset for this source (the Dolma per-source config
    shape); default = the full pack."""
    pages = parsed.filter(F.col("ok") & (F.col("warc_type") == "response"))
    deduped = url_ops.url_dedup(pages, "url", "warc_date")
    gated = url_ops.domain_gate(deduped, blocklist, url_col="url_norm")
    text = html_to_text_col(F.coalesce(F.col("html"), F.lit("")))
    docs = gated.select(
        token_hash(F.col("url_norm")).alias("doc_id"),
        "url_norm",
        url_ops.registrable_domain_col(
            url_ops.url_host_col(F.col("url_norm"))
        ).alias("domain"),
        "warc_date",
        "n_dups",
        # explode(array(...)) is a deliberate Generate barrier: the
        # quality filter below references `text` ~a dozen times, and
        # predicate pushdown substitutes projection aliases into the
        # condition — without the barrier the whole regex extraction
        # chain would be re-inlined PER REFERENCE (measured 1x -> 12x
        # plan duplication). A generator output can't be pushed
        # through, so the chain runs once per row and the gate reads
        # the materialized attribute.
        F.explode(F.array(text)).alias("text"),
    )
    return docs.filter(
        quality_keep_expr(F.col("text"), rules=quality_rules)
    ).select(
        "doc_id",
        "url_norm",
        "domain",
        "warc_date",
        "n_dups",
        F.size(words_col(F.col("text"))).cast("long").alias("n_words"),
        F.length("text").cast("long").alias("n_chars"),
        "text",
    )
