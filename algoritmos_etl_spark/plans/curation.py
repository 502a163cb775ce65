"""End-to-end training-corpus curation: quality gate → language gate →
near-dup drop.

The composition a 100 TB text-pipeline user actually runs (quality
scoring, language ID, MinHash-LSH dedup are each registered operators;
this plan wires them in the standard order). Filtering FIRST shrinks
the corpus the dedup stage shingles/hashes — the expensive stage runs
on survivors only. The drop policy is greedy pair-drop (keep the lower
doc_id of every verified near-dup pair); `dedup.neardup_clusters`
provides the transitive keep-one-per-cluster variant when cluster
resolution is worth an iterative job.

Every stage is a registered operator with its own oracle; the composed
plan has one too (`corpus_curation` in driver_queries_ext).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import dedup, text

# The gates, read by the builder and by the `corpus_curation` oracle.
MIN_WORDS = 20
MIN_STOPWORD_RATIO = 0.02
MAX_STOPWORD_RATIO = 0.25
KEEP_LANG = "en"
NEARDUP_THRESHOLD = 0.2  # MinHash-verified Jaccard of a dropped pair
MAX_BUCKET_SIZE = 100  # LSH band buckets above this are not paired


def curate_corpus(docs: DataFrame, shingles: DataFrame | None = None) -> DataFrame:
    """Surviving documents with their quality features.

    quality gate (MIN_WORDS words, stopword ratio within
    [MIN_STOPWORD_RATIO, MAX_STOPWORD_RATIO]) ∧ language gate
    (marker-frequency ID = KEEP_LANG), then MinHash-LSH near-dup pairs
    (Jaccard ≥ NEARDUP_THRESHOLD) among the survivors; the higher
    doc_id of each verified pair is dropped via a left-anti join.
    Stats/lang are projection-only. Repetition (`text.text_quality`'s
    Gopher-style n-gram fractions) is scored, not gated: no registered
    query filters on it.

    `shingles` optionally supplies the corpus's materialized (doc_id,
    shingle) relation (a standing shingle index at cluster scale, the
    session shingle cache here): the dedup stage then SEMI-JOINS it
    down to gate survivors instead of re-tokenizing and re-hashing the
    surviving text — the survivor set is most of the corpus, so
    skipping the second shingle pass matters at scale.
    """
    # stats and language are both per-row projections of the same docs
    # — one fused select, not a doc_id join of two projections (a join
    # here would shuffle the whole corpus twice for nothing)
    stats = text.text_quality_gate(docs)
    quality = stats.filter(
        (F.col("pred_lang") == KEEP_LANG)
        & (F.col("n_words") >= MIN_WORDS)
        & (F.col("stopword_ratio") >= MIN_STOPWORD_RATIO)
        & (F.col("stopword_ratio") <= MAX_STOPWORD_RATIO)
    )
    # the survivor set feeds three plan branches (docs join, shingle
    # semi-join, final anti-join) and Catalyst does not CSE across
    # branches — without the checkpoint the regex-heavy gate projection
    # runs once per consumer (measured ~30% of the query at sf0.1)
    quality = quality.localCheckpoint(eager=False)
    fdocs = docs.join(quality.select("doc_id"), "doc_id")
    # restrict a precomputed shingle table to survivors — dropping
    # non-survivor rows is REQUIRED, not just an optimization: stale
    # shingles would put dropped docs in buckets and their pairs could
    # anti-join out surviving partners
    fsh = (
        shingles.join(quality.select("doc_id"), "doc_id", "left_semi")
        if shingles is not None
        else None
    )
    pairs = dedup.minhash_lsh_dedup(
        fdocs, threshold=NEARDUP_THRESHOLD, max_bucket_size=MAX_BUCKET_SIZE,
        shingles=fsh,
    )
    drops = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return (
        quality.join(drops, "doc_id", "left_anti")
        .select("doc_id", "n_words", "stopword_ratio", "pred_lang")
    )
