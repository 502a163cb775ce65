"""Corpus-preparation operators for LLM training pipelines:
benchmark decontamination, sequence packing, vocabulary statistics.

These are the steps between "curated documents" and "training batches"
that the dedup/quality operators (operators/dedup.py, operators/text.py)
don't cover:

- decontamination: flag corpus documents whose k-gram shingles overlap
  a held-out evaluation/benchmark set (the train-test-leak scan every
  serious pretraining run performs);
- sequence packing: assign documents to fixed-size context windows by a
  deterministic global order, computed as a distributed prefix sum (no
  global sort, no single-task window);
- vocabulary top-k: corpus-level token frequencies, the input to
  tokenizer/vocab construction.

All arithmetic is md5-prefix hashing and integer/double math that the
DuckDB oracle reproduces exactly (same policy as operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import one_partition
from .dedup import doc_shingles
from .text import words_col


def contamination_stats(
    docs: DataFrame,
    benchmark: DataFrame,
    min_overlap: float = 0.5,
    shingles: DataFrame | None = None,
    benchmark_shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-document 3-word-shingle overlap against a benchmark/eval
    corpus.

    Shape for 100 TB: the benchmark side is an eval suite — thousands
    of documents, megabytes of text — so its distinct shingle set is
    BROADCAST and the corpus pays one shingle explode plus one
    partial-aggregated shuffle on doc_id. The corpus is never joined
    against itself and never shuffled on the shingle key.

    Output: (doc_id, n_shingles, n_hit, overlap_frac, contaminated)
    for every corpus doc with at least one shingle; `contaminated` is
    overlap_frac >= min_overlap. Docs shorter than 3 words have no
    shingles and are structurally uncontaminated (omitted).

    `shingles` / `benchmark_shingles` optionally supply materialized
    (doc_id, shingle) relations (see `dedup.doc_shingles`) so a session
    that already shingled the corpus for dedup reuses that pass.
    """
    bench_base = (
        benchmark_shingles
        if benchmark_shingles is not None
        else doc_shingles(benchmark, 3)
    )
    bench_sh = bench_base.select("shingle").distinct().withColumn(
        "_hit", F.lit(1)
    )
    corpus_sh = shingles if shingles is not None else doc_shingles(docs, 3)
    marked = corpus_sh.join(F.broadcast(bench_sh), "shingle", "left")
    agg = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
    )
    frac = F.round(F.col("n_hit") / F.col("n_shingles"), 6)
    return agg.select(
        "doc_id",
        "n_shingles",
        "n_hit",
        frac.alias("overlap_frac"),
        (frac >= F.lit(min_overlap)).alias("contaminated"),
    )


def _pack_sort_key(doc_id: Column, salt: str = "pack:") -> Column:
    """Deterministic shuffle key: md5 over the salted doc id. Sorting
    by it is the engine-stable stand-in for 'shuffle the corpus'."""
    return F.md5(F.concat(F.lit(salt), doc_id.cast("string")))


# Requested bucket count of `hashed_prefix_sum`, read at call time.
PREFIX_BUCKETS = 256


def hashed_prefix_sum(
    counted: DataFrame,
    val_col: str,
    salt: str = "pack:",
) -> DataFrame:
    """Exclusive prefix sum of `val_col` over the md5-shuffled global
    doc order, WITHOUT a global sort — the two-phase idiom shared by
    `pack_sequences_counted` (token stream offsets) and
    `sampling.pps_sample` (cumulative weight): documents land in one of
    ~`PREFIX_BUCKETS` ordered buckets (a hex PREFIX of the md5 sort
    key, so bucket order is consistent with the global key order), the
    per-bucket cumulative sum runs partition-parallel, and only the
    bucket-total table passes through a single-partition window before
    broadcasting back. At any corpus size the serial step is
    O(#buckets), not O(rows).

    Input: (doc_id, `val_col`) — NULL values count as 0. Output:
    (doc_id, `val_col`, _start) with _start = sum of `val_col` over
    every doc ordered strictly before this one.
    """
    import math

    # order-preserving bucketing requires a KEY PREFIX, so the bucket
    # count is the nearest power of 16 (hex digits) to the request;
    # capped at 16^4 so the offsets table stays trivially one-task
    hex_len = min(4, max(1, round(math.log(max(PREFIX_BUCKETS, 16), 16))))
    skey = _pack_sort_key(F.col("doc_id"), salt)
    base = counted.select(
        "doc_id",
        F.coalesce(F.col(val_col), F.lit(0)).cast("long").alias(val_col),
        skey.alias("_skey"),
        F.conv(F.substring(skey, 1, hex_len), 16, 10)
        .cast("long")
        .alias("_bucket"),
    ).localCheckpoint(eager=False)  # feeds the window branch AND totals
    in_bucket = Window.partitionBy("_bucket").orderBy("_skey", "doc_id")
    base = base.withColumn(
        "_cum_in_bucket", F.sum(val_col).over(in_bucket)
    )
    totals = base.groupBy("_bucket").agg(F.sum(val_col).alias("_total"))
    # ~PREFIX_BUCKETS rows total: the only single-partition window in the op
    # (explicit non-foldable constant key, see scalars.one_partition)
    offsets = totals.withColumn(
        "_offset",
        F.coalesce(
            F.sum("_total").over(
                Window.partitionBy(one_partition(F.col("_total")))
                .orderBy("_bucket")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("_bucket", "_offset")
    return (
        base.join(F.broadcast(offsets), "_bucket")
        .withColumn(
            "_start",
            (F.col("_offset") + F.col("_cum_in_bucket") - F.col(val_col)).cast(
                "long"
            ),
        )
        .select("doc_id", val_col, "_start")
    )


def pack_sequences(
    docs: DataFrame,
    ctx_len: int = 2048,
) -> DataFrame:
    """Assign documents to fixed-`ctx_len` training windows in a
    deterministic pseudo-shuffled order, split-on-boundary semantics
    (GPT-style packing: the token stream is concatenated in order and
    cut every ctx_len tokens; a document may span several windows).

    The global token prefix-sum is computed WITHOUT a global sort:
    documents land in one of ~`PREFIX_BUCKETS` ordered buckets (a hex PREFIX
    of the md5 sort key, so bucket order is consistent with the global
    key order; the count rounds to the nearest power of 16), the
    per-bucket cumulative sum runs partition-parallel, and only the
    bucket-total table passes through a single-partition window before
    broadcasting back. At any corpus size the serial step is
    O(#buckets), not O(rows) — the textbook two-phase prefix sum.

    Output per document: n_tokens (whitespace words), global
    token_start, pack_first/pack_last (window ids), n_packs_spanned.

    Token grain: whitespace words. For TOKENIZER-aware packing feed
    `bpe.bpe_encode` output through `pack_sequences_counted` instead —
    same window math on the learned tokenizer's real counts.
    """
    counted = docs.select(
        "doc_id",
        # NULL text = zero tokens (occupies no space in the stream) —
        # without the coalesce a NULL doc gets all-NULL packing columns
        # yet still counts as a packed document
        F.coalesce(F.size(words_col(F.col("text"))), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
    )
    return pack_sequences_counted(counted, ctx_len=ctx_len)


def pack_sequences_counted(
    counted: DataFrame,
    ctx_len: int = 2048,
) -> DataFrame:
    """`pack_sequences`' window math over PRECOMPUTED per-doc token
    counts — the tokenizer-aware arm: feed it (doc_id, n_tokens) from
    `bpe.bpe_encode` (or any tokenizer) and the packing windows are
    sized by the model's real sequence lengths instead of whitespace
    words. Same two-phase prefix sum, same split-on-boundary
    semantics."""
    packed = hashed_prefix_sum(counted, "n_tokens")
    token_start = F.col("_start")
    pack_first = F.floor(token_start / F.lit(ctx_len)).cast("long")
    pack_last = F.floor(
        (token_start + F.greatest(F.col("n_tokens"), F.lit(1)) - 1)
        / F.lit(ctx_len)
    ).cast("long")
    return packed.select(
        "doc_id",
        "n_tokens",
        token_start.cast("long").alias("token_start"),
        pack_first.alias("pack_first"),
        pack_last.alias("pack_last"),
        (pack_last - pack_first + 1).cast("long").alias("n_packs_spanned"),
    )


def mixture_profile(docs: DataFrame) -> DataFrame:
    """Per-(source, lang) corpus mixture report — the table a
    pretraining run reads to set mixture weights and spot a source
    gone bad: document and token mass, length moments, and the
    exact-duplicate rate within the stratum (distinct md5 fingerprints
    of normalized text vs docs).

    One projection + one partially-aggregated shuffle on the
    (source, lang) key; the distinct-fingerprint count rides the same
    shuffle as a two-level aggregate. Stratum count is bounded
    (sources × languages), so the result is driver-safe at any corpus
    size.
    """
    from .text import normalized_text

    base = docs.select(
        "source",
        "lang",
        F.size(words_col(F.col("text"))).cast("long").alias("n_words"),
        F.md5(normalized_text(F.col("text"))).alias("fp"),
    )
    n_docs = F.count(F.lit(1)).alias("n_docs")
    return (
        base.groupBy("source", "lang")
        .agg(
            n_docs,
            F.sum("n_words").alias("total_words"),
            F.round(F.avg("n_words"), 6).alias("mean_words"),
            F.min("n_words").alias("min_words"),
            F.max("n_words").alias("max_words"),
            F.count_distinct(F.col("fp")).alias("n_unique"),
        )
        .select(
            "source",
            "lang",
            "n_docs",
            "total_words",
            "mean_words",
            "min_words",
            "max_words",
            F.round(
                F.lit(1.0) - F.col("n_unique") / F.col("n_docs"), 6
            ).alias("dup_rate"),
        )
    )


def vocab_topk(docs: DataFrame, top_k: int = 100) -> DataFrame:
    """Corpus token-frequency top-k — the vocabulary-construction scan.

    One explode + one partially-aggregated shuffle on the token key;
    the top-k is a `TakeOrderedAndProject` (never a full sort of the
    vocabulary). Ties broken by token ascending for determinism.
    """
    counts = (
        docs.select(F.explode(words_col(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(top_k)


def _doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) adjacent word pairs.

    zip_with over two shifted slices, NOT transform+element_at
    (element_at is a positional walk in codegen, so indexing every
    position is O(n²) per doc — measured 10× slower at sf0.1), and the
    word array is PROJECTED first — codegen does not CSE repeated
    subtrees across a Generate input, so the inline form would re-split
    the text once per reference (the doc_shingles lesson)."""
    pre = docs.select("doc_id", words_col(F.col("text")).alias("_w"))
    return pre.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("_w") >= 2,
                F.zip_with(
                    F.slice("_w", 1, F.size("_w") - 1),
                    F.slice("_w", 2, F.size("_w") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")


def doc_lm_scores(docs: DataFrame) -> DataFrame:
    """Perplexity-proxy quality score per document: the mean bigram
    log-probability ln p(w2|w1) under the corpus's OWN bigram LM —
    the classic curation signal (boilerplate and looped text score
    near 0; incoherent word soup scores very negative). Output:
    (doc_id, n_bigrams, avg_logprob), docs with < 2 words get a row
    with n_bigrams = 0 and NULL score.

    Self-scoring means every doc bigram exists in the LM, so no
    smoothing/backoff branch is needed. Cost shape: one bigram explode
    feeds both the LM aggregation and the scoring join (checkpointed
    once); the join key is the bounded (w1, w2) vocabulary grain, and
    the final per-doc mean is a partial-agg shuffle on doc_id.
    """
    bgs = _doc_bigrams(docs).localCheckpoint(eager=False)
    pair_counts = bgs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("n_pair")
    ).localCheckpoint(eager=False)
    prefix_counts = pair_counts.groupBy("w1").agg(
        F.sum("n_pair").alias("n_prefix")
    )
    lm = pair_counts.join(prefix_counts, "w1").select(
        "w1",
        "w2",
        F.log(F.col("n_pair") / F.col("n_prefix")).alias("logp"),
    )
    scored = (
        bgs.join(lm, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("logp"), 6).alias("avg_logprob"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias(
                "n_bigrams"
            ),
            "avg_logprob",
        )
    )


def bigram_lm_topk(docs: DataFrame, top_k: int = 200) -> DataFrame:
    """Corpus bigram statistics with conditional probabilities — the
    n-gram language-model table a quality/perplexity heuristic reads:
    (w1, w2, n_pair, p_cond) for the top-k bigrams by count,
    p_cond = c(w1,w2) / c(w1,·) over bigram positions.

    One explode of word-adjacent pairs (`_doc_bigrams` — one
    tokenization definition shared with `doc_lm_scores`), one
    partially-aggregated groupBy on the pair key, one on the prefix
    key; the prefix totals join back on w1. Top-k is
    `TakeOrderedAndProject`, ties broken by (w1, w2) for determinism.
    Bigrams never cross document boundaries.
    """
    pairs = _doc_bigrams(docs).select("w1", "w2")
    # prefix totals c(w1,·) = Σ_w2 c(w1,w2): derive them from the
    # already-reduced pair table — one pass over the raw bigrams, and
    # the second aggregate runs on |vocab²∩corpus| rows, not positions.
    # localCheckpoint: pair_counts feeds both the prefix agg and the
    # final join (no CSE across branches).
    pair_counts = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("n_pair")
    ).localCheckpoint(eager=False)
    prefix_counts = pair_counts.groupBy("w1").agg(
        F.sum("n_pair").alias("_n_prefix")
    )
    return (
        pair_counts.join(prefix_counts, "w1")
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(F.col("n_pair") / F.col("_n_prefix"), 6).alias("p_cond"),
        )
        .orderBy(F.col("n_pair").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(top_k)
    )


DSIR_BUCKETS = 1024


def nb_quality_scores(
    docs: DataFrame,
    is_pos: Column | None = None,
) -> DataFrame:
    """CCNet-style trained quality scorer (Wenzek et al. 2020 train a
    Wikipedia-vs-crawl LM; the linear twin is a hashed-unigram Naive
    Bayes): label each doc with a row-local curated-vs-raw predicate
    (default: `text.curation_gate_col` — the curation pipeline's own
    quality∧lang gate), fit add-one-smoothed per-class hashed-unigram
    bucket distributions in closed form, and score every document by
    Σ_tokens w_b where w_b = log p̂(b|pos) − log p̂(b|neg). This is
    the COMPLEMENT to `dsir_weights`: DSIR reweights toward a target
    SAMPLE, this trains a classifier from LABELS — together they are
    the two published lines of quality scoring for LLM corpora.

    Exactness contract: weights are 1e6 FIXED-POINT BIGINTs —
    w_e6 = floor(1e6·(ln(n_p+1) − ln(T_p+B) − ln(n_n+1) + ln(T_n+B)))
    — every ln argument is an INTEGER, so both engines evaluate the
    same IEEE doubles and the floor is cross-engine stable; per-doc
    scores are integer SUMS (order-independent, unlike double sums).
    Output: (doc_id, n_tokens, score_e6, per_token_e6), NULL scores
    for empty documents; per_token_e6 = floor(score/n) for a
    length-normalized rank.

    Scale shape: the label is row-local (no label-table join), both
    class distributions reduce to `DSIR_BUCKETS` cells in ONE partial-agg
    shuffle over the token explode, the weight table BROADCASTS at any
    corpus size (B rows), and scoring is a map-side-combinable sum on
    doc_id. The token explode is localCheckpointed so training and
    scoring share one materialization instead of re-exploding 100 TB.
    """
    toks, weights = _nb_train(docs, is_pos)
    scored = (
        toks.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("w_e6").alias("score_e6"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
            "score_e6",
            # floor(double-div): identical IEEE ops on both engines
            # (score magnitudes << 2^53, so the division is exact
            # enough for a stable floor), unlike DIV whose negative
            # truncation direction differs across engines
            F.floor(
                F.col("score_e6").cast("double") / F.col("n_tokens")
            ).cast("long").alias("per_token_e6"),
        )
    )


def _nb_train(docs, is_pos):
    """(labeled token table, weight table): the training pass of
    `nb_quality_scores`; its scoring reuses the token table."""
    from .text import curation_gate_col, token_hash, words_col

    n_buckets, scale = DSIR_BUCKETS, 10**6
    if is_pos is None:
        is_pos = curation_gate_col(F.col("text"))
    # pre-project label + word array BEFORE the explode: codegen does
    # not CSE non-generator expressions across a Generate input, so an
    # inline gate would re-evaluate its marker/stopword scans once PER
    # TOKEN instead of per doc (measured 11.3 s vs 0.8 s at sf0.1 —
    # the doc_shingles lesson applied to the labeled explode)
    pre = docs.select(
        "doc_id",
        is_pos.alias("_pos"),
        words_col(F.col("text")).alias("_w"),
    )
    toks = (
        pre.select("doc_id", "_pos", F.explode("_w").alias("tok"))
        .withColumn(
            "bucket", F.pmod(token_hash(F.col("tok")), F.lit(n_buckets))
        )
        .localCheckpoint(eager=False)
    )
    counts = toks.groupBy("bucket").agg(
        F.sum(F.when(F.col("_pos"), 1).otherwise(0)).alias("n_p"),
        F.sum(F.when(F.col("_pos"), 0).otherwise(1)).alias("n_n"),
    )
    grid = docs.sparkSession.range(n_buckets).select(
        F.col("id").cast("long").alias("bucket")
    )
    dist = grid.join(counts, "bucket", "left").select(
        "bucket",
        F.coalesce("n_p", F.lit(0)).alias("n_p"),
        F.coalesce("n_n", F.lit(0)).alias("n_n"),
    )
    totals = dist.agg(F.sum("n_p").alias("tp"), F.sum("n_n").alias("tn"))
    weights = dist.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.floor(
            scale
            * (
                F.log(F.col("n_p") + 1)
                - F.log(F.col("tp") + n_buckets)
                - F.log(F.col("n_n") + 1)
                + F.log(F.col("tn") + n_buckets)
            )
        ).cast("long").alias("w_e6"),
    )
    return toks, weights



def dsir_weights(raw: DataFrame, target: DataFrame) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023,
    NeurIPS — DSIR): score every raw document by how much its hashed
    unigram profile looks like the TARGET domain rather than the raw
    corpus itself. Per document: log w(d) = Σ_tokens (log p̂_b − log
    q̂_b), where b is the token's hash bucket, p̂ the add-one-smoothed
    bucket distribution of the target and q̂ of the raw corpus — the
    importance weight used to resample general crawl data toward a
    domain (the published alternative to training a quality
    classifier). Output: (doc_id, n_tokens, log_weight), log_weight
    rounded to 6, NULL for empty documents.

    Scale shape: both distributions reduce to `DSIR_BUCKETS` cells
    (partial-agg shuffles), the log-ratio table BROADCASTS (it is
    n_buckets rows regardless of corpus size), and the per-doc score
    is one token explode + map-side-combinable sum on doc_id. Hashing
    uses the engine's md5-prefix `token_hash`, so the whole scoring
    pipeline is oracle-reproducible.
    """
    from .text import token_hash, words_col

    n_buckets = DSIR_BUCKETS

    def toks(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            F.explode(words_col(F.col("text"))).alias("tok"),
        ).withColumn(
            "bucket", F.pmod(token_hash(F.col("tok")), F.lit(n_buckets))
        )

    raw_toks = toks(raw).localCheckpoint(eager=False)
    tgt_counts = (
        toks(target).groupBy("bucket").agg(F.count(F.lit(1)).alias("n_t"))
    )
    raw_counts = (
        raw_toks.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_r"))
    )
    # bucket grid 0..B-1 so unseen buckets still get smoothed mass
    grid = raw.sparkSession.range(n_buckets).select(
        F.col("id").cast("long").alias("bucket")
    )
    dist = (
        grid.join(tgt_counts, "bucket", "left")
        .join(raw_counts, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_t", F.lit(0)).alias("n_t"),
            F.coalesce("n_r", F.lit(0)).alias("n_r"),
        )
    )
    totals = dist.agg(
        F.sum("n_t").alias("T"), F.sum("n_r").alias("R")
    )
    log_ratio = dist.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("n_t") + 1) / (F.col("T") + F.lit(n_buckets)))
            - F.log((F.col("n_r") + 1) / (F.col("R") + F.lit(n_buckets)))
        ).alias("lr"),
    )
    scored = (
        raw_toks.join(F.broadcast(log_ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("lr"), 6).alias("log_weight"),
        )
    )
    return (
        raw.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
            "log_weight",
        )
    )


def mixture_sample(
    docs: DataFrame,
    budgets: dict[str, int],
) -> DataFrame:
    """Deterministic token-budget mixture sampling — the "data mixing"
    step that turns per-source budgets (the published mixture tables:
    Pile/LLaMA-style sampling proportions) into an actual sampled
    corpus: per source s with available tokens T_s and budget B_s,
    keep each doc with probability min(1, B_s/T_s), realized as an
    exact integer-ppm rate and a deterministic md5 hash gate — so the
    sample is reproducible on any engine/partitioning and needs no
    RNG state. Sources absent from `budgets` are excluded.

    Output: (doc_id, source, n_tokens, rate_ppm) for KEPT docs;
    realized per-source token mass concentrates around min(B_s, T_s)
    with doc-granularity variance (rate-based sampling is the
    scale-safe choice: exact knapsack per source would need a global
    sort; the law of large numbers does the budgeting at corpus
    scale).

    Scale shape: per-source totals are ONE partial-agg shuffle on the
    bounded source key; rates broadcast back; the keep decision is a
    row-local hash compare — the corpus itself never shuffles. The
    ppm rate uses integer DIV on positives (floor on both engines);
    `least` caps oversubscribed budgets at keep-everything.
    """
    from .text import token_hash

    n_tok = (
        F.coalesce(F.size(words_col(F.col("text"))), F.lit(0))
        .cast("long")
        .alias("n_tokens")
    )
    base = docs.select("doc_id", "source", n_tok)
    budget_map = F.create_map(
        *[x for s, b in budgets.items() for x in (F.lit(s), F.lit(int(b)))]
    )
    # budget rides as a column so the DIV expression sees it
    rates = (
        base.groupBy("source")
        .agg(F.sum("n_tokens").alias("t"))
        .filter(F.col("t") > 0)
        .withColumn(
            "budget", F.try_element_at(budget_map, F.col("source"))
        )
        .filter(F.col("budget").isNotNull())
        .select(
            "source",
            F.least(
                F.lit(10**6).cast("long"),
                F.expr(f"({10**6} * CAST(budget AS BIGINT)) DIV t"),
            ).alias("rate_ppm"),
        )
    )
    gate = F.pmod(
        token_hash(F.lit("mix"), F.col("doc_id").cast("string")),
        F.lit(10**6),
    )
    return (
        base.join(F.broadcast(rates), "source")
        .filter(gate < F.col("rate_ppm"))
        .select("doc_id", "source", "n_tokens", "rate_ppm")
    )


def quality_tiers(docs: DataFrame) -> DataFrame:
    """CCNet's head/middle/tail selection (Wenzek 2020 §4.3) closed
    over the trained scorer: documents rank by the length-normalized
    classifier score and split at the corpus's exact score TERCILES —
    `head` is the best third (what CCNet keeps for pretraining),
    `tail` the worst. Output: (doc_id, n_tokens, per_token_e6, tier);
    unscoreable empty docs get tier NULL.

    Scale shape: scoring is `nb_quality_scores` (one token-explode
    shuffle + broadcast weights); the tercile thresholds are ONE exact
    interpolated-percentile aggregate over the per-doc scores (a 1-row
    broadcast — the `risk_classification` idiom on the quality axis);
    tier assignment is a row-local CASE. Threshold comparisons happen
    between exact integers and the interpolated double — deterministic
    on both engines.
    """
    # scored feeds BOTH the tercile aggregate and the final projection
    # — materialize once (lazy) or the whole NB train+score subtree
    # (token explode, weight broadcast, doc_id shuffle) executes twice,
    # no CSE across the crossJoin branches (r12 optimization round:
    # plan went 40 Exchanges → 11)
    scored = nb_quality_scores(docs).localCheckpoint(eager=False)
    cuts = scored.filter(F.col("per_token_e6").isNotNull()).agg(
        F.percentile(
            F.col("per_token_e6"),
            F.array(F.lit(1.0 / 3.0), F.lit(2.0 / 3.0)),
        ).alias("cuts")
    )
    t1 = F.element_at(F.col("cuts"), 1)
    t2 = F.element_at(F.col("cuts"), 2)
    tier = (
        F.when(F.col("per_token_e6").isNull(), F.lit(None).cast("string"))
        .when(F.col("per_token_e6") >= t2, F.lit("head"))
        .when(F.col("per_token_e6") >= t1, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.crossJoin(F.broadcast(cuts))
        .select("doc_id", "n_tokens", "per_token_e6", tier.alias("tier"))
    )


def mine_triplets(
    docs: DataFrame,
    pairs: DataFrame,
) -> DataFrame:
    """Contrastive training triplets from a near-dup pair table:
    (anchor, positive) = each verified near-dup pair (the two texts a
    bi-encoder should embed close), negative = a hash-chosen random
    document (far, in expectation) — the (a, p, n) mining step of
    contrastive embedding training (SimCSE/E5-style in-batch negatives,
    precomputed corpus-wide).

    The negative draw is scale-safe AND engine-exact: every document
    gets a 0-based rank in the md5-shuffled corpus order via
    `hashed_prefix_sum` (weight 1 — rank = count of docs strictly
    before; no global sort), the corpus size N rides as a 1-row
    broadcast, and each pair draws rank r = md5(tm:neg:anchor:positive)
    mod N — the salt "tm" keys BOTH the rank order and the draw. A
    drawn negative that collides with the anchor or positive
    drops the triplet (deterministic, rare: 2/N per pair) rather than
    re-rolling — keeps both engines' selection identical with no
    retry unrolling.

    Output: (anchor_id, positive_id, negative_id) + every extra column
    of `pairs` (e.g. jaccard). `pairs` must have doc_a < doc_b columns.
    """
    from .text import token_hash

    ranked = hashed_prefix_sum(
        docs.select("doc_id", F.lit(1).alias("_one")),
        "_one",
        salt="tm:",
    ).select(F.col("doc_id").alias("_neg_id"), F.col("_start").alias("_rnk"))
    nd = docs.agg(F.count(F.lit(1)).alias("_n"))
    extras = [c for c in pairs.columns if c not in ("doc_a", "doc_b")]
    trip = pairs.join(F.broadcast(nd)).withColumn(
        "_r",
        F.pmod(
            token_hash(
                F.lit("tm:neg"),
                F.col("doc_a").cast("string"),
                F.col("doc_b").cast("string"),
            ),
            F.greatest(F.col("_n"), F.lit(1)),
        ),
    )
    return (
        trip.join(ranked, trip["_r"] == ranked["_rnk"])
        .filter(
            (F.col("_neg_id") != F.col("doc_a"))
            & (F.col("_neg_id") != F.col("doc_b"))
        )
        .select(
            F.col("doc_a").alias("anchor_id"),
            F.col("doc_b").alias("positive_id"),
            F.col("_neg_id").alias("negative_id"),
            *extras,
        )
    )
