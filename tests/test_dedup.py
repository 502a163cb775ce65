"""Dedup operator tests: exact groups, LSH recall vs the exact-Jaccard
baseline, SimHash locality."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from algoritmos_etl_spark.operators import dedup
from algoritmos_etl_spark.sources.readers import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").cache()


def test_exact_dedup_partitions_corpus(docs):
    groups = dedup.exact_dedup(docs)
    assert groups.agg(F.sum("n_docs")).first()[0] == docs.count()
    # keep_doc_id must be a member of the corpus
    ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert all(r.keep_doc_id in ids for r in groups.collect())


def test_minhash_lsh_recall_vs_exact(docs):
    """LSH candidates must recover (almost) all exact shingle-Jaccard
    pairs — banding trades recall for candidate sparsity; at 16 hashes /
    4 bands and tau=0.2 recall should be high on this corpus."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.2).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_dedup(docs, threshold=0.2).collect()
    }
    assert lsh <= exact or not exact, "verification must kill false positives"
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.8, f"LSH recall too low: {recall}"


def test_simhash_is_locality_sensitive(spark, docs):
    """Identical texts get identical simhash; the hamming distance to a
    lightly-perturbed copy is small, to an unrelated doc typically large."""
    sample = docs.orderBy("doc_id").limit(1).collect()[0]
    perturbed = sample.text + " extra"
    tri = spark.createDataFrame(
        [(1, sample.text), (2, sample.text), (3, perturbed)],
        "doc_id long, text string",
    )
    h = {r.doc_id: r.simhash for r in dedup.simhash(tri).collect()}
    assert h[1] == h[2]
    # mask to 64 bits: the packed long may be negative (bit 63 set)
    assert bin((h[1] ^ h[3]) & (2**64 - 1)).count("1") <= 16


def test_simhash_packed_matches_chunks(spark, docs):
    rows = dedup.simhash(docs.limit(20)).collect()
    for r in rows:
        packed = (r.c0 | (r.c1 << 16) | (r.c2 << 32) | (r.c3 << 48)) & (2**64 - 1)
        assert r.simhash & (2**64 - 1) == packed
        assert all(0 <= c < 2**16 for c in (r.c0, r.c1, r.c2, r.c3))


def _simhash_candidate_count(docs):
    """Distinct doc pairs sharing a chunk value: the candidates the
    chunk-banding join generates before hamming verification."""
    chunk_vals = F.array(*[F.col(f"c{c}") for c in range(dedup.SIMHASH_CHUNKS)])
    exploded = dedup.simhash(docs).select(
        "doc_id", F.posexplode(chunk_vals).alias("chunk", "chunk_val")
    )
    a = exploded.withColumnRenamed("doc_id", "doc_a")
    b = exploded.withColumnRenamed("doc_id", "doc_b")
    return (
        a.join(b, ["chunk", "chunk_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .count()
    )


def test_simhash_widening_shrinks_candidates(spark, monkeypatch):
    """The point of 64-bit/16-bit-chunk banding: UNRELATED docs must
    almost never share a chunk. On n docs with disjoint vocabularies,
    expected random collisions are ~4·C(n,2)/2^chunk_bits — ~1,200 for
    8-bit chunks at n=400 but ~5 for 16-bit chunks. A ≥50× shrink is
    pinned on a corpus with NO true near-dups (on the real test corpus
    true duplicate clusters dominate both counts and mask the effect)."""
    n, toks_per_doc = 400, 40
    rows = [
        (i, " ".join(f"tok{i}x{j}" for j in range(toks_per_doc)))
        for i in range(n)
    ]
    rand_docs = spark.createDataFrame(rows, "doc_id long, text string")
    # no unrelated pair should survive hamming verification
    assert dedup.simhash_neardup_pairs(rand_docs).count() == 0
    wide = _simhash_candidate_count(rand_docs)
    monkeypatch.setattr(dedup, "SIMHASH_BITS", 32)  # 8-bit chunks
    narrow = _simhash_candidate_count(rand_docs)
    assert narrow >= 50 * max(wide, 1), f"narrow={narrow}, wide={wide}"


def test_simhash_widening_on_real_corpus(spark, monkeypatch):
    """On the real 500-doc corpus (dense true-duplicate clusters) the
    widening must still strictly shrink candidates and sharpen the
    hamming≤3 output — 64 bits separate 'similar' from 'same template'
    far better than 32 (the width is the module constant, patched)."""
    docs500 = load_table(spark, "/root/testdata/sf0.01", "documents").cache()
    wide = _simhash_candidate_count(docs500)
    out64 = dedup.simhash_neardup_pairs(docs500).count()
    monkeypatch.setattr(dedup, "SIMHASH_BITS", 32)
    narrow = _simhash_candidate_count(docs500)
    out32 = dedup.simhash_neardup_pairs(docs500).count()
    assert wide < narrow
    assert out64 < out32  # 32-bit hamming≤3 is saturated by template noise


def test_viral_shingle_df_cap_keeps_verified_jaccard(spark):
    """One boilerplate phrase shared by every doc: with a df-cap the
    genuine near-dup pair still survives, and its verified Jaccard is
    computed over full shingle sets (identical with and without the
    cap)."""
    n = 100
    boiler = "all rights reserved by the site"
    rows = [
        (i, f"unique{i}a text{i}b body{i}c words{i}d here{i}e " + boiler)
        for i in range(n)
    ]
    # one genuine near-dup pair sharing almost all text
    rows.append((n, "the quick brown fox jumps over the lazy dog today " + boiler))
    rows.append((n + 1, "the quick brown fox jumps over the lazy dog now " + boiler))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs_nocap = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    pairs_cap = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.2, max_shingle_df=50
        ).collect()
    }
    assert (n, n + 1) in pairs_cap
    assert pairs_cap[(n, n + 1)] == pairs_nocap[(n, n + 1)]


def test_minhash_bucket_cap_preserves_neardups(spark, docs):
    """On the real corpus no bucket is near the cap, so the capped
    pipeline must return exactly the uncapped rows."""
    nocap = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.minhash_lsh_dedup(docs, threshold=0.2).collect()
    }
    cap = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.minhash_lsh_dedup(
            docs, threshold=0.2, max_bucket_size=100
        ).collect()
    }
    assert cap == nocap and cap


def test_neardup_clusters_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.8), (4, 5, 0.7)],
        "doc_a long, doc_b long, jaccard double",
    )
    out = {r.doc_id: r for r in dedup.neardup_clusters(pairs).collect()}
    assert {d: r.cluster_id for d, r in out.items()} == {
        1: 1, 2: 1, 3: 1, 4: 4, 5: 4,
    }
    assert {d for d, r in out.items() if r.is_canonical} == {1, 4}


def test_keep_best_per_cluster_prefers_quality_over_min_id(spark):
    # cluster {1,2,3}: best score is doc 3 (NOT the min id); cluster
    # {4,5}: tie on score → lowest id 4 wins
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.8), (4, 5, 0.7)],
        "doc_a long, doc_b long, jaccard double",
    )
    scores = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 7), (5, 7)],
        "doc_id long, score long",
    )
    clusters = dedup.neardup_clusters(pairs)
    out = {
        r.doc_id: r
        for r in dedup.keep_best_per_cluster(clusters, scores).collect()
    }
    assert {d: r.keep_doc_id for d, r in out.items()} == {
        1: 3, 2: 3, 3: 3, 4: 4, 5: 4,
    }
    assert {d for d, r in out.items() if r.is_kept} == {3, 4}
    # the min-id canonical and the quality canonical genuinely differ
    assert {d for d, r in out.items() if r.is_kept} != {
        r.doc_id for r in clusters.collect() if r.is_canonical
    }


def test_neardup_clusters_long_chain_converges(spark):
    # a 12-node path graph needs several propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1, 0.5) for i in range(1, 12)],
        "doc_a long, doc_b long, jaccard double",
    )
    out = dedup.neardup_clusters(pairs).collect()
    assert all(r.cluster_id == 1 for r in out)
    assert sum(r.is_canonical for r in out) == 1


def test_incremental_minhash_matches_full_batch(tables, spark, tmp_path):
    """minhash_write_index + minhash_lsh_incremental on a 20% increment
    ≡ the full-batch pipeline restricted to pairs touching the
    increment — the signatures are pure functions of the text, so the
    split can't change any bucket or any verified Jaccard."""
    docs = tables["documents"].select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "mh_index")
    dedup.minhash_write_index(old, path)
    inc = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.minhash_lsh_incremental(
            spark, new, path, threshold=0.2, max_bucket_size=100
        ).collect()
    }
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.minhash_lsh_dedup(
            docs, threshold=0.2, max_bucket_size=100
        ).collect()
        if r.doc_a in new_ids or r.doc_b in new_ids
    }
    assert inc == full
    assert inc, "increment produced no pairs — fixture no longer overlaps"


def test_minhash_index_is_written_in_its_read_schema(spark, tmp_path):
    """Both minhash index writers (the batch build and the streaming
    appender) land exactly `MINHASH_INDEX_SCHEMA`, the schema the
    incremental lookup reads with, even from int doc_ids."""
    from algoritmos_etl_spark.streaming.streams import _neardup_batch

    schema = "doc_id int, text string"
    base = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")], schema
    )
    batch = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy cat")], schema
    )
    idx = str(tmp_path / "idx")
    dedup.minhash_write_index(base, idx)
    _neardup_batch(batch, 0, idx, str(tmp_path / "out"))
    for name, want in dedup.MINHASH_INDEX_SCHEMA.items():
        for batch_id in (-1, 0):
            got = (
                spark.read.option("basePath", f"{idx}/{name}")
                .parquet(f"{idx}/{name}/batch_id={batch_id}")
                .schema
            )
            assert got == want, (name, batch_id, got.simpleString())


# ---------------------------------------------------- duplicate passages

def test_duplicate_passages_spans_merge_and_count(spark):
    # words w0..w19; docs 1 and 2 share words 4..13 (10 words) — three
    # overlapping duplicated 8-shingles per doc that must merge into ONE
    # span [4, 13]; doc 3 is all-unique → no rows.
    shared = " ".join(f"s{i}" for i in range(10))
    d1 = " ".join(f"a{i}" for i in range(4)) + " " + shared + " " + " ".join(
        f"b{i}" for i in range(6)
    )
    d2 = " ".join(f"c{i}" for i in range(4)) + " " + shared + " " + " ".join(
        f"d{i}" for i in range(6)
    )
    d3 = " ".join(f"e{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    rows = {
        r.doc_id: r
        for r in dedup.duplicate_passages(docs, k=8, min_count=2).collect()
    }
    assert set(rows) == {1, 2}
    for doc_id in (1, 2):
        r = rows[doc_id]
        assert (r.span_start, r.span_end) == (4, 13)
        assert r.span_words == 10
        assert r.n_dup_shingles == 3  # positions 4, 5, 6


def test_duplicate_passages_intra_doc_repetition_counts(spark):
    # one doc that repeats its own 8-word phrase — both occurrences are
    # duplicated spans even though no other doc shares them
    phrase = " ".join(f"p{i}" for i in range(8))
    filler = " ".join(f"f{i}" for i in range(9))
    docs = spark.createDataFrame(
        [(7, phrase + " " + filler + " " + phrase)],
        "doc_id long, text string",
    )
    out = sorted(
        dedup.duplicate_passages(docs, k=8, min_count=2).collect(),
        key=lambda r: r.span_start,
    )
    assert [(r.span_start, r.span_end) for r in out] == [(0, 7), (17, 24)]


def test_duplicate_passages_spans_are_disjoint_on_corpus(tables):
    out = dedup.duplicate_passages(tables["documents"], k=8).collect()
    by_doc = {}
    for r in out:
        assert r.span_end - r.span_start + 1 == r.span_words
        assert r.span_words >= 8
        by_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    for spans in by_doc.values():
        spans.sort()
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert s2 > e1 + 1  # maximal: disjoint and non-adjacent


def test_exact_repeat_runs_are_exact_and_maximal(tables):
    """The Lee-2022 contract, property-tested on the real corpus:
    every reported run's word spans are byte-identical for len_words
    words, len_words >= k, and the run is MAXIMAL (one more word on
    either side breaks the match or crosses a doc boundary)."""
    k = 8
    docs = tables["documents"]
    runs = dedup.exact_repeat_runs(docs, k=k, max_occ=64).collect()
    assert runs, "corpus must contain repeats"
    words = {
        r.doc_id: (r.text or "").strip().split()
        for r in docs.select("doc_id", "text").collect()
    }
    for r in runs:
        wa, wb = words[r.doc_a], words[r.doc_b]
        assert r.len_words >= k
        assert r.n_shingles == r.len_words - k + 1
        span_a = wa[r.start_a : r.start_a + r.len_words]
        span_b = wb[r.start_b : r.start_b + r.len_words]
        assert len(span_a) == r.len_words and span_a == span_b, r
        # maximal left
        if r.start_a > 0 and r.start_b > 0:
            assert wa[r.start_a - 1] != wb[r.start_b - 1], r
        # maximal right
        ea, eb = r.start_a + r.len_words, r.start_b + r.len_words
        if ea < len(wa) and eb < len(wb):
            assert wa[ea] != wb[eb], r


def test_exact_repeat_runs_synthetic_spans_and_self_repeat(spark):
    """Hand-built corpus: a 12-word shared passage reports as ONE
    12-word run (not five 8-word fragments); an intra-doc self-repeat
    qualifies; a hash-free near-miss (one word differs) caps the run."""
    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    docs = spark.createDataFrame(
        [
            (1, f"start {shared} end one"),
            (2, f"other prefix {shared} different tail"),
            (3, f"{shared} and again {shared}"),
            (4, "alpha bravo charlie delta echo foxtrot golf hotel XRAY "
                "juliet kilo lima unrelated tail here now"),
        ],
        "doc_id long, text string",
    )
    runs = {
        (r.doc_a, r.start_a, r.doc_b, r.start_b): r
        for r in dedup.exact_repeat_runs(docs, k=8).collect()
    }
    r12 = runs[(1, 1, 2, 2)]
    assert r12.len_words == 12 and r12.n_shingles == 5
    # intra-doc self repeat in doc 3 (positions 0 and 14)
    self_r = runs[(3, 0, 3, 14)]
    assert self_r.len_words == 12
    # doc 4 shares only the first 8 words with the passage, then XRAY
    r14 = runs[(1, 1, 4, 0)]
    assert r14.len_words == 8 and r14.n_shingles == 1


def test_duplicate_passages_string_verified(spark):
    """The verify pass counts exact shingle STRINGS, so only truly
    repeated passages flag — the hash stage is a pure candidate
    narrowing."""
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(12)) + " " +
                " ".join(f"z{i}" for i in range(8))),
            (2, " ".join(f"w{i}" for i in range(12))),
            (3, " ".join(f"u{i}" for i in range(30))),
        ],
        "doc_id long, text string",
    )
    clean = {
        (r.doc_id, r.span_start, r.span_end)
        for r in dedup.duplicate_passages(docs, k=8).collect()
    }
    # doc1+doc2 share w0..w11 → spans at [0, 11]; doc3 and z-block clean
    assert clean == {(1, 0, 11), (2, 0, 11)}


def test_exact_repeat_runs_match_bruteforce_reference(spark):
    """Randomized cross-check: on small corpora from a tiny vocabulary
    (repeats guaranteed), the distributed diagonal-run construction
    must equal an O(n^2) brute-force enumeration of maximal aligned
    exact repeats. Fixed seeds — deterministic, fast."""
    import random

    k = 3

    def brute(words_by_doc):
        out = set()
        ids = sorted(words_by_doc)
        for a in ids:
            for b in ids:
                if b < a:
                    continue
                wa, wb = words_by_doc[a], words_by_doc[b]
                for d in range(-len(wa), len(wb) + 1):
                    if a == b and d <= 0:
                        continue  # ordering: same doc needs pos_a < pos_b
                    i = 0
                    run = 0
                    start = None
                    while i + k <= len(wa):
                        j = i + d
                        ok = (
                            0 <= j and j + k <= len(wb)
                            and wa[i:i + k] == wb[j:j + k]
                        )
                        if ok:
                            if start is None:
                                start = i
                            run += 1
                        elif start is not None:
                            out.add((a, start, b, start + d,
                                     run + k - 1, run))
                            start, run = None, 0
                        i += 1
                    if start is not None:
                        out.add((a, start, b, start + d, run + k - 1, run))
        return out

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        vocab = ["u", "v", "w", "x"]
        docs_py = {
            d: [rng.choice(vocab) for _ in range(rng.randint(k, 18))]
            for d in range(6)
        }
        df = spark.createDataFrame(
            [(d, " ".join(ws)) for d, ws in docs_py.items()],
            "doc_id long, text string",
        )
        got = {
            (r.doc_a, r.start_a, r.doc_b, r.start_b, r.len_words,
             r.n_shingles)
            for r in dedup.exact_repeat_runs(df, k=k, max_occ=10**6)
            .collect()
        }
        assert got == brute(docs_py), f"seed {seed}"


def test_exact_repeat_runs_tokens_match_bruteforce_reference(spark):
    """Token-grain twin of the brute-force cross-check: the diagonal
    construction over (doc_id, token_ids) must equal the O(n^2)
    enumeration of maximal aligned exact id-sequence repeats."""
    import random

    k = 4

    def brute(toks_by_doc):
        out = set()
        ids = sorted(toks_by_doc)
        for a in ids:
            for b in ids:
                if b < a:
                    continue
                wa, wb = toks_by_doc[a], toks_by_doc[b]
                for d in range(-len(wa), len(wb) + 1):
                    if a == b and d <= 0:
                        continue
                    i, run, start = 0, 0, None
                    while i + k <= len(wa):
                        j = i + d
                        ok = (
                            0 <= j and j + k <= len(wb)
                            and wa[i:i + k] == wb[j:j + k]
                        )
                        if ok:
                            if start is None:
                                start = i
                            run += 1
                        elif start is not None:
                            out.add((a, start, b, start + d,
                                     run + k - 1, run))
                            start, run = None, 0
                        i += 1
                    if start is not None:
                        out.add((a, start, b, start + d, run + k - 1, run))
        return out

    for seed in (11, 12):
        rng = random.Random(seed)
        toks_py = {
            d: [rng.randint(256, 259) for _ in range(rng.randint(k, 20))]
            for d in range(6)
        }
        df = spark.createDataFrame(
            list(toks_py.items()), "doc_id long, token_ids array<int>"
        )
        got = {
            (r.doc_a, r.start_a, r.doc_b, r.start_b, r.len_tokens,
             r.n_shingles)
            for r in dedup.exact_repeat_runs_tokens(df, k=k, max_occ=10**6)
            .collect()
        }
        assert got == brute(toks_py), f"seed {seed}"


def test_exact_repeat_runs_tokens_hash_first_equals_string_first(spark):
    """r13 optimization pin: the hash-FIRST narrowing (xxhash64 over
    the raw id slice; shingle strings built only for hot-hash
    candidates) must be output-identical to the string-first
    formulation (positional_token_shingles -> _maximal_diagonal_runs)
    — the hash only narrows, the exact-string df-cap recount and the
    string-keyed pair join still verify."""
    import random

    rng = random.Random(7)
    rows = [
        (d, [rng.randint(256, 262) for _ in range(rng.randint(4, 40))])
        for d in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, token_ids array<int>")
    k = 4
    sh = dedup.positional_token_shingles(df, k)
    ref = dedup._maximal_diagonal_runs(sh, k, 8, "len_tokens")
    got = dedup.exact_repeat_runs_tokens(df, k=k, max_occ=8)
    assert ref.count() > 0  # the fixture must actually exercise runs
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_maximal_diagonal_runs_requires_the_hash_column(spark):
    """The positional table's `h` is part of the run core's contract:
    a table without it fails analysis instead of being rehashed."""
    from pyspark.errors import AnalysisException

    df = spark.createDataFrame(
        [(0, [1, 2, 3, 1, 2, 3])], "doc_id long, token_ids array<int>"
    )
    sh = dedup.positional_token_shingles(df, 3).drop("h")
    with pytest.raises(AnalysisException):
        dedup._maximal_diagonal_runs(sh, 3, 8, "len_tokens")


def test_exact_repeat_runs_tokens_end_to_end_bpe(spark):
    """Lee 2022 composition: a passage shared verbatim by two docs must
    surface as a >= 50-token verified run at the positions bpe_encode
    assigns, while unrelated docs stay silent."""
    from algoritmos_etl_spark.operators import bpe

    passage = " ".join(
        f"shared{i % 7} token{i % 5} run" for i in range(30)
    )  # 90 words -> well past 50 tokens under an 8-merge tokenizer
    rows = [
        (0, "unique opening words here " + passage),
        (1, passage + " and a different tail entirely"),
        (2, "completely unrelated filler text with no overlap at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges, _ = bpe.learn_bpe(spark, docs, n_merges=8, min_freq=2)
    alphabet = bpe.bpe_alphabet(docs)
    encoded = bpe.bpe_encode(docs, merges, alphabet)

    # reference id sequences from the (separately parity-pinned) encoder
    enc = {r.doc_id: list(r.token_ids) for r in encoded.collect()}
    runs = dedup.exact_repeat_runs_tokens(encoded, k=50, max_occ=64).collect()
    cross = [r for r in runs if r.doc_a == 0 and r.doc_b == 1]
    assert cross, "shared passage not found at token grain"
    best = max(cross, key=lambda r: r.len_tokens)
    assert best.len_tokens >= 50
    # doc 2 never participates
    assert all(2 not in (r.doc_a, r.doc_b) for r in runs)
    # the reported spans are truly identical id sequences
    assert (
        enc[0][best.start_a:best.start_a + best.len_tokens]
        == enc[1][best.start_b:best.start_b + best.len_tokens]
    )


def test_scrub_passages_cuts_every_occurrence(spark):
    """Lee 2022's action: a passage repeated across docs is removed
    from BOTH; clean docs round-trip their word sequence; re-running
    the detector on the scrubbed corpus finds nothing (fixpoint on
    this corpus)."""
    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, "start one two three " + passage + " tail words here"),
        (1, passage + " completely different ending text now"),
        (2, "totally clean document with unique words only forever"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.scrub_passages(docs, k=8).collect()}
    assert out[0].clean_text == "start one two three tail words here"
    assert out[1].clean_text == "completely different ending text now"
    assert out[2].clean_text == rows[2][1]
    assert out[0].n_words_removed == out[1].n_words_removed == 10
    assert out[2].n_words_removed == 0 and out[2].n_spans == 0
    clean = spark.createDataFrame(
        [(d, r.clean_text) for d, r in out.items()], "doc_id long, text string"
    )
    assert dedup.duplicate_passages(clean, k=8).count() == 0


def test_scrub_passages_accepts_precomputed_spans(spark):
    """A session that already ran duplicate_passages reuses its spans."""
    passage = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(0, passage), (1, passage)], "doc_id long, text string"
    )
    spans = dedup.duplicate_passages(docs, k=8)
    out = dedup.scrub_passages(docs, spans=spans).collect()
    assert all(r.clean_text == "" and r.n_words_removed == 10 for r in out)
