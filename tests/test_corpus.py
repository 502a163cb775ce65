"""Corpus-preparation operators: decontamination, sequence packing,
vocabulary top-k (operators/corpus.py)."""

import pytest
from pyspark.sql import functions as F

from algoritmos_etl_spark.operators import corpus, dedup


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 0
        (2, "alpha beta gamma delta nine ten eleven twelve"),  # half-overlap
        (3, "one two three four five six seven eight"),        # disjoint
        (4, "tiny doc"),                                       # < k words
        (5, "alpha beta gamma delta epsilon zeta eta iota"),   # near-dup of 0
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


class TestContamination:
    def test_overlap_fractions(self, docs):
        bench = docs.filter(F.col("doc_id") == 0)
        rest = docs.filter(F.col("doc_id") != 0)
        out = {
            r["doc_id"]: r
            for r in corpus.contamination_stats(
                rest, bench, min_overlap=0.5
            ).collect()
        }
        assert out[1]["overlap_frac"] == 1.0 and out[1]["contaminated"]
        # doc 2 shares only the 'alpha beta gamma'/'beta gamma delta'
        # prefix shingles: 2 of 6
        assert out[2]["n_hit"] == 2 and not out[2]["contaminated"]
        assert out[3]["n_hit"] == 0
        assert 4 not in out  # no shingles -> no row
        assert out[5]["contaminated"]  # 5/6 shingles shared


    def test_precomputed_shingles_equal(self, docs):
        bench = docs.filter(F.col("doc_id") == 0)
        rest = docs.filter(F.col("doc_id") != 0)
        direct = corpus.contamination_stats(rest, bench)
        shared = corpus.contamination_stats(
            None,
            None,
            shingles=dedup.doc_shingles(rest, 3),
            benchmark_shingles=dedup.doc_shingles(bench, 3),
        )
        assert sorted(map(tuple, direct.collect())) == sorted(
            map(tuple, shared.collect())
        )


class TestPacking:
    def test_prefix_sum_matches_global_order(self, spark):
        docs = spark.createDataFrame(
            [(i, " ".join(["w"] * (i % 7 + 1))) for i in range(200)],
            ["doc_id", "text"],
        )
        out = corpus.pack_sequences(docs, ctx_len=16).collect()
        # reconstruct the expected global order driver-side
        import hashlib

        def skey(i):
            return hashlib.md5(f"pack:{i}".encode()).hexdigest()

        expect_order = sorted(range(200), key=lambda i: (skey(i), i))
        cum = 0
        starts = {}
        for i in expect_order:
            starts[i] = cum
            cum += i % 7 + 1
        got = {r["doc_id"]: r for r in out}
        assert len(got) == 200
        for i in range(200):
            r = got[i]
            n = i % 7 + 1
            assert r["token_start"] == starts[i]
            assert r["pack_first"] == starts[i] // 16
            assert r["pack_last"] == (starts[i] + n - 1) // 16
            assert r["n_packs_spanned"] == r["pack_last"] - r["pack_first"] + 1

    def test_zero_token_doc(self, spark):
        docs = spark.createDataFrame(
            [(1, "one two three"), (2, " "), (3, "four five")],
            ["doc_id", "text"],
        )
        got = {r["doc_id"]: r for r in corpus.pack_sequences(docs, 8).collect()}
        assert got[2]["n_tokens"] == 0
        assert got[2]["n_packs_spanned"] == 1  # occupies-no-space convention
        total = sum(r["n_tokens"] for r in got.values())
        assert total == 5

    def test_null_text_doc(self, spark):
        # NULL text must behave exactly like zero tokens: a packing row
        # with n_tokens=0 that occupies no space — not an all-NULL row
        # silently absent from the token stream
        docs = spark.createDataFrame(
            [(1, "one two three"), (2, None), (3, "four five")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in corpus.pack_sequences(docs, 8).collect()}
        assert got[2]["n_tokens"] == 0
        assert got[2]["token_start"] is not None
        assert got[2]["n_packs_spanned"] == 1
        assert sum(r["n_tokens"] for r in got.values()) == 5


class TestMixture:
    def test_mixture_profile_counts_and_dup_rate(self, spark):
        rows = [
            (0, "a b c", "en", "web"),
            (1, "a b c", "en", "web"),      # exact dup of 0
            (2, "A  b  C", "en", "web"),    # dup after normalization
            (3, "d e f g", "en", "web"),
            (4, "x y", "es", "web"),
            (5, "p q r", "en", "books"),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        )
        got = {
            (r.source, r.lang): r
            for r in corpus.mixture_profile(df).collect()
        }
        web_en = got[("web", "en")]
        assert web_en.n_docs == 4
        assert web_en.total_words == 13
        assert web_en.min_words == 3 and web_en.max_words == 4
        # docs 0,1,2 share one normalized fingerprint → 2 unique of 4
        assert web_en.dup_rate == 0.5
        assert got[("web", "es")].n_docs == 1
        assert got[("web", "es")].dup_rate == 0.0
        assert got[("books", "en")].total_words == 3


class TestVocab:
    def test_topk_order_and_ties(self, spark):
        docs = spark.createDataFrame(
            [(1, "a a a b b c"), (2, "b d d e")], ["doc_id", "text"]
        )
        rows = corpus.vocab_topk(docs, top_k=3).collect()
        assert [(r["token"], r["n"]) for r in rows] == [
            ("a", 3),
            ("b", 3),
            ("d", 2),
        ]

    def test_topk_plans_take_ordered(self, spark):
        docs = spark.createDataFrame([(1, "x y z")], ["doc_id", "text"])
        plan = corpus.vocab_topk(docs, 5)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


class TestPackingProperties:
    def test_token_conservation_and_occupancy(self, spark):
        """Property sweep: every token lands in exactly one position,
        window occupancy never exceeds ctx_len, and pack ids are a
        contiguous range starting at 0."""
        import random

        rng = random.Random(7)
        rows = [
            (i, " ".join(["w"] * rng.randint(0, 40))) for i in range(300)
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        ctx = 32
        out = corpus.pack_sequences(docs, ctx_len=ctx).collect()
        total = sum(r["n_tokens"] for r in out)
        # token_start values must tile [0, total) without overlap
        spans = sorted((r["token_start"], r["n_tokens"]) for r in out)
        cursor = 0
        for start, n in spans:
            assert start == cursor
            cursor += n
        assert cursor == total
        # per-window occupancy == ctx for all but the last window
        n_windows = (total - 1) // ctx + 1 if total else 0
        occ = [0] * n_windows
        for r in out:
            for p in range(r["pack_first"], r["pack_last"] + 1):
                lo = max(r["token_start"], p * ctx)
                hi = min(r["token_start"] + r["n_tokens"], (p + 1) * ctx)
                occ[p] += max(0, hi - lo)
        assert all(o == ctx for o in occ[:-1]) and occ[-1] == total - ctx * (
            n_windows - 1
        )

    def test_growth_stability_of_order(self, spark):
        """Adding documents must not reorder the EXISTING corpus
        relative to itself (the md5 sort key is a pure function of the
        doc id): relative order of surviving ids is stable."""
        base = spark.createDataFrame(
            [(i, "a b c") for i in range(50)], ["doc_id", "text"]
        )
        grown = spark.createDataFrame(
            [(i, "a b c") for i in range(80)], ["doc_id", "text"]
        )
        o1 = [
            r["doc_id"]
            for r in corpus.pack_sequences(base, 8)
            .orderBy("token_start")
            .collect()
        ]
        o2 = [
            r["doc_id"]
            for r in corpus.pack_sequences(grown, 8)
            .orderBy("token_start")
            .collect()
            if r["doc_id"] < 50
        ]
        assert o1 == o2


class TestEdges:
    def test_pack_empty_corpus(self, spark):
        empty = spark.createDataFrame([], "doc_id long, text string")
        assert corpus.pack_sequences(empty, 128).count() == 0

    def test_contamination_empty_benchmark(self, spark, docs):
        bench = docs.filter(F.lit(False))
        out = corpus.contamination_stats(docs, bench).collect()
        # every doc with shingles appears, nothing is contaminated
        assert len(out) == 5 and all(r["n_hit"] == 0 for r in out)

    def test_vocab_topk_empty(self, spark):
        empty = spark.createDataFrame([], "doc_id long, text string")
        assert corpus.vocab_topk(empty, 10).count() == 0


    def test_bucket_count_preserves_global_order(self, spark, monkeypatch):
        """hex-prefix bucketing at any supported bucket count must
        produce the identical global order (bucket id is an
        order-preserving prefix of the sort key)."""
        docs = spark.createDataFrame(
            [(i, " ".join(["w"] * (i % 5 + 1))) for i in range(150)],
            ["doc_id", "text"],
        )
        base = {
            r["doc_id"]: r["token_start"]
            for r in corpus.pack_sequences(docs, 16).collect()
        }
        for nb in (16, 4096):
            monkeypatch.setattr(corpus, "PREFIX_BUCKETS", nb)
            got = {
                r["doc_id"]: r["token_start"]
                for r in corpus.pack_sequences(docs, 16).collect()
            }
            assert got == base, f"PREFIX_BUCKETS={nb} changed the global order"


def test_dsir_weights_prefer_target_like_docs(spark):
    """DSIR: raw docs that share the target domain's vocabulary must
    outscore docs that don't; empty docs get (0, NULL); unseen
    buckets are add-one smoothed (no -inf/NaN anywhere)."""
    import math

    from algoritmos_etl_spark.operators import corpus

    target = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta") for i in range(5)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (1, "alpha beta alpha gamma"),   # target-like
            (2, "zork quux blarg frobnitz"), # out-of-domain
            (3, ""),                          # empty
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in corpus.dsir_weights(raw, target).collect()}
    assert rows[1].log_weight > rows[2].log_weight
    assert rows[1].log_weight > 0 > rows[2].log_weight
    assert rows[3].n_tokens == 0 and rows[3].log_weight is None
    for r in rows.values():
        if r.log_weight is not None:
            assert math.isfinite(r.log_weight)


class TestNBQualityScores:
    def test_classifier_separates_gate_classes_in_curation_arm(self, spark):
        """Curation-pipeline arm: train on the pipeline's own gate
        labels over real documents, then check the classifier ranks
        gate-passing docs above gate-failing docs on the
        length-normalized score (a trained scorer must at least
        recover its own training signal in aggregate)."""
        from algoritmos_etl_spark.operators import text
        from algoritmos_etl_spark.sources.readers import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        scored = corpus.nb_quality_scores(docs)
        labeled = docs.select(
            "doc_id", text.curation_gate_col(F.col("text")).alias("is_pos")
        )
        rows = (
            scored.join(labeled, "doc_id")
            .filter(F.col("per_token_e6").isNotNull())
            .groupBy("is_pos")
            .agg(F.avg("per_token_e6").alias("m"), F.count("*").alias("n"))
            .collect()
        )
        means = {r.is_pos: r.m for r in rows}
        ns = {r.is_pos: r.n for r in rows}
        assert ns[True] > 10 and ns[False] > 10, ns  # both classes present
        assert means[True] > means[False], means

    def test_fixed_point_scores_are_integer_sums(self, spark):
        """score_e6 must equal the integer sum of the doc's bucket
        weights — recomputed independently from the weight table — and
        per_token_e6 = floor(score/n)."""
        import math

        from algoritmos_etl_spark.operators.text import token_hash, words_col

        docs = spark.createDataFrame(
            [
                (1, "the cat sat on the mat and the dog ran"),
                (2, "zqx wvu tqp zqx zqx"),
                (3, ""),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in corpus.nb_quality_scores(
            docs, is_pos=F.col("doc_id") == 1
        ).collect()}
        assert out[3].n_tokens == 0 and out[3].score_e6 is None
        assert out[3].per_token_e6 is None
        # independent recomputation in Python
        toks = {
            1: "the cat sat on the mat and the dog ran".split(),
            2: "zqx wvu tqp zqx zqx".split(),
        }
        B = corpus.DSIR_BUCKETS
        bk = {}
        tdf = docs.select(
            "doc_id", F.explode(words_col(F.col("text"))).alias("tok")
        ).withColumn("b", F.pmod(token_hash(F.col("tok")), F.lit(B)))
        for r in tdf.collect():
            bk.setdefault(r.doc_id, []).append(r.b)
        from collections import Counter

        np_, nn = Counter(bk[1]), Counter(bk[2])
        tp, tn = len(bk[1]), len(bk[2])
        w = {
            b: math.floor(
                10**6
                * (
                    math.log(np_[b] + 1) - math.log(tp + B)
                    - math.log(nn[b] + 1) + math.log(tn + B)
                )
            )
            for b in set(np_) | set(nn)
        }
        for d in (1, 2):
            want = sum(w[b] for b in bk[d])
            assert out[d].score_e6 == want, (d, out[d].score_e6, want)
            assert out[d].per_token_e6 == math.floor(
                want / len(toks[d])
            )

    def test_no_positive_docs_still_finite(self, spark):
        """Degenerate label split (no positives): every weight is the
        uniform-vs-corpus ratio — finite, never a crash."""
        docs = spark.createDataFrame(
            [(1, "aa bb cc"), (2, "dd ee ff")], "doc_id long, text string"
        )
        out = corpus.nb_quality_scores(docs, is_pos=F.lit(False)).collect()
        assert all(r.score_e6 is not None for r in out)


class TestMixtureSample:
    def test_budgets_realized_and_deterministic(self, spark):
        """Realized per-source token mass lands near min(budget, T_s);
        oversubscribed budgets keep the whole source; absent sources
        are excluded; two runs are identical (hash gate, no RNG)."""
        import random

        rng = random.Random(7)
        rows = []
        did = 0
        for s, n_docs in (("a", 400), ("b", 400), ("c", 50)):
            for _ in range(n_docs):
                n = rng.randint(5, 15)
                rows.append((did, " ".join(f"w{i}" for i in range(n)), s))
                did += 1
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        avail = {
            r.source: r.t
            for r in docs.groupBy("source")
            .agg(F.sum(F.size(F.split(F.col("text"), " "))).alias("t"))
            .collect()
        }
        budgets = {"a": avail["a"] // 2, "c": 10 ** 9}  # b absent
        out = corpus.mixture_sample(docs, budgets)
        got = out.collect()
        # b excluded entirely
        assert all(r.source != "b" for r in got)
        # c oversubscribed: every doc kept at the ppm cap
        c_rows = [r for r in got if r.source == "c"]
        assert len(c_rows) == 50 and all(
            r.rate_ppm == 10 ** 6 for r in c_rows
        )
        # a: realized tokens within 20% of the half budget (hash-gate
        # variance over 400 docs)
        a_tokens = sum(r.n_tokens for r in got if r.source == "a")
        assert abs(a_tokens - budgets["a"]) < 0.2 * budgets["a"], (
            a_tokens, budgets["a"]
        )
        # deterministic: identical output on a second run
        again = {
            (r.doc_id, r.rate_ppm)
            for r in corpus.mixture_sample(docs, budgets).collect()
        }
        assert again == {(r.doc_id, r.rate_ppm) for r in got}


class TestQualityTiers:
    def test_terciles_order_and_proportions(self, spark):
        """head >= middle >= tail on per-token score, each tier within
        a tolerant third of scoreable docs, empty docs tier NULL."""
        from algoritmos_etl_spark.sources.readers import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        rows = corpus.quality_tiers(docs).collect()
        tiers = {}
        for r in rows:
            tiers.setdefault(r.tier, []).append(r.per_token_e6)
        scoreable = sum(len(v) for t, v in tiers.items() if t is not None)
        assert scoreable > 0
        assert min(tiers["head"]) >= max(tiers["middle"])
        assert min(tiers["middle"]) >= max(tiers["tail"])
        for t in ("head", "middle", "tail"):
            frac = len(tiers[t]) / scoreable
            assert 0.2 < frac < 0.47, (t, frac)  # tie mass can skew a bit

    def test_empty_doc_gets_null_tier(self, spark):
        docs = spark.createDataFrame(
            [(1, "the cat and the dog sat here together nicely today"),
             (2, "an odd group of words arrived later that evening ok"),
             (3, "few strange tokens remain on this line right now"),
             (4, "")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r.tier for r in corpus.quality_tiers(docs).collect()}
        assert out[4] is None
        assert all(out[d] is not None for d in (1, 2, 3))


def test_mine_triplets_contract(spark):
    """Every near-dup pair yields at most one triplet; the negative is
    never the anchor or positive; reruns are identical."""
    from algoritmos_etl_spark.operators import dedup
    from algoritmos_etl_spark.operators.corpus import mine_triplets
    from algoritmos_etl_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.2,
                                      max_shingle_df=100)
    trips = mine_triplets(docs, pairs.select("doc_a", "doc_b", "jaccard"))
    rows = trips.collect()
    n_pairs = pairs.count()
    assert rows, "test corpus has near-dup pairs; triplets expected"
    assert len(rows) <= n_pairs
    assert len(rows) >= n_pairs - 2  # collision drops are ~2/N per pair
    for r in rows:
        assert r.negative_id not in (r.anchor_id, r.positive_id)
    rerun = trips.collect()
    key = lambda r: (r.anchor_id, r.positive_id)  # noqa: E731
    assert sorted(rows, key=key) == sorted(rerun, key=key)
