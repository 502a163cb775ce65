"""Text-analysis operator tests: token counting semantics and the
composed corpus-curation plan's invariants."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from algoritmos_etl_spark.operators import text
from algoritmos_etl_spark.plans.curation import curate_corpus
from algoritmos_etl_spark.sources.readers import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").cache()


def test_token_counts_hand_checked(spark):
    df = spark.createDataFrame(
        [(0, "hello world, 42 tests!"), (1, ""), (2, "internationalization")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in text.token_counts(df).collect()}
    r = rows[0]
    # alpha runs: hello world tests; digit runs: 42; symbol runs: "," "!"
    assert (r.n_ws_tokens, r.n_alpha_tokens, r.n_digit_tokens, r.n_symbol_tokens) == (
        4, 3, 1, 2,
    )
    # subwords: ceil(5/4)+ceil(5/4)+ceil(5/4)=6, +1 digit +2 symbols
    assert r.n_tokens_est == 9
    assert rows[1].n_tokens_est == 0 and rows[1].n_ws_tokens == 0
    assert rows[2].n_tokens_est == math.ceil(len("internationalization") / 4)


def test_token_counts_on_corpus(docs):
    out = text.token_counts(docs)
    n = docs.count()
    assert out.count() == n
    bad = out.filter(
        (F.col("n_alpha_tokens") < F.col("n_ws_tokens"))  # runs split ws tokens
        | (F.col("n_tokens_est") < F.col("n_alpha_tokens"))
    ).count()
    assert bad == 0


def test_curation_is_a_subset_with_gates_applied(docs):
    out = curate_corpus(docs).cache()
    n_out = out.count()
    assert 0 < n_out < docs.count()
    # every survivor passes the declared gates
    viol = out.filter(
        (F.col("pred_lang") != "en")
        | (F.col("n_words") < 20)
        | (F.col("stopword_ratio") < 0.02)
        | (F.col("stopword_ratio") > 0.25)
    ).count()
    assert viol == 0
    # survivors are real corpus docs
    orphan = out.join(docs, "doc_id", "left_anti").count()
    assert orphan == 0


def _gate_survivors(docs, n):
    """Texts of the first `n` corpus documents the curation gates keep."""
    ids = [r.doc_id for r in curate_corpus(docs).orderBy("doc_id").limit(n).collect()]
    by_id = {r.doc_id: r.text for r in docs.filter(F.col("doc_id").isin(ids)).collect()}
    return [by_id[i] for i in ids]


def test_curation_drops_near_duplicates(spark, docs):
    (base,) = _gate_survivors(docs, 1)
    rows = [(0, base), (1, base + " extra token")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = {r.doc_id for r in curate_corpus(df).collect()}
    # docs 0 and 1 are near-dups: greedy pair-drop keeps the lower id
    assert kept == {0}


def test_curation_with_precomputed_shingles_equals_recompute(docs):
    """Passing the corpus shingle table must change the plan (skip the
    second shingle pass), never the result: the table is semi-joined
    down to gate survivors before the dedup stage."""
    from algoritmos_etl_spark.operators import dedup

    base = {
        (r.doc_id, r.n_words, r.stopword_ratio, r.pred_lang)
        for r in curate_corpus(docs).collect()
    }
    reused = {
        (r.doc_id, r.n_words, r.stopword_ratio, r.pred_lang)
        for r in curate_corpus(
            docs, shingles=dedup.doc_shingles(docs, k=3)
        ).collect()
    }
    assert reused == base


def test_pii_redact_replaces_spans(spark):
    rows = [
        (0, "mail me at alice.smith+x@example.org or bob@sub.domain.co"),
        (1, "see https://example.com/path?q=1#frag and http://a.b/c"),
        (2, "server at 10.0.254.3 answered"),
        (3, "call +1 (555) 123-4567 today"),
        (4, "nothing sensitive here"),
        # email inside a URL must be swallowed by the URL replacement
        (5, "link https://example.com/u/alice@example.com ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in text.pii_redact(df).collect()}
    assert got[0].clean_text == "mail me at <EMAIL> or <EMAIL>"
    assert got[0].n_redacted == 2
    assert got[1].clean_text == "see <URL> and <URL>"
    assert got[1].n_redacted == 2
    assert got[2].clean_text == "server at <IP> answered"
    assert got[2].n_redacted == 1
    assert got[3].clean_text == "call <PHONE> today"
    assert got[3].n_redacted == 1
    assert got[4].clean_text == rows[4][1] and got[4].n_redacted == 0
    # URL-first ordering: one <URL>, no <EMAIL> remnant
    assert got[5].clean_text == "link <URL> ok"
    assert got[5].n_redacted == 1


def test_repetition_stats_flags_looped_text(spark):
    rows = [
        (0, "spam ham " * 10),              # one bigram loop
        (1, "a b c d e f g h i j"),          # all distinct
        (2, "one"),                          # too short for any n-gram
        (3, ""),                             # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.repetition_stats(df).collect()}
    assert set(out) == {0, 1, 2, 3}
    # looped doc: "spam ham" occurs 10/19 bigrams; every bigram occurrence
    # belongs to a gram seen >1 time
    assert out[0].dup_word_frac == round(18 / 20, 6)
    assert out[0].top_2gram_frac == round(10 / 19, 6)
    assert out[0].dup_2gram_frac == 1.0
    assert out[0].dup_3gram_frac == 1.0
    # distinct doc: no repetition anywhere
    assert out[1].dup_word_frac == 0.0
    assert out[1].top_2gram_frac == round(1 / 9, 6)
    assert out[1].dup_2gram_frac == 0.0
    # short/empty docs keep a row with zero fractions
    for d in (2, 3):
        assert out[d].top_2gram_frac == 0.0
        assert out[d].dup_3gram_frac == 0.0


def test_curation_keeps_repetitive_docs(spark, docs):
    """Repetition is a scored signal, not a curation gate: a looped doc
    that passes the quality and language gates survives, while
    `repetition_stats` still flags it."""
    clean, other = _gate_survivors(docs, 2)
    looped = " ".join([other] * 3)
    df = spark.createDataFrame(
        [(0, clean), (1, looped)], "doc_id long, text string"
    )
    kept = curate_corpus(df)
    assert {r.doc_id for r in kept.collect()} == {0, 1}
    dup = {r.doc_id: r.dup_3gram_frac for r in text.repetition_stats(df).collect()}
    assert dup[1] > 0.5 >= dup[0]


def test_pii_stats_counts(spark):
    import re

    from algoritmos_etl_spark.operators.text import (
        PII_EMAIL, PII_IPV4, PII_PHONE, PII_URL, pii_stats,
    )

    samples = [
        (0, "contact me at jane.doe+spam@example.co.uk or visit https://example.com/a?b=c#d"),
        (1, "server at 192.168.0.1 and 10.0.0.255, call +1 (555) 123-4567"),
        (2, "no personal information here, just words"),
        (3, "two mails: a@b.io c@d.org and url http://x.y/z and 1.2.3.4"),
    ]
    docs = spark.createDataFrame(samples, "doc_id long, text string")
    got = {r.doc_id: r for r in pii_stats(docs).collect()}
    for doc_id, txt in samples:
        r = got[doc_id]
        assert r.n_emails == len(re.findall(PII_EMAIL, txt)), (doc_id, "emails")
        assert r.n_urls == len(re.findall(PII_URL, txt)), (doc_id, "urls")
        assert r.n_ipv4 == len(re.findall(PII_IPV4, txt)), (doc_id, "ipv4")
        assert r.n_phones == len(re.findall(PII_PHONE, txt)), (doc_id, "phones")
        assert r.has_pii == bool(
            r.n_emails + r.n_urls + r.n_ipv4 + r.n_phones
        )
    assert got[2].has_pii is False and got[0].has_pii is True


def test_fused_bundle_matches_relational_repetition(tables):
    """text_quality's Arrow-batched gram counting must equal the
    relational repetition_stats twin on real corpus data, column for
    column (both round to 6 decimals on the same JVM path)."""
    docs = tables["documents"]
    cols = [
        "dup_word_frac", "top_2gram_frac", "dup_2gram_frac",
        "top_3gram_frac", "dup_3gram_frac",
    ]
    fused = {r.doc_id: r for r in text.text_quality(docs).collect()}
    rel = {r.doc_id: r for r in text.repetition_stats(docs).collect()}
    assert set(fused) == set(rel)
    for doc_id, row in rel.items():
        for c in cols:
            assert fused[doc_id][c] == row[c], (doc_id, c)


def test_text_quality_tolerates_null_text(spark):
    """NULL text (normal in crawled corpora) must yield a row, not
    crash the Arrow stage: repetition fractions fall back to 0.0 like
    the relational twin's explode-of-null semantics."""
    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, None)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in text.text_quality(docs).collect()}
    assert rows[2]["top_2gram_frac"] == 0.0
    assert rows[2]["dup_3gram_frac"] == 0.0
    assert rows[1]["top_2gram_frac"] > 0.0


# ------------------------------------------- trained language-ID

_LANG_FIXTURE = [
    # (doc_id, true_lang, text) — seeds carry the marker words, the
    # 1xx held-out docs share stems/trigrams but NO markers, so the
    # heuristic returns 'und' on them while the trained model reaches
    # the right language through character evidence alone
    (1, "en", "the cat and the dog is running through the garden with"
              " the children playing"),
    (2, "es", "el perro la casa que corre por el jardin con la pelota"
              " roja que brilla"),
    (3, "de", "der hund die katze und der garten mit die kinder"
              " spielen und lachen"),
    (4, "fr", "le chien les enfants et le jardin avec les fleurs et"
              " le matin bleu"),
    (101, "en", "cat dog running through garden with children playing"
                " happily today"),
    (102, "es", "perro casa corre por jardin con pelota roja brilla"
                " mucho"),
    (103, "de", "hund katze garten mit kinder spielen lachen heute"
                " schnell"),
    (104, "fr", "chien enfants jardin avec fleurs matin bleu avec"
                " chien fleurs"),
    (200, "und", ""),
    (201, "und", "12345 6789 000"),
]


@pytest.fixture(scope="module")
def lang_docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, _, t in _LANG_FIXTURE], "doc_id long, text string"
    )


def test_lang_id_trained_agrees_on_seeds_and_generalizes(spark, lang_docs):
    trained = {
        r["doc_id"]: r for r in text.lang_id_trained(lang_docs).collect()
    }
    heur = {
        r["doc_id"]: r["pred_lang"] for r in text.lang_id(lang_docs).collect()
    }
    truth = {i: lang for i, lang, _ in _LANG_FIXTURE}
    # the marker heuristic is blind to every held-out doc
    for i in (101, 102, 103, 104):
        assert heur[i] == "und", i
    # the trained model agrees with the heuristic wherever it is
    # confident, and resolves the held-out docs correctly
    for i, row in trained.items():
        if heur[i] != "und":
            assert row["pred_lang"] == heur[i], i
        if i in (101, 102, 103, 104):
            assert row["pred_lang"] == truth[i], (i, dict(row.asDict()))
    # no-gram docs stay 'und' with NULL scores and n_grams = 0
    assert trained[200]["pred_lang"] == "und"
    assert trained[200]["n_grams"] == 0 and trained[200]["s_en_e6"] is None
    assert trained[201]["pred_lang"] == "und"


def test_lang_id_trained_accuracy_beats_heuristic(spark, lang_docs):
    truth = {i: lang for i, lang, _ in _LANG_FIXTURE}
    trained = {
        r["doc_id"]: r["pred_lang"]
        for r in text.lang_id_trained(lang_docs).collect()
    }
    heur = {
        r["doc_id"]: r["pred_lang"] for r in text.lang_id(lang_docs).collect()
    }
    acc = lambda pred: sum(pred[i] == truth[i] for i in truth) / len(truth)
    assert acc(trained) == 1.0
    assert acc(heur) < acc(trained)  # 'und' on all four held-out docs


# ---------------------------------------- Gopher/Dolma rule pack (r11)


def _rule_map(spark, text_val):
    df = spark.createDataFrame([(0, text_val)], "doc_id long, text string")
    return {
        r["rule"]: (r["value"], r["passed"])
        for r in text.quality_rules(df).collect()
    }


def test_quality_rules_good_doc_passes_all(spark):
    good = " ".join(
        ["the be to of and that have with"] + [f"word{i}" for i in range(60)]
    )
    rules = _rule_map(spark, good)
    assert len(rules) == len(text.QUALITY_RULES)
    assert all(passed for _v, passed in rules.values()), rules


def test_quality_rules_each_rule_fails_on_its_own_pathology(spark):
    base = " ".join(
        ["the be to of and that have with"] + [f"word{i}" for i in range(60)]
    )
    cases = {
        # 10 words < 50
        "word_count": "the be to of and that have with tiny doc",
        # single-char words -> mean word length < 3
        "mean_word_length": " ".join(["a"] * 60 + ["the be to of"]),
        # symbol storm: > 0.1 hashes per word
        "symbol_word_ratio": base + " " + "#" * 20,
        # every line is a bullet
        "bullet_line_ratio": "\n".join(f"- {base}" for _ in range(3)),
        # every line trails off...
        "ellipsis_line_ratio": "\n".join(f"{base} ..." for _ in range(3)),
        # digit soup: < 80% words alphabetic
        "alpha_word_ratio": base + " " + " ".join(str(i) for i in range(80)),
        # no gopher stop words at all
        "stopword_floor": " ".join(f"word{i}" for i in range(60)),
    }
    for rule, doc in cases.items():
        rules = _rule_map(spark, doc)
        assert not rules[rule][1], f"{rule} should fail: {rules[rule]}"


def test_quality_rules_values_are_the_raw_signals(spark):
    doc = "the be to of # ... alpha beta\n- bullet line\nplain tail ..."
    rules = _rule_map(spark, doc)
    # '#' appears once and '...' appears twice (inline + line end)
    assert rules["symbol_word_ratio"][0] == 3
    assert rules["bullet_line_ratio"][0] == 1
    assert rules["ellipsis_line_ratio"][0] == 1
    assert rules["stopword_floor"][0] == 4  # the, be, to, of
