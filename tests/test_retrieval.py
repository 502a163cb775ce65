"""BM25 retrieval, RAG chunking, bigram LM — semantics and plan shape."""

import pytest
from pyspark.sql import functions as F

from algoritmos_etl_spark.operators import corpus, retrieval


@pytest.fixture(scope="module")
def tiny_docs(spark):
    return spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),
            (1, "the dog sat"),
            (2, "cat cat cat cat"),
            (3, "completely unrelated words here"),
            (4, "   "),  # whitespace only -> no terms
        ],
        "doc_id long, text string",
    )


def test_bm25_ranks_term_bearing_docs(spark, tiny_docs):
    q = spark.createDataFrame(
        [(0, "cat"), (1, "sat mat")], "query_id int, query_text string"
    )
    out = retrieval.bm25_topk(tiny_docs, q, top_k=10).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    # only docs containing >=1 query term appear
    assert {r.doc_id for r in by_q[0]} == {0, 2}
    assert {r.doc_id for r in by_q[1]} == {0, 1}
    # saturating tf: doc 2 (cat x4) outranks doc 0 (cat x1)
    assert by_q[0][0].doc_id == 2 and by_q[0][0].rank == 1
    # doc 0 matches both 'sat' and 'mat'; doc 1 only 'sat'
    assert by_q[1][0].doc_id == 0
    # scores strictly ordered within a query, ranks contiguous from 1
    for rows in by_q.values():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert all(
            a.score >= b.score for a, b in zip(rows, rows[1:])
        )


def test_bm25_broadcasts_query_side(spark, tiny_docs):
    q = spark.createDataFrame([(0, "cat")], "query_id int, query_text string")
    plan = retrieval.bm25_topk(tiny_docs, q)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_chunking_cover_and_overlap(spark, tiny_docs):
    # chunk_size 4, overlap 2 -> stride 2
    out = retrieval.chunk_documents(tiny_docs, chunk_size=4, overlap=2)
    rows = {(r.doc_id, r.chunk_id): r for r in out.collect()}
    # doc 0: 6 words -> ceil((6-2)/2)=2 chunks: [0:4], [2:6]
    assert rows[(0, 0)].chunk_text == "the cat sat on"
    assert rows[(0, 1)].chunk_text == "sat on the mat"
    # doc 1: 3 words (< chunk_size) -> exactly one short chunk
    assert rows[(1, 0)].chunk_text == "the dog sat"
    assert rows[(1, 0)].n_words == 3
    assert (1, 1) not in rows
    # whitespace-only doc emits nothing
    assert not any(d == 4 for d, _ in rows)
    # reconstruction: consecutive chunks agree on the overlap
    assert rows[(0, 0)].chunk_text.split()[-2:] == rows[(0, 1)].chunk_text.split()[:2]


def test_chunking_is_shuffle_free(spark, tiny_docs):
    plan = (
        retrieval.chunk_documents(tiny_docs, chunk_size=4, overlap=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_chunking_rejects_bad_overlap(spark, tiny_docs):
    with pytest.raises(ValueError):
        retrieval.chunk_documents(tiny_docs, chunk_size=4, overlap=4)


def test_bigram_lm_exact_counts(spark):
    docs = spark.createDataFrame(
        [(0, "a b a b c"), (1, "a b"), (2, "x")],
        "doc_id long, text string",
    )
    out = {(r.w1, r.w2): r for r in corpus.bigram_lm_topk(docs, top_k=10).collect()}
    # pairs: doc0 -> (a,b),(b,a),(a,b),(b,c); doc1 -> (a,b); doc2 none
    assert out[("a", "b")].n_pair == 3
    assert out[("b", "a")].n_pair == 1
    assert out[("b", "c")].n_pair == 1
    # p(b|a): 3 of 3 'a'-prefixed bigrams; p(a|b) = 1 of 2
    assert out[("a", "b")].p_cond == 1.0
    assert out[("b", "a")].p_cond == 0.5
    # single-word doc contributes no bigrams
    assert not any(w1 == "x" for w1, _ in out)


def test_bigram_lm_topk_is_take_ordered(spark, tiny_docs):
    plan = (
        corpus.bigram_lm_topk(tiny_docs, top_k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def _random_docs(n=120, seed=7):
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(40)]
    docs = []
    for i in range(n):
        n_words = rng.choice([0, 1, 2, 3, 5, 15, 63, 64, 65, 100, 130])
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n_words))))
    return docs


def test_chunking_invariants_random_corpus(spark):
    """Model-based check over a seeded random corpus: chunk count
    formula, per-chunk sizes, and lossless reconstruction by dropping
    each later chunk's overlap prefix."""
    import math

    cs, ov = 16, 4
    stride = cs - ov
    raw = _random_docs()
    docs = spark.createDataFrame(raw, "doc_id long, text string")
    from algoritmos_etl_spark.operators import retrieval

    out = {}
    for r in retrieval.chunk_documents(docs, chunk_size=cs, overlap=ov).collect():
        out.setdefault(r.doc_id, {})[r.chunk_id] = r
    for doc_id, text in raw:
        words = text.split()
        chunks = out.get(doc_id, {})
        if not words:
            assert chunks == {}
            continue
        n = len(words)
        expect = max(1, math.ceil((n - ov) / stride))
        assert sorted(chunks) == list(range(expect)), doc_id
        rebuilt = chunks[0].chunk_text.split()
        for i in range(1, expect):
            cw = chunks[i].chunk_text.split()
            assert len(cw) <= cs
            rebuilt += cw[ov:] if i * stride + ov <= n else []
            # overlap agreement with the previous chunk
            assert cw[:ov] == words[i * stride : i * stride + ov]
        assert rebuilt == words, doc_id


def test_bigram_totals_random_corpus(spark):
    """Σ n_pair over the full bigram table equals Σ max(0, n_i − 1),
    and p_cond sums to 1 within each observed prefix."""
    raw = _random_docs(seed=11)
    docs = spark.createDataFrame(raw, "doc_id long, text string")
    from algoritmos_etl_spark.operators import corpus

    rows = corpus.bigram_lm_topk(docs, top_k=10**6).collect()
    expect_total = sum(max(0, len(t.split()) - 1) for _, t in raw)
    assert sum(r.n_pair for r in rows) == expect_total
    by_w1 = {}
    for r in rows:
        by_w1.setdefault(r.w1, []).append(r.p_cond)
    for w1, ps in by_w1.items():
        assert abs(sum(ps) - 1.0) < 1e-4, w1


def test_bm25_matches_python_model(spark):
    """Independent in-process model: pure-Python BM25 over the same
    corpus must reproduce every (query, doc, score, rank) row."""
    import math
    from collections import Counter

    raw = [(i, t) for i, t in _random_docs(seed=3) if t]
    docs = spark.createDataFrame(raw, "doc_id long, text string")
    queries = [(0, "w1 w2 w3"), (1, "w39"), (2, "w0 w0 w0")]
    qdf = spark.createDataFrame(queries, "query_id int, query_text string")
    from algoritmos_etl_spark.operators import retrieval

    k1, b, top_k = 1.2, 0.75, 7  # the operator's fixed BM25 parameters
    tfs = {i: Counter(t.lower().split()) for i, t in raw}
    dls = {i: sum(c.values()) for i, c in tfs.items()}
    n_docs = len(raw)
    avgdl = sum(dls.values()) / n_docs
    df = Counter(t for c in tfs.values() for t in c)
    expect = {}
    for qid, qtext in queries:
        scores = {}
        for d, c in tfs.items():
            s = 0.0
            for t in set(qtext.lower().split()):
                if c[t] == 0:
                    continue
                idf = math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
                s += idf * c[t] / (c[t] + k1 * (1 - b + b * dls[d] / avgdl))
            if s > 0:
                scores[d] = round(s, 6)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
        for rank, (d, s) in enumerate(ranked, 1):
            expect[(qid, d)] = (s, rank)
    got = {
        (r.query_id, r.doc_id): (r.score, r.rank)
        for r in retrieval.bm25_topk(docs, qdf, top_k=top_k).collect()
    }
    assert got == expect


def test_doc_lm_scores_python_model(spark):
    """Self-LM scoring must match a pure-Python bigram LM exactly,
    and short docs keep a NULL-score row."""
    import math
    from collections import Counter

    raw = _random_docs(seed=19)
    docs = spark.createDataFrame(raw, "doc_id long, text string")
    from algoritmos_etl_spark.operators import corpus

    pair = Counter()
    pfx = Counter()
    per_doc = {}
    for i, t in raw:
        ws = t.split()
        bgs = list(zip(ws, ws[1:]))
        per_doc[i] = bgs
        pair.update(bgs)
        pfx.update(w1 for w1, _ in bgs)
    got = {r.doc_id: r for r in corpus.doc_lm_scores(docs).collect()}
    assert set(got) == {i for i, _ in raw}
    for i, _ in raw:
        bgs = per_doc[i]
        r = got[i]
        assert r.n_bigrams == len(bgs)
        if not bgs:
            assert r.avg_logprob is None
            continue
        expect = round(
            sum(math.log(pair[b] / pfx[b[0]]) for b in bgs) / len(bgs), 6
        )
        assert abs(r.avg_logprob - expect) < 2e-6, (i, r.avg_logprob, expect)


def test_hybrid_rrf_fuses_both_sides(tables, spark):
    """RRF: a doc ranked by BOTH sides must outscore a doc holding the
    same rank on one side only; side ranks surface as NULLs where a
    doc reached only one list; the query doc itself never appears."""
    from algoritmos_etl_spark.operators import retrieval

    out = retrieval.hybrid_rrf_topk(
        tables["documents"], tables["embeddings"], query_ids=[3, 17],
        top_k=10, k_each=20,
    )
    rows = out.collect()
    assert {r.query_id for r in rows} == {3, 17}
    for r in rows:
        assert r.doc_id != r.query_id
        both = r.lex_rank is not None and r.dense_rank is not None
        expect = (1.0 / (60 + r.lex_rank) if r.lex_rank else 0.0) + (
            1.0 / (60 + r.dense_rank) if r.dense_rank else 0.0
        )
        assert abs(r.rrf - expect) < 1e-6
        assert both or r.lex_rank is not None or r.dense_rank is not None
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    for q, rs in per_q.items():
        ranks = [r.rank for r in sorted(rs, key=lambda r: r.rank)]
        assert ranks == list(range(1, len(rs) + 1))
        # fused order is by rrf desc
        rrfs = [r.rrf for r in sorted(rs, key=lambda r: r.rank)]
        assert rrfs == sorted(rrfs, reverse=True)
