"""Deterministic split tests: stability, disjointness, proportions."""

from __future__ import annotations

from pyspark.sql import functions as F

from algoritmos_etl_spark.operators import sampling
from algoritmos_etl_spark.sources.readers import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_split_stable_and_exhaustive(spark):
    docs = load_table(spark, SF_DIR, "documents")
    s1 = {r.doc_id: r.split for r in sampling.with_split(docs, "doc_id").collect()}
    s2 = {r.doc_id: r.split for r in sampling.with_split(docs, "doc_id").collect()}
    assert s1 == s2                       # rerun-stable
    assert set(s1.values()) <= {"train", "valid", "test"}
    n = len(s1)
    train = sum(1 for v in s1.values() if v == "train")
    assert 0.7 < train / n < 0.9          # ~0.8 by hash uniformity


def test_split_survives_corpus_growth(spark):
    docs = load_table(spark, SF_DIR, "documents")
    full = {r.doc_id: r.split for r in sampling.with_split(docs, "doc_id").collect()}
    half = {
        r.doc_id: r.split
        for r in sampling.with_split(
            docs.filter(F.col("doc_id") % 2 == 0), "doc_id"
        ).collect()
    }
    # a doc's split never changes when other docs appear/disappear
    assert all(full[d] == s for d, s in half.items())


def test_stride_sample_matches_slice_semantics(spark):
    """O15: per-series output must equal Python's lst[::step] with
    step = max(1, len // max_points) — row 0 kept, positions multiple
    of step."""
    import datetime

    rows = [
        (sym, datetime.date(2024, 1, 1) + datetime.timedelta(days=i), float(i))
        for sym in (1, 2)
        for i in range(25 if sym == 1 else 7)
    ]
    df = spark.createDataFrame(rows, "symbol long, date date, close double")
    out = sampling.stride_sample(
        df, partition_col="symbol", order_cols=["date"], max_points=10
    ).collect()
    by_sym = {}
    for r in out:
        by_sym.setdefault(r.symbol, []).append(r.close)
    # symbol 1: 25 rows, step=2 → positions 0,2,...,24 (13 rows)
    assert sorted(by_sym[1]) == [float(i) for i in range(0, 25, 2)]
    # symbol 2: 7 rows, step=1 → untouched
    assert sorted(by_sym[2]) == [float(i) for i in range(7)]


def test_balanced_sample_caps_dominant_stratum(spark):
    rows = [(i, "en" if i < 1800 else "de") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sampling.balanced_sample(
        df, key="doc_id", strata_col="lang", target_per_stratum=100
    )
    by_lang = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    # dominant stratum capped near the target; small stratum (200 rows,
    # thr=least(10000, floor(100*10000/200))=5000) keeps ~half
    assert 50 <= by_lang["en"] <= 180
    assert 60 <= by_lang["de"] <= 140
    # deterministic: same survivors on a rerun
    again = sampling.balanced_sample(
        df, key="doc_id", strata_col="lang", target_per_stratum=100
    )
    assert out.exceptAll(again).isEmpty()


def test_pps_sample_draws_exactly_k_hits(spark):
    docs = load_table(spark, SF_DIR, "documents")
    k = 64
    rows = sampling.pps_sample(docs, "doc_id", "n_chars", k=k).collect()
    assert sum(r.n_hits for r in rows) == k       # systematic PPS exactness
    assert all(r.n_hits >= 1 for r in rows)
    rerun = sampling.pps_sample(docs, "doc_id", "n_chars", k=k).collect()
    assert sorted((r.doc_id, r.n_hits) for r in rows) == sorted(
        (r.doc_id, r.n_hits) for r in rerun
    )


def test_pps_sample_weight_semantics(spark):
    """Zero-weight rows are never drawn; a row holding >= 1/k of the
    total weight is ALWAYS drawn (the PPS certainty region)."""
    base = [(i, 10) for i in range(100)] + [
        (100, 0), (101, 5000), (102, -7)]
    df = spark.createDataFrame(base, "doc_id long, w long")
    k = 5  # total weight 6000, stride 1200 < 5000 -> doc 101 certain
    got = {r.doc_id: r.n_hits for r in
           sampling.pps_sample(df, "doc_id", "w", k=k).collect()}
    assert sum(got.values()) == k
    assert 100 not in got
    assert 102 not in got  # negative weight clamps to no segment
    assert got.get(101, 0) >= 4  # w*k/W = 4.16 -> floor 4 hits minimum


def test_epoch_shards_is_a_per_epoch_permutation(spark):
    docs = load_table(spark, SF_DIR, "documents")
    out = sampling.epoch_shards(docs, "doc_id", n_epochs=2, n_shards=8)
    rows = out.collect()
    n = docs.count()
    by_epoch: dict[int, list] = {0: [], 1: []}
    for r in rows:
        by_epoch[r.epoch].append(r)
    for e, rs in by_epoch.items():
        assert len(rs) == n                       # every doc, once
        assert len({r.doc_id for r in rs}) == n
        # positions are dense 0..count-1 within each shard
        shards: dict[int, list] = {}
        for r in rs:
            shards.setdefault(r.shard, []).append(r.pos)
        for poss in shards.values():
            assert sorted(poss) == list(range(len(poss)))
    # epochs order the corpus differently (independent permutations)
    order0 = [(r.shard, r.pos, r.doc_id) for r in sorted(
        by_epoch[0], key=lambda r: (r.shard, r.pos))]
    order1 = [(r.shard, r.pos, r.doc_id) for r in sorted(
        by_epoch[1], key=lambda r: (r.shard, r.pos))]
    assert [d for _, _, d in order0] != [d for _, _, d in order1]


# ---- systematic-PPS integer math: property + cross-engine reference ----

import hashlib

from hypothesis import assume, given, settings, strategies as st


def _pps_reference(rows, k, salt="pps"):
    """Pure-Python twin of pps_sample: md5-shuffled line, k-scaled
    integer thresholds — the engine-independent ground truth."""
    rows = [(d, max(int(w), 0)) for d, w in rows]
    ordered = sorted(
        rows, key=lambda r: (hashlib.md5(
            f"pps:{salt}:{r[0]}".encode()).hexdigest(), r[0])
    )
    W = sum(w for _, w in ordered)
    if W == 0:
        return {}
    o = int(hashlib.md5(f"pps:o:{salt}".encode()).hexdigest()[:15], 16) % W

    def g(x):
        return (x + W) // W - 1

    out, c = {}, 0
    for d, w in ordered:
        hits = g((c + w) * k - o - 1) - g(c * k - o - 1)
        if hits >= 1:
            out[d] = (w, hits)
        c += w
    return out


@given(
    ws=st.lists(st.integers(min_value=0, max_value=50), min_size=1,
                max_size=40),
    k=st.integers(min_value=1, max_value=20),
    o=st.integers(min_value=0, max_value=10**9),
)
@settings(max_examples=300, deadline=None)
def test_systematic_hits_always_sum_to_k(ws, k, o):
    """The Madow identity the operator relies on: for ANY weights and
    ANY offset in [0, W), the per-row hit counts sum to exactly k."""
    W = sum(ws)
    assume(W > 0)
    o = o % W

    def g(x):
        return (x + W) // W - 1

    total, c = 0, 0
    for w in ws:
        total += g((c + w) * k - o - 1) - g(c * k - o - 1)
        c += w
    assert total == k


def test_pps_sample_matches_python_reference(spark):
    """The distributed operator must equal the pure-Python twin row for
    row — pins the md5 order, the offset draw, and the integer hit
    formula against an engine-independent implementation."""
    rows = [(i, (i * 37) % 101) for i in range(200)]  # varied weights
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = {
        r.doc_id: (r.w, r.n_hits)
        for r in sampling.pps_sample(df, "doc_id", "w", k=17).collect()
    }
    assert got == _pps_reference(rows, k=17)


def test_epoch_shards_matches_python_reference(spark):
    """The distributed (epoch, shard, pos) assignment must equal a
    pure-Python twin — pins the md5 permutation key, the shard mod,
    and the within-shard ordering against an engine-independent
    implementation."""
    ids = list(range(150))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        (r.epoch, r.shard, r.pos): r.doc_id
        for r in sampling.epoch_shards(
            df, "doc_id", n_epochs=2, n_shards=4
        ).collect()
    }
    want = {}
    for e in range(2):
        keyed = sorted(
            (
                int(
                    hashlib.md5(f"epoch:{e}:{d}".encode()).hexdigest()[:15],
                    16,
                ),
                d,
            )
            for d in ids
        )
        pos_per_shard: dict[int, int] = {}
        for okey, d in keyed:
            sh = okey % 4
            p = pos_per_shard.get(sh, 0)
            pos_per_shard[sh] = p + 1
            want[(e, sh, p)] = d
    assert got == want
