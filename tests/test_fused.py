"""Fused multi-signal operators ≡ their single-semantic builders.

The 50-entry driver registry fuses same-grain query variants into
multi-column queries (SURVEY.md §8); these tests pin each fused form to
the composition of the original builders, so the consolidation can never
silently drift from the per-operator semantics.
"""

from pyspark.sql import functions as F

from algoritmos_etl_spark.operators import multimodal, technical, text


def _rows(df, *order):
    return [tuple(r) for r in df.orderBy(*order).collect()]


def test_returns_bundle_matches_single_builders(bars):
    bundle = technical.returns_bundle(bars).select(
        "symbol", "date", "ret_zero", "ret_omit", "ret_simple"
    )
    zero = technical.log_returns(bars, zero_fill=True).select(
        "symbol", "date", F.col("ret").alias("ret_zero")
    )
    simple = technical.simple_returns(bars).select(
        "symbol", "date", F.col("ret").alias("ret_simple")
    )
    joined = zero.join(simple, ["symbol", "date"])
    assert _rows(
        bundle.select("symbol", "date", "ret_zero", "ret_simple"),
        "symbol", "date",
    ) == _rows(joined, "symbol", "date")
    # omit column: NULL exactly where the omit builder drops the row
    omit = technical.log_returns(bars, zero_fill=False).select(
        "symbol", "date", F.col("ret").alias("ret_omit")
    )
    bundle_omit = bundle.filter(F.col("ret_omit").isNotNull()).select(
        "symbol", "date", "ret_omit"
    )
    assert _rows(bundle_omit, "symbol", "date") == _rows(omit, "symbol", "date")


def _trailing_gap_counts(bars, w):
    """W6 (`algorithms/patterns.py:155-264`) in plain Python: per symbol,
    gap[i] = open[i] > high[i-1] for i ≥ 1, then the trailing w-flag
    count at every row that closes a full window of flags."""
    import itertools

    rows = sorted(tuple(r) for r in bars.select("symbol", "date", "open", "high").collect())
    out = []
    for sym, grp in itertools.groupby(rows, key=lambda r: r[0]):
        grp = list(grp)
        flags = [
            None if cur[2] is None or prev[3] is None else int(cur[2] > prev[3])
            for prev, cur in zip(grp, grp[1:])
        ]
        for i in range(w - 1, len(flags)):
            win = [f for f in flags[i - w + 1 : i + 1] if f is not None]
            out.append((sym, grp[i + 1][1], sum(win) if win else None))
    return out


def test_rolling_features_matches_sma_and_gap_windows(bars):
    fused = technical.rolling_features(bars, 5)
    sma = technical.sma(bars, 5).select("symbol", "date", "sma_5")
    assert _rows(
        fused.select("symbol", "date", "sma_5"), "symbol", "date"
    ) == _rows(sma, "symbol", "date")
    fused_gaps = fused.filter(F.col("gaps_in_window").isNotNull()).select(
        "symbol", "date", F.col("gaps_in_window").alias("g")
    )
    assert _rows(fused_gaps, "symbol", "date") == _trailing_gap_counts(bars, 5)


def test_text_quality_matches_single_signals(tables):
    docs = tables["documents"].limit(80).cache()
    fused = text.text_quality(docs)
    stats = text.text_stats(docs)
    lang = text.lang_id(docs)
    toks = text.token_counts(docs)
    pii = text.pii_stats(docs)
    reps = text.repetition_stats(docs).drop("n_words")
    ref = (
        stats.join(lang, "doc_id")
        .join(toks, "doc_id")
        .join(pii, "doc_id")
        .join(reps, "doc_id")
    )
    cols = [c for c in ref.columns]
    assert sorted(fused.columns) == sorted(cols)
    assert _rows(fused.select(*cols), "doc_id") == _rows(ref.select(*cols), "doc_id")


def test_fingerprints_with_dedup_matches_exact_dedup(tables, spark):
    docs = tables["documents"].limit(120)
    # force duplicates: union the same docs twice under distinct ids
    dup = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    corpus = docs.select("doc_id", "text").unionByName(dup)
    out = text.fingerprints_with_dedup(corpus)
    # every fingerprint group: n_dups == 2, canonical is the min doc_id
    assert out.count() == 240
    assert out.filter(F.col("n_dups") != 2).count() == 0
    canon = out.filter("is_canonical")
    assert canon.count() == 120
    assert canon.filter(F.col("doc_id") != F.col("keep_doc_id")).count() == 0
    from algoritmos_etl_spark.operators import dedup

    groups = dedup.exact_dedup(corpus)
    ref = {(r["fingerprint"], r["keep_doc_id"], r["n_docs"]) for r in groups.collect()}
    got = {
        (r["fingerprint"], r["keep_doc_id"], r["n_dups"])
        for r in out.select("fingerprint", "keep_doc_id", "n_dups").distinct().collect()
    }
    assert got == ref


def test_decode_with_stats_matches_components(tables):
    docs = tables["documents"].limit(60)
    fused = multimodal.decode_with_stats(docs)
    stats = multimodal.payload_stats(docs)
    feats = multimodal.decode_features(docs).select("doc_id", "byte_mean", "dominant")
    ref = stats.join(feats, "doc_id")
    cols = [
        "doc_id", "modality", "width", "height", "n_frames",
        "n_bytes", "checksum", "byte_mean", "dominant",
    ]
    assert _rows(fused.select(*cols), "doc_id") == _rows(ref.select(*cols), "doc_id")


def test_fused_operators_on_degenerate_series(spark):
    import datetime

    one_row = spark.createDataFrame(
        [(7, datetime.date(2024, 1, 2), 10.0, 11.0, 9.0, 10.5, 100)],
        "symbol long, date date, open double, high double, low double, close double, volume long",
    )
    # single row: no predecessor → returns empty (reference length n−1)
    assert technical.returns_bundle(one_row).count() == 0
    # moments exist, volatility falls back to 0.0 with 0 returns
    r = technical.series_stats(one_row).collect()[0]
    assert r["n"] == 1 and r["n_returns"] == 0 and r["volatility"] == 0.0
    assert r["min_close"] == r["max_close"] == r["mean"] == 10.5
    # rolling features: warm-up never completes → all NULL
    rf = technical.rolling_features(one_row, 5).collect()[0]
    assert rf["sma_5"] is None and rf["gaps_in_window"] is None


def test_risk_profile_fusion_matches_library_builders(spark):
    """The registered risk_classification profile (one shared-flags
    pass) must equal the composition of the single-op library builders
    it fuses (analyze_portfolio_risk + series_stats + pattern_stats)."""
    import os

    from algoritmos_etl_spark.driver_queries import REGISTRY, r6
    from algoritmos_etl_spark.operators import patterns, volatility

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    from algoritmos_etl_spark.sources import daily_bars, load_table

    bars = daily_bars(load_table(spark, sf_dir, "events"))
    fused = REGISTRY["risk_classification"].build(spark, sf_dir)

    # the /api/risk lifecycle without its >10-prices guard
    risk = volatility.classify_risk(volatility.historical_volatility(bars)).select(
        "symbol",
        r6(F.col("volatility")).alias("volatility"),
        "risk_class",
        F.col("rank").cast("long").alias("rank"),
        r6(F.col("p_low")).alias("p_low"),
        r6(F.col("p_high")).alias("p_high"),
    )
    stats = technical.series_stats(bars).select(
        "symbol",
        r6(F.col("mean")).alias("mean"),
        r6(F.col("std_dev")).alias("std_dev"),
        r6(F.col("min_close")).alias("min_close"),
        r6(F.col("max_close")).alias("max_close"),
        "n",
        "n_returns",
    )
    pats = patterns.pattern_stats(bars, 5).select(
        "symbol",
        F.col("total_ups").cast("long").alias("total_ups"),
        F.col("total_windows").cast("long").alias("total_windows"),
        F.col("max_streak").cast("int").alias("max_streak"),
        F.col("total_gaps").cast("long").alias("total_gaps"),
        F.col("max_gaps_in_window").cast("long").alias("max_gaps_in_window"),
    )
    composed = (
        risk.join(stats, "symbol").join(pats, "symbol", "left")
    ).select(*fused.columns)
    assert _rows(fused, "symbol") == _rows(composed, "symbol")


def test_risk_profile_excludes_returnless_symbols(spark, tmp_path):
    """A symbol with a single bar has no valid return pair: the oracle
    derives the output row-set AND the percentile thresholds from the
    returns relation, so the fused profile must exclude it entirely
    (not emit volatility 0.0 and dilute p_low/p_high)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from algoritmos_etl_spark.driver_queries import REGISTRY

    rows = []
    eid = 0
    # symbols 1..3: five days of events; symbol 99: ONE event only
    for sym in (1, 2, 3):
        for d in range(5):
            rows.append(
                (eid, pa.scalar(1704067200_000000 + d * 86400_000000,
                                pa.timestamp("us")).as_py(),
                 sym, "view", 100.0 + sym * d, "{}")
            )
            eid += 1
    rows.append(
        (eid, pa.scalar(1704067200_000000, pa.timestamp("us")).as_py(),
         99, "view", 50.0, "{}")
    )
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    sf_dir = str(tmp_path / "mini_sf")
    import os

    os.makedirs(sf_dir)
    pq.write_table(table, f"{sf_dir}/events.parquet")
    out = REGISTRY["risk_classification"].build(spark, sf_dir)
    syms = {r["symbol"] for r in out.select("symbol").collect()}
    assert syms == {1, 2, 3}  # symbol 99 has no return pair -> excluded
