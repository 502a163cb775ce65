"""Pins the registry's correctness-window layout.

The driver hash-checks the FIRST `CORRECTNESS_WINDOW` entries of
`queries()` (observed every round: CORRECTNESS_r{N}.json holds exactly
the first 50 rows). These tests make the window membership an explicit,
reviewed decision instead of an accident of registration order: every
SURVEY §2 operator and every flagship extension must sit inside the
window, and only the declared transitively-pinned tail may sit outside.
"""

from __future__ import annotations

from algoritmos_etl_spark.driver_queries import (
    CORRECTNESS_WINDOW,
    REGISTRY,
    REGISTRY_ORDER,
)

# In-window entries whose oracle is None BY DESIGN (codec /
# eigendecomposition / sketch-estimate pipelines no SQL engine
# reproduces); the driver records rows-only rows for these — an
# explicit, reviewed exception. Each is pinned by an exact non-SQL
# reference in pytest (numpy PCA parity, codec round-trips,
# union==one-shot HLL). bpe_encode left this set in r9: its oracle now
# RELEARNS the tokenizer in SQL (driver_queries_ext._bpe_sql_ctes).
WINDOW_ROWS_ONLY = frozenset(
    {
        "pca_projection",
        "image_jpeg_neardup",
        "audio_features",
        "incremental_distinct",
    }
)

# Queries that MUST be inside the driver's correctness window: the
# core §2 surface plus every flagship extension, ROTATED per round so
# each round's new flagships get driver-green rows the round they land
# (VERDICT r6 task #1).
MUST_BE_IN_WINDOW = {
    # §2 surface
    "bars_model", "cleaning_report",
    "interpolated_bars", "returns_model",
    "risk_classification", "streak_histograms", "pair_metrics",
    "dtw_report",
    # relational / OLAP / warehouse (r8 flagships + r9 rotations
    # + the r9 LATE TPC-H completions)
    "forecast_revenue", "product_profit",
    "small_qty_revenue", "waiting_suppliers",
    "bi_nation_volume", "nation_market_share",
    "returned_item_customers", "important_parts",
    "promo_revenue_share", "top_supplier_q15",
    "dominant_suppliers",
    "snapshot_evolution", "snapshot_changes",
    "priority_drift_categorical", "snapshot_file_skipping",
    "snapshot_delete_mor",
    # extensions (r9 late flagships rotated in the round they landed)
    "exact_repeat_runs_tokens",
    "pps_sample",
    "quality_tiers",
    "ann_ivf_topk",
    "streaming_heavy_hitters",
    "streaming_cdc_state",
    "multimodal_report",
    # r10 flagships (rotated in the round they landed)
    "warc_extraction", "lang_id_trained",
    # r11 flagships (rotated in the round they landed)
    "url_dedup", "domain_curation", "pdf_extraction",
    "quality_rules", "streaming_warc_ingest", "crawl_corpus",
    "warc_cdx_extraction",
    # r12 flagships (rotated in the round they landed)
    "host_pagerank", "bpe_encode_bytes", "image_caption_pairs",
    "robots_gate", "domain_token_budget",
    # r13 re-entries (VERDICT r12 #9: rotated-out queries re-enter
    # within 2 rounds so they never silently exit verification)
    "exact_repeat_runs", "bloom_join_prune", "audio_features",
    "image_jpeg_neardup", "pca_projection",
}

# The declared outside-window tail: each is transitively pinned (see
# the notes in driver_queries.REGISTRY_ORDER). The r9 rotation moved
# the twelve r8 tail flagships plus this round's three new flagships
# in, and fifteen hash-green-for-multiple-rounds entries out.
EXPECTED_TAIL = {
    # displaced by the r13 re-entry rotation (VERDICT r12 #9) — all
    # hash-green r9-r12, every family evidenced in-window (see
    # REGISTRY_ORDER notes)
    "customer_distribution", "bracket_revenue",
    "snapshot_delete_positions", "bpe_encode", "html_extraction",
    # displaced by the r11 rotation — hash-green r9-r10, family
    # evidenced in-window (see REGISTRY_ORDER notes)
    "passage_scrub", "heavy_hitters", "epoch_shards",
    "mixture_sample", "streaming_neardup", "bpe_roundtrip",
    "triplet_mining",
    # displaced by the r10 rotation — hash-green r8-r9, family
    # evidenced in-window (see REGISTRY_ORDER notes)
    "table_profile", "incremental_revenue", "price_anomalies",
    "image_neardup", "table_history",
    # displaced by the r7 rotation — all hash-green since landing
    "doc_fingerprints", "canonical_selection", "corpus_mixture",
    "embedding_neardup_pairs", "rolling_features", "kmeans_clusters",
    "interval_join_sessions",
    "drop_invalid_rows", "top15_by_value", "wide_roundtrip",
    "bar_slices", "multi_key_sort_rank", "pricing_summary",
    "behavioral_report", "corpus_sampling", "lm_topk", "rag_chunking",
    "ann_cosine_topk",
    # displaced by the r8 rotation — see REGISTRY_ORDER notes
    "align_to_calendar", "correlation_heatmap", "revenue_by_nation",
    "supplier_diversity", "min_cost_supplier", "trailing_revenue_7d",
    "revenue_share", "price_quantiles", "scd2_user_history",
    "quality_expectations", "dedup_ngram_jaccard", "ann_lsh_topk",
    "running_streaks", "semantic_dedup", "decontamination",
    "attribution_join",
    # displaced by the r9 rotation — hash-green r8, families evidenced
    # in-window (see REGISTRY_ORDER notes)
    "idle_rich_customers", "top_parts_per_brand", "orders_table_diff",
    "cdc_merge_state", "fuzzy_part_match", "weekly_bars", "acf_report",
    "seasonal_decomposition", "order_value_drift",
    "variant_props_stats", "dedup_simhash", "duplicate_passages",
    "dsir_weights", "attribution_outer", "incremental_distinct",
    # long-standing declared tail
    "skew_salted_join", "parts_per_size_bucket",
    "keep_latest_event", "fk_violations_orders", "risk_summary",
    "embedding_norms", "late_shipment_priority", "large_orders_topk",
    "top_customers_by_revenue", "order_priority_counts",
    "shipping_priority", "approx_profile", "bpe_tokenize",
    "pii_redaction",
    "doc_lm_scores", "bm25_topk",
    # displaced by the r9 LATE rotation — all hash-green for multiple
    # rounds, families evidenced in-window (see REGISTRY_ORDER notes)
    "revenue_rollup", "text_stats", "textrank_keywords",
    "dedup_minhash_lsh", "neardup_clusters", "corpus_curation",
    "sequence_packing", "doc_quality_scores", "hybrid_rrf_topk",
    "ann_pq_topk", "event_time_report", "asof_join_bars",
}


def test_order_covers_registry_exactly():
    assert list(REGISTRY) == list(REGISTRY_ORDER)
    assert len(REGISTRY_ORDER) == len(set(REGISTRY_ORDER))


def test_flagships_inside_window():
    window = set(REGISTRY_ORDER[:CORRECTNESS_WINDOW])
    missing = MUST_BE_IN_WINDOW - window
    assert not missing, f"flagship queries outside the window: {sorted(missing)}"


def test_tail_is_the_declared_set():
    tail = set(REGISTRY_ORDER[CORRECTNESS_WINDOW:])
    assert tail == EXPECTED_TAIL, sorted(tail ^ EXPECTED_TAIL)


def test_window_queries_all_have_oracles():
    # every in-window entry must carry a DuckDB oracle so the driver
    # records a full value-hash row — except the declared
    # rows-only-by-design flagships (codec/eigendecomposition
    # pipelines no SQL engine reproduces), which sit in-window for the
    # driver's rows-only signal per the r7 rotation policy
    missing = [
        n for n in REGISTRY_ORDER[:CORRECTNESS_WINDOW]
        if REGISTRY[n].oracle is None and n not in WINDOW_ROWS_ONLY
    ]
    assert not missing, f"in-window queries without oracles: {missing}"
    undeclared = [
        n for n in WINDOW_ROWS_ONLY if REGISTRY[n].oracle is not None
    ]
    assert not undeclared, (
        f"declared rows-only but carries an oracle: {undeclared}"
    )


def test_bench_line_fits_harvester_tail_and_stays_self_contained():
    # the driver keeps only the last ~2000 chars of bench stdout (EXACTLY
    # 2000, measured from BENCH_r05.json); round 5's line with inline
    # trial arrays blew past it and failed to parse. bench.py degrades
    # gracefully as the registry grows but must stay SELF-CONTAINED:
    # when full names no longer fit, every per-query median rides the
    # positional "qv" array (REGISTRY_ORDER order = QUERIES.md's index
    # column) with the top-slowest also named. Replicate the chain on
    # worst-case values, pin the final line inside the margin, AND pin
    # that every registry query's timing is on the line.
    import json

    names = list(REGISTRY)
    summary = {
        "metric": "headline_suite_seconds",
        "value": 12345.678,
        "unit": "sec",
        "queries": {n: 123.456 for n in names},
        "n_trials": 3,
        "wall_clock_s": 12345.678,
        "probe_med_s": 123.456,
        "jvm_probe_med_s": 123.456,
        "sf": 0.1,
    }
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > 1900:
        summary["queries"] = {n: 123.46 for n in names}
        line = json.dumps(summary, separators=(",", ":"))
    if len(line) > 1900:
        summary["qv"] = [123.46 for _ in names]
        summary["qv_order"] = "REGISTRY_ORDER;names=QUERIES.md #"
        summary["qmap"] = "BENCH_TRIALS.json:queries"
        for keep in (25, 20, 15, 10, 5, 0):
            summary["queries"] = {n: 123.46 for n in sorted(names)[:keep]}
            summary["queries_note"] = f"top{keep}_of_{len(names)};all_in_qv"
            line = json.dumps(summary, separators=(",", ":"))
            if len(line) <= 1900:
                break
    if len(line) > 1900:
        summary.pop("probe_med_s")
        summary.pop("jvm_probe_med_s")
        summary.pop("wall_clock_s")
        line = json.dumps(summary, separators=(",", ":"))
    assert len(line) <= 1950, (
        f"registry too large for per-query stdout reporting: {len(line)}"
    )
    # self-containment: every registry query's timing is on the line,
    # by full name or positionally
    parsed = json.loads(line)
    if "qv" in parsed:
        assert len(parsed["qv"]) == len(names)
    else:
        assert set(parsed["queries"]) == set(names)


def test_query_catalog_in_sync():
    """QUERIES.md is generated from the registry; a registry change
    without regenerating the catalog fails here (run
    `python tools/gen_query_catalog.py`)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    before = open(os.path.join(repo, "QUERIES.md")).read()
    # the tool rewrites the repo file in place; on mismatch the test
    # fails AND leaves the regenerated catalog ready to commit
    subprocess.run(
        [sys.executable, os.path.join(repo, "tools/gen_query_catalog.py")],
        check=True, capture_output=True,
    )
    after = open(os.path.join(repo, "QUERIES.md")).read()
    assert after == before, (
        "QUERIES.md out of sync with the registry — commit the "
        "regenerated catalog"
    )
