"""Structured Streaming surface: event-time windows, sessions, and a
custom stateful operator.

The reference is strictly batch (SURVEY.md §2.10) — its sliding windows
(W4-W6) slide over a date axis, not arrival time. This module offers the
same window *semantics* over an unbounded `events` stream, the north-star
extension the reference never needed at 1759 rows but a 100 TB pipeline
does:

- sliding event-time aggregation with watermarks (late data
  is merged until the watermark passes, then the window finalizes),
- session windows (30-min inactivity gap — same sessions the batch
  lag+cumsum query produces),
- a custom stateful operator (per-user running up-streak, the streaming
  incarnation of W5's binarize step) via `applyInPandasWithState`.

Every transformation here works UNCHANGED in batch mode too — `F.window`
/ `F.session_window` are plain grouping expressions. Tests exploit that:
the streaming result (file source, availableNow trigger, memory sink)
must equal the batch result on the same files. That is Structured
Streaming's core guarantee (incremental view maintenance of a batch
query), and it pins our streaming plans to the oracle-checked batch
twins in driver_queries_ext.

Scale notes: watermark state lives in the state store, partitioned by
group key — per-key state is O(open windows), unbounded keys spread over
executors. `availableNow` gives reproducible backfills; the same code
then tails a live source in production. Late-data policy: drop only
beyond the watermark delay (here 2 h), chosen >> the generator's jitter.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sources.readers import with_event_time

WATERMARK = "2 hours"  # the late-data delay every operator here shares
ATTRIBUTION_HORIZON = "30 minutes"  # purchase-after-click match window
# availableNow drains that outrun this are an error (`_await_or_fail`)
_DRAIN_TIMEOUT_S = 1800


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events` as an unbounded stream via the file source.

    The file source is the reproducible-test incarnation; swap
    `.format("kafka")` at the edge for a live feed — every downstream
    transformation is source-agnostic.

    The stream schema is taken from the batch footer (one planning-time
    metadata read, no data scan) so the `ts` physical type — bigint
    nanos under `nanosAsLong` in one testdata generation, native
    timestamp µs in another — always matches what the file actually
    stores; `with_event_time` then repairs raw nanos when present.
    """
    batch_schema = (
        spark.read.option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .schema
    )
    raw = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return with_event_time(raw)


def sliding_stats(events: DataFrame) -> DataFrame:
    """Sliding (overlapping) 2-hour event-time windows every hour: each
    event feeds two windows; Spark expands the assignment internally —
    no self-union needed."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # decimal-exact sum -> ONE double conversion -> divide, and NO
            # in-query rounding: float partial-agg order differs per engine
            # (half-ULP flips a rounded 6th decimal), and even on identical
            # doubles Spark's BigDecimal round and DuckDB's numeric round
            # disagree at shortest-repr ..5 boundaries. Identical doubles
            # canonicalize identically downstream; rounding is display-edge.
            (
                F.sum(F.col("value").cast("decimal(30,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_events",
            "avg_value",
        )
    )


def session_stats(events: DataFrame) -> DataFrame:
    """Per-user sessions: windows merge while events arrive within 30
    minutes. Produces the same sessions as the batch lag+cumsum query
    (driver_queries_ext `sessionization`), but incrementally."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------- stateful

_STREAK_STATE_SCHEMA = "last_value double, streak int"
_STREAK_OUT_SCHEMA = "user_id bigint, event_id bigint, streak int"


def _streak_fn(
    key, pdfs: Iterable[pd.DataFrame], state: GroupState
):
    """Per-user running up-streak (W5 binarize, streaming form).

    State = (last seen value, current streak length). Each micro-batch
    extends the streak for values strictly above the previous one —
    identical to the batch `up_flags` recurrence, maintained
    incrementally across batches.
    """
    if state.exists:
        last_value, streak = state.get
    else:
        last_value, streak = None, 0
    out_users, out_events, out_streaks = [], [], []
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for row in pdf.itertuples(index=False):
            if last_value is not None and row.value > last_value:
                streak += 1
            else:
                streak = 0
            last_value = float(row.value)
            out_users.append(row.user_id)
            out_events.append(row.event_id)
            out_streaks.append(streak)
    state.update((last_value, streak))
    yield pd.DataFrame(
        {"user_id": out_users, "event_id": out_events, "streak": out_streaks}
    )


def streaming_running_streaks(events: DataFrame) -> DataFrame:
    """Custom stateful operator via `applyInPandasWithState`.

    Arrow-batched, state-store-backed; grouped by user so state shards
    across executors with the shuffle. (Batch twin: a `lag` window +
    run-length recurrence — pinned in tests.)
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _streak_fn,
        outputStructType=_STREAK_OUT_SCHEMA,
        stateStructType=_STREAK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _await_or_fail(query) -> None:
    """Block until an availableNow stream drains, or fail LOUDLY.
    awaitTermination(timeout) returning False leaves the query still
    running — a caller that proceeds to read the sink sees a partial
    or ABSENT dataset and can mistake it for a legitimately empty
    result (the 100× notch caught exactly that: a 500k-doc crawl
    batch outran the old fixed timeout and the query reported zero
    pairs). Timing out is an ERROR, never an empty success."""
    if not query.awaitTermination(_DRAIN_TIMEOUT_S):
        query.stop()
        raise TimeoutError(
            f"streaming query did not drain within {_DRAIN_TIMEOUT_S}s — "
            "raise _DRAIN_TIMEOUT_S for this corpus size"
        )


def _neardup_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    out_path: str,
    threshold: float = 0.2,
    max_bucket_size: int | None = 100,
) -> None:
    """One micro-batch of incremental LSH near-dup: emit the batch's
    pairs against the standing corpus + itself, then append its band
    signatures and shingle postings to the index. Shared by
    `streaming_neardup_against_index` (clean doc stream) and
    `streaming_warc_ingest` (crawl-file stream) — the exactly-once
    contract (per-batch idempotent subdirectories, lookups strictly
    below this batch_id) lives here, once."""
    from ..operators import dedup as _dedup

    spark = batch_df.sparkSession
    # lazy: take(1) below materializes it once for all 3 consumers,
    # avoiding a separate eager-checkpoint job per micro-batch
    batch_df = batch_df.localCheckpoint(eager=False)
    if not batch_df.take(1):
        return
    # shingle + min-hash the batch ONCE: the same two relations
    # feed the near-dup lookup AND the index append (lazy
    # localCheckpoints — computed at first action, reused after)
    sh = _dedup.doc_shingles(batch_df, 3).localCheckpoint(eager=False)
    bands = _dedup.minhash_bands(
        _dedup._with_base_hash(sh).groupBy("doc_id").agg(
            *_dedup._minhash_aggs()
        )
    ).localCheckpoint(eager=False)
    pairs = _dedup.minhash_lsh_incremental(
        spark, batch_df, index_path,
        threshold=threshold, max_bucket_size=max_bucket_size,
        # exclude this batch's own (possibly half-written, crashed-
        # run) index partitions: a replayed batch must compute
        # against exactly the pre-batch corpus or its pair output
        # and bucket counts differ from the original run
        max_batch_id_exclusive=batch_id,
        sh_new=sh, bands_new=bands,
    )
    # The three sink writes are INDEPENDENT jobs: the pair lookup
    # reads the standing index strictly BELOW this batch_id, and the
    # two index appends land in batch_id=N directories that same
    # lookup excludes — so ordering between them carries no
    # information. Overlap them in a small thread pool (guide §2.6)
    # instead of serializing three fixed per-job latencies into every
    # micro-batch; each write is the same idempotent per-batch-subdir
    # overwrite as before, so the exactly-once replay contract is
    # untouched (a replayed batch still rewrites all three with
    # identical content).
    def _w_pairs() -> None:
        pairs.write.mode("overwrite").parquet(
            f"{out_path}/pairs/batch_id={batch_id}"
        )

    def _w_bands() -> None:
        # repartition by the partition column before the partitioned
        # write: without it every upstream task opens a writer per band
        # it touches (tasks × 16 tiny files per batch) — the file count
        # later lookups must list and open. After it, one file per band.
        _dedup._minhash_index_rows(bands, "bands").repartition(
            "band"
        ).write.mode("overwrite").partitionBy("band").parquet(
            f"{index_path}/bands/batch_id={batch_id}"
        )

    def _w_sh() -> None:
        _dedup._minhash_index_rows(sh, "shingles").write.mode(
            "overwrite"
        ).parquet(f"{index_path}/shingles/batch_id={batch_id}")

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        for fut in [pool.submit(w) for w in (_w_pairs, _w_bands, _w_sh)]:
            fut.result()


def streaming_neardup_against_index(
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    threshold: float = 0.2,
    max_bucket_size: int | None = 100,
):
    """Streaming NEAR-dup via the materialized LSH index: every
    micro-batch (a) emits its near-dup pairs against the standing
    corpus + itself, appended to `out_path/pairs`, then (b) appends its
    own band signatures and shingle posting lists to the index — so
    later batches dedup against everything seen so far.

    `foreachBatch` is the right boundary: the banding/verify joins are
    plain batch DataFrame ops (no streaming state), and the index
    append is a parquet write per micro-batch. State lives in the index
    files, not executor memory, so an unbounded stream needs no
    watermark for this operator — cost per batch scales with |batch| +
    touched buckets (see `dedup.minhash_lsh_incremental`).
    Exactly-once: every sink write goes to a per-batch subdirectory
    (`batch_id=N`, idempotent overwrite), AND the incremental lookup
    excludes index partitions with `batch_id >= N` — so a batch
    replayed after a crash recomputes against exactly the pre-batch
    corpus (not its own half-written rows) and rewrites its own
    directories with identical content. Readers see `batch_id` as a
    discovered partition column on `{out,index}_path` datasets.
    """
    def process(batch_df: DataFrame, batch_id: int) -> None:
        _neardup_batch(
            batch_df, batch_id, index_path, out_path,
            threshold=threshold, max_bucket_size=max_bucket_size,
        )

    query = (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", f"{out_path}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    _await_or_fail(query)
    return query


def streaming_warc_ingest(
    spark: SparkSession,
    warc_dir: str,
    index_path: str,
    out_path: str,
    threshold: float = 0.2,
    max_bucket_size: int | None = 100,
):
    """End-to-end incremental crawl ingestion (VERDICT r10 task #5):
    a file-source stream of `.warc.gz` archives → binary WARC parse
    (`sources/warc.parse_warc_records`, Arrow `mapInPandas` on the
    STREAMING DataFrame) → quarantine split → `html_to_text`
    extraction → near-dup against the standing LSH index — so the
    100 TB crawl story is incremental from the first byte: drop a new
    crawl file in the directory and exactly its pages get parsed,
    quarantined, extracted, and deduped against everything ingested
    before.

    Per micro-batch (one crawl file per trigger — the real
    geometry, one ~1 GiB archive per unit of arrival): quarantine
    rows land in `out_path/quarantine/batch_id=N` (torn/malformed
    records stay VISIBLE to curation, the WARC contract), good pages
    run the shared `_neardup_batch` (pairs to `out_path/pairs`, index
    append) — inheriting its exactly-once replay contract. State
    lives in index files, not executor memory; no watermark needed.

    The binary parse + extraction run INSIDE foreachBatch (on the
    batch DataFrame, fully consumed within the batch) rather than on
    the streaming plan: a mapInPandas node living across micro-batches
    leaves per-batch Python accumulators for the DAGScheduler to
    update after their py4j handles are collected — harmless but it
    spews GC'd-accumulator ERRORs into an otherwise clean driver log,
    and per-batch parse is the same work on the same Arrow path."""
    from ..sources.warc import parse_warc_records, warc_extract_pages

    raw = (
        spark.readStream.format("binaryFile")
        # streaming file sources require an explicit schema; this is
        # binaryFile's fixed one
        .schema(
            "path string, modificationTime timestamp,"
            " length long, content binary"
        )
        .option("pathGlobFilter", "*.warc.gz")
        .option("maxFilesPerTrigger", 1)
        .load(warc_dir)
        .select(
            F.element_at(F.split(F.col("path"), "/"), -1).alias("warc_file"),
            "content",
        )
    )

    # hold per-batch DataFrame handles while their tasks can still
    # emit completion events: a py4j handle GC'd mid-stream
    # invalidates its JVM accumulators while a late task-completion
    # event still tries to update them — harmless, but it spews
    # DAGScheduler ERRORs into a clean log. Capped at the last two
    # batches (foreachBatch is synchronous, so batch N-2's jobs are
    # long done when batch N starts) — bounded even if the
    # availableNow trigger below is ever swapped for a continuous one
    # (ADVICE r11 #3), and earlier batches' Arrow buffers are freed
    # as the drain progresses instead of pinned to query end.
    live_refs: list = []

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from concurrent.futures import ThreadPoolExecutor

        del live_refs[:-2]
        # EAGER checkpoint: the binary parse + extraction (the batch's
        # real payload) materializes exactly once, up front — so the
        # quarantine write and the near-dup work below both read
        # cached blocks and can run CONCURRENTLY (guide §2.6) without
        # racing to compute the parse twice. Lazy + sequential before:
        # the quarantine write paid the whole parse, then the near-dup
        # stage waited on it.
        pages = warc_extract_pages(
            parse_warc_records(batch_df)
        ).localCheckpoint(eager=True)
        good = pages.filter(F.col("ok")).select(
            F.regexp_extract(F.col("url"), "doc/([0-9]+)$", 1)
            .cast("long")
            .alias("doc_id"),
            "text",
        )
        live_refs.append((batch_df, pages, good))

        def _w_quarantine() -> None:
            pages.filter(~F.col("ok")).write.mode("overwrite").parquet(
                f"{out_path}/quarantine/batch_id={batch_id}"
            )

        with ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(_w_quarantine)
            _neardup_batch(
                good, batch_id, index_path, out_path,
                threshold=threshold, max_bucket_size=max_bucket_size,
            )
            fut.result()

    query = (
        raw.writeStream.foreachBatch(process)
        .option("checkpointLocation", f"{out_path}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    _await_or_fail(query)
    return query


def attribution_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream event-time join: attribute each purchase to every
    click by the same user within the preceding `ATTRIBUTION_HORIZON`.

    The canonical watermarked stream-stream inner join: both sides
    carry watermarks and the join condition carries an explicit
    event-time range (`click_ts < purchase_ts <= click_ts + horizon`),
    which is what lets Spark BOUND the join state — clicks are
    evictable `horizon + WATERMARK` past their event time, purchases
    `WATERMARK` past theirs (horizon = ATTRIBUTION_HORIZON); without
    the range the state store grows forever. State is keyed by
    user_id, so it spreads over executors like any keyed aggregation.

    The same function serves batch frames unchanged (the watermark is
    only attached to streaming inputs); the registered batch twin is
    oracle-checked, and test_streaming pins stream ≡ batch on the same
    files. `lag_us` is an exact integer microsecond difference —
    engine-reproducible, no float rounding in the contract.
    """
    c = clicks.select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if clicks.isStreaming:
        c = c.withWatermark("click_ts", WATERMARK)
    if purchases.isStreaming:
        p = p.withWatermark("purchase_ts", WATERMARK)
    joined = c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {ATTRIBUTION_HORIZON}")
        ),
    )
    return joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        (
            F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
        ).alias("lag_us"),
        "purchase_value",
    )


def run_to_memory_sink(
    stream_df: DataFrame, name: str, timeout_sec: int = 120
) -> DataFrame:
    """Drain a streaming DataFrame with an availableNow trigger into an
    in-memory table; returns the materialized result as a batch frame.

    `availableNow` processes everything currently in the source then
    stops — the reproducible backfill trigger; `complete`/`append` mode
    is chosen by Spark from the plan shape.
    """
    mode = "complete" if _has_aggregate(stream_df) else "append"
    query = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(timeout_sec)
    spark = stream_df.sparkSession
    return spark.table(name)


def _has_aggregate(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().analyzed().toString()
    return "Aggregate" in plan


def attribution_join_outer(purchases: DataFrame, clicks: DataFrame) -> DataFrame:
    """LEFT OUTER stream-stream event-time join: every purchase, with
    its attributing clicks where they exist and a NULL click row where
    none arrived — the "unattributed conversions" report.

    Outer emission is the semantics inner joins don't exercise: an
    unmatched purchase can only be emitted once the CLICK-side
    watermark has passed the end of its match window (before that, a
    matching click could still arrive), so the null rows materialize
    when the watermark advances — Structured Streaming runs the final
    no-data batch under availableNow precisely to flush them. Same
    state-bounding as the inner form: the event-time range condition
    plus both watermarks make click state evictable
    `ATTRIBUTION_HORIZON + WATERMARK` past event time.

    Purchases is the LEFT side here (contrast `attribution_join`,
    which is click-major): the preserved side must be the one whose
    unmatched rows the report wants. Serves batch frames unchanged;
    stream ≡ batch left join is pinned in test_streaming.
    """
    p = purchases.select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    c = clicks.select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    if purchases.isStreaming:
        p = p.withWatermark("purchase_ts", WATERMARK)
    if clicks.isStreaming:
        c = c.withWatermark("click_ts", WATERMARK)
    joined = p.join(
        c,
        (F.col("p_user_id") == F.col("user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {ATTRIBUTION_HORIZON}")
        ),
        "left_outer",
    )
    return joined.select(
        F.col("p_user_id").alias("user_id"),
        "purchase_id",
        "click_id",
        F.when(
            F.col("click_id").isNotNull(),
            F.unix_micros("purchase_ts") - F.unix_micros("click_ts"),
        ).alias("lag_us"),
        "purchase_value",
    )
