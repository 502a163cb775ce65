"""Pairwise time-series similarity: Euclidean / Pearson / cosine / DTW.

Reference parity (SURVEY.md §2.4/§2.9):
- A7 Pearson          — `algorithms/similarity.py:100-193` → built-in `corr`
- A8 Euclidean        — `algorithms/similarity.py:36-93`
- A9 Cosine           — `algorithms/similarity.py:359-433`
- X1 banded DTW       — `algorithms/similarity.py:200-352`
- X2 DTW with path    — `algorithms/similarity.py:536-608`
- X3 4-metric bundle  — `algorithms/similarity.py:440-530`
- J4/J5 pair join & all-pairs heatmap — `similarity.py:481-497`, `app.py:322-353`

Alignment semantics (P7, `similarity.py:481-497`): keep dates where BOTH
symbols have a valid (non-null, > 0) price, then compute 0.0-fill log
returns over the *aligned* sequence — returns are between consecutive
aligned positions, not consecutive calendar days.

Scale design:
- Pair metrics are grouped aggregates over a date-equi-join — shuffle on
  date, partial aggs map-side. For the all-pairs heatmap the join
  explodes each date across symbol pairs; with k symbols and n days
  that's O(n·k²) rows streamed through one aggregation — distributed,
  no driver materialization.
- DTW is inherently per-pair DP: series are gathered with
  `collect_list` (bounded: one row per trading day per symbol), pairs
  formed by a broadcast-able self-join, DP executed in an Arrow-batched
  `applyInPandas`. The Sakoe-Chiba band (w = max(n,m)//4, min 10,
  widened to ≥ |n−m|; window=0 ⇒ full matrix) and the 2-row memory
  optimization are preserved from the reference.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from algoritmos_etl_spark.functions.scalars import one_partition


def _valid_price(col: str) -> F.Column:
    return F.col(col).isNotNull() & (F.col(col) > 0)


def aligned_pairs(bars: DataFrame, sym_a, sym_b) -> DataFrame:
    """P7/J4: inner join the two symbols' valid closes on date."""
    a = bars.filter((F.col("symbol") == sym_a) & _valid_price("close")).select(
        "date", F.col("close").alias("close_a")
    )
    b = bars.filter((F.col("symbol") == sym_b) & _valid_price("close")).select(
        "date", F.col("close").alias("close_b")
    )
    return a.join(b, "date")


def aligned_returns(pairs: DataFrame) -> DataFrame:
    """0.0-fill (W2) log returns over the aligned two-column sequence.

    The input is ONE symbol pair's aligned dates (one row per trading
    day), bounded at any data scale, so a single-partition window is
    fine — partitioning by a pair-constant makes that explicit in the
    plan (non-empty partitionSpec ⇒ no `WindowExec: No Partition
    Defined` warning; physically identical single partition)."""
    w = Window.partitionBy(one_partition(F.col("date"))).orderBy("date")
    out = pairs
    for side in ("a", "b"):
        cur, prev = F.col(f"close_{side}"), F.lag(f"close_{side}").over(w)
        valid = prev.isNotNull() & (prev > 0) & (cur > 0)
        out = out.withColumn(
            f"ret_{side}", F.when(valid, F.log(cur / prev)).otherwise(F.lit(0.0))
        )
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .drop("_rn")
    )


def pair_metrics(bars: DataFrame, sym_a, sym_b) -> DataFrame:
    """X3 minus DTW: one row {euclidean, pearson, cosine, n_points}.

    `n_points` counts aligned RETURNS — len(returns_a) in the reference
    (`similarity.py:528`), i.e. aligned price pairs − 1 — the same
    population every metric aggregate runs over.
    Pearson degenerates to 0.0 on zero variance (`similarity.py:188-190`),
    cosine to 0.0 on a zero norm (`similarity.py:425-428`).
    """
    rets = aligned_returns(aligned_pairs(bars, sym_a, sym_b))
    a, b = F.col("ret_a"), F.col("ret_b")
    # try_divide, not plain corr / division: under ANSI mode (Spark 4
    # default) both THROW DIVIDE_BY_ZERO on a zero-variance series or
    # zero-norm vector — the exact degenerate inputs the reference
    # special-cases to 0.0 (similarity.py:188-190, 425-428). The
    # covar/std form equals corr wherever corr is defined.
    return rets.agg(
        F.sqrt(F.sum((a - b) * (a - b))).alias("euclidean"),
        F.coalesce(
            F.try_divide(
                F.covar_samp(a, b),
                F.stddev_samp(a) * F.stddev_samp(b),
            ),
            F.lit(0.0),
        ).alias("pearson"),
        F.coalesce(
            F.try_divide(
                F.sum(a * b),
                F.sqrt(F.sum(a * a)) * F.sqrt(F.sum(b * b)),
            ),
            F.lit(0.0),
        ).alias("cosine"),
        F.count(F.lit(1)).alias("n_points"),
    )


def per_symbol_returns(bars: DataFrame) -> DataFrame:
    """Per-symbol 0.0-fill log returns over each symbol's own valid closes.

    Heatmap precomputes these once for all pairs — the reference's own
    optimization (`app.py:330-335`, SURVEY.md §4).
    """
    valid = bars.filter(_valid_price("close"))
    w = Window.partitionBy("symbol").orderBy("date")
    prev = F.lag("close").over(w)
    ok = prev.isNotNull() & (prev > 0) & (F.col("close") > 0)
    return (
        valid.withColumn(
            "ret", F.when(ok, F.log(F.col("close") / prev)).otherwise(F.lit(0.0))
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select("symbol", "date", "ret")
    )


def correlation_heatmap(bars: DataFrame, salt_buckets: int = 1) -> DataFrame:
    """J5: Pearson correlation for every unordered symbol pair (a < b).

    Upper triangle only — the reference's symmetry optimization
    (`app.py:344-346`) kept as a query-shape choice; mirror at the edge
    if a full matrix is needed. Returns are joined on date so only
    co-traded days feed each pair's correlation.

    The date join's key cardinality is the number of TRADING DAYS, so
    the join parallelizes into at most #dates expansion tasks. On real
    corpora (years → thousands of days) that exceeds any executor
    count and no salting is needed — but when cores >> days (wide
    cluster, short window), set `salt_buckets` ≈ cores/days: the
    a-side carries pmod(sym_a, G), the b-side replicates once per
    bucket (|returns| × G rows — trivial next to the join output) and
    every date splits into G balanced tasks. Default 1 (off): salting
    replicates b-side sort cost, a measured net loss whenever the date
    count already covers the cores (local[32] on the 30-day corpus:
    596 s unsalted vs 820 s salted at 10x).
    """
    rets = per_symbol_returns(bars)
    a = rets.select(
        F.col("symbol").alias("sym_a"), "date", F.col("ret").alias("ret_a")
    ).withColumn("_g", F.pmod(F.col("sym_a"), F.lit(salt_buckets)))
    b = rets.select(
        F.col("symbol").alias("sym_b"), "date", F.col("ret").alias("ret_b")
    ).withColumn(
        "_g", F.explode(F.array(*[F.lit(g) for g in range(salt_buckets)]))
    )
    joined = a.join(b, ["date", "_g"]).filter(F.col("sym_a") < F.col("sym_b"))
    return (
        joined.groupBy("sym_a", "sym_b")
        .agg(
            F.coalesce(
                F.try_divide(
                    F.covar_samp("ret_a", "ret_b"),
                    F.stddev_samp("ret_a") * F.stddev_samp("ret_b"),
                ),
                F.lit(0.0),
            ).alias("pearson"),  # try_divide: ANSI corr throws on zero variance
            F.count(F.lit(1)).alias("n_points"),
        )
    )


def correlation_heatmap_blocked(
    bars: DataFrame,
    n_blocks: int | None = None,
    max_block_symbols: int = 1500,
    min_abs_corr: float | None = None,
    top_k_per_symbol: int | None = None,
) -> DataFrame:
    """J5 at scale: the SAME pairwise-correlation semantics as
    `correlation_heatmap` (per-pair stats over co-traded return days
    only), computed as blocked matrix products instead of a date-join.

    The relational heatmap shuffles O(pairs × shared-days) rows — at
    10× symbols that is 100× pairs and it dominates the whole bench
    suite. Here each of B symbol blocks packs its returns into a dense
    (k_b × D) matrix + presence mask (D = calendar days, bounded);
    every block PAIR is one Arrow task computing the six per-pair
    sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) as NumPy/BLAS
    matmuls of masked matrices — O(k² · D) FLOPs with no shuffled pair
    rows at all. Work distributes over B(B+1)/2 independent tasks.

    Emission control — the 100× story. The compute is inherently
    O(k²·D) dense FLOPs, but EMITTING all k² pairs is the residual
    scale-killer (30× symbols = 900× result rows); both knobs filter
    INSIDE the block task before any row exists:
    - `min_abs_corr`: drop pairs with |corr| < τ (constant-factor cut);
    - `top_k_per_symbol`: kNN-sparsify the correlation graph — keep a
      pair iff it is in EITHER endpoint's top-k by (corr desc, id asc).
      Blocks emit per-symbol partial top-k (≤ k rows per symbol per
      block pair, the classic distributed-top-k shape), a final window
      picks the global top-k, and output is linear in symbols (k·K
      unordered pairs) at ANY scale.

    Fully lazy: constructing the returned DataFrame launches ZERO Spark
    jobs. The calendar column index and the day/symbol counts are
    computed INSIDE the job — distinct dates get a dense rank (bounded
    |trading days| set, deliberate single-partition window) joined back
    onto the returns, and a broadcast one-row meta aggregate supplies
    D and (when `n_blocks` is None) the block count as plan expressions
    (per-task memory is O((k/B)²+(k/B)·D), so B must grow with the
    symbol count). Float caveat: the one-pass formula here and the
    two-pass streaming `corr` agree to ~1e-9 on return-scale data;
    callers comparing across engines should round (the registered query
    pins 4 decimals) and keep thresholds ≳1e-6 away from the data's
    corr values (pinned for the registered τ/k by a margin test).
    """
    import numpy as np

    rets = per_symbol_returns(bars)
    # one broadcast row: D (matrix width) and the symbol count that
    # sizes B when the caller didn't pin it. Per-task memory is
    # O((k/B)² + (k/B)·D): the six sufficient-statistic matrices of a
    # block PAIR are (k/B)² doubles each, so B must grow with the
    # symbol count or a 30x corpus OOMs the executor (observed: 45k
    # symbols at B=8 → 5.6k×5.6k×6 matrices ≈ 1.5 GB per task × one
    # per core). Bounding block size keeps per-task footprint ~100 MB
    # at any scale; task count grows B(B+1)/2, which is what a cluster
    # wants anyway.
    meta = rets.agg(
        F.count_distinct(F.col("date")).cast("int").alias("_ndays"),
        F.count_distinct(F.col("symbol")).alias("_nsyms"),
    )
    date_idx = rets.select("date").distinct().select(
        "date",
        (
            F.row_number().over(
                Window.partitionBy(one_partition(F.col("date"))).orderBy("date")
            )
            - 1
        ).alias("_didx"),
    )
    block_expr = (
        F.lit(n_blocks)
        if n_blocks is not None
        else F.greatest(
            F.lit(8),
            F.ceil(F.col("_nsyms") / F.lit(max_block_symbols)).cast("int"),
        )
    )
    indexed = (
        rets.join(date_idx, "date")
        .crossJoin(F.broadcast(meta))
        .withColumn("block", F.pmod(F.col("symbol"), block_expr))
    )

    # matrices travel as PACKED BYTES, not array<double>: a block row
    # is ~(k/B)·D·8 bytes and crosses the join B times, so per-element
    # list boxing (array<double> → Python list → np.asarray) dominated
    # the task time at the 30× corpus; tobytes/frombuffer is zero-copy
    # on both sides of Arrow
    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        n_days = int(pdf["_ndays"].iloc[0])
        syms = np.sort(pdf["symbol"].unique())
        srow = {s: i for i, s in enumerate(syms)}
        x = np.zeros((len(syms), n_days))
        m = np.zeros((len(syms), n_days))
        rows = pdf["symbol"].map(srow).to_numpy()
        cols = pdf["_didx"].to_numpy()
        x[rows, cols] = pdf["ret"].to_numpy()
        m[rows, cols] = 1.0
        return pd.DataFrame(
            {
                "block": [int(pdf["block"].iloc[0])],
                "ndays": [n_days],
                "syms": [np.asarray(syms, "int64").tobytes()],
                "x": [x.tobytes()],
                "m": [m.tobytes()],
            }
        )

    blocks = indexed.groupBy("block").applyInPandas(
        pack,
        schema="block int, ndays int, syms binary, x binary, m binary",
    )
    # The BLAS stage's parallelism is the a-side partition count of the
    # broadcast-NL join: block rows are small in BYTES (~MB) but huge
    # in downstream COMPUTE, so AQE's size-based partition coalescing
    # starves the stage (measured 15-wide on 32 cores at the 100×
    # corpus, with a straggler). An explicit-numPartitions repartition
    # is exempt from AQE coalescing and hash-averages the triangle
    # skew (block i pairs with B−i partners) across cores; it only
    # moves the B block rows, not pair rows. The b-side is broadcast
    # explicitly — at B blocks that is B×(k/B)×D×16 bytes ≈ the packed
    # returns matrix itself, fine into the hundreds of MB; a corpus
    # wide enough to break the broadcast is already an O(B²) all-pairs
    # job that belongs on the kNN/thresholded emission path anyway.
    # 3× oversubscription: ~1 block per partition at B ≈ 3·cores, so
    # the tail is one block's pair list, not a hash-unlucky clump.
    # No materialization of the packed blocks, DELIBERATELY: a lazy
    # localCheckpoint of an applyInPandas plan launches jobs at
    # CONSTRUCTION time (breaking the zero-jobs-until-action contract
    # test_plans pins), and Dataset persist() parks the multi-GB block
    # cache in the CacheManager until session end. The b-side therefore
    # recomputes the scan+pack subtree — measured immaterial next to
    # the BLAS stage (30×: 38.5 s here vs 39.8 s with an eager-ish
    # checkpoint; 100×: 214.6 s vs 231 s), because pack is one linear
    # pass while the pair stage is O(B²) matmuls.
    n_par = 3 * bars.sparkSession.sparkContext.defaultParallelism
    packed = blocks.repartition(n_par, "block")
    # Rename-only projections of the same column set keep the two
    # exchange subtrees canonically equal, which leaves Catalyst the
    # OPTION of exchange reuse (observed plans don't take it today —
    # the b-side sits under a BroadcastExchange — but a narrower b-side
    # projection would foreclose it for free ndb bytes saved).
    a = packed.select(
        F.col("block").alias("ba"), F.col("ndays").alias("nd"),
        F.col("syms").alias("sa"),
        F.col("x").alias("xa"), F.col("m").alias("ma"),
    )
    b = packed.select(
        F.col("block").alias("bb"), F.col("ndays").alias("ndb"),
        F.col("syms").alias("sb"),
        F.col("x").alias("xb"), F.col("m").alias("mb"),
    )
    joined = a.join(F.broadcast(b), F.col("ba") <= F.col("bb"))

    def corr_blocks(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                n_days = int(row.nd)
                sa = np.frombuffer(row.sa, "int64")
                sb = np.frombuffer(row.sb, "int64")
                xa = np.frombuffer(row.xa).reshape(len(sa), n_days)
                ma = np.frombuffer(row.ma).reshape(len(sa), n_days)
                xb = np.frombuffer(row.xb).reshape(len(sb), n_days)
                mb = np.frombuffer(row.mb).reshape(len(sb), n_days)
                n = ma @ mb.T
                sx = xa @ mb.T
                sy = ma @ xb.T
                sxy = xa @ xb.T
                sxx = (xa * xa) @ mb.T
                syy = ma @ (xb * xb).T
                with np.errstate(invalid="ignore", divide="ignore"):
                    cov = sxy - sx * sy / np.where(n > 0, n, 1)
                    vx = sxx - sx * sx / np.where(n > 0, n, 1)
                    vy = syy - sy * sy / np.where(n > 0, n, 1)
                    denom = np.sqrt(vx * vy)
                    corr = np.where(denom > 0, cov / np.where(denom > 0, denom, 1), 0.0)
                ia, jb = np.nonzero(n > 0)
                if row.ba == row.bb:
                    keep = sa[ia] < sb[jb]
                else:
                    keep = np.ones(len(ia), dtype=bool)
                if min_abs_corr is not None:
                    # threshold on the 4-decimal EMISSION grain (same
                    # quantization as the ranking below): the raw
                    # one-pass corr differs from a streaming corr by
                    # ~1e-9, so any comparison that decides emission
                    # must happen on a grain both engines agree on.
                    # The quantizer is floor(p*1e4 + 0.5) — pure IEEE
                    # ops, BIT-IDENTICAL in numpy, Spark, and DuckDB.
                    # np.round (half-even on the binary double) vs
                    # Spark F.round (HALF_UP on the shortest decimal
                    # repr) vs DuckDB round are THREE implementations
                    # that disagree on exact .xxxx5 doubles; one shared
                    # formula removes that divergence class entirely.
                    keep &= (
                        np.abs(
                            np.floor(
                                np.nan_to_num(corr[ia, jb]) * 10000.0 + 0.5
                            )
                        )
                        >= min_abs_corr * 10000.0
                    )
                ia, jb = ia[keep], jb[keep]
                pear = np.nan_to_num(corr[ia, jb])
                npts = n[ia, jb].astype(np.int64)
                if top_k_per_symbol is None:
                    lo = np.minimum(sa[ia], sb[jb])
                    hi = np.maximum(sa[ia], sb[jb])
                    yield pd.DataFrame(
                        {
                            "sym_a": lo,
                            "sym_b": hi,
                            "pearson": pear,
                            "n_points": npts,
                        }
                    )
                    continue
                # per-symbol PARTIAL top-k within this block pair: emit
                # both directions, sort by the global order (QUANTIZED
                # corr desc, partner asc), keep k per symbol — any
                # global top-k partner is necessarily in its block-pair
                # partial. Ranking on the 4-decimal emission grain
                # (r9): at the 10x corpus the raw rank-boundary gap
                # shrank below the ~1e-9 one-pass/streaming corr
                # divergence and engines disagreed on which pair made
                # a symbol's top-k; on the quantized grain the gap is
                # either exactly 0 (tie, broken by partner id) or
                # >= 1e-4 — decidable by any engine.
                part = pd.DataFrame(
                    {
                        "sym": np.concatenate([sa[ia], sb[jb]]),
                        "other": np.concatenate([sb[jb], sa[ia]]),
                        "pearson": np.concatenate([pear, pear]),
                        "n_points": np.concatenate([npts, npts]),
                    }
                )
                part["_pq"] = np.floor(part["pearson"] * 10000.0 + 0.5)
                part = part.sort_values(
                    ["sym", "_pq", "other"], ascending=[True, False, True]
                )
                yield part.groupby("sym", sort=False).head(
                    top_k_per_symbol
                ).drop(columns="_pq")

    if top_k_per_symbol is None:
        return joined.mapInPandas(
            corr_blocks,
            schema="sym_a long, sym_b long, pearson double, n_points long",
        )
    directed = joined.mapInPandas(
        corr_blocks,
        schema="sym long, other long, pearson double, n_points long",
    )
    # final rank on the same quantized grain as the block partials —
    # the shared floor(p*1e4 + 0.5) quantizer, see the note inside
    # corr_blocks (F.round would be a DIFFERENT rounding than the
    # numpy partial's on exact .xxxx5 doubles)
    w = Window.partitionBy("sym").orderBy(
        F.floor(F.col("pearson") * 10000 + F.lit(0.5)).desc(),
        F.col("other").asc(),
    )
    survivors = (
        directed.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= top_k_per_symbol)
        .drop("_r")
    )
    # a pair kept from both endpoints appears twice (identical stats):
    # collapse to one unordered row. max() == the unique value.
    return (
        survivors.select(
            F.least("sym", "other").alias("sym_a"),
            F.greatest("sym", "other").alias("sym_b"),
            "pearson",
            "n_points",
        )
        .groupBy("sym_a", "sym_b")
        .agg(F.max("pearson").alias("pearson"), F.max("n_points").alias("n_points"))
    )


def _dtw_numpy(a, b, window=None, with_path: bool = False):
    """Banded DTW distance (reference `similarity.py:200-352`).

    Cost |a_i − b_j|; band |i−j| ≤ w with w = max(n,m)//4 (min 10,
    widened to ≥ |n−m|) when window is None; window=0 ⇒ full matrix.
    2-row rolling storage. `with_path=True` keeps the full matrix and
    backtracks (X2, `similarity.py:536-608`).
    """
    import numpy as np

    n, m = len(a), len(b)
    if n == 0 or m == 0:
        # reference dtw_distance returns 0.0 on an empty series (a
        # symbol with <2 valid closes has an empty returns vector)
        return (0.0, []) if with_path else 0.0
    if window is None:
        w = max(10, max(n, m) // 4)
    elif window == 0:
        w = max(n, m)
    else:
        w = window
    w = max(w, abs(n - m))
    inf = float("inf")
    a = np.asarray(a, dtype=float)
    b = np.asarray(b, dtype=float)
    if with_path:
        dp = np.full((n + 1, m + 1), inf)
        dp[0, 0] = 0.0
        for i in range(1, n + 1):
            lo, hi = max(1, i - w), min(m, i + w)
            for j in range(lo, hi + 1):
                cost = abs(a[i - 1] - b[j - 1])
                dp[i, j] = cost + min(dp[i - 1, j], dp[i, j - 1], dp[i - 1, j - 1])
        path = []
        i, j = n, m
        while i > 0 or j > 0:
            path.append((i - 1, j - 1))
            if i == 0:
                j -= 1
            elif j == 0:
                i -= 1
            else:
                step = min(dp[i - 1, j - 1], dp[i - 1, j], dp[i, j - 1])
                if step == dp[i - 1, j - 1]:
                    i, j = i - 1, j - 1
                elif step == dp[i - 1, j]:
                    i -= 1
                else:
                    j -= 1
        path.reverse()
        return float(dp[n, m]), path
    prev = np.full(m + 1, inf)
    prev[0] = 0.0
    cur = np.full(m + 1, inf)
    for i in range(1, n + 1):
        cur.fill(inf)
        lo, hi = max(1, i - w), min(m, i + w)
        costs = np.abs(a[i - 1] - b[lo - 1 : hi])
        for idx, j in enumerate(range(lo, hi + 1)):
            cur[j] = costs[idx] + min(prev[j], prev[j - 1], cur[j - 1])
        prev, cur = cur, prev
    return float(prev[m])


def dtw_pairs(
    bars: DataFrame,
    pairs: list[tuple] | None = None,
    window: int | None = None,
    use_returns: bool = True,
    min_abs_corr: float | None = None,
) -> DataFrame:
    """X1 at scale: DTW distance for symbol pairs (all unordered pairs
    by default).

    Plan: per-symbol `collect_list(struct(date, close))` → one bounded
    array row per symbol → self-join on `sym_a < sym_b` (tiny, broadcast)
    → `applyInPandas` DP per pair. Each task handles one pair; the DP
    arrays are one trading-day series each, so executor memory is flat.

    `min_abs_corr` is the documented scale path for all-pairs DTW: the
    k² pair count is the real cost at corpus scale, so prefilter pairs
    by |Pearson| ≥ τ (one cheap JVM-side aggregation over the same
    date-join the heatmap uses) and run the O(n·w) DP only on the
    survivors. Correlated series are exactly the low-DTW candidates —
    recall of the prefilter is pinned by tests.
    """
    valid = bars.filter(_valid_price("close"))
    series = (
        valid.groupBy("symbol")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("date", "close"))
            ).alias("series")
        )
        .select("symbol", F.col("series.close").alias("closes"))
    )
    a = series.select(F.col("symbol").alias("sym_a"), F.col("closes").alias("closes_a"))
    b = series.select(F.col("symbol").alias("sym_b"), F.col("closes").alias("closes_b"))
    joined = a.crossJoin(b).filter(F.col("sym_a") < F.col("sym_b"))
    if pairs is not None:
        cond = F.lit(False)
        for pa, pb in pairs:
            lo, hi = sorted((pa, pb))
            cond = cond | ((F.col("sym_a") == lo) & (F.col("sym_b") == hi))
        joined = joined.filter(cond)
    if min_abs_corr is not None:
        allowed = correlation_heatmap(bars).filter(
            F.abs(F.col("pearson")) >= min_abs_corr
        ).select("sym_a", "sym_b")
        joined = joined.join(allowed, ["sym_a", "sym_b"], "left_semi")

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        prepped = []
        for row in pdf.itertuples(index=False):
            pa = np.asarray(row.closes_a, dtype=float)
            pb = np.asarray(row.closes_b, dtype=float)
            if use_returns:
                ra = _zero_fill_log_returns(pa)
                rb = _zero_fill_log_returns(pb)
            else:
                ra, rb = pa, pb
            prepped.append((row.sym_a, row.sym_b, ra, rb))
        # batch the DP across pairs of the SAME series shape (on one
        # calendar that is nearly every pair): the banded row loop is
        # inherently sequential in j, so per-pair it is n·w PYTHON
        # iterations — batched, the same loop advances all P pairs per
        # step with width-P vector ops, so the Python-iteration count
        # is per shape-group, not per pair (measured ~2× at sf0.1)
        rows = []
        groups: dict = {}
        for sym_a, sym_b, ra, rb in prepped:
            groups.setdefault((len(ra), len(rb)), []).append(
                (sym_a, sym_b, ra, rb)
            )
        for (n_a, n_b), grp in groups.items():
            if n_a == 0 or n_b == 0 or len(grp) == 1:
                for sym_a, sym_b, ra, rb in grp:
                    rows.append(
                        (sym_a, sym_b, _dtw_numpy(ra, rb, window=window), n_a, n_b)
                    )
                continue
            a = np.stack([g[2] for g in grp])
            b = np.stack([g[3] for g in grp])
            dists = _dtw_numpy_batch(a, b, window=window)
            rows.extend(
                (g[0], g[1], float(d), n_a, n_b) for g, d in zip(grp, dists)
            )
        return pd.DataFrame(
            rows, columns=["sym_a", "sym_b", "dtw", "n_a", "n_b"]
        )

    def run_batches(batches):
        for pdf in batches:
            if len(pdf):
                yield run(pdf)

    # mapInPandas, not groupBy().applyInPandas: pairs are already rows
    # after the self-join, and batching many pairs per UDF call avoids
    # a per-pair Python invocation (measured ~4 ms/pair of pure
    # overhead at sf0.1).
    return joined.mapInPandas(
        run_batches, schema="sym_a long, sym_b long, dtw double, n_a long, n_b long"
    )


def _dtw_numpy_batch(a, b, window=None):
    """`_dtw_numpy`'s distance-only DP advanced for P same-shape pairs
    at once: a is (P, n), b is (P, m), same band/cost/recurrence per
    pair (equality with the per-pair kernel is pinned in tests). The
    j-recurrence stays a Python loop — cur[j-1] is a true sequential
    dependency — but each step is a width-P vector op, so the
    Python-iteration count is n·w per GROUP instead of per pair."""
    import numpy as np

    p, n = a.shape
    m = b.shape[1]
    if window is None:
        w = max(10, max(n, m) // 4)
    elif window == 0:
        w = max(n, m)
    else:
        w = window
    w = max(w, abs(n - m))
    inf = float("inf")
    prev = np.full((p, m + 1), inf)
    prev[:, 0] = 0.0
    cur = np.full((p, m + 1), inf)
    for i in range(1, n + 1):
        cur.fill(inf)
        lo, hi = max(1, i - w), min(m, i + w)
        costs = np.abs(a[:, i - 1 : i] - b[:, lo - 1 : hi])
        for idx, j in enumerate(range(lo, hi + 1)):
            np.minimum(prev[:, j], prev[:, j - 1], out=cur[:, j])
            np.minimum(cur[:, j], cur[:, j - 1], out=cur[:, j])
            cur[:, j] += costs[:, idx]
        prev, cur = cur, prev
    return prev[:, m]


def _zero_fill_log_returns(prices):
    """W2 semantics on a NumPy vector (for the DTW UDF's input prep)."""
    import numpy as np

    prev, cur = prices[:-1], prices[1:]
    ok = (prev > 0) & (cur > 0)
    out = np.zeros(len(cur))
    out[ok] = np.log(cur[ok] / prev[ok])
    return out


def compare_two_assets(bars: DataFrame, sym_a, sym_b, window: int | None = None) -> DataFrame:
    """X3 full bundle: euclidean/pearson/cosine natively + DTW UDF."""
    metrics = pair_metrics(bars, sym_a, sym_b)
    if sym_a == sym_b:
        # dtw_pairs keeps sym_a < sym_b only; a series is 0 from itself
        return metrics.withColumn("dtw", F.lit(0.0))
    dtw = dtw_pairs(bars, pairs=[(sym_a, sym_b)], window=window).select("dtw")
    return metrics.crossJoin(dtw)


def dtw_path(
    bars: DataFrame, sym_a, sym_b, use_returns: bool = True,
    target_points: int | None = 80, path_points: int | None = 60,
) -> DataFrame:
    """X2: full-matrix DTW with the optimal warping path
    (`algorithms/similarity.py:536-608`). One exploded row per path
    step (i, j) — viz-oriented, single-pair only.

    Reference parity (`app.py:246-265`): each returns vector is stride-
    downsampled to ~`target_points` (step = max(1, len//target)) BEFORE
    the full-matrix DP, and the backtracked path is thinned to
    ~`path_points` (step = max(1, len(path)//path_points)) — the full
    O(n·m) matrix is the cost of backtracking, so the reference never
    runs it on raw-length series and neither do we. Pass None for
    either to disable (exact full-resolution path)."""
    valid = bars.filter(
        F.col("symbol").isin([sym_a, sym_b]) & _valid_price("close")
    )
    series = (
        valid.groupBy("symbol")
        .agg(F.array_sort(F.collect_list(F.struct("date", "close"))).alias("s"))
        .select("symbol", F.col("s.close").alias("closes"))
    )
    a = series.filter(F.col("symbol") == sym_a).select(
        F.col("symbol").alias("sym_a"), F.col("closes").alias("closes_a")
    )
    b = series.filter(F.col("symbol") == sym_b).select(
        F.col("symbol").alias("sym_b"), F.col("closes").alias("closes_b")
    )
    joined = a.crossJoin(b)

    def run(batches):
        import numpy as np

        for pdf in batches:
            for row in pdf.itertuples(index=False):
                pa = np.asarray(row.closes_a, dtype=float)
                pb = np.asarray(row.closes_b, dtype=float)
                if use_returns:
                    pa, pb = _zero_fill_log_returns(pa), _zero_fill_log_returns(pb)
                if target_points:
                    # reference sample_list: lst[::step], per-series step
                    pa = pa[:: max(1, len(pa) // target_points)]
                    pb = pb[:: max(1, len(pb) // target_points)]
                dist, path = _dtw_numpy(pa, pb, window=0, with_path=True)
                if path_points:
                    path = path[:: max(1, len(path) // path_points)]
                yield pd.DataFrame(
                    {
                        "sym_a": row.sym_a,
                        "sym_b": row.sym_b,
                        "dtw": dist,
                        "step": range(len(path)),
                        "i": [p[0] for p in path],
                        "j": [p[1] for p in path],
                    }
                )

    return joined.mapInPandas(
        run, schema="sym_a long, sym_b long, dtw double, step int, i int, j int"
    )
