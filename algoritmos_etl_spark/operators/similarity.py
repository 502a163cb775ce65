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
- One pair's bundle (`pair_metrics`, `compare_two_assets`) is bounded by
  the calendar: its valid closes are gathered into one partition by one
  job and a single Arrow task aligns them and computes every metric,
  DTW included. A per-pair request pays one job, not a plan of window
  exchanges and joins.
- The all-pairs heatmap joins returns on date, which explodes each date
  across symbol pairs; with k symbols and n days that's O(n·k²) rows
  streamed through one aggregation — distributed, no driver
  materialization. The registered heatmap instead runs blocked matrix
  products over packed per-block returns and emits a τ/top-k
  sparsified pair set (`correlation_heatmap_blocked`).
- All-pairs DTW (`dtw_pairs`) is per-pair DP: series are gathered with
  `collect_list` (bounded: one row per trading day per symbol), pairs
  formed by a broadcast-able self-join, DP executed in an Arrow-batched
  `applyInPandas`. The Sakoe-Chiba band (w = max(n,m)//4, min 10,
  widened to ≥ |n−m|; window=0 ⇒ full matrix) and the 2-row memory
  optimization are preserved from the reference.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


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


def _pair_stats(ra, rb) -> dict:
    """X3 minus DTW over two aligned return vectors, in date order.

    Replays Spark's `sum`, `stddev_samp` and `covar_samp` arithmetic in
    row order (running sums, one-pass mean/co-moment updates), so a
    constant series has exactly zero variance, as in SQL. Degenerate
    results: euclidean null on no points; pearson 0.0 below two points
    or on zero variance (`similarity.py:188-190`); cosine 0.0 on a zero
    norm (`similarity.py:425-428`). NumPy's `log` may differ from the
    JVM's in the last bit, far below the oracle's 6-decimal grain.
    """
    n = 0
    mean_a = mean_b = m2_a = m2_b = ck = s_dd = s_ab = s_aa = s_bb = 0.0
    for x, y in zip(ra.tolist(), rb.tolist()):
        n += 1
        dx, dy = x - mean_a, y - mean_b
        mean_a += dx / n
        mean_b += dy / n
        m2_a += dx * (dx - dx / n)
        m2_b += dy * (dy - dy / n)
        ck += dx * (y - mean_b)
        s_dd += (x - y) * (x - y)
        s_ab += x * y
        s_aa += x * x
        s_bb += y * y
    sd = math.sqrt(m2_a / (n - 1)) * math.sqrt(m2_b / (n - 1)) if n > 1 else 0.0
    norms = math.sqrt(s_aa) * math.sqrt(s_bb)
    return {
        "euclidean": math.sqrt(s_dd) if n else None,
        "pearson": ck / (n - 1) / sd if sd else 0.0,
        "cosine": s_ab / norms if norms else 0.0,
        "n_points": n,
    }


def _pair_bundle(bars: DataFrame, sym_a, sym_b, with_dtw: bool) -> DataFrame:
    """One row of pair metrics from one job and one Arrow task.

    The pair's valid closes are gathered in one partition (`coalesce(1)`:
    the single-group aggregate then needs no exchange) as two day-sorted
    arrays. The task aligns them on shared days (P7), takes 0.0-fill log
    returns over the aligned sequence (W2) and computes `_pair_stats`;
    `with_dtw` adds the banded DTW of each symbol's own returns (X1), as
    the reference bundle does (`similarity.py:440-530`).
    """
    import numpy as np

    day_close = F.struct(F.unix_date("date").alias("day"), F.col("close"))
    sides = [("a", sym_a), ("b", sym_b)]
    gathered = (
        bars.filter(F.col("symbol").isin(sym_a, sym_b) & _valid_price("close"))
        .coalesce(1)
        .agg(*[
            F.array_sort(F.collect_list(F.when(F.col("symbol") == sym, day_close)))
            .alias(side)
            for side, sym in sides
        ])
        .select(*[
            F.col(f"{side}.{field}").alias(f"{field}s_{side}")
            for side, _sym in sides
            for field in ("day", "close")
        ])
    )

    def bundle(batches):
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                ca, cb = np.asarray(r.closes_a, float), np.asarray(r.closes_b, float)
                _, ia, ib = np.intersect1d(
                    np.asarray(r.days_a, np.int64), np.asarray(r.days_b, np.int64),
                    assume_unique=True, return_indices=True,
                )
                out = _pair_stats(
                    _zero_fill_log_returns(ca[ia]), _zero_fill_log_returns(cb[ib])
                )
                if with_dtw:
                    out["dtw"] = _dtw_numpy(
                        _zero_fill_log_returns(ca), _zero_fill_log_returns(cb)
                    )
                yield pd.DataFrame([out])

    schema = "euclidean double, pearson double, cosine double, n_points long"
    return gathered.mapInPandas(bundle, schema + (", dtw double" if with_dtw else ""))


def pair_metrics(bars: DataFrame, sym_a, sym_b) -> DataFrame:
    """X3 minus DTW: one row {euclidean, pearson, cosine, n_points}.
    `n_points` counts aligned RETURNS — len(returns_a) in the reference
    (`similarity.py:528`), i.e. aligned price pairs − 1."""
    return _pair_bundle(bars, sym_a, sym_b, with_dtw=False)


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


def correlation_heatmap(bars: DataFrame) -> DataFrame:
    """J5: Pearson correlation for every unordered symbol pair (a < b).

    Upper triangle only — the reference's symmetry optimization
    (`app.py:344-346`) kept as a query-shape choice; mirror at the edge
    if a full matrix is needed. Returns are joined on date so only
    co-traded days feed each pair's correlation. The date join shuffles
    O(pairs × shared days) rows: the small-corpus path (`/api/heatmap`)
    and the reference `correlation_heatmap_blocked` is tested against.
    """
    rets = per_symbol_returns(bars)
    a = rets.select(F.col("symbol").alias("sym_a"), "date", F.col("ret").alias("ret_a"))
    b = rets.select(F.col("symbol").alias("sym_b"), "date", F.col("ret").alias("ret_b"))
    joined = a.join(b, "date").filter(F.col("sym_a") < F.col("sym_b"))
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


# Emission of the blocked heatmap, read by the registered query and its
# DuckDB oracle: keep a pair iff |corr| >= τ and it is in either
# endpoint's top-k by (corr desc, partner asc). Both decisions are made
# on the 4-decimal grain floor(corr·1e4 + 0.5), pure IEEE ops that are
# bit-identical in NumPy, Spark and DuckDB: the raw rank-boundary gap
# at the 10× corpus shrank below the ~1e-9 one-pass/streaming corr
# divergence, while on the grain a boundary is an exact tie (broken by
# partner id) or ≥ 1e-4 apart.
HEATMAP_MIN_ABS_CORR = 0.25
HEATMAP_TOP_K = 10
# Block sizing: per-task memory is O(s² + s·D) for s symbols per block
# (six s×s statistic matrices per block pair), so the block count grows
# with the symbol count (45k symbols at B=8 once took ~1.5 GB per task).
_BLOCK_SYMBOLS = 1500
_MIN_BLOCKS = 8


def _on_days(x, m, days, own):
    """Widen a block's (k × |own|) returns and mask onto the `days` axis."""
    import numpy as np

    cols = np.searchsorted(days, own)
    wx = np.zeros((x.shape[0], len(days)))
    wm = np.zeros_like(wx)
    wx[:, cols] = x
    wm[:, cols] = m
    return wx, wm


def correlation_heatmap_blocked(bars: DataFrame) -> DataFrame:
    """J5 at scale: `correlation_heatmap`'s per-pair statistics over
    co-traded return days, computed as blocked matrix products and
    emitted sparsified (`HEATMAP_MIN_ABS_CORR`, `HEATMAP_TOP_K`).

    Plan, with the returns window and the pack each run once:
    - B blocks by pmod(symbol, B), B = max(_MIN_BLOCKS, ⌈symbols /
      _BLOCK_SYMBOLS⌉) from one broadcast row. The symbols are counted
      on the bars with one HyperLogLog aggregate (one stage, ~2 % error),
      so sizing needs no second returns pass and no distinct shuffle.
      B only sizes blocks; it never changes the result.
    - `pack` turns each block's returns into a dense (k_b × D_b) matrix
      plus presence mask over the block's own sorted trading days
      (`unix_date`), shipped as packed bytes (zero-copy on both sides
      of Arrow).
    - The B(B+1)/2 block-pair ids come from the same broadcast row and
      are dealt round-robin over `defaultParallelism` partitions, then
      joined to the packed blocks twice through one reused broadcast.
      Each pair row is one matmul step in NumPy: the six sufficient
      statistics (n, Σx, Σy, Σxy, Σx², Σy²) over the union of the two
      day axes, τ, then a per-symbol partial top-k. A global top-k
      partner is necessarily in its block-pair partial, so a final
      window picks the global top-k and the output is linear in symbols.

    Round-robin over a single-partition pair list gives every BLAS task
    ⌊P/n⌋ or ⌈P/n⌉ pairs of equal cost, and B is raised until P ≥ n, so
    no Python task gets an empty partition and no core idles. AQE does
    not coalesce a numbered repartition: coalescing by bytes starved
    this stage 15-wide on 32 cores at the 100× corpus, since block rows
    are small in bytes and heavy in compute. Only pair ids are
    shuffled; block bytes travel in the broadcast (≈ the packed returns
    matrix, fine into the hundreds of MB).

    Fully lazy: constructing the DataFrame launches zero Spark jobs.
    Float caveat: the one-pass formula and a two-pass streaming `corr`
    agree to ~1e-9, which the emission grain absorbs.
    """
    import numpy as np

    k, tau_q = HEATMAP_TOP_K, HEATMAP_MIN_ABS_CORR * 10000.0
    n_par = bars.sparkSession.sparkContext.defaultParallelism
    min_blocks = _MIN_BLOCKS
    while min_blocks * (min_blocks + 1) // 2 < n_par:
        min_blocks += 1
    meta = bars.filter(_valid_price("close")).agg(
        F.greatest(
            F.lit(min_blocks),
            F.ceil(F.approx_count_distinct("symbol") / F.lit(_BLOCK_SYMBOLS)).cast("int"),
        ).alias("n_blocks")
    )
    keyed = per_symbol_returns(bars).crossJoin(F.broadcast(meta)).select(
        F.pmod(F.col("symbol"), F.col("n_blocks")).cast("int").alias("block"),
        "symbol",
        F.unix_date("date").alias("day"),
        "ret",
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        syms, rows = np.unique(pdf["symbol"].to_numpy(), return_inverse=True)
        days, cols = np.unique(pdf["day"].to_numpy(), return_inverse=True)
        x = np.zeros((len(syms), len(days)))
        m = np.zeros_like(x)
        x[rows, cols] = pdf["ret"].to_numpy()
        m[rows, cols] = 1.0
        return pd.DataFrame(
            {
                "block": [int(pdf["block"].iloc[0])],
                "syms": [syms.astype("int64").tobytes()],
                "days": [days.astype("int32").tobytes()],
                "x": [x.tobytes()],
                "m": [m.tobytes()],
            }
        )

    blocks = keyed.groupBy("block").applyInPandas(
        pack, schema="block int, syms binary, days binary, x binary, m binary"
    )
    last = F.col("n_blocks") - 1
    pairs = (
        meta.select(F.explode(F.sequence(F.lit(0), last)).alias("ba"), "n_blocks")
        .select("ba", F.explode(F.sequence("ba", last)).alias("bb"))
        .repartition(n_par)
    )

    # rename-only projections keep both broadcast subtrees canonically
    # equal, so the second is a reused exchange and pack runs once
    def side(s: str) -> DataFrame:
        return F.broadcast(blocks.select([F.col(c).alias(c + s) for c in blocks.columns]))

    joined = pairs.join(side("_a"), F.col("ba") == F.col("block_a")).join(
        side("_b"), F.col("bb") == F.col("block_b")
    )

    def corr_blocks(batches):
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                sa = np.frombuffer(r.syms_a, "int64")
                sb = np.frombuffer(r.syms_b, "int64")
                da = np.frombuffer(r.days_a, "int32")
                db = np.frombuffer(r.days_b, "int32")
                xa = np.frombuffer(r.x_a).reshape(len(sa), len(da))
                ma = np.frombuffer(r.m_a).reshape(len(sa), len(da))
                xb = np.frombuffer(r.x_b).reshape(len(sb), len(db))
                mb = np.frombuffer(r.m_b).reshape(len(sb), len(db))
                if not np.array_equal(da, db):
                    days = np.union1d(da, db)
                    xa, ma = _on_days(xa, ma, days, da)
                    xb, mb = _on_days(xb, mb, days, db)
                n = ma @ mb.T
                sx = xa @ mb.T
                sy = ma @ xb.T
                sxy = xa @ xb.T
                sxx = (xa * xa) @ mb.T
                syy = ma @ (xb * xb).T
                with np.errstate(invalid="ignore", divide="ignore"):
                    nn = np.where(n > 0, n, 1)
                    cov = sxy - sx * sy / nn
                    denom = np.sqrt((sxx - sx * sx / nn) * (syy - sy * sy / nn))
                    corr = np.where(denom > 0, cov / np.where(denom > 0, denom, 1), 0.0)
                ia, jb = np.nonzero(n > 0)
                pear = np.nan_to_num(corr[ia, jb])
                pq = np.floor(pear * 10000.0 + 0.5)
                keep = np.abs(pq) >= tau_q
                if r.ba == r.bb:
                    keep &= sa[ia] < sb[jb]
                ia, jb, pear, pq = ia[keep], jb[keep], pear[keep], pq[keep]
                npts = n[ia, jb].astype(np.int64)
                # both directions, ordered by (sym, corr desc, partner
                # asc) on the emission grain; keep each sym's first k
                sym = np.concatenate([sa[ia], sb[jb]])
                other = np.concatenate([sb[jb], sa[ia]])
                order = np.lexsort((other, -np.concatenate([pq, pq]), sym))
                s = sym[order]
                pos = np.arange(len(s))
                starts = np.ones(len(s), dtype=bool)
                starts[1:] = s[1:] != s[:-1]
                rank = pos - np.maximum.accumulate(np.where(starts, pos, 0))
                top = order[rank < k]
                yield pd.DataFrame(
                    {
                        "sym": sym[top],
                        "other": other[top],
                        "pearson": np.concatenate([pear, pear])[top],
                        "n_points": np.concatenate([npts, npts])[top],
                    }
                )

    directed = joined.mapInPandas(
        corr_blocks, schema="sym long, other long, pearson double, n_points long"
    )
    w = Window.partitionBy("sym").orderBy(
        F.floor(F.col("pearson") * 10000 + F.lit(0.5)).desc(),
        F.col("other").asc(),
    )
    survivors = (
        directed.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
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


def dtw_pairs(bars: DataFrame) -> DataFrame:
    """X1 at scale: banded DTW distance between the zero-filled log
    returns of every unordered symbol pair.

    Plan: per-symbol `collect_list(struct(date, close))` → one bounded
    array row per symbol → self-join on `sym_a < sym_b` (tiny, broadcast)
    → `mapInPandas` DP over batches of pairs. The DP arrays are one
    trading-day series each, so executor memory is flat.
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

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        prepped = []
        for row in pdf.itertuples(index=False):
            ra = _zero_fill_log_returns(np.asarray(row.closes_a, dtype=float))
            rb = _zero_fill_log_returns(np.asarray(row.closes_b, dtype=float))
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
                        (sym_a, sym_b, _dtw_numpy(ra, rb), n_a, n_b)
                    )
                continue
            a = np.stack([g[2] for g in grp])
            b = np.stack([g[3] for g in grp])
            dists = _dtw_numpy_batch(a, b)
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


def _dtw_numpy_batch(a, b):
    """`_dtw_numpy`'s default-band distance-only DP advanced for P
    same-shape pairs at once: a is (P, n), b is (P, m), same
    band/cost/recurrence per pair (equality with the per-pair kernel
    is pinned in tests). The j-recurrence stays a Python loop —
    cur[j-1] is a true sequential dependency — but each step is a
    width-P vector op, so the Python-iteration count is n·w per GROUP
    instead of per pair."""
    import numpy as np

    p, n = a.shape
    m = b.shape[1]
    w = max(10, max(n, m) // 4, abs(n - m))
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


def compare_two_assets(bars: DataFrame, sym_a, sym_b) -> DataFrame:
    """X3 full bundle: `pair_metrics` plus DTW, from the same one task."""
    return _pair_bundle(bars, sym_a, sym_b, with_dtw=True)


def dtw_path(bars: DataFrame, sym_a, sym_b) -> DataFrame:
    """X2: full-matrix DTW with the optimal warping path
    (`algorithms/similarity.py:536-608`) between two symbols' zero-
    filled log returns. One exploded row per path step (i, j) —
    viz-oriented, single-pair only.

    Reference parity (`app.py:246-265`): each returns vector is stride-
    downsampled to ~80 points (step = max(1, len//80)) BEFORE the
    full-matrix DP, and the backtracked path is thinned to ~60 steps
    (step = max(1, len(path)//60)) — the full O(n·m) matrix is the cost
    of backtracking, so the reference never runs it on raw-length
    series and neither do we."""
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
                pa = _zero_fill_log_returns(np.asarray(row.closes_a, dtype=float))
                pb = _zero_fill_log_returns(np.asarray(row.closes_b, dtype=float))
                # reference sample_list: lst[::step], per-series step
                pa = pa[:: max(1, len(pa) // 80)]
                pb = pb[:: max(1, len(pb) // 80)]
                dist, path = _dtw_numpy(pa, pb, window=0, with_path=True)
                path = path[:: max(1, len(path) // 60)]
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
