"""Sliding-window pattern detection: up-streaks and gap-ups.

Reference parity (SURVEY.md §2.5):
- W5 `detect_consecutive_ups` — `algorithms/patterns.py:28-148`
- W6 `detect_gap_ups`         — `algorithms/patterns.py:155-264`
- A5/A6/A13 counts & histograms — `algorithms/patterns.py:88-141, 220-232`

Semantics pinned from the reference:
- `ups[i] = 1 iff close[i] > close[i-1]` for i ≥ 1 (length n−1).
- `gaps[i] = 1 iff open[i] > high[i-1]` for i ≥ 1.
- W5 counts maximal runs of 1s inside EVERY sliding window of size w
  over the ups array; runs crossing a window border are truncated and
  re-counted per window, so frequencies overlap across windows
  (`patterns.py:106-141`). That exact histogram has no SQL idiom →
  `applyInPandas` per symbol (SURVEY.md §7.3). The GLOBAL run-length
  histogram (no windows) is pure SQL via the difference-of-row-numbers
  run-length encoding and is the oracle-checkable variant.
- W6's per-window gap count is a plain bounded-frame sum — pure built-ins.
- The W5/W6 scalars (`pattern_stats`) take one lag/row_number window
  pass and one groupBy: the longest up-run is a running max of break
  positions, the window gap maximum a bounded-frame sum.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def _series_w():
    return Window.partitionBy("symbol").orderBy("date")


def up_flags(bars: DataFrame) -> DataFrame:
    """Binarize per-symbol daily closes into up/not-up (rows i ≥ 1)."""
    prev = F.lag("close").over(_series_w())
    return (
        bars.withColumn("up", (F.col("close") > prev).cast("int"))
        .withColumn("_rn", F.row_number().over(_series_w()))
        .filter(F.col("_rn") > 1)
        .select("symbol", "date", "up", (F.col("_rn") - 1).alias("pos"))
    )


def global_streak_histogram(bars: DataFrame) -> DataFrame:
    """Per-symbol histogram of maximal runs of consecutive up-days.

    Run-length encoding via the difference-of-row-numbers idiom: within
    a symbol, `pos − row_number()` is constant across a maximal run of
    up==1 rows. Two window passes + two aggregations, all JVM-side.
    """
    ups = up_flags(bars).filter(F.col("up") == 1)
    grp_w = Window.partitionBy("symbol").orderBy("pos")
    runs = (
        ups.withColumn("grp", F.col("pos") - F.row_number().over(grp_w))
        .groupBy("symbol", "grp")
        .agg(F.count(F.lit(1)).alias("streak_length"))
    )
    return (
        runs.groupBy("symbol", "streak_length")
        .agg(F.count(F.lit(1)).alias("frequency"))
    )


def _windowed_streak_hist_naive(arr, window_size: int) -> dict[int, int]:
    """Direct simulation of the reference loop (`patterns.py:106-141`):
    for every sliding window, count border-truncated maximal runs.
    O(n·w) — kept as the semantics oracle for the analytic version."""
    freq: dict[int, int] = {}
    n = len(arr)
    for start in range(0, n - window_size + 1):
        run = 0
        for val in arr[start : start + window_size]:
            if val == 1:
                run += 1
            elif run:
                freq[run] = freq.get(run, 0) + 1
                run = 0
        if run:
            freq[run] = freq.get(run, 0) + 1
    return freq


def _windowed_streak_hist(arr, window_size: int) -> dict[int, int]:
    """Exact W5 histogram in O(#runs + w) instead of O(n·w).

    A window's runs are exactly the intersections of the window with
    the GLOBAL maximal runs (elements adjacent to a run are 0, so each
    intersection stays maximal inside the window). For a run [a, b)
    of length L and window start s, the intersection length over the
    valid starts s ∈ [a−w+1, b−1] ∩ [0, n−w] splits into four disjoint
    start-ranges:
      covered   (s ≤ a, s+w ≥ b): length L        — one scalar bin
      covering  (s > a, s+w < b): length w        — one scalar bin
      right-cut (s ≤ a, s+w < b): length s+w−a    — contiguous bin range
      left-cut  (s > a, s+w ≥ b): length b−s      — contiguous bin range
    Bin-range increments accumulate in a difference array, folded once.
    Every bin update is O(1), so cost is independent of how many
    windows overlap each run — the reference's overlapping-recount
    semantics at linear cost.
    """
    import numpy as np

    w = window_size
    n = len(arr)
    s_max = n - w
    if s_max < 0:
        return {}
    padded = np.concatenate(([0], np.asarray(arr, dtype=np.int8), [0]))
    d = np.diff(padded)
    starts = np.nonzero(d == 1)[0]
    ends = np.nonzero(d == -1)[0]  # exclusive
    bins = np.zeros(w + 1, dtype=np.int64)
    delta = np.zeros(w + 2, dtype=np.int64)
    for a, b in zip(starts.tolist(), ends.tolist()):
        length = b - a
        if length <= w:  # covered: s ∈ [b−w, a]
            lo, hi = max(b - w, 0), min(a, s_max)
            if lo <= hi:
                bins[length] += hi - lo + 1
        lo, hi = max(a + 1, 0), min(b - w - 1, s_max)  # covering
        if lo <= hi:
            bins[w] += hi - lo + 1
        lo, hi = max(a - w + 1, 0), min(b - w - 1, a, s_max)  # right-cut
        if lo <= hi:
            delta[lo + w - a] += 1
            delta[hi + w - a + 1] -= 1
        lo, hi = max(a + 1, b - w, 0), min(b - 1, s_max)  # left-cut
        if lo <= hi:
            delta[b - hi] += 1
            delta[b - lo + 1] -= 1
    bins[1 : w + 1] += np.cumsum(delta[1 : w + 1])
    return {
        int(length): int(c) for length, c in enumerate(bins) if length >= 1 and c > 0
    }


def windowed_streak_histogram(bars: DataFrame, window_size: int) -> DataFrame:
    """W5 exact semantics: truncated-run histogram over every window.

    For each symbol: slide a window of `window_size` over the ups array;
    in each window count maximal runs of 1s (border-truncated);
    accumulate {run_length: frequency}. No SQL idiom exists for the
    overlapping re-counted windows, so this runs as an Arrow-batched
    `applyInPandas` per symbol — but with the analytic O(#runs + w)
    histogram (see `_windowed_streak_hist`), not the O(n·w) simulation,
    so per-task cost stays linear in each symbol's history length.

    Batching shape: NOT `groupBy(symbol).applyInPandas` — that invokes
    Python once per symbol (1,500 interpreter round-trips at sf0.1;
    millions at corpus scale, each paying serialization + GIL setup for
    a few hundred rows). Instead the table is hash-partitioned by
    symbol and sorted (symbol, date) within partitions, and ONE
    `mapInPandas` task streams each partition's Arrow batches, slicing
    symbol runs out of every batch and carrying the trailing
    (possibly batch-split) symbol over to the next batch. Python is
    entered once per partition, not once per symbol, and per-symbol
    work is the same O(#runs + w) NumPy histogram.
    """
    import numpy as np

    def symbol_rows(arr_closes, window_size):
        return _windowed_streak_hist(
            np.greater(arr_closes[1:], arr_closes[:-1]).astype(np.int8),
            window_size,
        )

    def per_partition(batches):
        carry_sym = None
        carry_closes: list = []
        out_sym: list = []
        out_len: list = []
        out_freq: list = []

        def flush(sym, closes):
            # up[i] = close[i] > close[i-1]; NaN comparisons are False,
            # matching the lag-window's null→0 semantics
            freq = symbol_rows(np.asarray(closes, dtype=float), window_size)
            for length, c in freq.items():
                out_sym.append(sym)
                out_len.append(length)
                out_freq.append(c)

        for pdf in batches:
            syms = pdf["symbol"].to_numpy()
            closes = pdf["close"].to_numpy(dtype=float)
            if len(syms) == 0:
                continue
            # boundaries of symbol runs inside this (sorted) batch
            cuts = np.nonzero(syms[1:] != syms[:-1])[0] + 1
            starts = np.concatenate(([0], cuts))
            ends = np.concatenate((cuts, [len(syms)]))
            for s, e in zip(starts.tolist(), ends.tolist()):
                sym = int(syms[s])
                seg = closes[s:e]
                if carry_sym is not None and sym == carry_sym:
                    carry_closes.append(seg)
                    continue
                if carry_sym is not None:
                    flush(carry_sym, np.concatenate(carry_closes))
                carry_sym = sym
                carry_closes = [seg]
        if carry_sym is not None:
            flush(carry_sym, np.concatenate(carry_closes))
        yield pd.DataFrame(
            {"symbol": out_sym, "streak_length": out_len, "frequency": out_freq}
        ).astype({"symbol": "int64", "streak_length": "int32", "frequency": "int64"})

    clustered = (
        bars.select("symbol", "date", "close")
        .repartition("symbol")
        .sortWithinPartitions("symbol", "date")
    )
    return clustered.mapInPandas(
        per_partition, schema="symbol long, streak_length int, frequency long"
    )


def pattern_stats(bars: DataFrame, window_size: int) -> DataFrame:
    """W5 + W6/A6 scalars per symbol (total_ups, total_windows,
    max_streak, total_gaps, gap_dates, max_gaps_in_window) from one
    window pass and one groupBy; a one-row symbol has no flags, no row.

    `max_streak` (max run seen inside any window) is min(longest up-run,
    w): every run ≤ w fits wholly in some window and longer runs are
    truncated to w. The up-run ending at a row is `rn` minus the running
    max of the last break (up not 1, the first row included).
    `max_gaps_in_window` maxes the trailing w-flag gap sum over the rows
    that close a full window (rn ≥ w+1); null if none does.
    """
    w = _series_w()
    flags = bars.select(
        "symbol",
        "date",
        (F.col("close") > F.lag("close").over(w)).cast("int").alias("up"),
        (F.col("open") > F.lag("high").over(w)).cast("int").alias("gap"),
        F.row_number().over(w).alias("rn"),
    )
    last_break = F.max(F.when(F.coalesce("up", F.lit(0)) != 1, F.col("rn")))
    gap_sum = F.sum("gap").over(w.rowsBetween(-(window_size - 1), 0))
    per_symbol = (
        flags.select(
            "*",
            (F.col("rn") - last_break.over(w.rowsBetween(Window.unboundedPreceding, 0)))
            .alias("run"),
            F.when(F.col("rn") > window_size, gap_sum).alias("window_gaps"),
        )
        .groupBy("symbol")
        .agg(
            F.count(F.when(F.col("rn") > 1, 1)).alias("n_flags"),
            F.sum("up").alias("total_ups"),
            F.max("run").alias("max_run"),
            F.sum("gap").alias("total_gaps"),
            F.sort_array(F.collect_list(F.when(F.col("gap") == 1, F.col("date"))))
            .alias("gap_dates"),
            F.max("window_gaps").alias("max_gaps_in_window"),
        )
    )
    windows = F.greatest(F.col("n_flags") - F.lit(window_size - 1), F.lit(0))
    return per_symbol.filter(F.col("n_flags") > 0).select(
        "symbol",
        "total_ups",
        windows.alias("total_windows"),
        F.when(windows == 0, F.lit(0))
        .otherwise(F.least("max_run", F.lit(window_size)))
        .alias("max_streak"),
        "total_gaps",
        "gap_dates",
        "max_gaps_in_window",
    )
