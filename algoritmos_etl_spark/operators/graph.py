"""Graph analytics: integer-exact weighted PageRank + TextRank.

The engine's canonical fixed-point graph ranking, in two steps: one
partial-aggregate shuffle onto the (u, v) edge grain (Spark), then ONE
single-group Arrow task (`applyInPandas` with no grouping key) that
runs all `ITERATIONS` rounds in numpy. The graphs it ranks are bounded
by construction — the corpus VOCABULARY for TextRank, the registrable-
DOMAIN set for host ranking — so 100 TB of input feeds one shuffle and
the loop itself is a few vectorised passes over a small edge list.
Why not Spark joins per round: the rounds' lineage must be truncated,
and under AQE each truncating checkpoint runs every shuffle-map stage
below it as its own job (~35 jobs per build for a 900-pair word graph
at sf0.1).

Scale ceiling: the whole aggregated edge list, plus O(nodes) rank
state, sits in ONE Python worker. That holds for vocabulary- and
domain-grain graphs (a few million edges take a few hundred MB of
pandas memory); a graph at document or URL grain does not belong
here.

Determinism contract (same idiom as the integer-exact Lloyd step):
ranks are int64 fixed-point (SCALE = 1e12). All per-iteration math is
integer — contributions use the overflow-safe decomposition
``floor(r·w/wu) = (r div wu)·w + ((r mod wu)·w) div wu`` (products
stay ≤ max(r, wu·w) << 2^63 instead of r·w), damping is
``15·SCALE/100 + 85·Σ/100`` in integer ops — so the result is
bit-identical on any engine and any partitioning, and the DuckDB
oracle reproduces the whole fixed-point loop.

Overflow contract: every int64 product and sum is bound-checked
exactly before it is formed (``q > INT64_MAX // w`` and friends), and
an overflow raises ``[ARITHMETIC_OVERFLOW]`` from the task, as Spark's
ANSI arithmetic does. Nothing wraps silently.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

SCALE = 10**12
ITERATIONS = 10
_DAMP_NUM = 85  # damping 0.85 as integer percent
_BASE = (15 * SCALE) // 100
_MAX = np.iinfo(np.int64).max
_LO32 = (1 << 32) - 1


def _check(overflow: np.ndarray, what: str) -> None:
    if overflow.any():
        raise OverflowError(
            f"[ARITHMETIC_OVERFLOW] pagerank: int64 overflow in {what}"
        )


def _sums(idx: np.ndarray, vals: np.ndarray, n: int) -> np.ndarray:
    """Exact int64 per-node sums of non-negative `vals` (row i adds to
    node idx[i]); raises on overflow. The 32-bit halves are summed
    apart, so neither partial sum can wrap while a node has fewer than
    2^31 rows."""
    hi = np.zeros(n, np.int64)
    lo = np.zeros(n, np.int64)
    np.add.at(hi, idx, vals >> 32)
    np.add.at(lo, idx, vals & _LO32)
    _check(hi > (_MAX - lo) >> 32, what="a per-node sum")
    return (hi << 32) + lo


def _fixed_point(pdf: pd.DataFrame) -> pd.DataFrame:
    """All iterations over the whole (u, v, w) edge list: u → v rows are
    distinct pairs with w > 0 (the Spark side guarantees both)."""
    codes, nodes = pd.factorize(
        pd.concat([pdf["u"], pdf["v"]], ignore_index=True)
    )
    ui, vi = codes[: len(pdf)], codes[len(pdf):]
    n = len(nodes)
    w = pdf["w"].to_numpy(np.int64)
    wu = _sums(ui, w, n)[ui]
    lim = _MAX // w
    r = np.full(n, SCALE, np.int64)
    for _ in range(ITERATIONS):
        q, m = np.divmod(r[ui], wu)
        _check((q > lim) | (m > lim), what="a contribution product")
        a, b = q * w, (m * w) // wu
        _check(a > _MAX - b, what="a contribution sum")
        s = _sums(vi, a + b, n)
        _check(s > _MAX // _DAMP_NUM, what="the damping product")
        # 85·s ≤ INT64_MAX, so _BASE + 85·s/100 cannot overflow
        r = _BASE + (_DAMP_NUM * s) // 100
    return pd.DataFrame(
        {
            "node": nodes,
            "rank_e12": r,
            "n_out": np.bincount(ui, minlength=n),
            "n_in": np.bincount(vi, minlength=n),
        }
    )


def pagerank(edges: DataFrame) -> DataFrame:
    """Weighted PageRank over a directed (u, v, w) edge list — returns
    (node, rank_e12, n_out, n_in): rank in 1e12 fixed point after
    `ITERATIONS` rounds (initial rank 1.0·SCALE per node, the
    unnormalized TextRank convention), and each node's distinct out-
    and in-neighbour counts.

    Duplicate (u, v) rows are summed, then only positive-weight edges
    between non-null nodes carry rank: a zero/negative summed weight
    would make an out-weight wu 0 (a divide by zero mid-loop) or
    corrupt ranks, so those edges are dropped in Spark before the
    loop. Nodes with no out-edges contribute nothing (their mass is
    not redistributed — the simple dangling-node convention, mirrored
    exactly in the oracle).

    Plan: one partial-agg shuffle onto the (u, v) grain, one exchange
    to a single partition, one FlatMapGroupsInPandas task running the
    loop (`_fixed_point`). Building it launches no Spark job; an int64
    overflow raises when the result is computed.
    """
    ew = (
        edges.groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
        .filter(
            (F.col("w") > 0) & F.col("u").isNotNull() & F.col("v").isNotNull()
        )
    )
    schema = StructType(
        [StructField("node", edges.schema["u"].dataType)]
        + [StructField(c, LongType()) for c in ("rank_e12", "n_out", "n_in")]
    )
    return ew.groupBy().applyInPandas(_fixed_point, schema)


def textrank_keywords(docs: DataFrame, top_k: int = 25) -> DataFrame:
    """TextRank keyword ranking (Mihalcea & Tarau 2004): PageRank over
    the corpus's word co-occurrence graph — nodes are vocabulary
    words, an undirected edge weighted by adjacent-bigram count links
    words that appear next to each other (self-loops dropped).
    Returns the top-k words by rank: (word, rank_e12, n_edges), where
    n_edges is the word's distinct-neighbour count.

    Reuses the engine's bigram machinery (`corpus._doc_bigrams`: the
    zip_with shifted-slice build) for the edge list; each bigram emits
    both directions with weight 1, so `pagerank`'s one partial-agg
    shuffle sums the undirected weights at the VOCABULARY grain and
    the corpus is scanned once. Top-k plans as TakeOrderedAndProject
    with the word as tiebreak.
    """
    from .corpus import _doc_bigrams

    undirected = (
        _doc_bigrams(docs)
        .filter(F.col("w1") != F.col("w2"))
        .selectExpr(
            "inline(array(struct(w1 AS u, w2 AS v, 1L AS w),"
            " struct(w2 AS u, w1 AS v, 1L AS w)))"
        )
    )
    return (
        pagerank(undirected)
        .select(
            F.col("node").alias("word"),
            "rank_e12",
            F.col("n_out").alias("n_edges"),
        )
        .orderBy(F.col("rank_e12").desc(), F.col("word").asc())
        .limit(top_k)
    )
