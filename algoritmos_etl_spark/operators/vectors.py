"""Vector similarity search over embedding columns.

North-star extensions (SURVEY.md §7.2 M8) over the `embeddings` table
(`vec_id, embedding array<float>, label`). Generalizes the reference's
cosine-similarity operator (algorithms/similarity.py:359-433) from two
aligned series to a corpus of vectors.

Scale shapes:
- Brute-force top-k is the correctness baseline: broadcast the (small)
  query set against the corpus — one pass, no shuffle of the corpus.
- The scale path is LSH bucketing (random-hyperplane signs): candidates
  share a bucket, so the join fans out per bucket. Hyperplane
  components are derived from md5 bits — deterministic, no state to
  ship, reproducible on any engine.
- Dot products are JVM-side `zip_with`/`aggregate` folds — no Python
  in the hot path.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Multi-table widths for the scale path: 8 planes/table = 256 bucket
# values per table (4 planes = 16 values meant each bucket held n/16 of
# the corpus — the candidate join degenerated at scale); 16 tables
# buy recall back (1 − (1 − p^8)^16). The recall curve at these widths
# is pinned by tests vs the brute-force baseline.
LSH_TABLES = 16
LSH_PLANES_PER_TABLE = 8

# The ANN queries' workload, shared by their builders and DuckDB
# oracles: the query handful they rank neighbours for and k, and the
# IVF coarse quantizer's cluster count and probe width.
ANN_QUERY_IDS = (0, 1, 2, 3, 4)
ANN_K = 10
IVF_CENTROIDS = 16
IVF_NPROBE = 4


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def with_dvec(df: DataFrame) -> DataFrame:
    """Cast float vectors to double once, up front (fold math in double)."""
    return df.withColumn("dvec", F.col("embedding").cast("array<double>"))


def cosine_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 10
) -> DataFrame:
    """Brute-force cosine top-k per query vector (excluding self).

    The query side is tiny → broadcast; the corpus streams through one
    projection + per-query window rank. This is the exact baseline an
    ANN variant is measured against.
    """
    base = with_dvec(embeddings)
    queries = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("dvec").alias("qvec")
    )
    pairs = base.crossJoin(F.broadcast(queries)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = _dot(F.col("qvec"), F.col("dvec")) / (
        _norm(F.col("qvec")) * _norm(F.col("dvec"))
    )
    scored = pairs.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cosine"), 6).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def cosine_neardup_pairs(embeddings: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (i < j, cosine ≥ τ).

    All-pairs form — correctness baseline and fine for bounded corpora;
    the LSH variant below is the 100 TB path.
    """
    base = with_dvec(embeddings).select("vec_id", "dvec")
    a = base.select(F.col("vec_id").alias("vec_a"), F.col("dvec").alias("va"))
    b = base.select(F.col("vec_id").alias("vec_b"), F.col("dvec").alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("vec_a") < F.col("vec_b"))
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return (
        pairs.select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


def _plane_literal(plane_id: int, dim: int) -> list[float]:
    """The same ±1 components computed ONCE driver-side.

    The plane is a constant per (plane, index) — evaluating md5 inside
    a per-row lambda recomputed it corpus × dim × planes times
    (measured 5M md5 calls = 67 s at sf0.1). hashlib reproduces the
    engine hash exactly: md5 of 'plane:{p}:{i}', first 15 hex chars,
    low bit → sign."""
    import hashlib

    comps = []
    for i in range(dim):
        h = int(hashlib.md5(f"plane:{plane_id}:{i}".encode()).hexdigest()[:15], 16)
        comps.append(1.0 if h & 1 else -1.0)
    return comps


def _infer_dim(embeddings: DataFrame) -> int:
    """Vector dimensionality from one row (embeddings are fixed-width);
    0 for an empty relation (downstream Arrow stages never execute on
    empty input, so 0 planes is a valid degenerate family)."""
    row = embeddings.select(F.size("embedding").alias("d")).first()
    return 0 if row is None else row.d


def lsh_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 10,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k: rank only candidates sharing a multi-table LSH bucket
    with the query.

    Per-query candidates ≈ T·corpus/2^b instead of the whole corpus —
    the standard LSH shape for embedding search at scale (one table of
    many planes collapses recall; see `lsh_signatures`). Recall vs
    `cosine_topk` is pinned by tests. Pass `sigs` (a materialized
    `lsh_signatures` result — the session cache in driver_queries_ext
    does) to share one signature table across every LSH consumer; at
    cluster scale that table is a written index, computed at ingest.
    Candidate ids join back to the columnar source for vectors, so the
    signature table itself stays narrow.
    """
    if sigs is None:
        # the signature table feeds both join sides — materialize once
        sigs = lsh_signatures(embeddings).localCheckpoint(eager=False)
    base = with_dvec(embeddings).select("vec_id", "dvec")
    qvecs = base.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("dvec").alias("qvec")
    )
    qsigs = sigs.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("tbl").alias("qtbl"),
        F.col("sig").alias("qsig"),
    )
    cand_ids = (
        sigs.join(
            F.broadcast(qsigs),
            (F.col("tbl") == F.col("qtbl"))
            & (F.col("sig") == F.col("qsig"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id")
        .distinct()  # a pair may collide in several tables
    )
    cands = cand_ids.join(base, "vec_id").join(F.broadcast(qvecs), "query_id")
    cos = _dot(F.col("qvec"), F.col("dvec")) / (
        _norm(F.col("qvec")) * _norm(F.col("dvec"))
    )
    scored = cands.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cosine"), 6).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def embedding_norms(embeddings: DataFrame) -> DataFrame:
    """Per-vector L2 norm + dimension — sanity/profiling op."""
    base = with_dvec(embeddings)
    return base.select(
        "vec_id",
        F.size("dvec").alias("dim"),
        F.round(_norm(F.col("dvec")), 6).alias("l2_norm"),
    )


def lsh_signatures(embeddings: DataFrame) -> DataFrame:
    """Multi-table hyperplane LSH signatures: (vec_id, tbl, sig) only —
    the narrow table every LSH consumer joins on. Vectors are NOT
    carried: a materialized signature table (the session cache, or a
    written index at cluster scale) stays ~12 bytes/row, so candidate
    self-joins broadcast/prune instead of dragging the embedding arrays
    through every shuffle (measured 2× on the near-dup query when the
    shared checkpoint carried dvec).

    One table of many planes is over-selective for moderate cosine
    thresholds (recall p^planes decays fast); T independent tables of
    fewer planes recover recall 1−(1−p^b)^T while each table's buckets
    stay small: T = LSH_TABLES, b = LSH_PLANES_PER_TABLE, read at call
    time. Plane t·b+p is `_plane_literal(t·b+p, dim)`.

    Plan shape: elements are QUANTIZED to integers with
    floor(val·1e9) — `floor` on a double is binary-exact on every
    engine (decimal casts and round() go through string/half-up paths
    that can disagree cross-engine in the last ulp) — so each plane dot
    is an INTEGER sum: order-independent, overflow-free (64 terms of
    |q| ≲ 2^33 < 2^40), and bit-identical in the DuckDB oracle. The
    T·b dots per vector are ONE (batch × dim) @ (dim × T·b) int64
    matmul inside an Arrow-batched `mapInPandas` — a dense constant-
    matrix product is exactly what BLAS-shaped Python is for, and it
    replaces the previous posexplode + broadcast join + two hash
    aggregations, whose corpus×dim×planes joined rows dominated every
    LSH query (measured ~5 s of a 5.6 s query at sf0.1; the matmul is
    <1 ms for the same corpus). Exact int64 arithmetic keeps signatures
    bit-identical to the relational form and the DuckDB oracle.
    """
    import numpy as np

    base = with_dvec(embeddings)
    dim = _infer_dim(embeddings)
    n_tables, planes_per_table = LSH_TABLES, LSH_PLANES_PER_TABLE
    n_planes = n_tables * planes_per_table
    planes = np.array(
        [_plane_literal(p, dim) for p in range(n_planes)], dtype=np.int64
    ).T  # (dim, n_planes) of ±1
    weights = np.left_shift(
        np.ones(planes_per_table, dtype=np.int64),
        np.arange(planes_per_table, dtype=np.int64),
    )

    def sign_sigs(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["dvec"]])
            q = np.floor(v * 1e9).astype(np.int64)
            bits = (q @ planes) >= 0  # (n, n_planes) exact int64 dots
            out = {"vec_id": np.repeat(pdf["vec_id"].to_numpy(), n_tables)}
            sigs = np.empty((len(pdf), n_tables), dtype=np.int32)
            for t in range(n_tables):
                chunk = bits[:, t * planes_per_table : (t + 1) * planes_per_table]
                sigs[:, t] = (chunk * weights).sum(axis=1)
            out["tbl"] = np.tile(
                np.arange(n_tables, dtype=np.int32), len(pdf)
            )
            out["sig"] = sigs.ravel()
            yield pd.DataFrame(out)

    return base.select("vec_id", "dvec").mapInPandas(
        sign_sigs, schema="vec_id long, tbl int, sig int"
    )


IVF_SCALE = 1_000_000  # component quantization for integer-exact dots


def _quantized_flat(df: DataFrame, id_col: str) -> DataFrame:
    """(id, idx, q) with q = floor(val * 1e6) — the IVF math runs on
    integers so every dot/norm is an order-independent exact sum.

    Components are ≤ O(1) ⇒ |q| < 2^21; dots sum ≤ dim·2^42 < 2^53, so
    the integer is also exact as a double and the downstream
    cosine = dot / (sqrt(na)·sqrt(nb)) is a deterministic IEEE754 value
    on every engine (the same rationale as `lsh_signatures`).
    """
    return df.select(
        F.col(id_col), F.posexplode("dvec").alias("idx", "val")
    ).select(id_col, "idx", F.floor(F.col("val") * F.lit(float(IVF_SCALE))).alias("q"))


def _int_cosine(dot: Column, na2: Column, nb2: Column) -> Column:
    """cosine from integer-exact dot and squared norms."""
    return dot.cast("double") / (
        F.sqrt(na2.cast("double")) * F.sqrt(nb2.cast("double"))
    )


def ivf_train(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 1,
    flat: DataFrame | None = None,
) -> DataFrame:
    """IVF coarse quantizer: (centroid_id, idx, c) integer components.

    Deterministic k-means: seeds are the first `n_centroids` vectors by
    id (standard first-points init, reproducible on any engine), then
    `iters` Lloyd steps — assign every vector to its max-cosine seed,
    recompute each centroid as floor(mean) of its members' quantized
    components. Each step is one broadcast join (centroids are tiny)
    plus two hash aggregations; the corpus never shuffles on anything
    but (vec_id, centroid) partial aggs. Ties break to the lowest
    centroid id; empty clusters simply drop out. Cluster count on a
    real corpus ~ sqrt(n) keeps both the train join and the probe
    fan-out balanced.
    """
    base = with_dvec(embeddings)
    if flat is None:
        flat = _quantized_flat(base, "vec_id").localCheckpoint(eager=False)
    vec_norms = flat.groupBy("vec_id").agg(F.sum(F.col("q") * F.col("q")).alias("n2"))
    seeds = base.select("vec_id").orderBy("vec_id").limit(n_centroids)
    cents = (
        flat.join(F.broadcast(seeds), "vec_id")
        .select(F.col("vec_id").alias("centroid_id"), "idx", F.col("q").alias("c"))
    )
    for _ in range(iters):
        assign = _ivf_assign(flat, vec_norms, cents)
        cents = (
            flat.join(assign, "vec_id")
            .groupBy("centroid_id", "idx")
            .agg(
                F.floor(
                    F.sum("q").cast("double") / F.count(F.lit(1))
                ).alias("c")
            )
        )
    return cents


def _ivf_assign(
    flat: DataFrame, vec_norms: DataFrame, cents: DataFrame
) -> DataFrame:
    """(vec_id, centroid_id): max-cosine centroid, ties → lowest id."""
    cent_norms = cents.groupBy("centroid_id").agg(
        F.sum(F.col("c") * F.col("c")).alias("c2")
    )
    dots = (
        flat.join(F.broadcast(cents), "idx")
        .groupBy("vec_id", "centroid_id")
        .agg(F.sum(F.col("q") * F.col("c")).alias("dot"))
    )
    scored = dots.join(F.broadcast(cent_norms), "centroid_id").join(
        vec_norms, "vec_id"
    )
    cos = _int_cosine(F.col("dot"), F.col("n2"), F.col("c2"))
    return scored.groupBy("vec_id").agg(
        F.max_by(
            F.col("centroid_id"), F.struct(cos.alias("cos"), (-F.col("centroid_id")).alias("nid"))
        ).alias("centroid_id")
    )


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int,
    n_centroids: int,
    nprobe: int,
    flat: DataFrame | None = None,
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN top-k: probe the `nprobe` nearest clusters, exact-rank
    only their members — the inverted-file scale path beside LSH.

    Per query the exact-cosine work drops from n to ~n·nprobe/C. At
    100 TB the assignment is computed once at ingest (write the corpus
    bucketed/partitioned by centroid_id so a probe is a partition-pruned
    scan); queries broadcast. All cosines are computed from 1e-6
    quantized components (exact integers ⇒ deterministic doubles), so
    ranking and output are bit-identical in the SQL oracle — within
    2e-6 of the float cosine, irrelevant for neighbor ranking.
    """
    base = with_dvec(embeddings)
    if flat is None:
        flat = _quantized_flat(base, "vec_id").localCheckpoint(eager=False)
    vec_norms = flat.groupBy("vec_id").agg(
        F.sum(F.col("q") * F.col("q")).alias("n2")
    ).localCheckpoint(eager=False)
    if cents is None:
        cents = ivf_train(embeddings, n_centroids, flat=flat).localCheckpoint(
            eager=False
        )
    assign = _ivf_assign(flat, vec_norms, cents)
    cent_norms = cents.groupBy("centroid_id").agg(
        F.sum(F.col("c") * F.col("c")).alias("c2")
    )

    qflat = flat.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), "idx", F.col("q").alias("qq")
    )
    qnorms = vec_norms.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("n2").alias("qn2")
    )
    qdots = (
        qflat.join(F.broadcast(cents), "idx")
        .groupBy("query_id", "centroid_id")
        .agg(F.sum(F.col("qq") * F.col("c")).alias("dot"))
        .join(F.broadcast(cent_norms), "centroid_id")
        .join(F.broadcast(qnorms), "query_id")
    )
    qcos = _int_cosine(F.col("dot"), F.col("qn2"), F.col("c2"))
    wprobe = Window.partitionBy("query_id").orderBy(
        qcos.desc(), F.col("centroid_id").asc()
    )
    probes = (
        qdots.withColumn("prank", F.row_number().over(wprobe))
        .filter(F.col("prank") <= nprobe)
        .select("query_id", "centroid_id")
    )

    # members of probed clusters, self excluded; queries/probes are tiny
    cand = (
        assign.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    pair_dots = (
        cand.join(flat, "vec_id")
        .join(F.broadcast(qflat), ["query_id", "idx"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum(F.col("q") * F.col("qq")).alias("dot"))
    )
    scored = (
        pair_dots.join(vec_norms, "vec_id")
        .join(F.broadcast(qnorms), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _int_cosine(F.col("dot"), F.col("qn2"), F.col("n2")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cosine"), 6).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def kmeans_cluster_profile(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 1,
    flat: DataFrame | None = None,
    cents: DataFrame | None = None,
) -> DataFrame:
    """Embedding-space clustering report: (centroid_id, n_members,
    avg_cosine, min_vec_id) per k-means cluster — the corpus-structure
    view a data pipeline reads to pick mixture weights, spot dominant
    modes, or seed an IVF index (same quantizer as `ivf_train`, so the
    report describes exactly the clusters the index will probe).

    avg_cosine is the members' mean cosine to their own centroid
    (cluster coherence); each member cosine is a deterministic IEEE754
    value from integer-exact sums (see `_quantized_flat`), and the
    mean is rounded after aggregation. Cost shape: centroids are tiny
    and broadcast; the corpus shuffles only as (vec_id, centroid)
    partial aggregates — same envelope as `ivf_train`.
    """
    base = with_dvec(embeddings)
    if flat is None:
        flat = _quantized_flat(base, "vec_id").localCheckpoint(eager=False)
    vec_norms = flat.groupBy("vec_id").agg(
        F.sum(F.col("q") * F.col("q")).alias("n2")
    )
    if cents is None:
        cents = ivf_train(
            embeddings, n_centroids=n_centroids, iters=iters, flat=flat
        )
    cent_norms = cents.groupBy("centroid_id").agg(
        F.sum(F.col("c") * F.col("c")).alias("c2")
    )
    dots = (
        flat.join(F.broadcast(cents), "idx")
        .groupBy("vec_id", "centroid_id")
        .agg(F.sum(F.col("q") * F.col("c")).alias("dot"))
    )
    cos = _int_cosine(F.col("dot"), F.col("n2"), F.col("c2"))
    best = (
        dots.join(F.broadcast(cent_norms), "centroid_id")
        .join(vec_norms, "vec_id")
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    cos.alias("cos"), (-F.col("centroid_id")).alias("nid")
                )
            ).alias("b")
        )
        .select(
            "vec_id",
            (-F.col("b.nid")).cast("long").alias("centroid_id"),
            F.col("b.cos").alias("cos"),
        )
    )
    return (
        best.groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("cos"), 6).alias("avg_cosine"),
            F.min("vec_id").alias("min_vec_id"),
        )
    )


# --------------------------------------------------------- product quantization

PQ_SUBS = 8  # M: subspaces per vector
PQ_CODES = 16  # ks: codes per subspace codebook


def _pq_subflat(flat: DataFrame, dsub: int) -> DataFrame:
    """(vec_id, sub, sidx, q): the quantized corpus re-keyed by
    subspace — `sub` selects the codebook, `sidx` the component within
    it. Pure projection of the shared `_quantized_flat` relation.
    (Query-side only: the corpus path never explodes — see
    `_pq_code_expr`.)"""
    return flat.select(
        "vec_id",
        F.expr(f"CAST(idx DIV {dsub} AS INT)").alias("sub"),
        F.expr(f"CAST(idx % {dsub} AS INT)").alias("sidx"),
        "q",
    )


def _pq_collect_codebooks(
    codebooks: DataFrame, m: int, dsub: int
) -> list[list[tuple[int, list[int]]]]:
    """codebooks DataFrame → per sub, [(code, dsub components)] sorted
    by code (driver-side; bounded at m·ks·dsub ints). Missing (empty)
    cells are skipped — code numbering keeps the TRAINED code ids."""
    cells: dict[tuple[int, int], dict[int, int]] = {}
    for r in codebooks.collect():
        cells.setdefault((r.sub, r.code), {})[r.sidx] = int(r.c)
    out: list[list[tuple[int, list[int]]]] = [[] for _ in range(m)]
    for (sub, code), comps in sorted(cells.items()):
        out[sub].append((code, [comps[i] for i in range(dsub)]))
    return out


def _pq_books_np(books: list[list[tuple[int, list[int]]]]):
    """[(code_ids int64[ks_s], C int64[ks_s × dsub])] per sub."""
    import numpy as np

    return [
        (
            np.array([code for code, _ in b], dtype=np.int64),
            np.array([cw for _, cw in b], dtype=np.int64),
        )
        for b in books
    ]


def _pq_assign_np(Q, books_np, m: int, dsub: int):
    """(n × m) argmin-squared-L2 codes, ties → lowest code, exact int64.

    Per sub: D = −2·S@Cᵀ + ‖c‖² differs from the true distance by the
    per-row constant ‖s‖², so the argmin (np.argmin = FIRST min =
    lowest code, since codebooks are code-sorted) is identical — and
    every term is an exact int64 (|q| < 2²¹ ⇒ |dot| < 2⁴⁸)."""
    import numpy as np

    n = Q.shape[0]
    codes = np.empty((n, m), dtype=np.int32)
    for sub in range(m):
        S = Q[:, sub * dsub : (sub + 1) * dsub]
        ids, C = books_np[sub]
        D = (-2) * (S @ C.T) + (C * C).sum(axis=1)[None, :]
        codes[:, sub] = ids[np.argmin(D, axis=1)]
    return codes


def _pq_quantize(pdf, col: str):
    import numpy as np

    v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[col]])
    return np.floor(v * float(IVF_SCALE)).astype(np.int64)


def pq_train(embeddings: DataFrame, flat: DataFrame | None = None) -> DataFrame:
    """Product-quantization codebooks: (sub, code, sidx, c) integer
    components — `PQ_SUBS` independent k-means quantizers of
    `PQ_CODES` codes each, one per dim/PQ_SUBS-wide subspace (Jégou et
    al., "Product Quantization for Nearest Neighbor Search", TPAMI
    2011).

    Deterministic like `ivf_train`: seeds are the first `PQ_CODES` vectors
    by vec_id (their subspace slices seed every codebook), then one
    Lloyd step under integer-exact squared-L2 — assign each (vector,
    subspace) slice to its argmin-distance seed (ties → lowest code),
    recompute each codeword as floor(mean) of its members' quantized
    components. All sums are of floor(val·1e6) integers (< 2^53), so
    codebooks, code assignments, and ADC distances are bit-identical
    on any engine — the DuckDB oracle rebuilds the whole index.

    Scale shape (the `lsh_signatures` lesson applied): seed collection
    is ks rows; the Lloyd assignment + per-cell partial sums are ONE
    Arrow-batched `mapInPandas` pass — argmin is a dense int64 matmul
    per subspace, each batch emits at most m·ks·dsub partial-sum cells
    — and the only shuffle reduces those cells to the ≤ m·ks·dsub
    codebook entries. Empty cells simply drop out (same contract as
    `ivf_train`).
    """
    import numpy as np

    m, ks = PQ_SUBS, PQ_CODES
    base = with_dvec(embeddings)
    dim = _infer_dim(embeddings)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    # seeds: ks lowest vec_ids (bounded driver list — code i = rank i
    # in vec_id order); quantized driver-side with the same floor(·1e6)
    seed_rows = (
        base.select("vec_id", "dvec").orderBy("vec_id").limit(ks).collect()
    )
    seed_q = np.floor(
        np.array([r.dvec for r in seed_rows], dtype=np.float64)
        * float(IVF_SCALE)
    ).astype(np.int64)
    books0 = [
        (
            np.arange(len(seed_rows), dtype=np.int64),
            seed_q[:, sub * dsub : (sub + 1) * dsub].copy(),
        )
        for sub in range(m)
    ]

    def cell_sums(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = _pq_quantize(pdf, "dvec")
            codes = _pq_assign_np(Q, books0, m, dsub)
            subs_out, codes_out, sidx_out, s_out, n_out = [], [], [], [], []
            for sub in range(m):
                S = Q[:, sub * dsub : (sub + 1) * dsub]
                cs = codes[:, sub]
                present = np.unique(cs)
                sums = np.zeros((ks, dsub), dtype=np.int64)
                np.add.at(sums, cs, S)
                counts = np.bincount(cs, minlength=ks)
                for code in present:
                    subs_out.extend([sub] * dsub)
                    codes_out.extend([int(code)] * dsub)
                    sidx_out.extend(range(dsub))
                    s_out.extend(sums[code].tolist())
                    n_out.extend([int(counts[code])] * dsub)
            yield pd.DataFrame(
                {
                    "sub": np.array(subs_out, dtype=np.int32),
                    "code": np.array(codes_out, dtype=np.int32),
                    "sidx": np.array(sidx_out, dtype=np.int32),
                    "s": np.array(s_out, dtype=np.int64),
                    "n": np.array(n_out, dtype=np.int64),
                }
            )

    cells = base.select("vec_id", "dvec").mapInPandas(
        cell_sums, schema="sub int, code int, sidx int, s long, n long"
    )
    return cells.groupBy("sub", "code", "sidx").agg(
        F.floor(F.sum("s").cast("double") / F.sum("n")).alias("c")
    )


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    flat: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, sub, code): the PQ-compressed corpus — m small codes
    per vector (m=8, ks=16 ⇒ 8 nibbles = 4 bytes against 256 bytes of
    float32, the memory ratio that makes billion-vector ANN fit).

    SHUFFLE-FREE: the trained codebooks (bounded: m·ks·dsub ints) are
    collected once into the task closure, and encoding is one
    Arrow-batched `mapInPandas` pass — per subspace a dense int64
    matmul (`_pq_assign_np`, the `lsh_signatures` shape) — followed by
    a JVM posexplode to the (vec_id, sub, code) grain. At 100 TB this
    runs once at ingest and lands as the standing index; queries scan
    codes, never raw vectors. (`flat` accepted for signature parity;
    the corpus path doesn't need the exploded relation.)"""
    import numpy as np

    m = PQ_SUBS
    dim = _infer_dim(embeddings)
    dsub = dim // m
    books_np = _pq_books_np(_pq_collect_codebooks(codebooks, m, dsub))
    base = with_dvec(embeddings)

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = _pq_quantize(pdf, "dvec")
            codes = _pq_assign_np(Q, books_np, m, dsub)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "codes": list(codes),
                }
            )

    coded = base.select("vec_id", "dvec").mapInPandas(
        encode, schema="vec_id long, codes array<int>"
    )
    return coded.select(
        "vec_id", F.posexplode("codes").alias("sub", "code")
    ).select("vec_id", F.col("sub").cast("int"), "code")


def pq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int,
    flat: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ-ADC ANN top-k: asymmetric distance computation — the query
    stays exact, the corpus is its codes.

    Per query: one m×ks lookup table of partial squared-L2 distances
    (query slice ↔ codeword, integer-exact), then the scan is
    codes ⨝ broadcast(table) + a sum over m partials per vector — no
    original vectors are touched, so the per-query cost is m adds per
    corpus row over a 4-byte-per-row relation. This is the memory-
    bound regime PQ exists for; IVF composes on top by restricting the
    scan to the probed clusters' members.

    Output ranks ascending approximate distance (`adist`, an exact
    BIGINT), ties → lowest neighbor_id; self excluded.
    """
    base = with_dvec(embeddings)
    dim = _infer_dim(embeddings)
    dsub = dim // PQ_SUBS
    if flat is None:
        flat = _quantized_flat(base, "vec_id").localCheckpoint(eager=False)
    if codebooks is None:
        codebooks = pq_train(embeddings, flat=flat).localCheckpoint(eager=False)
    if codes is None:
        codes = pq_encode(embeddings, codebooks, flat=flat)
    qsub = (
        _pq_subflat(flat, dsub)
        .filter(F.col("vec_id").isin(query_ids))
        .select(F.col("vec_id").alias("query_id"), "sub", "sidx", F.col("q").alias("qq"))
    )
    dtab = (
        qsub.join(F.broadcast(codebooks), ["sub", "sidx"])
        .groupBy("query_id", "sub", "code")
        .agg(
            F.sum(
                (F.col("qq") - F.col("c")) * (F.col("qq") - F.col("c"))
            ).alias("pd2")
        )
    )
    adist = (
        codes.join(F.broadcast(dtab), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pd2").alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("vec_id").asc()
    )
    return (
        adist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("adist").cast("long").alias("adist"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ------------------------------------------------------------------ PCA

def pca_fit(embeddings: DataFrame, k: int = 8):
    """Fit PCA distributedly: one corpus pass computes the Gram matrix
    and mean, the (tiny) eigenproblem solves on the driver.

    The scale shape: each Arrow batch contributes its partial
    Σxxᵀ / Σx / n via `mapInPandas` (BLAS inside the batch), flattened
    to (cell index, value) rows; a hash aggregation reduces the
    D²+D+1 cells across all partitions, and ONLY those ~4k cells reach
    the driver — corpus size never does. numpy then eigendecomposes
    the D×D covariance (D=64 here; the method holds to D ~ thousands,
    past which randomized/iterative sketches take over).

    Eigenvector signs are canonicalized (largest-|component| entry
    positive) so output is reproducible run-to-run. Returns
    (mean[D], components[k×D], explained_variance_ratio[k]).
    """
    import numpy as np

    col = "embedding"
    dim = _infer_dim(embeddings)
    n_cells = dim * dim + dim + 1

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[col].to_numpy()).astype("float64")
            g = x.T @ x  # D×D partial Gram
            s = x.sum(axis=0)
            idx = np.arange(dim * dim)
            yield pd.DataFrame(
                {
                    "cell": np.concatenate(
                        [idx, dim * dim + np.arange(dim), [n_cells - 1]]
                    ),
                    "val": np.concatenate([g.ravel(), s, [float(len(x))]]),
                }
            )

    cells = (
        embeddings.select(col)
        .mapInPandas(partials, "cell long, val double")
        .groupBy("cell")
        .agg(F.sum("val").alias("val"))
        .collect()
    )
    flat = np.zeros(n_cells)
    for r in cells:
        flat[r.cell] = r.val
    g = flat[: dim * dim].reshape(dim, dim)
    s = flat[dim * dim : dim * dim + dim]
    n = flat[-1]
    mean = s / n
    cov = (g - n * np.outer(mean, mean)) / max(n - 1.0, 1.0)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # k×D
    for i in range(comps.shape[0]):  # deterministic sign
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    ratio = evals[order] / evals.sum()
    return mean, comps, ratio


def pca_project(embeddings: DataFrame, k: int = 8) -> DataFrame:
    """(vec_id, pc1..pck): corpus projected onto the top-k principal
    axes. The fit is one Gram pass (see `pca_fit`); the projection is
    pure JVM expression work — the centered vector folds against each
    component as literal arrays, no Python in the projection path, so
    it pipelines into whatever consumes the reduced vectors."""
    mean, comps, _ = pca_fit(embeddings, k)
    centered = F.zip_with(
        F.col("embedding").cast("array<double>"),
        F.array(*[F.lit(float(v)) for v in mean]),
        lambda x, m: x - m,
    )
    out = embeddings.select("vec_id", centered.alias("_c"))
    for i, comp in enumerate(comps, start=1):
        axis = F.array(*[F.lit(float(v)) for v in comp])
        out = out.withColumn(
            f"pc{i}", F.round(_dot(F.col("_c"), axis), 6)
        )
    return out.drop("_c")


def lsh_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Multi-table-LSH-blocked near-duplicate pairs — the 100 TB path
    for `cosine_neardup_pairs`.

    Candidates must share (table, signature) in at least one of the T
    tables (per-table join fans out per bucket, ~corpus/2^b each), then
    exact cosine verifies. Precision is 1.0 by construction; recall vs
    the all-pairs baseline is pinned by tests. `sigs` shares a
    materialized narrow signature table across LSH consumers (see
    `lsh_topk`); verification joins vectors from the columnar source.
    """
    if sigs is None:
        sigs = lsh_signatures(embeddings)
    vecs = with_dvec(embeddings).select("vec_id", "dvec")
    # One shuffle lays the corpus out as the T hash tables themselves:
    # (tbl, sig) buckets carrying their member vectors. Verification
    # then runs BUCKET-LOCAL as one BLAS gram matrix per bucket — the
    # candidate PAIR relation is never materialized. The previous shape
    # (distinct pair ids → join both vectors → per-dimension explode →
    # re-aggregate) pushed |candidates|·dim rows through codegen, and
    # clustered corpora make |candidates| quasi-quadratic at a 0.4
    # threshold: measured 475 s at the 30× corpus vs ~8 s for this plan
    # (the matmul is |candidates|·dim flops in BLAS, thousands of times
    # cheaper than the same count of codegen rows).
    buckets = sigs.join(vecs, "vec_id")
    tau = float(threshold)

    def verify(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {"vec_a": np.array([], "int64"), "vec_b": np.array([], "int64"),
             "cosine": np.array([], "float64")}
        )
        n = len(pdf)
        if n < 2:
            return empty
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        V = np.stack(pdf["dvec"].to_numpy()[order]).astype("float64")
        inv = 1.0 / np.sqrt((V * V).sum(axis=1))
        out_a, out_b, out_c = [], [], []
        # row-block the gram matrix so transient memory stays ~block·n
        for s in range(0, n, 1024):
            e = min(s + 1024, n)
            C = (V[s:e] @ V.T) * np.outer(inv[s:e], inv)
            # strict upper triangle of the full matrix only (a < b)
            cols = np.arange(n)[None, :]
            rows = np.arange(s, e)[:, None]
            keep = (C >= tau) & (cols > rows)
            r, c = np.nonzero(keep)
            out_a.append(ids[r + s])
            out_b.append(ids[c])
            out_c.append(C[r, c])
        return pd.DataFrame(
            {"vec_a": np.concatenate(out_a), "vec_b": np.concatenate(out_b),
             "cosine": np.concatenate(out_c)}
        )

    hits = buckets.groupBy("tbl", "sig").applyInPandas(
        verify, "vec_a long, vec_b long, cosine double"
    )
    # a pair that survives in k of the T tables arrives k times with the
    # identical cosine — one agg dedupes across tables
    return (
        hits.groupBy("vec_a", "vec_b")
        .agg(F.max("cosine").alias("cosine"))
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


# ----------------------------------------------------------- SemDeDup

def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.9,
    flat: DataFrame | None = None,
    cents: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the corpus with the IVF
    coarse quantizer, then WITHIN each cluster drop every member whose
    cosine to a smaller-id member is >= `threshold` — semantic
    near-duplicates that exact/MinHash dedup misses because the words
    differ. The greedy keep-smallest-id rule matches this module's
    near-dup drop policy (and the curation pipeline's pair-drop).

    Scale shape: pairwise comparison happens ONLY inside a cluster —
    one shuffle lays the corpus out as (centroid_id → members), then
    one BLAS gram matrix per cluster inside `applyInPandas` (the same
    bucket-local verification as `lsh_neardup_pairs`; the pair relation
    is never materialized). With IVF_CENTROIDS ~ sqrt(n) the per-task
    stack stays bounded; a degenerate cluster would straggle one task,
    which is what the quantizer's balance (pinned in tests) prevents.

    All cosines come from 1e-6-quantized integer components (exact
    int64 dots, deterministic IEEE doubles) so the decision boundary
    and output are bit-identical in the DuckDB oracle — the same
    rationale as `ivf_topk`.

    Output: (vec_id, centroid_id, is_kept, dup_of, cos_to_dup) —
    `dup_of` is the smallest-id cluster-mate at/above threshold (NULL
    for kept rows), `cos_to_dup` its cosine.
    """
    base = with_dvec(embeddings)
    if flat is None:
        flat = _quantized_flat(base, "vec_id").localCheckpoint(eager=False)
    vec_norms = flat.groupBy("vec_id").agg(
        F.sum(F.col("q") * F.col("q")).alias("n2")
    )
    if cents is None:
        cents = ivf_train(embeddings, IVF_CENTROIDS, flat=flat).localCheckpoint(
            eager=False
        )
    assign = _ivf_assign(flat, vec_norms, cents)
    members = assign.join(base.select("vec_id", "dvec"), "vec_id")
    tau = float(threshold)

    def dedup_cluster(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        cid = int(pdf["centroid_id"].iloc[0])
        V = np.stack(pdf["dvec"].to_numpy()[order]).astype("float64")
        Q = np.floor(V * 1e6).astype("int64")  # == _quantized_flat
        n2 = (Q * Q).sum(axis=1)
        sq = np.sqrt(n2.astype("float64"))  # sqrt(na2) factors
        # float64 matmul is BLAS-backed AND exact here: |q| < 2^21 ⇒
        # every partial sum < dim·2^42 < 2^53, an exact double
        Qf = Q.astype("float64")
        n = len(ids)
        dup_of = np.full(n, -1, dtype="int64")
        cos_to = np.full(n, np.nan, dtype="float64")
        # row-block the gram matrix; only j < i (smaller ids) matter
        for s in range(0, n, 1024):
            e = min(s + 1024, n)
            # dot / (sqrt(na2)*sqrt(nb2)) — identical op order to
            # _int_cosine (int dots are exact, sqrt/mul/div correctly
            # rounded), so the doubles match the oracle bit-for-bit
            C = (Qf[s:e] @ Qf.T) / np.outer(sq[s:e], sq)
            cols = np.arange(n)[None, :]
            rows = np.arange(s, e)[:, None]
            qual = (C >= tau) & (cols < rows)
            for r in range(e - s):
                hits = np.nonzero(qual[r])[0]
                if hits.size:
                    j = hits[0]  # ids sorted asc → first hit = min id
                    dup_of[s + r] = ids[j]
                    cos_to[s + r] = C[r, j]
        return pd.DataFrame(
            {
                "vec_id": ids,
                "centroid_id": np.full(n, cid, dtype="int64"),
                "is_kept": dup_of < 0,
                "dup_of": pd.array(
                    [None if d < 0 else int(d) for d in dup_of],
                    dtype="Int64",
                ),
                "cos_to_dup": cos_to,
            }
        )

    return members.groupBy("centroid_id").applyInPandas(
        dedup_cluster,
        "vec_id long, centroid_id long, is_kept boolean, "
        "dup_of long, cos_to_dup double",
    ).select(
        "vec_id",
        "centroid_id",
        "is_kept",
        "dup_of",
        F.round("cos_to_dup", 6).alias("cos_to_dup"),
    )
