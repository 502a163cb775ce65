"""Deduplication for training-data pipelines: exact, shingle-Jaccard,
MinHash-LSH, SimHash.

North-star extensions (SURVEY.md §7.2 M8) over the `documents` table.
Scale shapes — the things that matter at 100 TB:

- Exact dedup is one hash-groupBy on a fingerprint (never on raw text:
  group keys should be small and fixed-width).
- Candidate generation always goes through an inverted index / banding
  join so the all-pairs O(n²) comparison never materializes; only
  candidates sharing a shingle/band/chunk are verified.
- All hashing is md5-prefix integers: deterministic, seedable,
  engine-portable (the DuckDB oracle reproduces every stage exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .text import normalized_text, words_col

MINHASH_HASHES = 16
MINHASH_BANDS = 4  # 4 rows per band

# One md5 per shingle, then 16 affine permutations (a_j·h + b_j) mod p —
# the classic universal-hash MinHash family. p = 2^31 − 1 keeps every
# product under 2^62, so the arithmetic is exact signed-64-bit in BOTH
# engines (DuckDB raises on BIGINT overflow rather than wrapping). The
# per-permutation md5 variant cost 16 md5 evaluations per shingle row —
# the dominant term of the whole pipeline at scale (42M md5s on the 10x
# corpus). Constants derive from md5 in Python at import, so the oracle
# embeds identical literals.
MINHASH_PRIME = 2_147_483_647


def _mh_const(tag: str, j: int, mod: int, lo: int = 0) -> int:
    import hashlib

    return int(hashlib.md5(f"{tag}:{j}".encode()).hexdigest()[:15], 16) % mod + lo


MINHASH_A = tuple(
    _mh_const("mha", j, MINHASH_PRIME - 1, 1) for j in range(MINHASH_HASHES)
)
MINHASH_B = tuple(_mh_const("mhb", j, MINHASH_PRIME) for j in range(MINHASH_HASHES))

# SimHash gets the same treatment: one md5 per token, then one affine
# permutation PER CHUNK supplies that chunk's 16 vote bits.
SIMHASH_A = tuple(_mh_const("sha", c, MINHASH_PRIME - 1, 1) for c in range(8))
SIMHASH_B = tuple(_mh_const("shb", c, MINHASH_PRIME) for c in range(8))
# 64-bit SimHash in 4×16-bit chunks: 65,536 bucket values per chunk, so
# the banding self-join fans out per-bucket at ~n/65536 — the 32-bit /
# 8-bit-chunk variant had only 256 bucket values and its candidate join
# degenerated to O(n²/256) per chunk at corpus scale.
SIMHASH_BITS = 64
SIMHASH_CHUNKS = 4  # 16 bits per chunk → candidates within hamming ≤ 3


def _tok_hash(prefix, tok) -> F.Column:
    return F.conv(
        F.substring(F.md5(F.concat_ws(":", prefix, tok)), 1, 15), 16, 10
    ).cast("long")


def doc_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, token) distinct pairs — the inverted-index base."""
    return docs.select(
        "doc_id", F.explode(F.array_distinct(words_col(F.col("text")))).alias("token")
    )


def doc_shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct k-word shingles.

    The word array is projected to a column BEFORE the shingle
    expression references it (4×: two sizes, the transform, the
    slices): codegen does not CSE repeated subtrees across a Generate
    input, so the inline form re-split the text per reference —
    measured 3.8× slower at sf0.1. This grain feeds the entire dedup
    family (ngram/minhash/curation/decontamination/streaming)."""
    pre = docs.select("doc_id", words_col(F.col("text")).alias("_w"))
    shingles = F.when(
        F.size("_w") >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("_w") - k),
                lambda i: F.concat_ws(" ", F.slice("_w", i + 1, k)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return pre.select("doc_id", F.explode(shingles).alias("shingle"))


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by normalized-text fingerprint.

    One shuffle on a 32-char key. Output: fingerprint, canonical doc
    (min id), group size.
    """
    fp = docs.select("doc_id", F.md5(normalized_text(F.col("text"))).alias("fingerprint"))
    return fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs")
    )


def _shingle_index(docs: DataFrame, k: int) -> DataFrame:
    """The materialized (doc_id, shingle) inverted index.

    The relation feeds several plan branches (sizes + both join sides);
    Catalyst does not CSE across self-join branches, so materialize it
    once. `localCheckpoint` instead of `persist`: the blocks live only
    as long as the returned DataFrame is referenced (ContextCleaner
    frees them on GC), where a bare persist() leaks cache entries for
    the session's lifetime unless every caller remembers to unpersist.
    """
    return doc_shingles(docs, k).localCheckpoint(eager=False)


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.2,
    max_shingle_df: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by exact k-shingle Jaccard, candidates via a
    shared-shingle inverted-index join (no all-pairs blowup).

    |A∩B| from the shingle join; |A∪B| = |A|+|B|−|A∩B|.

    `max_shingle_df` caps the inverted index's document frequency for
    CANDIDATE generation: a shingle shared by m docs fans the self-join
    out to m² rows, so one viral boilerplate phrase at corpus scale
    pins the stage. Shingles with df > cap are dropped from the join;
    Jaccard is then verified over the FULL shingle sets of the
    surviving candidate pairs, so reported values stay exact — only a
    pair whose every shared shingle is viral can be missed.

    `shingles` optionally supplies an already-materialized
    (doc_id, shingle) relation for `docs` (the output of
    `doc_shingles(docs, k)`), so a pipeline that runs several
    shingle-based dedup passes over one corpus — or reads a written
    shingle index — shingles it exactly once.
    """
    sh = shingles if shingles is not None else _shingle_index(docs, k)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    viral = None
    if max_shingle_df is None:
        joinable = sh
    else:
        # the VIRAL set is tiny by definition (few shingles exceed the
        # cap) → broadcast anti-join, not a shuffle join on the full
        # kept set
        viral = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_shingle_df)
            .select("shingle")
        )
        joinable = sh.join(F.broadcast(viral), "shingle", "left_anti")
    # full-set sizes ride along at the POSTING grain (one linear join)
    # so they arrive pre-attached on every candidate row: joining sizes
    # onto the aggregated candidate table instead costs two shuffles of
    # a quasi-quadratic relation (measured 33.9M candidate pairs from
    # 7.8M posting rows on the 30× corpus — the re-join shape spent
    # ~100 s there, this one ~30 s)
    shz = joinable.join(sizes, "doc_id")
    a = shz.select(
        F.col("doc_id").alias("doc_a"), "shingle", F.col("n_sh").alias("n_a")
    )
    b = shz.select(
        F.col("doc_id").alias("doc_b"), "shingle", F.col("n_sh").alias("n_b")
    )
    # the inverted-index join's match rows ARE the non-viral
    # intersection — aggregate them instead of distinct-then-rejoin;
    # n_a/n_b are constant within a group, min() just carries them
    cand = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_nv"),
            F.min("n_a").alias("n_a"),
            F.min("n_b").alias("n_b"),
        )
    )
    if viral is None:
        inter = F.col("n_nv")
        scored = cand
    else:
        # full-set Jaccard must add back shared VIRAL shingles. Cheap
        # upper bound first: inter ≤ n_nv + min(#viral in a, #viral in
        # b) — prunes nearly every candidate before the correction
        # join (only ~near-dups survive a 0.2 threshold), then exact
        # correction joins the tiny viral posting list on the tiny
        # surviving pair set.
        viral_sh = sh.join(F.broadcast(viral), "shingle")
        nvc = viral_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_v"))
        ub_inter = F.col("n_nv") + F.least(F.col("nva"), F.col("nvb"))
        pruned = (
            cand.join(
                F.broadcast(
                    nvc.select(F.col("doc_id").alias("doc_a"), F.col("n_v").alias("_va"))
                ),
                "doc_a",
                "left",
            )
            .join(
                F.broadcast(
                    nvc.select(F.col("doc_id").alias("doc_b"), F.col("n_v").alias("_vb"))
                ),
                "doc_b",
                "left",
            )
            .withColumn("nva", F.coalesce(F.col("_va"), F.lit(0)))
            .withColumn("nvb", F.coalesce(F.col("_vb"), F.lit(0)))
            .filter(
                ub_inter / (F.col("n_a") + F.col("n_b") - ub_inter) >= threshold
            )
            .drop("_va", "_vb", "nva", "nvb")
            # feeds the correction join AND the final projection — two
            # consumers, materialize once (tiny after the prune)
            .localCheckpoint(eager=False)
        )
        iv = (
            pruned.select("doc_a", "doc_b")
            .join(viral_sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
            .join(
                viral_sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
                ["doc_b", "shingle"],
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_iv"))
        )
        scored = pruned.join(iv, ["doc_a", "doc_b"], "left")
        inter = F.col("n_nv") + F.coalesce(F.col("n_iv"), F.lit(0))
    return (
        scored.withColumn(
            "jaccard",
            # try_divide: a denominator of 0 can't arise from valid
            # globally-unique doc_ids, but a caller error (same doc on
            # both sides) would otherwise abort the whole job under
            # ANSI mode — degrade to NULL → filtered instead
            F.round(
                F.try_divide(inter, F.col("n_a") + F.col("n_b") - inter), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _verify_jaccard(
    candidates: DataFrame, sh: DataFrame, threshold: float
) -> DataFrame:
    """Exact shingle Jaccard over candidate pairs, using the FULL
    shingle sets (independent of any candidate-stage df-cap).

    For threshold > 0 a zero-intersection candidate can never survive
    the filter, so the intersection join is INNER and `candidates` has
    exactly one consumer — no outer join, no re-materialization. The
    left-join + coalesce(0) shape only exists for threshold == 0
    (report disjoint candidate pairs with jaccard 0.0)."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    ta = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    tb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    if threshold <= 0:
        candidates = candidates.localCheckpoint(eager=False)
    inter = (
        candidates.join(ta, "doc_a")
        .join(tb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    base = (
        inter
        if threshold > 0
        else candidates.join(inter, ["doc_a", "doc_b"], "left")
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        base.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            # try_divide for the same reason as the incremental scorer:
            # zero denominators are caller errors, not data — NULL out
            # and filter rather than aborting the job under ANSI
            F.round(
                F.try_divide(
                    F.coalesce(F.col("n_inter"), F.lit(0)),
                    F.col("n_a") + F.col("n_b") - F.coalesce(F.col("n_inter"), F.lit(0)),
                ),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _with_base_hash(sh: DataFrame) -> DataFrame:
    """One md5-prefix hash per shingle row, reduced mod p."""
    return sh.withColumn(
        "_h", F.pmod(_tok_hash(F.lit("mh"), F.col("shingle")), F.lit(MINHASH_PRIME))
    )


# shared per-SparkContext Column-tree memo (see functions.scalars):
# the 16-permutation aggregate list cost ~0.25 s of py4j round trips
# PER CALL — pure fixed driver cost the streaming path paid once per
# MICRO-BATCH.
from ..functions.scalars import ctx_memo as _ctx_memo  # noqa: E402


def _minhash_aggs() -> list:
    """Min-aggregates of the affine permutation family over `_h`."""
    n_hashes = MINHASH_HASHES
    return _ctx_memo(
        ("mh_aggs", n_hashes),
        lambda: [
            F.min(
                F.pmod(
                    F.lit(MINHASH_A[j]) * F.col("_h") + F.lit(MINHASH_B[j]),
                    F.lit(MINHASH_PRIME),
                )
            ).alias(f"h{j}")
            for j in range(n_hashes)
        ],
    )


def _band_structs(n_hashes: int, n_bands: int) -> list:
    rows_per_band = n_hashes // n_bands
    bands = []
    for b in range(n_bands):
        cols = [
            F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)
        ]
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *cols)).alias("band_sig"),
            )
        )
    return bands


def minhash_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, band_sig): md5 over each band's concatenated rows."""
    n_hashes = len([c for c in sigs.columns if c.startswith("h")])
    n_bands = MINHASH_BANDS
    bands = _ctx_memo(
        ("mh_bands", n_hashes, n_bands),
        lambda: _band_structs(n_hashes, n_bands),
    )
    return sigs.select(
        "doc_id", F.explode(F.array(*bands)).alias("bs")
    ).select("doc_id", "bs.band", "bs.band_sig")


def minhash_lsh_dedup(
    docs: DataFrame,
    threshold: float = 0.2,
    max_bucket_size: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pipeline: signatures → banding join →
    exact-Jaccard verification of candidates only.

    Banding is the scale lever: docs land in the same bucket iff one
    band matches, so the join fans out per-bucket, not per-corpus.
    Verification recomputes exact shingle Jaccard on the candidate set
    (the quantity MinHash estimates).

    `max_bucket_size` is the banding analogue of a shingle df-cap: a
    (band, signature) bucket holding m docs yields m² candidate rows,
    and a boilerplate-heavy corpus concentrates mass in a few buckets.
    Buckets larger than the cap are dropped from candidate generation
    (their pairs are overwhelmingly caught in other bands).

    `shingles` optionally supplies the materialized (doc_id, shingle)
    relation (see `ngram_jaccard_pairs`) so one shingle pass serves
    both the Jaccard and the MinHash dedup over the same corpus."""
    # the shingle index feeds the signature pass AND the verification
    # join (3 branches) — one materialization, GC-scoped
    sh = shingles if shingles is not None else _shingle_index(docs, 3)
    # bands feeds the bucket-size filter AND both join sides (3 plan
    # branches) — materialize once so the 16 min-aggregates over the
    # shingle explode run a single time
    bands = minhash_bands(
        _with_base_hash(sh).groupBy("doc_id").agg(*_minhash_aggs())
    ).localCheckpoint(eager=False)
    if max_bucket_size is not None:
        # over-cap buckets are the rare pathology → broadcast anti-join
        big = (
            bands.groupBy("band", "band_sig")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket_size)
            .select("band", "band_sig")
        )
        bands = bands.join(F.broadcast(big), ["band", "band_sig"], "left_anti")
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_sig")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_sig")
    candidates = (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _verify_jaccard(candidates, sh, threshold)


# The minhash index's on-disk schema, per dataset: its two writers
# (`minhash_write_index`, the streaming appender `_neardup_batch`)
# project through it, and its reader (`minhash_lsh_incremental`) reads
# with it instead of inferring — inference costs a footer-reading
# driver job per micro-batch lookup (r13; ~0.1 s per read per batch).
# `batch_id` (and `band` in bands/) are directory partitions.
MINHASH_INDEX_SCHEMA = {
    "bands": StructType([
        StructField("doc_id", LongType()),
        StructField("band_sig", StringType()),
        StructField("batch_id", IntegerType()),
        StructField("band", IntegerType()),
    ]),
    "shingles": StructType([
        StructField("doc_id", LongType()),
        StructField("shingle", StringType()),
        StructField("batch_id", IntegerType()),
    ]),
}


def _minhash_index_rows(df: DataFrame, dataset: str) -> DataFrame:
    """`df` cast to the `dataset`'s written columns in
    `MINHASH_INDEX_SCHEMA` (every field but the `batch_id` directory)."""
    return df.select(*[
        F.col(f.name).cast(f.dataType)
        for f in MINHASH_INDEX_SCHEMA[dataset].fields
        if f.name != "batch_id"
    ])


def minhash_write_index(docs: DataFrame, path: str, k_shingle: int = 3) -> None:
    """Materialize the LSH dedup index at ingest — the incremental-
    corpus shape: a 100 TB pipeline dedups each day's increment against
    the standing corpus, never recomputing signatures for the corpus.

    Two parquet datasets under `path`:
      bands/    — (doc_id, band, band_sig) partitioned by band, so an
                  increment's bucket join prunes to the touched bands;
      shingles/ — (doc_id, shingle) posting lists for exact-Jaccard
                  verification of candidates.
    Signatures are pure md5 functions of the text, so index rows never
    go stale and appends are just more rows.

    Both datasets nest under a `batch_id=` directory (the base corpus
    is batch -1) so streaming appenders can land each micro-batch in
    its own `batch_id=N` subdirectory — an IDEMPOTENT overwrite on
    replay — while partition discovery over the dataset root keeps one
    uniform batch_id(/band) structure. Readers select columns by name,
    so the discovered batch_id column is inert.
    """
    sh = _shingle_index(docs, k_shingle)
    bands = minhash_bands(
        _with_base_hash(sh).groupBy("doc_id").agg(*_minhash_aggs())
    )
    _minhash_index_rows(bands, "bands").write.mode("overwrite").partitionBy(
        "band"
    ).parquet(f"{path}/bands/batch_id=-1")
    _minhash_index_rows(sh, "shingles").write.mode("overwrite").parquet(
        f"{path}/shingles/batch_id=-1"
    )


def minhash_lsh_incremental(
    spark,
    new_docs: DataFrame,
    path: str,
    threshold: float = 0.2,
    max_bucket_size: int | None = None,
    max_batch_id_exclusive: int | None = None,
    sh_new: DataFrame | None = None,
    bands_new: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs INVOLVING the new batch: each pair has at least
    one new doc; the other side is the indexed corpus or the batch
    itself. Equals the full-batch `minhash_lsh_dedup` restricted to
    such pairs (pinned by test), but signature work scales with |new|
    and the bucket join touches only buckets a new doc lands in — the
    corpus is read, never re-hashed.

    A caller that ALSO appends the batch to the index (the streaming
    path) passes its once-checkpointed `sh_new` (doc_id, shingle) and
    `bands_new` (doc_id, band, band_sig) so the batch is shingled and
    min-hashed exactly once per micro-batch, not once per consumer.

    `max_bucket_size` counts over corpus ∪ increment, matching what the
    full recompute would see. doc_ids must be globally unique across
    corpus and increment (the ingest contract).

    `max_batch_id_exclusive` makes a REPLAYED streaming batch
    idempotent: a foreachBatch caller passes its own batch_id so the
    index reads exclude partitions `batch_id >= N` — without it, a
    replay of batch N (crash after the index append, before the
    checkpoint commit) would see its own rows already in the index and
    double-count every new doc's shingles and bucket occupancy
    (partition-discovered `batch_id` prunes at the directory level;
    the base corpus is batch -1 and always included).
    """
    if sh_new is None:
        sh_new = _shingle_index(new_docs, 3)
    if bands_new is None:
        bands_new = minhash_bands(
            _with_base_hash(sh_new).groupBy("doc_id").agg(*_minhash_aggs())
        ).localCheckpoint(eager=False)
    bands_new = bands_new.select("doc_id", "band", "band_sig")
    bands_old = spark.read.schema(MINHASH_INDEX_SCHEMA["bands"]).parquet(
        f"{path}/bands"
    )
    if max_batch_id_exclusive is not None:
        bands_old = bands_old.filter(
            F.col("batch_id") < max_batch_id_exclusive
        )
    bands_old = bands_old.select("doc_id", "band", "band_sig")
    all_bands = bands_old.unionByName(bands_new)
    new_side = bands_new
    if max_bucket_size is not None:
        big = (
            all_bands.groupBy("band", "band_sig")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket_size)
            .select("band", "band_sig")
        )
        all_bands = all_bands.join(
            F.broadcast(big), ["band", "band_sig"], "left_anti"
        )
        new_side = new_side.join(
            F.broadcast(big), ["band", "band_sig"], "left_anti"
        )
    a = all_bands.select(F.col("doc_id").alias("id_a"), "band", "band_sig")
    b = new_side.select(F.col("doc_id").alias("id_b"), "band", "band_sig")
    candidates = (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
        )
        .distinct()
    )
    sh_old = spark.read.schema(MINHASH_INDEX_SCHEMA["shingles"]).parquet(
        f"{path}/shingles"
    )
    if max_batch_id_exclusive is not None:
        sh_old = sh_old.filter(F.col("batch_id") < max_batch_id_exclusive)
    sh_all = sh_old.select("doc_id", "shingle").unionByName(
        sh_new.select("doc_id", "shingle")
    )
    return _verify_jaccard(candidates, sh_all, threshold)


def simhash(docs: DataFrame) -> DataFrame:
    """Per-doc SimHash: sign of the per-bit ±1 vote sum over token
    hashes. Output: doc_id, chunk values c0..c{chunks-1} (each
    `bits/chunks` wide) and the packed `simhash` long, with bits =
    SIMHASH_BITS and chunks = SIMHASH_CHUNKS read at call time.

    One row per (doc, token) with `bits` conditional-sum aggregates —
    NOT an explode over (token × bit): the vote for bit b is a pure
    function of the token hash, so each bit is its own map-side partial
    aggregate and the shuffled row count stays |tokens|, not
    |tokens|·bits (measured 6× faster at sf0.1).

    Each chunk draws its 16 bits from its own affine permutation
    (SIMHASH_A/B mod 2^31−1) of ONE md5-prefix base hash per token —
    one md5 instead of `chunks` md5s per token row, the same
    universal-hash family as MinHash (constants are import-time
    literals, so the oracle reproduces every bit). Chunk values are
    packed per-chunk and the full hash assembled with column shifts —
    a 64-bit literal would overflow, and two's-complement addition of
    disjoint bit ranges is carry-free, so the packed value is exact
    even when bit 63 lands set (negative long).
    """
    bits, chunks = SIMHASH_BITS, SIMHASH_CHUNKS
    chunk_bits = bits // chunks
    toks = doc_tokens(docs)

    # the three Column families below are pure functions of (bits,
    # chunks) — ~150 py4j expression constructions that cost ~1.3 s
    # PER CALL on this registry's hot path (r13; the bench invokes
    # simhash once per pass). Memoise per SparkContext (_ctx_memo).
    def _hash_cols() -> list:
        base = F.pmod(
            _tok_hash(F.lit("sh"), F.col("token")), F.lit(MINHASH_PRIME)
        )
        return [
            F.pmod(
                F.lit(SIMHASH_A[c]) * base + F.lit(SIMHASH_B[c]),
                F.lit(MINHASH_PRIME),
            ).alias(f"h{c}")
            for c in range(chunks)
        ]

    def _vote_aggs() -> list:
        return [
            F.sum(
                F.when(
                    F.expr(f"shiftright(h{c}, {b})").bitwiseAND(F.lit(1))
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"s_{c}_{b}")
            for c in range(chunks)
            for b in range(chunk_bits)
        ]

    def _pack_cols() -> list:
        chunk_cols = []
        for c in range(chunks):
            packed_chunk = sum(
                (
                    F.when(
                        F.col(f"s_{c}_{b}") >= 0, F.lit(1 << b)
                    ).otherwise(F.lit(0))
                    for b in range(chunk_bits)
                ),
                F.lit(0),
            )
            chunk_cols.append(packed_chunk.cast("long").alias(f"c{c}"))
        return chunk_cols

    def _full_col():
        full = F.col("c0").cast("long")
        for c in range(1, chunks):
            full = full + F.shiftleft(F.col(f"c{c}"), c * chunk_bits)
        return full

    hashed = toks.select(
        "doc_id", *_ctx_memo(("sh_hash", bits, chunks), _hash_cols)
    )
    votes = hashed.groupBy("doc_id").agg(
        *_ctx_memo(("sh_votes", bits, chunks), _vote_aggs)
    )
    out = votes.select(
        "doc_id", *_ctx_memo(("sh_pack", bits, chunks), _pack_cols)
    )
    return out.withColumn(
        "simhash", _ctx_memo(("sh_full", bits, chunks), _full_col)
    )


def simhash_neardup_pairs(docs: DataFrame) -> DataFrame:
    """SimHash near-dup pairs within hamming ≤ 3: chunk-banding
    candidates (a pair within hamming ≤ chunks−1 must share at least
    one chunk — pigeonhole), then exact hamming verification as
    bit_count(xor) of the PACKED hashes.

    The packed 64-bit value rides through the banding join instead of
    the chunk array: chunks occupy disjoint bit ranges (carry-free
    pack), so xor-of-packed ≡ concat-of-chunk-xors and one
    bit_count(xor) equals the chunk-sum — while the shuffled/distinct
    candidate rows carry 2 longs instead of 2 arrays (measured −35% on
    the pairs stage at sf0.1; parity with the array form pinned
    exactly). Sign is irrelevant: only xor/bit_count touch the value.
    The DuckDB oracle keeps the per-chunk formulation — same result,
    no 64-bit-literal handling needed there."""
    sh = simhash(docs)
    # feeds BOTH self-join sides — materialize once or the whole
    # token-hash vote-aggregate pipeline executes twice (no CSE across
    # self-join branches)
    exploded = (
        sh.select(
            "doc_id",
            "simhash",
            F.posexplode(
                F.array(*[F.col(f"c{c}") for c in range(SIMHASH_CHUNKS)])
            ).alias("chunk", "chunk_val"),
        )
        .localCheckpoint(eager=False)
    )
    a = exploded.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "chunk", "chunk_val"
    )
    b = exploded.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "chunk", "chunk_val"
    )
    return (
        a.join(b, ["chunk", "chunk_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
    )


def neardup_clusters(pairs: DataFrame) -> DataFrame:
    """Collapse near-dup pairs into clusters: connected components by
    iterative min-label propagation (the GraphFrames/Pregel idiom in
    plain DataFrame ops).

    Each node starts labeled with itself; every round each node takes
    the min label among itself and its neighbors; convergence in
    O(component diameter) rounds — near-dup clusters are small and
    dense, so a handful. Every round is one join + one groupBy (both
    shuffle on node id); `localCheckpoint` truncates the lineage so
    plans do not grow with iterations. Output: (doc_id, cluster_id,
    is_canonical) — cluster_id is the min doc_id of the component, the
    canonical survivor a downstream pipeline keeps.
    """
    # edges joins into EVERY propagation round — materialize once, or
    # each round re-executes the upstream pair pipeline (the full
    # near-dup candidate+verify plan when fed from ngram_jaccard_pairs:
    # measured 70 s → 16 s at sf0.1 for the registered clusters query).
    # The incoming pairs plan must ALSO be materialized before the
    # union: Catalyst does not CSE across union branches, so an
    # uncheckpointed `pairs` runs its whole candidate+verify pipeline
    # twice (measured 35 s → 15 s for the edges materialization).
    pairs = pairs.localCheckpoint(eager=False)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(20):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(
            neighbor_min, labels.doc_id == neighbor_min.src, "left"
        ).select(
            "doc_id",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )
        # pointer jumping (path halving): label ← label(label). Combined
        # with the neighbor-min step this converges in O(log diameter)
        # rounds instead of O(diameter) — each round here costs two
        # joins + a checkpoint, so round count dominates wall clock.
        jump = stepped.select(
            F.col("doc_id").alias("jdoc"), F.col("label").alias("jlabel")
        )
        new_labels = (
            stepped.join(jump, stepped.label == jump.jdoc, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce(F.col("jlabel"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).alias("is_canonical"),
    )


def keep_best_per_cluster(
    clusters: DataFrame, scores: DataFrame, score_col: str = "score"
) -> DataFrame:
    """Quality-aware canonical selection: per near-dup cluster, keep
    the HIGHEST-scoring member (ties → lowest doc_id) instead of
    `neardup_clusters`' min-id survivor — the policy a real pipeline
    wants when cluster members differ in quality (keep the longest /
    cleanest copy, drop the rest).

    `clusters` is (doc_id, cluster_id, …); `scores` is (doc_id,
    <score_col>). One join + one window partitioned by cluster —
    clusters are near-dup components (small and dense), so the window
    partitions are tiny and shard across executors on the cluster key.
    Output: (doc_id, cluster_id, <score_col>, keep_doc_id, is_kept).
    """
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc(), F.col("doc_id").asc()
    )
    return (
        clusters.select("doc_id", "cluster_id")
        .join(scores.select("doc_id", score_col), "doc_id")
        .withColumn("keep_doc_id", F.first("doc_id").over(w))
        .select(
            "doc_id",
            "cluster_id",
            score_col,
            "keep_doc_id",
            (F.col("doc_id") == F.col("keep_doc_id")).alias("is_kept"),
        )
    )


# ------------------------------------------------- duplicate passages

def positional_shingles(docs: DataFrame, k: int = 8) -> DataFrame:
    """(doc_id, pos, h, shingle) — one row per k-word shingle POSITION.

    Unlike `doc_shingles` (the distinct inverted-index grain), this
    keeps every position, with both the 60-bit md5-prefix hash (the
    fixed-width shuffle key) and the shingle STRING (for the paths
    that verify candidates exactly instead of trusting the hash —
    Catalyst prunes the string away wherever only `h` is consumed).
    The word array is pre-projected for the same codegen-CSE reason
    as `doc_shingles`.
    """
    pre = docs.select("doc_id", words_col(F.col("text")).alias("_w"))
    shingles = F.when(
        F.size("_w") >= k,
        F.transform(
            F.sequence(F.lit(0), F.size("_w") - k),
            lambda i: F.concat_ws(" ", F.slice("_w", i + 1, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos = pre.select("doc_id", F.posexplode(shingles).alias("pos", "shingle"))
    return pos.select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
        "shingle",
    )


def exact_repeat_runs(
    docs: DataFrame,
    k: int = 8,
    max_occ: int = 64,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Maximal VERIFIED exact repeats — the Lee et al. 2022 ExactSubstr
    contract at word resolution: every output row is a pair of
    positions whose word spans are byte-identical for `len_words`
    words (>= k), and maximal WITHIN THE DF-CAPPED SHINGLE SET:
    extending one word in either direction breaks the match, hits a
    document boundary, or crosses a shingle the 2..max_occ df-cap
    excluded. A true repeat whose interior shingle occurs > max_occ
    times therefore reports as fragments flanking the capped gap —
    the deliberate price of bounding the pair join (ultra-common
    shingles are boilerplate/near-dup territory, not passage dedup).

    Suffix-array-free distributed re-expression: candidate position
    pairs come from k-shingle STRING equality (the hash only narrows
    the candidate set; the join key is the exact string, so equality
    of every aligned shingle pair along a run PROVES the full spans
    match — overlapping-window induction). Pairs sharing an alignment
    DIAGONAL (doc_a, doc_b, pos_b − pos_a) with consecutive positions
    coalesce into one maximal run via the island window.

    Scale shape: only shingles with 2..max_occ occurrences enter the
    pair join (the df-cap that keeps boilerplate shingles from going
    quadratic — same policy as `ngram_jaccard_pairs`; ultra-common
    shingles are near-dup territory, not passage dedup). Output is
    linear in TRUE repeat pairs; the window partitions on bounded
    diagonals.

    Output: (doc_a, start_a, doc_b, start_b, len_words, n_shingles)
    with (doc_a, start_a) < (doc_b, start_b) lexicographically —
    intra-doc self-repeats qualify (memorization fuel too).

    `sh` optionally supplies a materialized `positional_shingles(docs,
    k)` relation (see `duplicate_passages`).
    """
    if sh is None:
        sh = positional_shingles(docs, k).localCheckpoint(eager=False)
    return _maximal_diagonal_runs(sh, k, max_occ, "len_words")


def _maximal_diagonal_runs(
    sh: DataFrame, k: int, max_occ: int, len_alias: str
) -> DataFrame:
    """Shared ExactSubstr core: coalesce string-verified k-shingle
    matches into maximal runs along alignment diagonals. `sh` is any
    (doc_id, pos, h, shingle) positional-shingle table — word grain
    (`positional_shingles`) or token grain
    (`positional_token_shingles`); `len_alias` names the output span
    length in the grain's unit. `h` must be a deterministic hash of
    `shingle` (both producers emit the 60-bit md5 prefix); it only
    narrows, so collisions ADD candidates and never a match. A table
    without `h` fails analysis.

    Exchange discipline (the 100 TB shape): the only FULL-CORPUS
    shuffle keys on the 8-byte `h` — (hash, partial count) rows, ~20x
    narrower than the raw ~k·width shingle string the old plan
    exchanged (sf1 measured: 199 B avg token shingle), and over the
    landed parquet artifact the hot-count scan prunes the shingle
    STRINGS away entirely (ReadSchema = doc_id, pos, h). The >= 2 hash
    count narrows `sh` to duplicate candidates via a semi-join against
    the hot-hash table, materialized once (eager checkpoint — it is
    needed for the size decision anyway) and BROADCAST while it fits
    the bounded budget (sized for HashedRelation's real
    tens-of-bytes/row cost, not raw 8 B/hash: sf1 has 663k hot hashes;
    the guard trips past ~8M distinct duplicated shingles ≈ 300-500 MB
    materialized, where the fallback partitioned semi-join still keys
    on the 8-byte hash). No upper
    df-cap on the hash count: a collision-merged count above max_occ
    must never exclude a string that is under the cap. Raw strings
    are exchanged only for the narrowed candidate subset (sf1: 9% of
    positions), where the exact 2..max_occ df-cap recount and the
    pair self-join key on the literal string — string equality IS the
    verification, and the candidate join + self-join reuse one string
    partitioning (a hash collision can therefore never flag a clean
    position; the hash only ever narrows)."""
    sh = sh.select("doc_id", "pos", "shingle", F.col("h").alias("_h"))
    hot = (
        sh.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_nh"))
        .filter(F.col("_nh") >= 2)
        .select("_h")
        .localCheckpoint()
    )
    # broadcast budget is HashedRelation-realistic, not 8 B/key: a
    # LongHashedRelation costs tens of bytes per row (key + page +
    # index overhead), so 8M hashes ≈ 300-500 MB materialized on the
    # driver AND every executor — the ceiling before default driver
    # memory is at risk. Past it, the fallback partitioned semi-join
    # still keys on the 8-byte hash. (sf1 measures 663k hot hashes —
    # two orders under the guard.)
    hot_side = F.broadcast(hot) if hot.count() <= 8_000_000 else hot
    cand0 = sh.join(hot_side, "_h", "left_semi").drop("_h")
    return _runs_from_candidates(cand0, k, max_occ, len_alias)


def _runs_from_candidates(
    cand0: DataFrame, k: int, max_occ: int, len_alias: str
) -> DataFrame:
    """The verification + pairing + island core shared by both
    narrowing strategies: `cand0` is the hash-narrowed positional
    candidate set (doc_id, pos, shingle) — the exact 2..max_occ
    df-cap recount and the pair self-join key on the literal STRING,
    so a hash collision can never flag a clean position regardless of
    which hash narrowed the candidates."""
    pairable = (
        cand0.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") >= 2) & (F.col("n") <= max_occ))
        .select("shingle")
    )
    cand = cand0.join(pairable, "shingle").select("doc_id", "pos", "shingle")
    a, b = cand.alias("a"), cand.alias("b")
    ordered = (F.col("a.doc_id") < F.col("b.doc_id")) | (
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.pos") < F.col("b.pos"))
    )
    pairs = a.join(
        b, (F.col("a.shingle") == F.col("b.shingle")) & ordered
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("a.pos").alias("pos_a"),
        F.col("b.doc_id").alias("doc_b"),
        (F.col("b.pos") - F.col("a.pos")).alias("diag"),
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    prev = F.lag("pos_a").over(w)
    runs = (
        pairs.withColumn(
            "_new",
            F.when(prev.isNull() | (F.col("pos_a") > prev + 1), 1).otherwise(0),
        )
        .withColumn("_run", F.sum("_new").over(w))
        .groupBy("doc_a", "doc_b", "diag", "_run")
        .agg(
            F.min("pos_a").cast("int").alias("start_a"),
            (F.max("pos_a") - F.min("pos_a") + k).cast("int").alias(
                len_alias
            ),
            F.count(F.lit(1)).alias("n_shingles"),
        )
    )
    return runs.select(
        "doc_a",
        "start_a",
        "doc_b",
        (F.col("start_a") + F.col("diag")).cast("int").alias("start_b"),
        len_alias,
        "n_shingles",
    )


def positional_token_shingles(encoded: DataFrame, k: int) -> DataFrame:
    """Positional k-TOKEN shingles over ordered token-ID sequences
    (`bpe.bpe_encode` output: doc_id, token_ids array<int>): one row
    per window start, shingle = the comma-joined id window, h = its
    60-bit md5 prefix (as in `positional_shingles`). The join key is
    injective in the id sequence (ids are integers, ',' never appears
    in one), so shingle string equality IS token-sequence equality —
    the token-grain twin of `positional_shingles`' exact verification
    story; `h` only narrows."""
    shingles = F.when(
        F.size("token_ids") >= k,
        F.transform(
            F.sequence(F.lit(0), F.size("token_ids") - k),
            lambda i: F.concat_ws(
                ",", F.slice("token_ids", i + 1, k).cast("array<string>")
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pos = encoded.select(
        "doc_id", F.posexplode(shingles).alias("pos", "shingle")
    )
    return pos.select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
        "shingle",
    )


def exact_repeat_runs_tokens(
    encoded: DataFrame, k: int = 50, max_occ: int = 64
) -> DataFrame:
    """Maximal verified exact repeats at TOKEN resolution — the Lee
    et al. 2022 ExactSubstr contract as the paper states it (§4.1:
    spans of >= 50 BPE tokens), not the word-grain approximation.
    Input is `bpe.bpe_encode` output (doc_id, token_ids); every output
    row is a pair of token positions whose id spans are identical for
    `len_tokens` tokens (>= k) and maximal within the df-capped
    shingle set (see `exact_repeat_runs` for the cap semantics).

    Same suffix-array-free distributed shape as the word grain:
    candidate pairs from k-token shingle equality (the comma-joined id
    string is the exact join key — overlapping-window induction proves
    full-span equality), coalesced along alignment diagonals; only
    shingles with 2..max_occ occurrences enter the pair join.

    Output: (doc_a, start_a, doc_b, start_b, len_tokens, n_shingles),
    positions in TOKEN index space, (doc_a, start_a) < (doc_b,
    start_b); intra-doc self-repeats qualify.

    Hash-FIRST narrowing (r13; guide §2.3 "shuffle keys and metadata
    instead of payloads"): the old path materialized the comma-joined
    shingle STRING for EVERY position (~4 B/id × k ≈ 200 B/position,
    the dominant phase) only for ~9% of positions to survive the
    hot-hash narrow. Now the narrow runs on an 8-byte `xxhash64` of
    the id SLICE itself — no string assembly — and strings are built
    only for candidate positions via one doc-grain join back to the
    encoded table. Identical output: equal id windows ⇔ equal
    comma-joined strings (ids are integers, ',' appears in neither),
    both hashes are functions of the window, and the exact-string
    2..max_occ recount + string-keyed pair join still perform the
    verification, so either hash only ever NARROWS.
    """
    enc = encoded.select("doc_id", "token_ids")
    win_hashes = F.when(
        F.size("token_ids") >= k,
        F.transform(
            F.sequence(F.lit(0), F.size("token_ids") - k),
            lambda i: F.xxhash64(F.slice("token_ids", i + 1, k)),
        ),
    ).otherwise(F.array().cast("array<long>"))
    pos_h = enc.select(
        "doc_id", F.posexplode(win_hashes).alias("pos", "_h")
    ).localCheckpoint(eager=False)
    hot = (
        pos_h.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_nh"))
        .filter(F.col("_nh") >= 2)
        .select("_h")
        .localCheckpoint()
    )
    # same HashedRelation-realistic broadcast budget as the
    # string-hash path (see _maximal_diagonal_runs)
    hot_side = F.broadcast(hot) if hot.count() <= 8_000_000 else hot
    cand_pos = pos_h.join(hot_side, "_h", "left_semi").select(
        "doc_id", "pos"
    )
    # rebuild the string ONLY for candidates: collapse the surviving
    # positions to doc grain, join the encoded table once by doc_id,
    # and slice+join each candidate window inside one array transform
    per_doc = cand_pos.groupBy("doc_id").agg(
        F.collect_list("pos").alias("_ps")
    )
    # spread the attach join BEFORE the explode: AQE coalesces the
    # doc-grain join output to one partition by bytes, single-tasking
    # the candidate string build (bytes are a bad proxy for the
    # per-window concat work) — round-robin over the cores instead
    spread = enc.sparkSession.sparkContext.defaultParallelism
    cand = (
        per_doc.join(enc, "doc_id")
        .repartition(spread)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    "_ps",
                    lambda p: F.struct(
                        p.alias("pos"),
                        F.concat_ws(
                            ",",
                            F.slice("token_ids", p + 1, k).cast(
                                "array<string>"
                            ),
                        ).alias("shingle"),
                    ),
                )
            ).alias("_c"),
        )
        .select("doc_id", F.col("_c.pos").alias("pos"), F.col("_c.shingle").alias("shingle"))
        .localCheckpoint(eager=False)
    )
    return _runs_from_candidates(cand, k, max_occ, "len_tokens")


def duplicate_passages(
    docs: DataFrame,
    k: int = 8,
    min_count: int = 2,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Exact duplicated-passage spans — the ExactSubstr analogue of
    "Deduplicating Training Data Makes Language Models Better"
    (Lee et al. 2022), at word-shingle resolution.

    A position is *duplicated* when its k-word shingle occurs >=
    `min_count` times in the whole corpus (cross-doc boilerplate AND
    intra-doc repetition both qualify — both are memorization fuel).
    Occurrences are counted on the EXACT shingle string: the 60-bit
    hash only pre-narrows candidates (one partial-agg groupBy), and a
    second count over the candidate subset verifies by string equality
    — a hash collision can therefore never flag a clean position.
    Runs of duplicated positions are merged into maximal spans per doc
    (overlapping or adjacent intervals [pos, pos+k-1] coalesce), which
    is what a passage-level scrubber deletes. Every position of every
    reported span lies inside at least one verified exact repeat (the
    run grain is `exact_repeat_runs`).

    Scale shape: the hash count is a partial-agg groupBy on the 60-bit
    shingle hash; candidates come back via one shuffle join on that
    hash (inverted-index pattern, never all-pairs); the string verify
    touches only candidates; the interval merge is a per-doc window
    (bounded by doc length). Output is linear in duplicated positions.

    Output: (doc_id, span_start, span_end, span_words, n_dup_shingles)
    — word-index span [start, end] inclusive, its width, and how many
    duplicated shingle positions support it.

    `sh` optionally supplies a materialized `positional_shingles(docs,
    k)` relation (the `shingles=` convention: at cluster scale the
    positional index is a written ingest artifact shared by every
    ExactSubstr consumer; r12 optimization round).
    """
    if sh is None:
        sh = positional_shingles(docs, k).localCheckpoint(eager=False)
    dup_h = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
        .select("h")
    )
    cand = sh.join(dup_h, "h")
    verified = (
        cand.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
        .select("shingle")
    )
    dpos = cand.join(verified, "shingle").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dpos.withColumn(
        "_new",
        F.when(
            prev_end.isNull() | (F.col("pos") > prev_end + 1), 1
        ).otherwise(0),
    ).withColumn("_island", F.sum("_new").over(w))
    return (
        flagged.groupBy("doc_id", "_island")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + (k - 1)).cast("int").alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_shingles"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_words"),
            "n_dup_shingles",
        )
    )


def scrub_passages(
    docs: DataFrame,
    k: int = 8,
    min_count: int = 2,
    spans: DataFrame | None = None,
) -> DataFrame:
    """The ACTION arm of ExactSubstr dedup (Lee et al. 2022 §4):
    `duplicate_passages` finds the duplicated spans — this CUTS them
    out of the text, every occurrence (the paper's policy: a span that
    repeats anywhere is memorization fuel wherever it appears).

    Array-native surgery, no explode: each doc's verified spans
    aggregate to ONE bounded struct array (|spans| ≤ doc length),
    LEFT-join back to the corpus, and a single JVM projection drops
    covered word positions via `filter`'s index lambda, then rejoins
    the survivors. Output text is therefore the whitespace-normalized
    reconstruction (words joined by single spaces) — identical for
    untouched docs to what `words_col` would re-tokenize.

    Output: (doc_id, clean_text, n_words, n_words_removed, n_spans).
    Pass a precomputed `spans` relation (doc_id, span_start, span_end)
    to reuse a session's existing scan; default recomputes at (k,
    min_count).
    """
    if spans is None:
        spans = duplicate_passages(docs, k=k, min_count=min_count)
    span_arrs = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    covered = lambda i: F.exists(  # noqa: E731
        F.col("_spans"),
        lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
    )
    # the word array materializes as a column FIRST so the filter and
    # the size/join expressions share one tokenization
    kept = F.filter(F.col("_ws"), lambda w, i: ~covered(i))
    base = docs.join(span_arrs, "doc_id", "left").withColumn(
        "_ws", words_col(F.col("text"))
    )
    n_words = F.greatest(F.size("_ws"), F.lit(0))
    clean = F.when(
        F.col("_spans").isNull(), F.array_join(F.col("_ws"), " ")
    ).otherwise(F.array_join(kept, " "))
    n_kept = F.when(
        F.col("_spans").isNull(), n_words
    ).otherwise(F.greatest(F.size(kept), F.lit(0)))
    return base.select(
        "doc_id",
        clean.alias("clean_text"),
        n_words.cast("long").alias("n_words"),
        (n_words - n_kept).cast("long").alias("n_words_removed"),
        F.coalesce(F.size("_spans"), F.lit(0)).cast("long").alias("n_spans"),
    )
