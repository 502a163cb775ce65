"""Multimodal columns: opaque binary payloads + typed metadata, with
decode / feature-extract / frame-sample plumbing.

North-star extension (driver brief): at 100 TB a training-data pipeline
carries images/audio/video as opaque `binary` columns beside typed
metadata, decoded only inside Arrow-batched Python (`mapInPandas`) —
never row-at-a-time, never on the driver.

The container ships no image/audio codecs, so the DECODE step is a
deterministic fake (md5-derived bytes/features) or a clearly-marked
`NotImplementedError` stub — but every Spark-side piece is real and
tested: binary column handling, metadata structs, Arrow binary batches
through `mapInPandas`, explode-shaped frame output, batch-size bounding.

Because the fake payloads and features derive only from md5, the DuckDB
oracle reproduces them bit-for-bit — even the Python-side mapInPandas
outputs are hash-checked, not just row-counted. Checksum convention:
`md5(lower(hex(bytes)))` everywhere — DuckDB's md5 only takes VARCHAR,
so hashing the lowercase hex encoding keeps all three engines (Spark
JVM, Python hashlib, DuckDB) bit-identical.

Scale notes:
- Payload bytes stay in Arrow buffers end-to-end; per-batch memory is
  bounded by `spark.sql.execution.arrow.maxRecordsPerBatch` — size it
  so batch_rows × max_payload fits the executor (e.g. 10 MB images →
  a few hundred rows per batch).
- Frame sampling explodes rows; do it AFTER filters/projections so the
  explosion never feeds a shuffle it doesn't have to.
- Real decoders (`pillow`, `torchaudio`, `av`) slot into the same
  `mapInPandas` signature — swap `_fake_decode_features` for a real one
  and nothing else changes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # real decoders are optional; the container has none
    from PIL import Image  # type: ignore  # noqa: F401

    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False

FRAME_BYTES = 16  # one md5 block per fake "frame"
MAX_FRAMES = 4


def attach_payload(docs: DataFrame) -> DataFrame:
    """Deterministic fake payload + metadata per document.

    payload = unhex(md5(text:0) ∥ … ∥ md5(text:k−1)), k = 1+(doc_id mod 4)
    — an opaque binary column of 16·k bytes. Metadata is a typed struct
    (modality, width, height, n_frames); all md5-derived, all JVM-side.
    """
    k = (F.col("doc_id") % MAX_FRAMES + 1).cast("int")
    hex_full = F.concat(
        *[F.md5(F.concat_ws(":", F.col("text"), F.lit(str(i)))) for i in range(MAX_FRAMES)]
    )
    payload = F.unhex(F.substring(hex_full, 1, F.lit(32) * k))
    modality = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    meta = F.struct(
        modality.alias("modality"),
        (F.col("doc_id") % 64 + 16).cast("int").alias("width"),
        (F.col("doc_id") % 48 + 16).cast("int").alias("height"),
        k.alias("n_frames"),
    )
    return docs.select("doc_id", payload.alias("payload"), meta.alias("meta"))


def payload_stats(docs: DataFrame) -> DataFrame:
    """Byte length + checksum + metadata projection — pure JVM columns.

    The first thing a multimodal pipeline runs: cheap integrity stats
    that never decode anything.
    """
    with_p = attach_payload(docs)
    return with_p.select(
        "doc_id",
        F.octet_length("payload").alias("n_bytes"),
        F.md5(F.lower(F.hex("payload"))).alias("checksum"),
        F.col("meta.modality").alias("modality"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_frames").alias("n_frames"),
    )


def _fake_decode_features(payload: bytes) -> tuple[float, int]:
    """Deterministic stand-in for a codec: byte-mean 'intensity' and a
    16-bit md5-derived 'dominant channel'. Replace with a real decoder
    (same signature) when codecs are available."""
    mean_byte = sum(payload) / len(payload) if payload else 0.0
    digest = hashlib.md5(payload.hex().encode()).hexdigest()
    return round(mean_byte, 6), int(digest[:4], 16)


def decode_features(docs: DataFrame) -> DataFrame:
    """Arrow-batched decode + feature extraction via `mapInPandas`.

    The real pattern at scale: payload bytes arrive in Arrow buffers,
    Python touches each batch once, output is a narrow feature frame.
    The real codecs are `decode_png` / `decode_jpeg` / `decode_wav`.
    """
    with_p = attach_payload(docs)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_fake_decode_features(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": [m["modality"] for m in pdf["meta"]],
                    "byte_mean": [f[0] for f in feats],
                    "dominant": [f[1] for f in feats],
                }
            )

    return with_p.mapInPandas(
        decode, schema="doc_id bigint, modality string, byte_mean double, dominant int"
    )


def decode_with_stats(docs: DataFrame) -> DataFrame:
    """Integrity stats + decode features in one pass: byte length and
    checksum stay JVM-side expressions (computed before the Arrow
    boundary and carried through), Python adds only the decoded
    features per batch — the fused form of `payload_stats` +
    `decode_features`."""
    with_p = attach_payload(docs).withColumn(
        "n_bytes", F.octet_length("payload")
    ).withColumn("checksum", F.md5(F.lower(F.hex("payload"))))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_fake_decode_features(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": [m["modality"] for m in pdf["meta"]],
                    "width": [m["width"] for m in pdf["meta"]],
                    "height": [m["height"] for m in pdf["meta"]],
                    "n_frames": [m["n_frames"] for m in pdf["meta"]],
                    "n_bytes": pdf["n_bytes"],
                    "checksum": pdf["checksum"],
                    "byte_mean": [f[0] for f in feats],
                    "dominant": [f[1] for f in feats],
                }
            )

    return with_p.mapInPandas(
        decode,
        schema=(
            "doc_id bigint, modality string, width int, height int, "
            "n_frames int, n_bytes int, checksum string, "
            "byte_mean double, dominant int"
        ),
    )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type 3 (palette) deliberately ABSENT: its samples are palette
# indices, not intensities — reporting them as pixel statistics would
# be silently wrong, so paletted PNGs go to quarantine as unsupported
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(data: bytes) -> dict:
    """Pure-stdlib PNG decode: chunk walk, IHDR parse, zlib-inflate of
    the IDAT stream, and scanline unfiltering (filters 0-4 incl Paeth).

    Supports the common web shapes: 8-bit depth, color types 0 (gray),
    2 (RGB), 4 (gray+alpha), 6 (RGBA), no interlace. Returns metadata +
    decoded-pixel statistics (mean intensity over color channels,
    per-channel means, dominant channel index). Raises ValueError on
    non-PNG bytes or unsupported variants — callers route those rows to
    the quarantine column rather than failing the batch.
    """
    import struct
    import zlib

    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    # truncated/corrupt streams raise struct.error / zlib.error deep in
    # the chunk walk — normalize to the documented ValueError contract
    try:
        pos, ihdr, idat = 8, None, []
        while pos + 8 <= len(data):
            (length,), ctype = struct.unpack(">I", data[pos : pos + 4]), data[pos + 4 : pos + 8]
            chunk = data[pos + 8 : pos + 8 + length]
            if ctype == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", chunk)
            elif ctype == b"IDAT":
                idat.append(chunk)
            elif ctype == b"IEND":
                break
            pos += 12 + length  # length + type + data + crc
        if ihdr is None or not idat:
            raise ValueError("truncated PNG (missing IHDR/IDAT)")
        width, height, depth, ctype_id, _comp, _filt, interlace = ihdr
        if depth != 8 or interlace != 0 or ctype_id not in _PNG_CHANNELS:
            raise ValueError(
                f"unsupported PNG variant (depth={depth} color={ctype_id} "
                f"interlace={interlace})"
            )
        channels = _PNG_CHANNELS[ctype_id]
        raw = zlib.decompress(b"".join(idat))
    except ValueError:
        raise
    # only the classes truncated/corrupt input actually raises — a
    # blanket Exception would quarantine MemoryError or a latent bug
    # as "corrupt input data"
    except (struct.error, zlib.error, IndexError, OverflowError) as e:
        raise ValueError(f"corrupt PNG stream: {e}") from e
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG pixel payload does not match dimensions")
    out = bytearray(stride * height)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
        prev_row_off = (y - 1) * stride
        row_off = y * stride
        if ftype == 0:
            out[row_off : row_off + stride] = line
        elif ftype == 1:  # Sub
            for x in range(stride):
                left = out[row_off + x - channels] if x >= channels else 0
                out[row_off + x] = (line[x] + left) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                up = out[prev_row_off + x] if y > 0 else 0
                out[row_off + x] = (line[x] + up) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                left = out[row_off + x - channels] if x >= channels else 0
                up = out[prev_row_off + x] if y > 0 else 0
                out[row_off + x] = (line[x] + ((left + up) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                left = out[row_off + x - channels] if x >= channels else 0
                up = out[prev_row_off + x] if y > 0 else 0
                ul = out[prev_row_off + x - channels] if (y > 0 and x >= channels) else 0
                out[row_off + x] = (line[x] + _paeth(left, up, ul)) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
    # stats over COLOR channels (alpha excluded from intensity)
    color_ch = 3 if ctype_id in (2, 6) else 1
    ch_sums = [0] * color_ch
    n_px = width * height
    for px in range(n_px):
        base = px * channels
        for c in range(color_ch):
            ch_sums[c] += out[base + c]
    ch_means = [s / n_px if n_px else 0.0 for s in ch_sums]
    mean = sum(ch_sums) / (n_px * color_ch) if n_px else 0.0
    return {
        "width": width,
        "height": height,
        "channels": channels,
        "bit_depth": depth,
        "mean_intensity": mean,
        "channel_means": ch_means,
        "dominant_channel": max(range(color_ch), key=lambda c: (ch_means[c], -c)),
    }


def sample_frames(docs: DataFrame, stride: int = 2) -> DataFrame:
    """Frame sampling for video-like payloads: every `stride`-th 16-byte
    frame, exploded to (doc_id, frame_idx, frame_md5).

    Python slices bytes inside `mapInPandas`; the explosion happens in
    Python too, so only sampled frames ever become rows.
    """
    with_p = attach_payload(docs)

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for doc_id, payload, meta in zip(
                pdf["doc_id"], pdf["payload"], pdf["meta"]
            ):
                for frame_idx in range(0, int(meta["n_frames"]), stride):
                    frame = payload[
                        frame_idx * FRAME_BYTES : (frame_idx + 1) * FRAME_BYTES
                    ]
                    ids.append(doc_id)
                    idxs.append(frame_idx)
                    hashes.append(hashlib.md5(frame.hex().encode()).hexdigest())
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_md5": hashes}
            )

    return with_p.mapInPandas(
        sample, schema="doc_id bigint, frame_idx int, frame_md5 string"
    )


# ------------------------------------------------- perceptual image dedup

DHASH_W, DHASH_H = 8, 8  # 8×8 differences → 64-bit hash (9×8 sample grid)
DHASH_CHUNKS = 4  # 16-bit chunk banding → complete for hamming ≤ 3


def synthesize_png_corpus(docs: DataFrame, cluster: int = 5) -> DataFrame:
    """Deterministic REAL-PNG fixture corpus: (doc_id, payload) where
    payload is a valid 16×16 grayscale PNG. Documents in the same
    `doc_id // cluster` group share a base md5-derived pixel pattern;
    member j of a group gets j pixels nudged by +8 — so every group is
    a near-duplicate image cluster with tiny, known visual deltas,
    while distinct groups are unrelated noise. Encoded with zlib
    (filter-0 scanlines) in `mapInPandas`; this is the TEST-FIXTURE
    twin of an ingest that lands crawled images as binary columns."""
    import hashlib
    import struct
    import zlib

    w = h = 16

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    def png_bytes(doc_id: int) -> bytes:
        group, member = divmod(int(doc_id), cluster)
        seed = hashlib.md5(f"img:{group}".encode()).digest()
        # deterministic pixels: 16 md5 digests of 16 bytes each fill the
        # 256-pixel grid (one md5 PER PIXEL made the fixture generator
        # 10x the cost of the operator under test at 30x)
        px = bytearray(
            b"".join(
                hashlib.md5(seed + bytes([i])).digest() for i in range(16)
            )
        )
        for j in range(member):  # j nudged pixels = the visual delta
            pos = hashlib.md5(f"nudge:{group}:{j}".encode()).digest()[0] % (w * h)
            px[pos] = (px[pos] + 8) & 0xFF
        raw = b"".join(
            b"\x00" + bytes(px[y * w : (y + 1) * w]) for y in range(h)
        )
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        return (
            _PNG_SIG
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [png_bytes(d) for d in pdf["doc_id"]],
                }
            )

    return docs.select("doc_id").mapInPandas(
        gen, schema="doc_id bigint, payload binary"
    )


def image_dhash(images: DataFrame) -> DataFrame:
    """Perceptual difference-hash over a binary image column: REAL
    stdlib decode (PNG via `decode_png`, baseline-DCT JPEG via
    `decode_jpeg` — sniffed by signature) → integer-exact grayscale →
    9×8 nearest-neighbor sample grid → 64-bit dHash (bit = left pixel
    > right pixel). One Arrow-batched pass; undecodable rows survive
    as (doc_id, NULL hash, error). Gray = integer mean over color
    channels, sampling = floor(i·dim/grid) — every step exact, so the
    hash is reproducible anywhere (and a PNG and a JPEG of SIMILAR
    pixels land at small hamming distance — the cross-format near-dup
    case real image corpora are full of)."""

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    data = bytes(payload)
                    if data[:2] == b"\xff\xd8":
                        wd, ht, px = _jpeg_pixels(data)
                        ch = 1
                    else:
                        meta = decode_png(data)
                        wd, ht, ch = (
                            meta["width"], meta["height"], meta["channels"]
                        )
                        # decode_png returns stats only; reuse its
                        # unfilter via the internal pixel path
                        px = _png_pixels(data)
                    # integer grayscale over color channels (alpha excluded)
                    n_color = 3 if ch >= 3 else 1
                    gray = [
                        sum(px[p * ch + c] for c in range(n_color)) // n_color
                        for p in range(wd * ht)
                    ]
                    g = [
                        [
                            gray[(y * ht // DHASH_H) * wd + (x * wd // (DHASH_W + 1))]
                            for x in range(DHASH_W + 1)
                        ]
                        for y in range(DHASH_H)
                    ]
                    bits = 0
                    for y in range(DHASH_H):
                        for x in range(DHASH_W):
                            if g[y][x] > g[y][x + 1]:
                                bits |= 1 << (y * DHASH_W + x)
                    # keep the hash in signed-long range deterministically
                    if bits >= 1 << 63:
                        bits -= 1 << 64
                    rows.append((doc_id, bits, None))
                except Exception as exc:  # noqa: BLE001 — quarantine row
                    rows.append((doc_id, None, str(exc)))
            yield pd.DataFrame(rows, columns=["doc_id", "dhash", "error"])

    return images.select("doc_id", "payload").mapInPandas(
        hash_batch, schema="doc_id bigint, dhash long, error string"
    )


def image_neardup_pairs(hashed: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate image pairs by dHash hamming distance — the
    SimHash banding shape reused: 16-bit chunks of the 64-bit hash
    bucket the corpus (65,536 values per chunk keeps buckets small),
    candidates share ≥1 chunk, verification is one JVM `bit_count` of
    the XOR. Pigeonhole: with `DHASH_CHUNKS` chunks, any pair within hamming
    ≤ chunks−1 leaves at least one chunk untouched, so for
    max_hamming ≤ chunks−1 the banding is COMPLETE — no recall loss
    (pinned vs brute force in tests)."""
    chunks = DHASH_CHUNKS
    width = 64 // chunks
    ok = hashed.filter(F.col("dhash").isNotNull())
    # ONE pass, not a chunks-way union: each union arm re-evaluates the
    # upstream decode+hash chain, and the self-join doubles that again
    # (measured 2x on the 30x corpus). posexplode emits the chunk rows
    # in a single projection; the lazy checkpoint keeps the self-join's
    # two sides reading one materialization of the (tiny) band table.
    chunk_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_i"),
                F.shiftrightunsigned(F.col("dhash"), i * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("chunk_v"),
            )
            for i in range(chunks)
        ]
    )
    banded = (
        ok.select("doc_id", "dhash", F.explode(chunk_arr).alias("ck"))
        .select("doc_id", "dhash", "ck.chunk_i", "ck.chunk_v")
        .localCheckpoint(eager=False)
    )
    # cap pathological buckets at 200 (a run of byte-identical images
    # puts the whole corpus in one bucket per chunk → O(n²) candidates);
    # same contract as the MinHash/shingle caps: identical images are
    # EXACT dupes — route them through checksum dedup, not the
    # perceptual join. Near-identical clusters stay intact as long as
    # they're smaller than the cap.
    small = (
        banded.groupBy("chunk_i", "chunk_v")
        .count()
        .filter(F.col("count") <= 200)
        .drop("count")
    )
    banded = banded.join(F.broadcast(small), ["chunk_i", "chunk_v"])
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.chunk_i") == F.col("b.chunk_i"))
            & (F.col("a.chunk_v") == F.col("b.chunk_v"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.dhash").alias("ha"),
            F.col("b.dhash").alias("hb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cand.select(
        "doc_a", "doc_b", ham.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def _png_pixels(data: bytes) -> bytes:
    """Decoded (unfiltered) pixel bytes of a PNG — the pixel-level twin
    of `decode_png` (which returns statistics). Same supported shapes,
    same ValueError contract."""
    import struct
    import zlib

    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack(">I", data[pos : pos + 4]), data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", chunk)
        elif ctype == b"IDAT":
            idat.append(chunk)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("truncated PNG (missing IHDR/IDAT)")
    width, height, depth, ctype_id, _c, _f, interlace = ihdr
    if depth != 8 or interlace != 0 or ctype_id not in _PNG_CHANNELS:
        raise ValueError("unsupported PNG variant")
    channels = _PNG_CHANNELS[ctype_id]
    raw = zlib.decompress(b"".join(idat))
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG pixel payload does not match dimensions")
    out = bytearray(stride * height)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
        prev_row_off = (y - 1) * stride
        row_off = y * stride
        if ftype == 0:
            out[row_off : row_off + stride] = line
        elif ftype == 1:
            for x in range(stride):
                left = out[row_off + x - channels] if x >= channels else 0
                out[row_off + x] = (line[x] + left) & 0xFF
        elif ftype == 2:
            for x in range(stride):
                up = out[prev_row_off + x] if y > 0 else 0
                out[row_off + x] = (line[x] + up) & 0xFF
        elif ftype == 3:
            for x in range(stride):
                left = out[row_off + x - channels] if x >= channels else 0
                up = out[prev_row_off + x] if y > 0 else 0
                out[row_off + x] = (line[x] + ((left + up) >> 1)) & 0xFF
        elif ftype == 4:
            for x in range(stride):
                left = out[row_off + x - channels] if x >= channels else 0
                up = out[prev_row_off + x] if y > 0 else 0
                ul = out[prev_row_off + x - channels] if (y > 0 and x >= channels) else 0
                out[row_off + x] = (line[x] + _paeth(left, up, ul)) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
    return bytes(out)


# ------------------------------------------------------- real audio (WAV/PCM)


def decode_wav(data: bytes) -> dict:
    """Pure-stdlib WAV decode: RIFF chunk walk, fmt parse, PCM samples.

    Supports the training-corpus-dominant shape: PCM (format 1),
    16-bit, mono/stereo. Returns metadata + integer-exact signal
    statistics (peak, RMS over a 64-bit integer sum of squares, zero
    crossings on channel 0). Raises ValueError on non-WAV bytes or
    unsupported variants — callers quarantine those rows (same
    contract as `decode_png`)."""
    import struct

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV (bad RIFF/WAVE header)")
    try:
        pos, fmt, pcm = 12, None, None
        while pos + 8 <= len(data):
            ctype = data[pos : pos + 4]
            (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            chunk = data[pos + 8 : pos + 8 + length]
            if ctype == b"fmt ":
                fmt = struct.unpack("<HHIIHH", chunk[:16])
            elif ctype == b"data":
                pcm = chunk
            pos += 8 + length + (length & 1)  # chunks are word-aligned
        if fmt is None or pcm is None:
            raise ValueError("truncated WAV (missing fmt/data chunk)")
    except (struct.error, IndexError) as e:
        raise ValueError(f"corrupt WAV stream: {e}") from e
    audio_fmt, channels, rate, _byte_rate, _align, bits = fmt
    if audio_fmt != 1 or bits != 16 or channels not in (1, 2):
        raise ValueError(
            f"unsupported WAV variant (fmt={audio_fmt} bits={bits} "
            f"channels={channels})"
        )
    n = len(pcm) // (2 * channels)
    # vectorized channel-0 stats (int64-exact; a per-sample Python loop
    # made this the bench suite's slowest decode at 5k docs)
    import numpy as np

    s = np.frombuffer(pcm[: n * 2 * channels], dtype="<i2")[::channels].astype(
        np.int64
    )
    peak = int(np.abs(s).max()) if n else 0
    sq = int((s * s).sum())
    signs = np.sign(s)
    nz = signs[signs != 0]
    crossings = int((nz[1:] != nz[:-1]).sum()) if nz.size > 1 else 0
    return {
        "sample_rate": rate,
        "channels": channels,
        "n_samples": n,
        "duration_ms": (n * 1000) // rate if rate else 0,
        "peak": peak,
        "rms": round((sq / n) ** 0.5, 6) if n else 0.0,
        "zero_crossings": crossings,
    }


def synthesize_wav_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-WAV fixture corpus: (doc_id, payload) where
    payload is a valid 8 kHz PCM16 mono WAV — an integer triangle wave whose
    frequency and amplitude derive from md5(doc_id), so every field the
    decoder reports is exactly predictable. The audio twin of
    `synthesize_png_corpus`."""
    import hashlib
    import struct

    rate = 8000

    def wav_bytes(doc_id: int) -> bytes:
        seed = hashlib.md5(f"wav:{int(doc_id)}".encode()).digest()
        period = 20 + seed[0] % 80  # samples per cycle
        amp = 4000 + seed[1] * 100
        n = rate // 10  # 100 ms
        half = period // 2
        import numpy as np

        ph = np.arange(n, dtype=np.int64) % period
        rising = -amp + (2 * amp * ph) // half
        falling = amp - (2 * amp * (ph - half)) // (period - half)
        v = np.where(ph < half, rising, falling)
        data = np.clip(v, -32768, 32767).astype("<i2").tobytes()
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        riff = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", len(riff)) + riff

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [wav_bytes(d) for d in pdf["doc_id"]],
                }
            )

    return docs.select("doc_id").mapInPandas(
        gen, schema="doc_id bigint, payload binary"
    )


def audio_features(audio: DataFrame) -> DataFrame:
    """Real audio feature extraction over a binary WAV column — the
    audio leg of the multimodal seam, with an Arrow-batched quarantine
    contract: one pass, undecodable rows survive as (doc_id, error)."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    m = decode_wav(bytes(payload))
                    rows.append(
                        (
                            doc_id, m["sample_rate"], m["channels"],
                            m["n_samples"], m["duration_ms"], m["peak"],
                            m["rms"], m["zero_crossings"], None,
                        )
                    )
                except Exception as exc:  # noqa: BLE001 — quarantine row
                    rows.append(
                        (doc_id, None, None, None, None, None, None, None,
                         str(exc))
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sample_rate", "channels", "n_samples",
                    "duration_ms", "peak", "rms", "zero_crossings", "error",
                ],
            )

    return audio.select("doc_id", "payload").mapInPandas(
        feats,
        schema=(
            "doc_id bigint, sample_rate int, channels int, n_samples int, "
            "duration_ms int, peak int, rms double, zero_crossings int, "
            "error string"
        ),
    )


# ------------------------------------------------ JPEG (baseline DCT)
#
# The dominant real-corpus image format, under the same contract as
# the PNG/WAV codecs: pure stdlib+numpy, deterministic fixture
# synthesizer (a real baseline ENCODER — the test twin), a marker-
# walking DECODER for 8-bit GRAYSCALE baseline-DCT streams, and the
# quarantine ValueError contract for everything else (progressive,
# color, 16-bit quant tables, arithmetic coding, torn streams).
# Reference layout: ITU-T T.81 (public spec); the Huffman/quant
# constants below are its Annex K luminance examples — but the
# decoder builds its tables FROM THE FILE's DQT/DHT segments, so any
# legal baseline grayscale stream decodes, not just our own.

_JPEG_QTABLE = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]

_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _zigzag() -> list[tuple[int, int]]:
    """The 64-entry zigzag scan order, generated (not transcribed):
    anti-diagonal s walks y-ascending when s is odd, y-descending when
    even — (0,0),(0,1),(1,0),(2,0),(1,1),(0,2),…"""
    order = []
    for s in range(15):
        diag = [(y, s - y) for y in range(8) if 0 <= s - y < 8]
        order.extend(diag if s % 2 == 1 else list(reversed(diag)))
    return order


_ZIGZAG = _zigzag()


def _dct_basis():
    import numpy as np

    c = np.array([(0.5 / (2 ** 0.5)) if u == 0 else 0.5 for u in range(8)])
    x = np.arange(8)
    basis = c[:, None] * np.cos((2 * x[None, :] + 1) * np.arange(8)[:, None] * np.pi / 16)
    return basis  # forward: B @ block @ B.T ; inverse: B.T @ coef @ B


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman codes from a DHT (bits, values) pair:
    {value: (code, length)}."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)  # 1-pad
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """(size, amplitude bits) of a coefficient — T.81 F.1.2.1: negative
    values encode as v-1 in `size` low bits (one's complement range)."""
    size = 0
    a = abs(v)
    while a:
        size += 1
        a >>= 1
    return size, (v if v >= 0 else v - 1) & ((1 << size) - 1) if size else 0


def encode_jpeg_gray(pixels: bytes, width: int, height: int) -> tuple[bytes, bytes]:
    """Real baseline-DCT grayscale JPEG encoder (the fixture twin of
    `decode_jpeg`, like `synthesize_png_corpus`'s zlib encoder for the
    PNG path). Returns (jpeg_bytes, expected_pixels): the second
    element is the EXACT reconstruction the decoder must produce —
    dequantized coefficients through the same IDCT/rounding path — so
    tests can pin the decode bit-for-bit without a second decoder.
    Edge blocks pad by edge replication; quantization rounds
    floor(x/q + 0.5) symmetrically via int(x/q + copysign(0.5, x))."""
    import numpy as np

    B = _dct_basis()
    q = np.array(_JPEG_QTABLE, dtype=np.float64).reshape(8, 8)
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    bh, bw = (height + 7) // 8, (width + 7) // 8
    padded = np.pad(
        img.astype(np.float64) - 128.0,
        ((0, bh * 8 - height), (0, bw * 8 - width)),
        mode="edge",
    )
    dc_codes = _huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    w = _BitWriter()
    recon = np.zeros_like(padded)
    prev_dc = 0
    for by in range(bh):
        for bx in range(bw):
            block = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            coef = B @ block @ B.T
            qc = np.array(
                [
                    int(c / qq + (0.5 if c >= 0 else -0.5))
                    for c, qq in zip(coef.ravel(), q.ravel())
                ]
            ).reshape(8, 8)
            # the reconstruction the decoder must reproduce
            rb = B.T @ (qc * q) @ B
            recon[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = rb
            zz = [qc[y, x] for (y, x) in _ZIGZAG]
            size, amp = _magnitude(int(zz[0]) - prev_dc)
            prev_dc = int(zz[0])
            w.write(*dc_codes[size])
            if size:
                w.write(amp, size)
            run = 0
            last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
            for i in range(1, last_nz + 1):
                v = int(zz[i])
                if v == 0:
                    run += 1
                    if run == 16:
                        w.write(*ac_codes[0xF0])  # ZRL
                        run = 0
                    continue
                s, a = _magnitude(v)
                w.write(*ac_codes[(run << 4) | s])
                w.write(a, s)
                run = 0
            if last_nz < 63:
                w.write(*ac_codes[0x00])  # EOB
    scan = w.flush()
    expected = np.clip(
        np.floor(recon + 128.0 + 0.5), 0, 255
    ).astype(np.uint8)[:height, :width]

    import struct

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    # DQT payload: Pq/Tq=0 then the 64 entries in ZIGZAG order
    zz_q = bytes(int(q[zy, zx]) for (zy, zx) in _ZIGZAG)
    dqt = seg(0xDB, bytes([0x00]) + zz_q)
    sof = seg(0xC0, struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0]))
    dht_dc = seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    dht_ac = seg(0xC4, bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    jpeg = (
        b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos + scan + b"\xff\xd9"
    )
    return jpeg, expected.tobytes()


class _BitReader:
    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG scan")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos] if self.pos < len(self.data) else None
            if nxt == 0x00:
                self.pos += 1  # stuffed byte
            else:
                raise ValueError("unexpected marker inside JPEG scan")
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


def _huff_decode(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | reader.bit()
        length += 1
        if (code, length) in table:
            return table[(code, length)]
    raise ValueError("invalid JPEG Huffman code")


def _extend(amp: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: amplitude bits back to a signed value."""
    if size == 0:
        return 0
    return amp if amp >= (1 << (size - 1)) else amp - (1 << size) + 1


def decode_jpeg(data: bytes) -> dict:
    """Pure stdlib+numpy baseline-DCT GRAYSCALE JPEG decode: marker
    walk (DQT/SOF0/DHT/SOS), Huffman scan decode with byte-unstuffing,
    dequantize, inverse zigzag, IDCT, +128 level shift,
    floor(x+0.5)-round and clamp — the exact reconstruction
    `encode_jpeg_gray` predicts. Supports 8-bit single-component
    baseline streams (any dimensions; MCU padding cropped). Raises
    ValueError on anything else — progressive (SOF2), color, 16-bit
    quant tables, restart intervals, arithmetic coding, torn streams —
    which callers quarantine rather than fail (the PNG/WAV contract)."""
    import struct

    import numpy as np

    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (bad SOI)")
    try:
        pos = 2
        qtables: dict[int, list[int]] = {}
        htables: dict[tuple[int, int], dict] = {}
        sof = None
        scan_comp = None
        while pos + 4 <= len(data):
            if data[pos] != 0xFF:
                raise ValueError("bad JPEG marker alignment")
            marker = data[pos + 1]
            if marker == 0xD9:  # EOI
                break
            (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
            body = data[pos + 4 : pos + 2 + seglen]
            if marker == 0xDB:
                b = 0
                while b < len(body):
                    pq, tq = body[b] >> 4, body[b] & 0x0F
                    if pq != 0:
                        raise ValueError("unsupported 16-bit quant table")
                    zz = list(body[b + 1 : b + 65])
                    tbl = [0] * 64
                    for i, (y, x) in enumerate(_ZIGZAG):
                        tbl[y * 8 + x] = zz[i]
                    qtables[tq] = tbl
                    b += 65
            elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9,
                            0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                raise ValueError(
                    f"unsupported JPEG mode (SOF marker 0x{marker:02x} — "
                    "baseline sequential only)"
                )
            elif marker == 0xC0:
                prec, h, w_, ncomp = struct.unpack(">BHHB", body[:6])
                if prec != 8:
                    raise ValueError("unsupported JPEG precision")
                if ncomp != 1:
                    raise ValueError(
                        "unsupported JPEG color layout (grayscale only)"
                    )
                cid, sampling, tq = body[6], body[7], body[8]
                if sampling != 0x11:
                    raise ValueError("unsupported JPEG subsampling")
                sof = (w_, h, cid, tq)
            elif marker == 0xC4:
                b = 0
                while b < len(body):
                    tc, th = body[b] >> 4, body[b] & 0x0F
                    bits = list(body[b + 1 : b + 17])
                    nv = sum(bits)
                    vals = list(body[b + 17 : b + 17 + nv])
                    codes = _huff_codes(bits, vals)
                    htables[(tc, th)] = {
                        (c, ln): v for v, (c, ln) in codes.items()
                    }
                    b += 17 + nv
            elif marker == 0xDD:
                raise ValueError("unsupported JPEG restart interval")
            elif marker == 0xDA:
                ns = body[0]
                if ns != 1:
                    raise ValueError(
                        "unsupported JPEG color layout (grayscale only)"
                    )
                scan_comp = (body[1], body[2] >> 4, body[2] & 0x0F)
                pos = pos + 2 + seglen
                break
            pos = pos + 2 + seglen
        if sof is None or scan_comp is None:
            raise ValueError("truncated JPEG (missing SOF/SOS)")
        width, height, _cid, tq = sof
        if tq not in qtables:
            raise ValueError("missing JPEG quant table")
        _sc, dc_id, ac_id = scan_comp
        if (0, dc_id) not in htables or (1, ac_id) not in htables:
            raise ValueError("missing JPEG Huffman table")
        q = np.array(qtables[tq], dtype=np.float64).reshape(8, 8)
        dc_tbl, ac_tbl = htables[(0, dc_id)], htables[(1, ac_id)]
        B = _dct_basis()
        bh, bw = (height + 7) // 8, (width + 7) // 8
        out = np.zeros((bh * 8, bw * 8))
        reader = _BitReader(data, pos)
        prev_dc = 0
        for by in range(bh):
            for bx in range(bw):
                zz = [0] * 64
                size = _huff_decode(reader, dc_tbl)
                prev_dc += _extend(reader.bits(size), size)
                zz[0] = prev_dc
                i = 1
                while i < 64:
                    rs = _huff_decode(reader, ac_tbl)
                    run, s = rs >> 4, rs & 0x0F
                    if rs == 0x00:  # EOB
                        break
                    if rs == 0xF0:  # ZRL
                        i += 16
                        continue
                    i += run
                    if i > 63:
                        raise ValueError("JPEG AC run overflows block")
                    zz[i] = _extend(reader.bits(s), s)
                    i += 1
                qc = np.zeros((8, 8))
                for k, (y, x) in enumerate(_ZIGZAG):
                    qc[y, x] = zz[k]
                out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    B.T @ (qc * q) @ B
                )
    except ValueError:
        raise
    except (struct.error, IndexError, OverflowError) as e:
        raise ValueError(f"corrupt JPEG stream: {e}") from e
    pixels = np.clip(np.floor(out + 128.0 + 0.5), 0, 255).astype(np.uint8)[
        :height, :width
    ]
    return {
        "width": width,
        "height": height,
        "channels": 1,
        "bit_depth": 8,
        "mean_intensity": float(pixels.mean()) if pixels.size else 0.0,
        "pixels": pixels.tobytes(),
    }


def _jpeg_pixels(data: bytes) -> tuple[int, int, bytes]:
    m = decode_jpeg(data)
    return m["width"], m["height"], m["pixels"]


def synthesize_jpeg_corpus(docs: DataFrame, cluster: int = 5) -> DataFrame:
    """Deterministic REAL-JPEG fixture corpus — `synthesize_png_corpus`
    with the baseline-DCT encoder: same 16×16 md5-derived pixel grids,
    same near-dup cluster structure (member j nudges j pixels by +32 —
    larger than the PNG fixture's +8 because JPEG quantization rounds
    small single-pixel deltas away), encoded with `encode_jpeg_gray`."""
    import hashlib

    w = h = 16

    def jpeg_bytes(doc_id: int) -> bytes:
        group, member = divmod(int(doc_id), cluster)
        seed = hashlib.md5(f"img:{group}".encode()).digest()
        px = bytearray(
            b"".join(
                hashlib.md5(seed + bytes([i])).digest() for i in range(16)
            )
        )
        for j in range(member):
            pos = hashlib.md5(f"nudge:{group}:{j}".encode()).digest()[0] % (w * h)
            px[pos] = (px[pos] + 32) & 0xFF
        return encode_jpeg_gray(bytes(px), w, h)[0]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [jpeg_bytes(d) for d in pdf["doc_id"]],
                }
            )

    # the DCT encode (and the downstream Huffman decode) are the
    # per-row hot path; a 2-file doc_id read would pin them to 2
    # cores — the repartition shuffles bare longs (a real binary
    # ingest arrives already spread)
    spread = docs.select("doc_id").repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(gen, schema="doc_id bigint, payload binary")
