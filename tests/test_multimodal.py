"""Multimodal plumbing tests: binary columns, Arrow batches, metadata,
frame explosion, stubbed real-decode gate."""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from algoritmos_etl_spark.operators import multimodal
from algoritmos_etl_spark.sources.readers import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").cache()


def test_payload_schema_and_determinism(docs):
    out = multimodal.attach_payload(docs)
    assert dict(out.dtypes)["payload"] == "binary"
    assert (
        dict(out.dtypes)["meta"]
        == "struct<modality:string,width:int,height:int,n_frames:int>"
    )
    row1 = out.orderBy("doc_id").first()
    row2 = multimodal.attach_payload(docs).orderBy("doc_id").first()
    assert row1.payload == row2.payload  # deterministic bytes
    assert len(row1.payload) == 16 * row1.meta.n_frames


def test_payload_bytes_match_python_md5(docs):
    row = multimodal.attach_payload(docs).orderBy("doc_id").first()
    text = docs.orderBy("doc_id").first().text
    expect = b"".join(
        bytes.fromhex(hashlib.md5(f"{text}:{i}".encode()).hexdigest())
        for i in range(row.meta.n_frames)
    )
    assert bytes(row.payload) == expect


def test_decode_features_values(docs):
    feats = {r.doc_id: r for r in multimodal.decode_features(docs).collect()}
    payloads = {
        r.doc_id: bytes(r.payload)
        for r in multimodal.attach_payload(docs).collect()
    }
    assert set(feats) == set(payloads)
    some = sorted(feats)[:5]
    for doc_id in some:
        p = payloads[doc_id]
        assert feats[doc_id].byte_mean == pytest.approx(
            round(sum(p) / len(p), 6)
        )
        assert feats[doc_id].dominant == int(
            hashlib.md5(p.hex().encode()).hexdigest()[:4], 16
        )


def test_frame_sampling_shape(docs):
    frames = multimodal.sample_frames(docs, stride=2)
    per_doc = frames.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    meta = {
        r.doc_id: r.meta.n_frames
        for r in multimodal.attach_payload(docs).collect()
    }
    for r in per_doc:
        # ceil(n_frames / 2) sampled frames
        assert r.n == (meta[r.doc_id] + 1) // 2


# ---------------------------------------------------------------- real codec

def _png_bytes(width, height, pixels, color_type, filters=None):
    """Minimal PNG writer (stdlib only) for codec tests: 8-bit depth,
    no interlace. `pixels` is bytes of size width*height*channels;
    `filters` optionally assigns a filter type per scanline (the writer
    applies the matching forward filter so the decoder must undo it)."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    stride = width * channels
    filters = filters or [0] * height

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    raw = bytearray()
    for y in range(height):
        ft = filters[y]
        raw.append(ft)
        for x in range(stride):
            cur = pixels[y * stride + x]
            left = pixels[y * stride + x - channels] if x >= channels else 0
            up = pixels[(y - 1) * stride + x] if y > 0 else 0
            ul = (
                pixels[(y - 1) * stride + x - channels]
                if (y > 0 and x >= channels)
                else 0
            )
            if ft == 0:
                raw.append(cur)
            elif ft == 1:
                raw.append((cur - left) & 0xFF)
            elif ft == 2:
                raw.append((cur - up) & 0xFF)
            elif ft == 3:
                raw.append((cur - ((left + up) >> 1)) & 0xFF)
            elif ft == 4:
                raw.append((cur - paeth(left, up, ul)) & 0xFF)

    def chunk(ctype, data):
        body = ctype + data
        return (
            struct.pack(">I", len(data))
            + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_decode_png_all_filters():
    """The stdlib decoder must undo every scanline filter type (0-4)
    and reproduce the exact pixel statistics."""
    from algoritmos_etl_spark.operators.multimodal import decode_png

    width, height = 5, 5
    pixels = bytes((x * 37 + i * 11) % 256 for i, x in enumerate(range(width * height * 3)))
    png = _png_bytes(width, height, pixels, color_type=2, filters=[0, 1, 2, 3, 4])
    meta = decode_png(png)
    assert (meta["width"], meta["height"], meta["channels"]) == (5, 5, 3)
    assert meta["mean_intensity"] == sum(pixels) / len(pixels)
    ch = [
        sum(pixels[i] for i in range(c, len(pixels), 3)) / (width * height)
        for c in range(3)
    ]
    assert meta["channel_means"] == ch
    assert meta["dominant_channel"] == max(range(3), key=lambda c: (ch[c], -c))


def test_decode_png_gray_and_alpha():
    from algoritmos_etl_spark.operators.multimodal import decode_png

    gray = bytes(range(16))
    meta = decode_png(_png_bytes(4, 4, gray, color_type=0, filters=[1, 2, 3, 4]))
    assert meta["channels"] == 1
    assert meta["mean_intensity"] == sum(gray) / 16
    # RGBA: alpha bytes excluded from intensity
    rgba = bytes((i * 7) % 256 for i in range(4 * 4 * 4))
    meta = decode_png(_png_bytes(4, 4, rgba, color_type=6))
    color = [rgba[i] for i in range(len(rgba)) if i % 4 != 3]
    assert meta["channels"] == 4
    assert meta["mean_intensity"] == sum(color) / len(color)


# ------------------------------------------------- perceptual image dedup


def test_image_dhash_and_neardup_pairs(spark):
    """End-to-end REAL pipeline: synthesize valid PNGs (clustered with
    tiny pixel nudges) → stdlib decode → dHash → banded hamming join.
    Banding must equal brute force at max_hamming ≤ chunks−1."""
    from algoritmos_etl_spark.operators import multimodal as MM

    docs = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    imgs = MM.synthesize_png_corpus(docs, cluster=5)
    hashed = MM.image_dhash(imgs).cache()
    rows = {r.doc_id: r for r in hashed.collect()}
    assert len(rows) == 40
    assert all(r.error is None and r.dhash is not None for r in rows.values())

    # within-cluster images are visually near-identical → tiny hamming;
    # cross-cluster hashes are unrelated noise
    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    within = [
        ham(rows[g * 5].dhash, rows[g * 5 + 1].dhash) for g in range(8)
    ]
    assert sum(1 for h in within if h <= 3) >= 6, within

    pairs = MM.image_neardup_pairs(hashed, max_hamming=3)
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs.collect()}
    # banding completeness: identical to brute force under hamming ≤ 3
    brute = {
        (a, b): ham(rows[a].dhash, rows[b].dhash)
        for a in rows
        for b in rows
        if a < b and ham(rows[a].dhash, rows[b].dhash) <= 3
    }
    assert got == brute
    assert got, "fixture produced no near-dup pairs at all"


def test_image_dhash_quarantines_non_png(spark):
    from algoritmos_etl_spark.operators import multimodal as MM

    bad = spark.createDataFrame(
        [(1, bytearray(b"not a png")), (2, None)],
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in MM.image_dhash(bad).collect()}
    assert out[1].dhash is None and "PNG" in out[1].error
    assert out[2].dhash is None  # null payload quarantined, not crashed


def test_image_neardup_bucket_cap_drops_identical_floods(spark):
    """A run of byte-identical images (one dhash) floods every chunk
    bucket; the cap drops those buckets (they belong to checksum-exact
    dedup) while smaller near-dup clusters keep their pairs."""
    from algoritmos_etl_spark.operators import multimodal as MM

    # 250 identical hashes (over the 200 cap) + one 3-member cluster
    cluster = [(1000, 0x1000), (1001, 0x1001), (1002, 0x1003)]

    def hashed(n_flood):
        flood = [(i, 0x0F0F0F0F0F0F0F0F) for i in range(n_flood)]
        return spark.createDataFrame(
            [(i, h, None) for i, h in flood + cluster],
            "doc_id long, dhash long, error string",
        )

    capped = MM.image_neardup_pairs(hashed(250), max_hamming=3)
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert got == {(1000, 1001), (1000, 1002), (1001, 1002)}
    # under the cap, the flood contributes all its pairs
    under = MM.image_neardup_pairs(hashed(120), max_hamming=3)
    assert under.count() == 120 * 119 // 2 + 3


# ----------------------------------------------------------- audio (WAV/PCM)


def test_decode_wav_exact_stats():
    import struct

    from algoritmos_etl_spark.operators.multimodal import decode_wav

    samples = [0, 100, -100, 200]
    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    riff = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    wav = b"RIFF" + struct.pack("<I", len(riff)) + riff
    m = decode_wav(wav)
    assert m["sample_rate"] == 8000 and m["channels"] == 1
    assert m["n_samples"] == 4 and m["peak"] == 200
    assert m["zero_crossings"] == 2  # 100→−100, −100→200 (0 is no sign)
    assert m["rms"] == round((15000) ** 0.5, 6)


def test_audio_features_end_to_end_and_quarantine(spark):
    from algoritmos_etl_spark.operators import multimodal as MM

    docs = spark.range(0, 20).select(F.col("id").alias("doc_id"))
    wavs = MM.synthesize_wav_corpus(docs)
    feats = {r.doc_id: r for r in MM.audio_features(wavs).collect()}
    assert len(feats) == 20
    for r in feats.values():
        assert r.error is None
        assert r.sample_rate == 8000 and r.channels == 1
        assert r.n_samples == 800 and r.duration_ms == 100
        assert r.peak > 0 and r.rms > 0 and r.zero_crossings > 0
    # distinct docs get distinct signals (md5-derived period/amplitude)
    assert len({(r.peak, r.zero_crossings) for r in feats.values()}) > 10

    bad = spark.createDataFrame(
        [(1, bytearray(b"RIFFxxxxJUNK")), (2, bytearray(b""))],
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in MM.audio_features(bad).collect()}
    assert all(r.rms is None and r.error for r in out.values())


# ------------------------------------------------ JPEG (baseline DCT)


def _md5_pixels(group=0, w=16, h=16):
    import hashlib

    seed = hashlib.md5(f"img:{group}".encode()).digest()
    return b"".join(
        hashlib.md5(seed + bytes([i])).digest() for i in range(w * h // 16)
    )


def test_jpeg_roundtrip_bit_exact():
    """decode_jpeg must reproduce the encoder's predicted
    reconstruction EXACTLY — same dequant, same IDCT basis, same
    floor(x+0.5) rounding — for aligned and MCU-padded dimensions."""
    from algoritmos_etl_spark.operators import multimodal as mm

    px = _md5_pixels()
    jpeg, expected = mm.encode_jpeg_gray(px, 16, 16)
    m = mm.decode_jpeg(jpeg)
    assert (m["width"], m["height"], m["channels"]) == (16, 16, 1)
    assert m["pixels"] == expected
    # non-multiple-of-8: edge-replicated MCU padding, cropped on read
    jpeg2, exp2 = mm.encode_jpeg_gray(bytes(range(60)), 10, 6)
    m2 = mm.decode_jpeg(jpeg2)
    assert (m2["width"], m2["height"]) == (10, 6)
    assert m2["pixels"] == exp2


def test_jpeg_annex_k_tables_are_canonical():
    from algoritmos_etl_spark.operators import multimodal as mm

    assert sum(mm._JPEG_DC_BITS) == len(mm._JPEG_DC_VALS) == 12
    assert sum(mm._JPEG_AC_BITS) == len(mm._JPEG_AC_VALS) == 162
    for bits, vals in ((mm._JPEG_DC_BITS, mm._JPEG_DC_VALS),
                       (mm._JPEG_AC_BITS, mm._JPEG_AC_VALS)):
        codes = mm._huff_codes(bits, vals)
        assert len(codes) == len(vals)
        for code, length in codes.values():
            assert code < (1 << length)  # canonical construction holds
        # prefix property: no code is a prefix of a longer one
        seen = sorted((ln, c) for c, ln in codes.values())
        for i, (ln_a, c_a) in enumerate(seen):
            for ln_b, c_b in seen[i + 1:]:
                assert not (c_b >> (ln_b - ln_a)) == c_a or ln_a == ln_b


def test_jpeg_quarantine_variants():
    from algoritmos_etl_spark.operators import multimodal as mm

    px = _md5_pixels()
    jpeg, _ = mm.encode_jpeg_gray(px, 16, 16)
    with pytest.raises(ValueError, match="SOI"):
        mm.decode_jpeg(b"\x89PNG\r\n\x1a\n")
    with pytest.raises(ValueError, match="corrupt|truncated"):
        mm.decode_jpeg(jpeg[:40])
    # progressive: flip the SOF0 marker to SOF2
    prog = jpeg.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError, match="baseline"):
        mm.decode_jpeg(prog)
    # truncated scan: cut before EOI
    with pytest.raises(ValueError, match="truncated|corrupt|marker"):
        mm.decode_jpeg(jpeg[:-20])


def test_jpeg_color_and_16bit_tables_quarantine():
    import struct

    from algoritmos_etl_spark.operators import multimodal as mm

    px = _md5_pixels()
    jpeg, _ = mm.encode_jpeg_gray(px, 16, 16)
    # craft a 3-component SOF0 (color) — decoder must refuse
    i = jpeg.index(b"\xff\xc0")
    old = jpeg[i : i + 4 + 9]
    body = struct.pack(">BHHB", 8, 16, 16, 3) + bytes(
        [1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    new = b"\xff\xc0" + struct.pack(">H", len(body) + 2) + body
    with pytest.raises(ValueError, match="color"):
        mm.decode_jpeg(jpeg[:i] + new + jpeg[i + len(old):])
    # 16-bit quant table (Pq=1)
    j = jpeg.index(b"\xff\xdb")
    patched = bytearray(jpeg)
    patched[j + 4] = 0x10
    with pytest.raises(ValueError, match="16-bit"):
        mm.decode_jpeg(bytes(patched))


def test_jpeg_corpus_determinism_and_neardup(spark):
    from pyspark.sql import functions as F

    from algoritmos_etl_spark.operators import multimodal as mm

    docs = spark.range(0, 20).select(F.col("id").alias("doc_id"))
    a = {r.doc_id: bytes(r.payload) for r in
         mm.synthesize_jpeg_corpus(docs).collect()}
    b = {r.doc_id: bytes(r.payload) for r in
         mm.synthesize_jpeg_corpus(docs).collect()}
    assert a == b  # byte-deterministic fixture
    assert all(v[:2] == b"\xff\xd8" and v[-2:] == b"\xff\xd9"
               for v in a.values())
    hashed = mm.image_dhash(mm.synthesize_jpeg_corpus(docs))
    assert hashed.filter(F.col("error").isNotNull()).count() == 0
    pairs = mm.image_neardup_pairs(hashed, max_hamming=3).collect()
    assert pairs, "clustered JPEG corpus must yield near-dup pairs"
    # clusters are doc_id//5 groups: every reported pair is intra-cluster
    # (md5 noise across groups is far in dhash space)
    for r in pairs:
        assert r.doc_a // 5 == r.doc_b // 5, (r.doc_a, r.doc_b)


def test_jpeg_png_cross_format_hash_proximity(spark):
    """A JPEG and a PNG of the SAME pixels hash close: quantization
    noise flips few dHash bits on a real gradient structure."""
    from pyspark.sql import functions as F

    from algoritmos_etl_spark.operators import multimodal as mm

    # smooth gradient image (JPEG's favorable case, like real photos)
    w = h = 16
    px = bytes(((x * 255) // (w - 1) + y) % 256 for y in range(h) for x in range(w))
    jpeg, _ = mm.encode_jpeg_gray(px, w, h)
    import struct
    import zlib

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    raw = b"".join(b"\x00" + px[y * w:(y + 1) * w] for y in range(h))
    png = (mm._PNG_SIG + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    df = spark.createDataFrame([(1, png), (2, jpeg)],
                               "doc_id long, payload binary")
    hs = {r.doc_id: r.dhash for r in mm.image_dhash(df).collect()}
    ham = bin((hs[1] ^ hs[2]) & ((1 << 64) - 1)).count("1")
    assert ham <= 8, ham
