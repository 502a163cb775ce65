"""WARC source tier (`sources/warc.py`): record framing, quarantine
contract, real-file binaryFile path, and the crawl → text → curation
composition."""

from __future__ import annotations

import gzip
import zlib

import pytest
from pyspark.sql import functions as F

from algoritmos_etl_spark.sources import warc


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"Title {i} body word{i} " + "repeat phrase here " * (i % 3 + 1))
        for i in range(12)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def parsed(spark, docs):
    files = warc.synthesize_warc_corpus(docs, docs_per_file=5, torn_every=2)
    df = warc.parse_warc_records(files).cache()
    df.count()
    return df


def test_synthesis_geometry(spark, docs):
    files = warc.synthesize_warc_corpus(docs, docs_per_file=5, torn_every=2)
    rows = {r["warc_file"]: bytes(r["content"]) for r in files.collect()}
    # 12 docs / 5 per file -> 3 files
    assert sorted(rows) == [
        "warc-00000.warc.gz", "warc-00001.warc.gz", "warc-00002.warc.gz"
    ]
    # untorn file round-trips through plain gzip (multi-member)
    blob = gzip.decompress(rows["warc-00000.warc.gz"])
    assert blob.count(b"WARC/1.0\r\n") == 5
    assert b"WARC-Type: response" in blob
    # torn file (file_no % 2 == 1) fails plain decompression
    with pytest.raises((EOFError, zlib.error, OSError)):
        gzip.decompress(rows["warc-00001.warc.gz"])


def test_parse_good_and_torn(parsed):
    by_ok = {r["ok"]: r["cnt"] for r in
             parsed.groupBy("ok").agg(F.count("*").alias("cnt")).collect()}
    # file 0 parses 5, file 2 parses 2; file 1 yields 4 good + 1 torn
    assert by_ok[True] == 11
    assert by_ok[False] == 1
    torn = parsed.filter(~F.col("ok")).first()
    assert torn["err"] == warc.ERR_TORN
    assert torn["warc_file"] == "warc-00001.warc.gz"
    assert torn["html"] is None and torn["url"] is None


def test_parsed_record_fields(parsed):
    r = parsed.filter(F.col("url") == f"{warc._URL_PREFIX}0").first()
    assert r["warc_type"] == "response"
    assert r["http_status"] == 200
    assert r["content_type"].startswith("text/html")
    assert r["warc_date"] == warc.warc_date(0) == "2024-01-01T00:00:00Z"
    assert "Title 0 body" in r["html"] and r["html"].startswith("<html>")


def test_extract_matches_direct_html_path(spark, docs, parsed):
    from algoritmos_etl_spark.operators import html_text

    pages = warc.warc_extract_pages(parsed)
    got = {
        int(r["url"].rsplit("/", 1)[1]): (r["text"], r["n_words"])
        for r in pages.filter(F.col("ok")).collect()
    }
    direct = {
        r["doc_id"]: (r["text"], r["n_words"])
        for r in html_text.html_to_text(
            html_text.synthesize_html_corpus(docs)
        ).collect()
    }
    assert set(got) == set(direct) - {9}  # doc 9 = torn last member of file 1
    for k, v in got.items():
        assert v == direct[k], k
    # quarantine rows pass through so curation sees the loss
    assert pages.filter(~F.col("ok")).count() == 1


def _gz(record: bytes) -> bytes:
    comp = zlib.compressobj(6, zlib.DEFLATED, 31)
    return comp.compress(record) + comp.flush()


def _one_file_df(spark, content: bytes):
    return spark.createDataFrame(
        [("f.warc.gz", content)], "warc_file string, content binary"
    )


def _parse_one(spark, record: bytes):
    return warc.parse_warc_records(_one_file_df(spark, _gz(record))).collect()


def test_quarantine_bad_warc_version(spark):
    rows = _parse_one(spark, b"NOPE/1.0\r\nContent-Length: 0\r\n\r\n\r\n\r\n")
    assert [r["err"] for r in rows] == [warc.ERR_BAD_WARC]


def test_quarantine_missing_content_length(spark):
    rows = _parse_one(spark, b"WARC/1.0\r\nWARC-Type: response\r\n\r\nx")
    assert [r["err"] for r in rows] == [warc.ERR_BAD_WARC]


def test_quarantine_short_payload(spark):
    rec = b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 999\r\n\r\nshort"
    rows = _parse_one(spark, rec)
    assert [r["err"] for r in rows] == [warc.ERR_SHORT_PAYLOAD]


def test_quarantine_chunked_transfer_encoding(spark):
    http = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"5\r\nhello\r\n0\r\n\r\n")
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           + b"Content-Length: %d\r\n\r\n" % len(http) + http + b"\r\n\r\n")
    rows = _parse_one(spark, rec)
    assert [r["err"] for r in rows] == [warc.ERR_CHUNKED]


def test_quarantine_bad_http_envelope(spark):
    http = b"not an http response at all"
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           + b"Content-Length: %d\r\n\r\n" % len(http) + http + b"\r\n\r\n")
    rows = _parse_one(spark, rec)
    assert [r["err"] for r in rows] == [warc.ERR_BAD_HTTP]


def test_quarantine_undecodable_body(spark):
    body = b"\xff\xfe\x80\x81"
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body)
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           + b"Content-Length: %d\r\n\r\n" % len(http) + http + b"\r\n\r\n")
    rows = _parse_one(spark, rec)
    assert [r["err"] for r in rows] == [warc.ERR_BAD_UTF8]


def test_non_response_records_frame_but_carry_no_body(spark):
    info = b"software: test-fixture\r\n"
    rec = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
           + b"Content-Length: %d\r\n\r\n" % len(info) + info + b"\r\n\r\n")
    http = b"HTTP/1.1 200 OK\r\n\r\n<html><p>hi there</p></html>"
    member = _gz(rec) + _gz(
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://example.com/doc/7\r\n"
        + b"Content-Length: %d\r\n\r\n" % len(http) + http + b"\r\n\r\n"
    )
    parsed = warc.parse_warc_records(_one_file_df(spark, member))
    rows = {r["warc_type"]: r for r in parsed.collect()}
    assert rows["warcinfo"]["ok"] and rows["warcinfo"]["html"] is None
    assert rows["response"]["ok"] and "hi there" in rows["response"]["html"]
    # warc_extract_pages keeps only pages + quarantines
    pages = warc.warc_extract_pages(parsed)
    assert pages.count() == 1
    assert pages.first()["text"] == "hi there"


def test_mid_file_torn_member_resyncs_on_gzip_magic(spark):
    good = _gz(
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://example.com/doc/1\r\n"
        b"Content-Length: 36\r\n\r\n"
        b"HTTP/1.1 200 OK\r\n\r\n<p>first page</p>\r\n\r\n"
    )
    torn = _gz(b"WARC/1.0\r\nContent-Length: 0\r\n\r\n\r\n\r\n")[:-9]
    rows = warc.parse_warc_records(
        _one_file_df(spark, good + torn + good)
    ).collect()
    # good record, ONE torn-region quarantine, then the magic-scan
    # resync recovers the record after the torn member
    assert [r["ok"] for r in rows] == [True, False, True]
    assert rows[1]["err"] == warc.ERR_TORN
    assert rows[2]["url"] == f"{warc._URL_PREFIX}1"
    # two adjacent torn members = one contiguous region = ONE row,
    # even with a planted false gzip magic inside the torn bytes
    torn2 = torn + b"\x1f\x8b\x08" + b"\x00" * 16
    rows = warc.parse_warc_records(
        _one_file_df(spark, good + torn2 + torn + good)
    ).collect()
    assert [r["ok"] for r in rows] == [True, False, True]


def test_empty_inputs(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert warc.synthesize_warc_corpus(empty).count() == 0
    nofiles = spark.createDataFrame([], "warc_file string, content binary")
    assert warc.parse_warc_records(nofiles).count() == 0
    zero = _one_file_df(spark, b"")
    assert warc.parse_warc_records(zero).count() == 0


def test_crawl_to_curation_composition(spark, docs, parsed):
    """The end-to-end crawl story: WARC -> pages -> text quality
    stats — the extracted text is real enough for the downstream
    curation operators to consume directly."""
    from algoritmos_etl_spark.operators import text as text_ops

    pages = warc.warc_extract_pages(parsed).filter(F.col("ok"))
    docs_like = pages.select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
        "text",
    )
    stats = text_ops.text_stats(docs_like)
    assert stats.count() == 11
    assert stats.filter(F.col("n_words") <= 0).count() == 0


def test_cdx_parallel_parse_equals_sequential_walk(spark, docs):
    """The cdx record-level-parallel path (r11) must produce EXACTLY
    the sequential member walk's rows — records, quarantines, and all
    — while changing only the plan (N files -> N x members work
    units)."""
    files = warc.synthesize_warc_corpus(
        docs, docs_per_file=5, torn_every=2, with_cdx=True
    ).localCheckpoint()
    seq = warc.parse_warc_records(files.drop("cdx"))
    par = warc.parse_warc_records_cdx(files)
    key = lambda r: tuple(  # noqa: E731
        "" if v is None else str(v) for v in r
    )
    assert sorted(map(key, par.collect())) == sorted(map(key, seq.collect()))
    # the cdx index itself: contiguous, complete ranges per file
    for row in files.collect():
        total = len(bytes(row["content"]))
        pos = 0
        for c in sorted(row["cdx"], key=lambda c: c["offset"]):
            assert c["offset"] == pos
            pos += c["length"]
        assert pos == total
    # record-level parallelism: the parse runs at defaultParallelism,
    # not at file count
    members = warc.parse_warc_records_cdx(files)
    assert (
        members.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


# ------------------------------------------- mixed-charset decoding


def _http_record(body: bytes, ctype: bytes) -> bytes:
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype + b"\r\n"
        + b"Content-Length: %d\r\n\r\n" % len(body) + body
    )
    return (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://x.test/\r\n"
        + b"Content-Length: %d\r\n\r\n" % len(http) + http + b"\r\n\r\n"
    )


def test_header_charset_cp1252_decodes(spark):
    body = "précis €5".encode("windows-1252")
    with pytest.raises(UnicodeDecodeError):
        body.decode("utf-8")  # non-vacuous: wire bytes are NOT utf-8
    rows = _parse_one(
        spark, _http_record(body, b"text/html; charset=windows-1252")
    )
    assert rows[0]["ok"] and rows[0]["html"] == "précis €5"


def test_header_charset_latin1_decodes(spark):
    body = "naïve ±ok".encode("iso-8859-1")
    rows = _parse_one(
        spark, _http_record(body, b'text/html; charset="ISO-8859-1"')
    )
    assert rows[0]["ok"] and rows[0]["html"] == "naïve ±ok"


def test_meta_tag_charset_sniffed_when_header_silent(spark):
    html = '<html><head><meta charset="windows-1252"></head>' \
           "<body>‘q’ •</body></html>"
    body = html.encode("windows-1252")
    with pytest.raises(UnicodeDecodeError):
        body.decode("utf-8")
    rows = _parse_one(spark, _http_record(body, b"text/html"))
    assert rows[0]["ok"] and "‘q’ •" in rows[0]["html"]


def test_meta_http_equiv_form_sniffed(spark):
    html = (
        "<html><head><meta http-equiv=\"Content-Type\" "
        "content=\"text/html; charset=iso-8859-1\"></head>"
        "<body>café</body></html>"
    )
    rows = _parse_one(spark, _http_record(html.encode("iso-8859-1"),
                                          b"text/html"))
    assert rows[0]["ok"] and "café" in rows[0]["html"]


def test_header_charset_wins_over_meta(spark):
    # header says latin-1; a (lying) meta says utf-8 — header wins,
    # so the latin-1 bytes decode as latin-1
    html = '<html><head><meta charset="utf-8"></head>' \
           "<body>é</body></html>"
    rows = _parse_one(
        spark,
        _http_record(html.encode("iso-8859-1"),
                     b"text/html; charset=iso-8859-1"),
    )
    assert rows[0]["ok"] and "é" in rows[0]["html"]


def test_unknown_charset_quarantines(spark):
    rows = _parse_one(
        spark, _http_record(b"abc", b"text/html; charset=klingon-8")
    )
    assert rows[0]["err"] == warc.ERR_UNKNOWN_CHARSET


def test_non_text_codec_name_quarantines(spark):
    # resolvable by codecs.lookup but not a text encoding — must take
    # the typed unknown_charset path, never crash the task
    rows = _parse_one(
        spark, _http_record(b"abc", b"text/html; charset=base64")
    )
    assert rows[0]["err"] == warc.ERR_UNKNOWN_CHARSET


def test_declared_charset_mismatch_quarantines(spark):
    # declared utf-8, bytes are not — strict decode, typed code
    rows = _parse_one(
        spark, _http_record(b"\xff\xfe\x80", b"text/html; charset=utf-8")
    )
    assert rows[0]["err"] == warc.ERR_BAD_UTF8


def test_charset_fixture_roundtrip_all_modes(spark, docs):
    sub = docs.limit(8)
    files = warc.synthesize_warc_corpus(sub, docs_per_file=8,
                                        torn_every=0, charsets=True)
    parsed = warc.parse_warc_records(files)
    rows = {r["url"]: r for r in parsed.collect()}
    assert len(rows) == 8 and all(r["ok"] for r in rows.values())
    texts = [r["html"] for r in rows.values()]
    # every mode's marker survived the wire round trip
    for _cs, _hdr, marker in warc.CHARSET_MODES:
        assert any(marker in t for t in texts), marker
