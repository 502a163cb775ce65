"""PDF text-extraction source tier — the document-format family's
book/paper edge (PNG/WAV/JPEG/WARC/HTML → PDF). A real, pure-stdlib
PDF parser for the Flate/uncompressed subset: startxref discovery,
xref-table walk, object fetch by offset, Catalog → Pages → Kids page
tree, content-stream inflate (`/Filter /FlateDecode`), and
BT/ET-block text-operator extraction (Tj/TJ/'/") — under the codec
quarantine contract (`multimodal.decode_png`: ValueError → quarantine
row, never a task failure).

The package's own PDF WRITER (`pdf_report.PdfDoc`, a real PDF 1.4
emitter) is the fixture twin — the `encode_jpeg_gray` pattern: what
`synthesize_pdf_corpus` writes, `decode_pdf` must read back
BIT-EXACT. The fixture wraps each document's text at a fixed
WORDS_PER_LINE grain and lets the writer paginate, so both the
extracted text (greedy space-wrap is identity under single-space
join) and the page count (pure integer layout math) have exact SQL
twins — which is why `pdf_extraction` registers with a FULL oracle
where the pixel/sample codecs are rows-only by policy: text
extraction is relational, DCT is not.

Scope (documented, spec-compliant for the subset the writer and the
dominant text-PDF population use): classic xref tables (not 1.5+
xref streams), FlateDecode or no filter (not DCT/LZW/ASCII85),
literal strings (hex strings tolerated, skipped), flat or nested
page trees, text shown with Tj/TJ/'/" in stream order. Everything
outside the subset quarantines with a typed error — the WARC torn-
member contract.

Reference scope note: the reference (/root/reference) WRITES a PDF
report (visualization/pdf_export.py) but has no PDF reading; this
module is extension surface for the 100 TB training-data brief
(VERDICT r10 task #2).
"""

from __future__ import annotations

import zlib
from typing import Iterator

from pyspark.sql import DataFrame

ERR_BAD_PDF = "not_a_pdf"
ERR_TRUNCATED = "truncated_pdf"
ERR_BAD_FILTER = "unsupported_pdf_filter"

# fixture geometry (SQL-twinned in the pdf_extraction oracle)
WORDS_PER_LINE = 12
PDF_TORN_EVERY = 7  # doc_id % 7 == 3 is tail-truncated
# lines per page under PdfDoc's cursor: first line lands at
# PAGE_H - MARGIN = 738, each advances LINE_H = 14, a line is placed
# while y - 14 >= MARGIN = 54 -> k <= (738 - 68) / 14 -> 48 lines.
# test_pdf pins this constant against the writer's actual pagination.
LINES_PER_PAGE = 48

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num


def _skip_ws(data: bytes, pos: int) -> int:
    n = len(data)
    while pos < n:
        c = data[pos]
        if c in _WS:
            pos += 1
        elif c == 0x25:  # % comment to EOL
            while pos < n and data[pos] not in b"\r\n":
                pos += 1
        else:
            break
    return pos


def _parse_literal_string(data: bytes, pos: int) -> tuple[bytes, int]:
    """Balanced-paren literal string with the spec escape set. `pos`
    points AT the '('; returns (raw bytes, pos past ')')."""
    assert data[pos] == 0x28
    pos += 1
    out = bytearray()
    depth = 1
    n = len(data)
    esc = {
        0x6E: b"\n", 0x72: b"\r", 0x74: b"\t", 0x62: b"\b",
        0x66: b"\x0c", 0x28: b"(", 0x29: b")", 0x5C: b"\\",
    }
    while pos < n:
        c = data[pos]
        if c == 0x5C:  # backslash
            pos += 1
            if pos >= n:
                break
            e = data[pos]
            if e in esc:
                out += esc[e]
                pos += 1
            elif 0x30 <= e <= 0x37:  # \ooo octal (1-3 digits)
                oct_digits = bytearray()
                while pos < n and len(oct_digits) < 3 and 0x30 <= data[pos] <= 0x37:
                    oct_digits.append(data[pos])
                    pos += 1
                out.append(int(oct_digits.decode(), 8) & 0xFF)
            elif e in b"\r\n":  # line continuation
                pos += 1
                if e == 0x0D and pos < n and data[pos] == 0x0A:
                    pos += 1
            else:  # stray backslash: keep the char
                out.append(e)
                pos += 1
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), pos + 1
        out.append(c)
        pos += 1
    raise ValueError(ERR_TRUNCATED)


def _parse_token_word(data: bytes, pos: int) -> tuple[bytes, int]:
    start = pos
    n = len(data)
    while pos < n and data[pos] not in _WS and data[pos] not in _DELIM:
        pos += 1
    return data[start:pos], pos


def _parse_value(data: bytes, pos: int):
    """One PDF object value at `pos` → (value, newpos). Dicts are
    Python dicts keyed by name (no slash), arrays lists, names
    strings, numbers int/float, strings bytes, refs `_Ref`."""
    pos = _skip_ws(data, pos)
    if pos >= len(data):
        raise ValueError(ERR_TRUNCATED)
    c = data[pos]
    if data.startswith(b"<<", pos):
        pos += 2
        d: dict = {}
        while True:
            pos = _skip_ws(data, pos)
            if data.startswith(b">>", pos):
                return d, pos + 2
            if pos >= len(data) or data[pos] != 0x2F:
                raise ValueError(ERR_TRUNCATED)
            key, pos = _parse_token_word(data, pos + 1)
            val, pos = _parse_value(data, pos)
            d[key.decode("latin-1")] = val
    if c == 0x5B:  # [
        pos += 1
        arr = []
        while True:
            pos = _skip_ws(data, pos)
            if pos < len(data) and data[pos] == 0x5D:
                return arr, pos + 1
            val, pos = _parse_value(data, pos)
            arr.append(val)
    if c == 0x2F:  # /Name
        word, pos = _parse_token_word(data, pos + 1)
        return word.decode("latin-1"), pos
    if c == 0x28:  # (string)
        return _parse_literal_string(data, pos)
    if c == 0x3C:  # <hex string>
        end = data.find(b">", pos + 1)
        if end == -1:
            raise ValueError(ERR_TRUNCATED)
        hx = bytes(
            b for b in data[pos + 1 : end] if b not in _WS
        ).decode("latin-1")
        if len(hx) % 2:
            hx += "0"
        return bytes.fromhex(hx), end + 1
    word, wpos = _parse_token_word(data, pos)
    if word == b"true":
        return True, wpos
    if word == b"false":
        return False, wpos
    if word == b"null":
        return None, wpos
    # number — possibly the `n g R` reference form
    try:
        if b"." in word:
            return float(word), wpos
        num = int(word)
    except ValueError:
        raise ValueError(ERR_TRUNCATED) from None
    save = wpos
    p2 = _skip_ws(data, wpos)
    w2, p2 = _parse_token_word(data, p2)
    if w2.isdigit():
        p3 = _skip_ws(data, p2)
        w3, p3 = _parse_token_word(data, p3)
        if w3 == b"R":
            return _Ref(num), p3
    return num, save


def _parse_xref(data: bytes) -> tuple[dict[int, int], dict]:
    """startxref discovery + classic xref-table walk → (object-number
    → byte offset map, trailer dict)."""
    tail_at = data.rfind(b"startxref")
    if tail_at == -1:
        raise ValueError(ERR_TRUNCATED)
    pos = _skip_ws(data, tail_at + len(b"startxref"))
    word, _ = _parse_token_word(data, pos)
    xref_pos = int(word)
    pos = _skip_ws(data, xref_pos)
    if not data.startswith(b"xref", pos):
        raise ValueError(ERR_TRUNCATED)
    pos += 4
    offsets: dict[int, int] = {}
    while True:
        pos = _skip_ws(data, pos)
        if data.startswith(b"trailer", pos):
            pos += len(b"trailer")
            trailer, _ = _parse_value(data, pos)
            if not isinstance(trailer, dict):
                raise ValueError(ERR_TRUNCATED)
            return offsets, trailer
        w1, pos = _parse_token_word(data, pos)
        pos = _skip_ws(data, pos)
        w2, pos = _parse_token_word(data, pos)
        first, count = int(w1), int(w2)
        pos = _skip_ws(data, pos)
        for i in range(count):
            entry = data[pos : pos + 20]
            if len(entry) < 18:
                raise ValueError(ERR_TRUNCATED)
            if entry[17:18] == b"n":
                offsets[first + i] = int(entry[:10])
            pos += 20


def _fetch(data: bytes, offsets: dict[int, int], ref, depth: int = 0):
    """Resolve a value; `_Ref`s fetched by xref offset ("n g obj" ...
    "endobj"), streams returned as (dict, raw bytes)."""
    if not isinstance(ref, _Ref):
        return ref
    if depth > 16:
        raise ValueError(ERR_TRUNCATED)
    if ref.num not in offsets:
        raise ValueError(ERR_TRUNCATED)
    pos = offsets[ref.num]
    pos = _skip_ws(data, pos)
    _num, pos = _parse_token_word(data, pos)
    pos = _skip_ws(data, pos)
    _gen, pos = _parse_token_word(data, pos)
    pos = _skip_ws(data, pos)
    kw, pos = _parse_token_word(data, pos)
    if kw != b"obj":
        raise ValueError(ERR_TRUNCATED)
    val, pos = _parse_value(data, pos)
    pos2 = _skip_ws(data, pos)
    if data.startswith(b"stream", pos2):
        pos2 += len(b"stream")
        if data.startswith(b"\r\n", pos2):
            pos2 += 2
        elif data.startswith(b"\n", pos2) or data.startswith(b"\r", pos2):
            pos2 += 1
        length = _fetch(data, offsets, val.get("Length"), depth + 1)
        if not isinstance(length, int) or pos2 + length > len(data):
            raise ValueError(ERR_TRUNCATED)
        return val, data[pos2 : pos2 + length]
    return val


def _stream_bytes(obj) -> tuple[dict, bytes]:
    if not (isinstance(obj, tuple) and len(obj) == 2):
        raise ValueError(ERR_TRUNCATED)
    d, raw = obj
    filt = d.get("Filter")
    if filt is None:
        return d, raw
    filters = filt if isinstance(filt, list) else [filt]
    for f in filters:
        if f != "FlateDecode":
            raise ValueError(ERR_BAD_FILTER)
        try:
            raw = zlib.decompress(raw)
        except zlib.error:
            raise ValueError(ERR_TRUNCATED) from None
    return d, raw


def _extract_shown_text(cs: bytes) -> list[str]:
    """Text-showing operands of a content stream IN STREAM ORDER:
    literal/hex strings committed when a Tj/TJ/'/" operator shows
    them, discarded when any other operator consumes them first.
    Layout note (documented simplification): no x/y re-ordering —
    the writer emits one show per line in reading order, and real
    single-column text PDFs overwhelmingly do the same."""
    out: list[str] = []
    pending: list[bytes] = []
    pos, n = 0, len(cs)
    while pos < n:
        c = cs[pos]
        if c in _WS:
            pos += 1
            continue
        if c == 0x25:  # comment
            while pos < n and cs[pos] not in b"\r\n":
                pos += 1
            continue
        if c == 0x28:
            s, pos = _parse_literal_string(cs, pos)
            pending.append(s)
            continue
        if c == 0x3C:  # hex string (or inline dict — subset: skip to >)
            end = cs.find(b">", pos + 1)
            if end == -1:
                break
            pos = end + 1
            continue
        if c in b"[]":
            pos += 1
            continue
        if c == 0x2F:
            _, pos = _parse_token_word(cs, pos + 1)
            continue
        word, npos = _parse_token_word(cs, pos)
        if npos == pos:  # lone delimiter not handled above
            pos += 1
            continue
        pos = npos
        if word in (b"Tj", b"TJ", b"'", b'"'):
            out.extend(s.decode("latin-1") for s in pending)
            pending = []
        elif not word.replace(b".", b"").replace(b"-", b"").isdigit():
            # an operator other than a show consumed the operands
            pending = []
    return out


def decode_pdf(data: bytes) -> dict:
    """Parse one PDF (see module doc for the subset) → {n_pages,
    text, n_chars}. Text = all shown strings in page order joined by
    single spaces (identity with the source text under the fixture's
    space-greedy wrap). Raises ValueError(err_code) on anything
    outside the subset — callers quarantine."""
    if data[:5] != b"%PDF-":
        raise ValueError(ERR_BAD_PDF)
    try:
        offsets, trailer = _parse_xref(data)
        root = _fetch(data, offsets, trailer.get("Root"))
        if not isinstance(root, dict):
            raise ValueError(ERR_TRUNCATED)
        pages_obj = _fetch(data, offsets, root.get("Pages"))

        page_texts: list[str] = []
        n_pages = 0

        def walk(node, depth=0):
            nonlocal n_pages
            if depth > 32 or not isinstance(node, dict):
                raise ValueError(ERR_TRUNCATED)
            if node.get("Type") == "Pages":
                for kid in node.get("Kids", []):
                    walk(_fetch(data, offsets, kid), depth + 1)
                return
            n_pages += 1
            contents = node.get("Contents")
            if contents is None:
                page_texts.append("")
                return
            refs = contents if isinstance(contents, list) else [contents]
            shown: list[str] = []
            for r in refs:
                _, raw = _stream_bytes(_fetch(data, offsets, r))
                shown.extend(_extract_shown_text(raw))
            page_texts.append(" ".join(shown))

        walk(pages_obj)
        text = " ".join(page_texts)
        return {"n_pages": n_pages, "text": text, "n_chars": len(text)}
    except ValueError as e:
        # whitelist the three documented codes at the boundary: an
        # untyped ValueError (e.g. int() 'invalid literal' when a
        # truncated body or a chance 'startxref' inside a content
        # stream misleads the xref walk) must not leak an arbitrary
        # message into `err` — the quarantine contract is typed codes
        # only (ADVICE r11 #2)
        if str(e) in (ERR_BAD_PDF, ERR_TRUNCATED, ERR_BAD_FILTER):
            raise
        raise ValueError(ERR_TRUNCATED) from e
    # only the classes truncated/corrupt input actually raises — the
    # decode_png discipline: a blanket Exception would quarantine
    # MemoryError or a latent bug as "corrupt input data"
    except (
        KeyError, IndexError, TypeError, AttributeError, OverflowError,
        RecursionError, UnicodeDecodeError,
    ) as e:
        raise ValueError(ERR_TRUNCATED) from e


def synthesize_pdf_corpus(docs: DataFrame) -> DataFrame:
    """(doc_id, payload) — a real-PDF fixture corpus written by the
    package's OWN writer (`pdf_report.PdfDoc`): each document's text
    space-greedy-wrapped at WORDS_PER_LINE words per line, paginated
    by the writer's cursor, content streams Flate-compressed for even
    doc_ids and stored raw for odd (both reader paths exercised).
    Every `PDF_TORN_EVERY`-th-ish doc (doc_id % PDF_TORN_EVERY == 3) is
    tail-truncated at 60% — the trailer/xref vanish, the reader
    quarantines with ERR_TRUNCATED. Layout is pure integer math so
    the pdf_extraction oracle rebuilds text AND page count in SQL."""
    import pandas as pd

    from ..pdf_report import PdfDoc

    def pdf_bytes(doc_id: int, text: str | None) -> bytes:
        words = (text or "").split(" ")
        doc = PdfDoc()
        for i in range(0, len(words), WORDS_PER_LINE):
            doc.text(" ".join(words[i : i + WORDS_PER_LINE]), size=10)
        out = doc.render(compress=doc_id % 2 == 0)
        if doc_id % PDF_TORN_EVERY == 3:
            out = out[: len(out) * 3 // 5]
        return out

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        pdf_bytes(int(d), t)
                        for d, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        gen, schema="doc_id bigint, payload binary"
    )


def extract_pdf_text(pdfs: DataFrame) -> DataFrame:
    """(doc_id, n_pages, n_chars, text, ok, err) — the codec seam:
    Arrow-batched `mapInPandas`, quarantine rows instead of task
    failure (a 100 TB paper corpus always contains torn PDFs).
    Map-only, zero shuffles; per-file sequential like every PDF
    reader (the format's xref is a per-file index — file-level
    parallelism is the scale unit, same note as the WARC tier)."""
    import pandas as pd

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    meta = decode_pdf(
                        bytes(payload) if payload is not None else b""
                    )
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "n_pages": meta["n_pages"],
                            "n_chars": meta["n_chars"],
                            "text": meta["text"],
                            "ok": True,
                            "err": None,
                        }
                    )
                except ValueError as e:
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "n_pages": None,
                            "n_chars": None,
                            "text": None,
                            "ok": False,
                            "err": str(e),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_pages", "n_chars", "text", "ok", "err",
                ],
            )

    return pdfs.mapInPandas(
        extract,
        schema=(
            "doc_id bigint, n_pages int, n_chars bigint, text string,"
            " ok boolean, err string"
        ),
    )
