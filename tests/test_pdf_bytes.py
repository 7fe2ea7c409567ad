"""Real-PDF-bytes front-end: hand-built PDF files (the public PDF 1.x surface:
objects, Flate streams, BT/Tf/Td/Tm/TJ text operators) decoded to pdf_chars
payloads and pushed through the UNCHANGED extraction kernels.

Reference semantics pinned: parse/validate scan (main.py:157-164), char-event
scan (main.py:404-422), sentinel on unparseable bytes (main.py:361-372).
"""

from __future__ import annotations

import zlib

import pytest
from conftest import extract_rows

from pdf_extract_sys_spark.sources.pdf_bytes import (
    PdfParseError,
    pdf_to_pdf_chars_payloads,
)

# > 50 stripped chars so the searchable classifier routes to the native path
LONG1 = "This is the first long sentence about absolutely nothing special."
LONG2 = "Second sentence ends with a bang!"


def make_pdf(page_contents: list[bytes], flate: bool = False) -> bytes:
    n = len(page_contents)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n))
    font_num = 3 + 2 * n
    objs: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: (f"<< /Type /Pages /Kids [{kids}] /Count {n} "
            f"/MediaBox [0 0 612 792] >>").encode(),
        font_num: b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
    }
    for i, content in enumerate(page_contents):
        pnum, cnum = 3 + 2 * i, 4 + 2 * i
        objs[pnum] = (
            f"<< /Type /Page /Parent 2 0 R /Contents {cnum} 0 R "
            f"/Resources << /Font << /F1 {font_num} 0 R >> >> >>"
        ).encode()
        data = zlib.compress(content) if flate else content
        filt = b" /Filter /FlateDecode" if flate else b""
        objs[cnum] = (
            b"<< /Length " + str(len(data)).encode() + filt + b" >>\nstream\n"
            + data + b"\nendstream"
        )
    out = b"%PDF-1.4\n"
    for num in sorted(objs):
        out += f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"
    return out + b"%%EOF"


def _extract_texts(pdf_bytes: bytes) -> list[str]:
    payloads = pdf_to_pdf_chars_payloads(pdf_bytes)
    doc = {
        "doc_id": "d1",
        "spans": [
            # None payload = page-scoped decode failure (r4 VERDICT #3)
            # — the same mapping pdf_binary_to_corpus applies
            {"kind": "page_error", "text": None,
             "media_ref": f"page:{i}", "offset": i}
            if p is None
            else {"kind": "pdf_chars", "text": p, "media_ref": None,
                  "offset": i}
            for i, p in enumerate(payloads)
        ],
    }
    (out,) = extract_rows([doc])
    return [s["text"] for s in out["spans"]]


def test_single_page_two_sentences():
    content = f"BT /F1 12 Tf 72 720 Td ({LONG1} {LONG2}) Tj ET".encode()
    assert _extract_texts(make_pdf([content])) == [LONG1, LONG2]


def test_flate_stream_same_result():
    content = f"BT /F1 12 Tf 72 720 Td ({LONG1} {LONG2}) Tj ET".encode()
    assert _extract_texts(make_pdf([content], flate=True)) == [LONG1, LONG2]


def test_tj_array_with_kerning():
    content = (
        b"BT /F1 12 Tf 72 720 Td [(" + LONG1[:20].encode() + b") -120 ("
        + LONG1[20:].encode() + b")] TJ ET"
    )
    assert _extract_texts(make_pdf([content])) == [LONG1]


def test_multiline_td_and_tstar():
    half = len(LONG1) // 2
    content = (
        f"BT /F1 12 Tf 14 TL 72 720 Td ({LONG1[:half]}) Tj "
        f"0 -14 Td ({LONG1[half:]}) Tj T* ({LONG2}) Tj ET"
    ).encode()
    assert _extract_texts(make_pdf([content])) == [LONG1, LONG2]


def test_hex_string_and_tm():
    hex_part = LONG1.encode().hex().encode()
    content = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm <" + hex_part + b"> Tj ET"
    assert _extract_texts(make_pdf([content])) == [LONG1]


def test_multipage_reading_order():
    p1 = f"BT /F1 12 Tf 72 720 Td ({LONG1}) Tj ET".encode()
    p2 = f"BT /F1 12 Tf 72 720 Td ({LONG2} Padding words so this page also clears the fifty character searchable gate.) Tj ET".encode()
    texts = _extract_texts(make_pdf([p1, p2]))
    assert texts[0] == LONG1 and texts[1] == LONG2
    payloads = pdf_to_pdf_chars_payloads(make_pdf([p1, p2]))
    assert len(payloads) == 2 and all(p.startswith("PAGE\t612\t792") for p in payloads)


def test_escapes_in_literal_strings():
    content = (
        b"BT /F1 12 Tf 72 720 Td "
        b"(Escaped \\(parens\\) and a backslash \\\\ inside a long enough sentence to pass the gate.) Tj ET"
    )
    texts = _extract_texts(make_pdf([content]))
    assert texts == [
        "Escaped (parens) and a backslash \\ inside a long enough sentence to pass the gate."
    ]


def test_widths_array_honored():
    # custom /Widths make the first glyph 300/1000 em: x advance must follow
    pdf = make_pdf([b"BT /F1 10 Tf 0 700 Td (AB) Tj ET"])
    pdf = pdf.replace(
        b"/BaseFont /Courier >>",
        b"/BaseFont /Courier /FirstChar 65 /Widths [300 700] >>",
    )
    payload = pdf_to_pdf_chars_payloads(pdf)[0]
    lines = payload.split("\n")[1:]
    a = lines[0].split("\t")
    b_ = lines[1].split("\t")
    assert float(a[1]) == 0.0 and float(a[3]) == 3.0  # 300/1000 * 10
    assert float(b_[1]) == 3.0 and float(b_[3]) == 10.0  # + 700/1000 * 10


def test_indirect_length_not_misparsed():
    """'/Length 10 0 R' (indirect ref) must not be read as length 1 via regex
    backtracking — the parser falls back to the endstream scan."""
    content = f"BT /F1 12 Tf 72 720 Td ({LONG1}) Tj ET".encode()
    pdf = make_pdf([content])
    pdf = pdf.replace(
        b"<< /Length " + str(len(content)).encode() + b" >>",
        b"<< /Length 10 0 R >>",
    )
    assert _extract_texts(pdf) == [LONG1]


def test_contents_array_form():
    """'/Contents [N 0 R]' (array form, common in real writers) is resolved;
    multiple streams concatenate in order."""
    content = f"BT /F1 12 Tf 72 720 Td ({LONG1} {LONG2}) Tj ET".encode()
    pdf = make_pdf([content])
    pdf = pdf.replace(b"/Contents 4 0 R", b"/Contents [4 0 R]")
    assert _extract_texts(pdf) == [LONG1, LONG2]


def test_unresolvable_contents_is_error_not_silent_empty_page():
    """An unresolvable /Contents is an ERROR, never a silent empty page —
    and since object discovery succeeded, the error is PAGE-scoped
    (r4 VERDICT #3, main.py:361-372 granularity), not a doc sentinel."""
    pdf = make_pdf([b"BT ET"])
    pdf = pdf.replace(b"/Contents 4 0 R", b"/Contents null")
    assert pdf_to_pdf_chars_payloads(pdf) == [None]
    assert _extract_texts(pdf) == ["[Error processing page 0]"]


def test_fuzz_never_raises_unexpected():
    """Sentinel totality at the parser level: arbitrary bytes and mutated valid
    PDFs either parse or raise PdfParseError/zlib.error — never anything else
    (the Spark wrapper maps exactly those to the error sentinel)."""
    import random

    rng = random.Random(20260816)
    base = make_pdf([f"BT /F1 12 Tf 72 720 Td ({LONG1}) Tj ET".encode()], flate=True)
    for trial in range(200):
        if trial % 2 == 0:
            data = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 400)))
        else:
            b = bytearray(base)
            for _ in range(rng.randrange(1, 12)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            data = bytes(b)
        try:
            pdf_to_pdf_chars_payloads(data)
        except (PdfParseError, zlib.error):
            pass  # expected failure modes; anything else propagates and fails


def test_image_only_pdf_yields_zero_spans_not_sentinel():
    """A scanned (image-only) PDF parses fine — its pages just have no text
    operators — and produces ZERO spans: not an error sentinel, and (no raster
    stack in this container) not OCR output. README documents this boundary;
    tesseract would plug in at the decode seam beside extract_docs' OCR decode."""
    # a page whose content stream only paints an XObject (no BT/ET text)
    content = b"q 612 0 0 792 0 0 cm /Im1 Do Q"
    pdf = make_pdf([content])
    payloads = pdf_to_pdf_chars_payloads(pdf)
    assert len(payloads) == 1 and payloads[0] == "PAGE\t612\t792"
    doc = {"doc_id": "scan1",
           "spans": [{"kind": "pdf_chars", "text": payloads[0], "media_ref": None,
                      "offset": 0}]}
    (out,) = extract_rows([doc])
    assert len(out["spans"]) == 0  # zero spans
    assert not out["parse_failed"]  # and NOT a sentinel


def test_garbage_raises_and_becomes_sentinel():
    with pytest.raises(PdfParseError):
        pdf_to_pdf_chars_payloads(b"not a pdf at all")
    with pytest.raises(PdfParseError):
        pdf_to_pdf_chars_payloads(b"%PDF-1.4\njunk with no objects")


def test_spark_binary_front_end(spark):
    from pdf_extract_sys_spark.pipeline import extract_corpus
    from pdf_extract_sys_spark.sources.pdf_bytes import pdf_binary_to_corpus

    good = make_pdf([f"BT /F1 12 Tf 72 720 Td ({LONG1} {LONG2}) Tj ET".encode()], flate=True)
    rows = [("ok-1", bytearray(good)), ("bad-1", bytearray(b"not a pdf"))]
    df = spark.createDataFrame(rows, "doc_id string, pdf binary")
    corpus = pdf_binary_to_corpus(df)
    out = {r["doc_id"]: r for r in extract_corpus(corpus).collect()}
    assert [s["text"] for s in out["ok-1"]["spans"]] == [LONG1, LONG2]
    assert out["ok-1"]["parse_failed"] is False
    assert out["bad-1"]["parse_failed"] is True
    assert [s["kind"] for s in out["bad-1"]["spans"]] == ["error"]
    assert out["bad-1"]["spans"][0]["text"] == "[Error processing doc bad-1]"
