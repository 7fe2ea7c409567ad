"""Modern-PDF surface (r2 VERDICT #2/#3 + ADVICE): compressed object streams
(/ObjStm), /Pages-tree page ordering, Type0/CID fonts with /W widths and
/ToUnicode CMaps, and /Encoding (WinAnsi base + /Differences) in simple fonts.

All fixtures are hand-built from the public PDF 1.5+ spec; the reference gets
this surface for free from pdfium (main.py:161) — parity is behavioral.
"""

from __future__ import annotations

import zlib

from pdf_extract_sys_spark.sources.pdf_bytes import pdf_to_pdf_chars_payloads
from test_pdf_bytes import LONG1, LONG2, _extract_texts, make_pdf


def make_pdf_objstm(content: bytes) -> bytes:
    """A PDF ≥1.5 layout: catalog, pages, page and font dicts all live inside a
    FlateDecode'd /Type /ObjStm; only the content stream and the ObjStm itself
    are top-level objects (streams cannot live inside an ObjStm)."""
    members = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R >> >> >>"),
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
    }
    header = b" ".join(b"%d %d" % (n, off) for n, off in zip(
        members,
        [sum(len(b) + 1 for b in list(members.values())[:i]) for i in range(len(members))],
    )) + b"\n"
    payload = header + b"\n".join(members.values()) + b"\n"
    data = zlib.compress(payload)
    objstm = (
        b"<< /Type /ObjStm /N " + str(len(members)).encode()
        + b" /First " + str(len(header)).encode()
        + b" /Length " + str(len(data)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + data + b"\nendstream"
    )
    cdata = zlib.compress(content)
    cobj = (b"<< /Length " + str(len(cdata)).encode()
            + b" /Filter /FlateDecode >>\nstream\n" + cdata + b"\nendstream")
    out = b"%PDF-1.5\n"
    out += b"4 0 obj\n" + cobj + b"\nendobj\n"
    out += b"7 0 obj\n" + objstm + b"\nendobj\n"
    return out + b"%%EOF"


def test_objstm_pdf_decodes():
    content = f"BT /F1 12 Tf 72 720 Td ({LONG1} {LONG2}) Tj ET".encode()
    assert _extract_texts(make_pdf_objstm(content)) == [LONG1, LONG2]


def test_objstm_and_classic_agree():
    content = f"BT /F1 12 Tf 72 720 Td ({LONG1}) Tj ET".encode()
    assert (pdf_to_pdf_chars_payloads(make_pdf_objstm(content))
            == pdf_to_pdf_chars_payloads(make_pdf([content])))


def test_kids_order_overrides_object_number_order():
    """A /Kids array listing pages in reverse object order (incremental
    updates, many generators) must drive page order — offsets and reading
    order follow the tree, not object numbering (r2 ADVICE)."""
    p1 = f"BT /F1 12 Tf 72 720 Td ({LONG1}) Tj ET".encode()
    p2 = f"BT /F1 12 Tf 72 720 Td ({LONG2} Padding words so this page also clears the fifty character searchable gate.) Tj ET".encode()
    pdf = make_pdf([p1, p2])
    pdf = pdf.replace(b"/Kids [3 0 R 5 0 R]", b"/Kids [5 0 R 3 0 R]")
    texts = _extract_texts(pdf)
    assert texts[0] == LONG2  # page object 5 (LONG2) is now FIRST
    assert texts[-1] == LONG1


def make_pdf_type0(text: str) -> bytes:
    """Type0/Identity-H fixture: CIDs are codepoint-0x20 (exercises a real,
    non-identity ToUnicode bfrange), /W gives every CID 600/1000 em, /DW is a
    deliberately wrong fallback that must NOT be used."""
    cids = b"".join((ord(c) - 0x20).to_bytes(2, "big") for c in text)
    content = b"BT /F1 12 Tf 72 720 Td <" + cids.hex().encode() + b"> Tj ET"
    tounicode = (
        b"/CIDInit /ProcSet findresource begin\n"
        b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        b"1 beginbfrange\n<0000> <00ff> <0020>\nendbfrange\nend"
    )
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R >> >> >>"),
        4: (b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
            + content + b"\nendstream"),
        5: (b"<< /Type /Font /Subtype /Type0 /BaseFont /FakeCJK "
            b"/Encoding /Identity-H /DescendantFonts [6 0 R] /ToUnicode 7 0 R >>"),
        6: (b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /FakeCJK "
            b"/DW 1000 /W [0 255 600] >>"),
        7: (b"<< /Length " + str(len(tounicode)).encode() + b" >>\nstream\n"
            + tounicode + b"\nendstream"),
    }
    out = b"%PDF-1.5\n"
    for num in sorted(objs):
        out += f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"
    return out + b"%%EOF"


def test_type0_cid_font_extracts_right_spans():
    texts = _extract_texts(make_pdf_type0(f"{LONG1} {LONG2}"))
    assert texts == [LONG1, LONG2]


def test_type0_w_widths_honored():
    payload = pdf_to_pdf_chars_payloads(make_pdf_type0(LONG1))[0]
    recs = [ln.split("\t") for ln in payload.split("\n")[1:]]
    # /W range gives 600/1000 em at 12pt = 7.2pt advance, not /DW's 12pt
    assert abs(float(recs[0][3]) - float(recs[0][1]) - 7.2) < 1e-6
    assert abs(float(recs[1][1]) - float(recs[0][1]) - 7.2) < 1e-6
    # ToUnicode mapped codepoints: first record is LONG1[0]
    assert int(recs[0][0], 16) == ord(LONG1[0])


def test_winansi_differences_encoding():
    """/Encoding dict: /WinAnsiEncoding base (0x93 → U+201C) plus a
    /Differences override (65 → /eacute)."""
    pdf = make_pdf([b"BT /F1 12 Tf 72 720 Td (A\x93) Tj ET"])
    pdf = pdf.replace(
        b"/BaseFont /Courier >>",
        b"/BaseFont /Courier /Encoding << /BaseEncoding /WinAnsiEncoding "
        b"/Differences [ 65 /eacute ] >> >>",
    )
    payload = pdf_to_pdf_chars_payloads(pdf)[0]
    cps = [int(ln.split("\t")[0], 16) for ln in payload.split("\n")[1:]]
    assert cps == [0xE9, 0x201C]


def test_indirect_length_resolved_through_object():
    """'/Length 10 0 R' with object 10 present resolves exactly (no reliance
    on the endstream scan, which binary flate data can defeat)."""
    content = f"BT /F1 12 Tf 72 720 Td ({LONG1}) Tj ET".encode()
    data = zlib.compress(content)
    pdf = make_pdf([content], flate=True)
    pdf = pdf.replace(
        b"<< /Length " + str(len(data)).encode() + b" /Filter /FlateDecode >>",
        b"<< /Length 10 0 R /Filter /FlateDecode >>",
    )
    pdf = pdf.replace(b"%%EOF", b"10 0 obj\n" + str(len(data)).encode() + b"\nendobj\n%%EOF")
    assert _extract_texts(pdf) == [LONG1]


def test_quote_dquote_operators():
    half = len(LONG1) // 2
    content = (
        f"BT /F1 12 Tf 14 TL 72 720 Td ({LONG1[:half]}) Tj "
        f"({LONG1[half:]}) ' 0 0 ({LONG2}) \" ET"
    ).encode()
    assert _extract_texts(make_pdf([content])) == [LONG1, LONG2]


def test_fuzz_modern_surface_sentinel_totality():
    """Mutated ObjStm and Type0 fixtures either parse or raise PdfParseError /
    zlib.error — never anything else (the Spark wrapper maps exactly those to
    the error sentinel)."""
    import random

    from pdf_extract_sys_spark.sources.pdf_bytes import PdfParseError

    rng = random.Random(20260817)
    content = f"BT /F1 12 Tf 72 720 Td ({LONG1}) Tj ET".encode()
    bases = [
        make_pdf_objstm(content),
        make_pdf_type0(LONG1),
        # round-4 surface: LZW+predictor chain, form XObject, rotated page,
        # inline image — mutations must stay within PdfParseError/zlib.error
        _pdf_with_filtered_content(content, _lzw_encode(content), b"/LZWDecode"),
        _pdf_with_form(content),
        make_pdf([content]).replace(b"/Contents 4 0 R", b"/Rotate 90 /Contents 4 0 R"),
        make_pdf([b"BI /W 2 /H 2 ID \xff\x00\xff\x00\nEI\n" + content]),
    ]
    for trial in range(240):
        b = bytearray(bases[trial % len(bases)])
        for _ in range(rng.randrange(1, 12)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        try:
            pdf_to_pdf_chars_payloads(bytes(b))
        except (PdfParseError, zlib.error):
            pass  # expected failure modes; anything else propagates and fails


def test_objstm_spark_e2e(spark):
    from pdf_extract_sys_spark.pipeline import extract_corpus
    from pdf_extract_sys_spark.sources.pdf_bytes import pdf_binary_to_corpus

    objstm = make_pdf_objstm(f"BT /F1 12 Tf 72 720 Td ({LONG1}) Tj ET".encode())
    type0 = make_pdf_type0(f"{LONG1} {LONG2}")
    rows = [("objstm-1", bytearray(objstm)), ("cid-1", bytearray(type0))]
    df = spark.createDataFrame(rows, "doc_id string, pdf binary")
    out = {r["doc_id"]: r for r in extract_corpus(pdf_binary_to_corpus(df)).collect()}
    assert [s["text"] for s in out["objstm-1"]["spans"]] == [LONG1]
    assert [s["text"] for s in out["cid-1"]["spans"]] == [LONG1, LONG2]
    assert not out["objstm-1"]["parse_failed"] and not out["cid-1"]["parse_failed"]


# --- r3 VERDICT #1: the two silent-garbage interpreter paths -----------------


def test_cid_font_named_c2_0_resolves():
    """Acrobat-style /C2_0 resource names (and Ghostscript /R7 etc.) must bind
    — the r3 regex only matched /F…|/TT… and fell back to byte-wise Latin-1,
    mojibake for 2-byte CID strings."""
    pdf = make_pdf_type0(f"{LONG1} {LONG2}")
    pdf = pdf.replace(b"/F1 5 0 R", b"/C2_0 5 0 R").replace(b"/F1 12 Tf", b"/C2_0 12 Tf")
    assert _extract_texts(pdf) == [LONG1, LONG2]


def test_simple_font_any_name_resolves():
    """Ghostscript-style /R7 simple-font names bind, with /Widths honored."""
    pdf = make_pdf([b"BT /R7 10 Tf 0 700 Td (AB) Tj ET"])
    pdf = pdf.replace(b"/F1 5 0 R", b"/R7 5 0 R").replace(
        b"/BaseFont /Courier >>",
        b"/BaseFont /Courier /FirstChar 65 /Widths [300 700] >>",
    )
    payload = pdf_to_pdf_chars_payloads(pdf)[0]
    lines = [ln.split("\t") for ln in payload.split("\n")[1:]]
    assert float(lines[0][3]) == 3.0 and float(lines[1][3]) == 10.0


def test_unresolved_font_name_sentinels_not_mojibake():
    """A Tf naming a font absent from a non-empty /Font dict must error (→
    page-scoped sentinel, r4 VERDICT #3) at show time — not decode CID bytes
    as Latin-1."""
    pdf = make_pdf_type0(LONG1)
    pdf = pdf.replace(b"/F1 12 Tf", b"/F9 12 Tf")  # /F9 not in the /Font dict
    assert pdf_to_pdf_chars_payloads(pdf) == [None]
    assert _extract_texts(pdf) == ["[Error processing page 0]"]


def test_font_dict_entry_with_missing_object_sentinels():
    pdf = make_pdf_type0(LONG1)
    pdf = pdf.replace(b"/F1 5 0 R", b"/F1 99 0 R")  # object 99 doesn't exist
    assert pdf_to_pdf_chars_payloads(pdf) == [None]
    assert _extract_texts(pdf) == ["[Error processing page 0]"]


def test_resources_inherited_from_pages_node():
    """/Resources hoisted to the /Pages node (spec-inheritable) resolve through
    the /Parent chain."""
    content = f"BT /F1 12 Tf 72 720 Td ({LONG1}) Tj ET".encode()
    pdf = make_pdf([content])
    pdf = pdf.replace(b"/Resources << /Font << /F1 5 0 R >> >> >>", b">>")
    pdf = pdf.replace(
        b"/MediaBox [0 0 612 792] >>",
        b"/MediaBox [0 0 612 792] /Resources << /Font << /F1 5 0 R >> >> >>",
    )
    assert _extract_texts(pdf) == [LONG1]


def test_inline_image_skipped_not_tokenized():
    """BI…ID…EI binary data must not corrupt the token stream: the payload here
    embeds '(', 'Tj'-like runs and parens inside the image bytes."""
    # 2x2 RGB at 8bpc = exactly 12 sample bytes (the spec length — the skipper
    # now computes and enforces it for unfiltered inline images)
    img = bytes([0x28, 0x54, 0x6A, 0x20, 0x29, 0xFF, 0x00, 0x28,
                 0x42, 0x54, 0x20, 0x45])
    content = (
        b"BT /F1 12 Tf 72 720 Td (" + LONG1.encode() + b") Tj ET\n"
        b"BI /W 2 /H 2 /BPC 8 /CS /RGB ID " + img + b"\nEI\n"
        b"BT /F1 12 Tf 72 700 Td (" + LONG2.encode()
        + b" Padding words so this also clears the fifty char searchable gate.) Tj ET"
    )
    texts = _extract_texts(make_pdf([content]))
    assert texts[0] == LONG1 and texts[1].startswith(LONG2)


def test_inline_image_without_ei_sentinels():
    """A BI with no EI is a broken CONTENT stream — page-scoped error
    (discovery succeeded), never resumed tokenization inside binary data."""
    content = b"BI /W 2 /H 2 ID \xff\x00\xff\x00 no terminator here"
    assert pdf_to_pdf_chars_payloads(make_pdf([content])) == [None]


def test_image_ops_counted_in_page_records():
    from pdf_extract_sys_spark.sources.pdf_bytes import pdf_to_page_records

    content = (
        b"q 612 0 0 792 0 0 cm /Im1 Do Q\n"
        b"BI /W 1 /H 1 /BPC 8 ID \x7f\nEI\n"
    )
    recs = pdf_to_page_records(make_pdf([content]))
    payload, n_ev, n_img, images = recs[0]
    assert n_ev == 0 and n_img == 2 and payload == "PAGE\t612\t792"
    assert images == ("Im1", "inline")  # paint order: Do first, BI second


# --- r3 VERDICT #3/#4 + ADVICE: stream filters, /Encrypt, ObjStm slicing -----


def _pdf_with_filtered_content(content: bytes, data: bytes, filter_spec: bytes,
                               parms: bytes = b"") -> bytes:
    """make_pdf variant whose single content stream carries arbitrary encoded
    data + /Filter spec."""
    pdf = make_pdf([content])
    plain = (b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
             + content + b"\nendstream")
    enc = (b"<< /Length " + str(len(data)).encode() + b" /Filter " + filter_spec
           + parms + b" >>\nstream\n" + data + b"\nendstream")
    assert plain in pdf
    return pdf.replace(plain, enc)


CONTENT = f"BT /F1 12 Tf 72 720 Td ({LONG1} {LONG2}) Tj ET".encode()


def test_ascii_hex_decode():
    data = CONTENT.hex().encode() + b">"
    pdf = _pdf_with_filtered_content(CONTENT, data, b"/ASCIIHexDecode")
    assert _extract_texts(pdf) == [LONG1, LONG2]


def test_ascii85_decode():
    import base64

    data = base64.a85encode(CONTENT) + b"~>"
    pdf = _pdf_with_filtered_content(CONTENT, data, b"/ASCII85Decode")
    assert _extract_texts(pdf) == [LONG1, LONG2]


def test_run_length_decode():
    # naive RLE encoder: literal runs of <= 128 bytes, then EOD
    out = bytearray()
    for i in range(0, len(CONTENT), 128):
        chunk = CONTENT[i : i + 128]
        out += bytes([len(chunk) - 1]) + chunk
    out.append(128)
    pdf = _pdf_with_filtered_content(CONTENT, bytes(out), b"/RunLengthDecode")
    assert _extract_texts(pdf) == [LONG1, LONG2]


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Reference PDF-LZW encoder for the roundtrip test (MSB-first, 9->12 bit
    codes, 256=clear emitted first, 257=EOD)."""
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    out_bits: list[tuple[int, int]] = [(256, 9)]
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        out_bits.append((table[w], width))
        table[wc] = next_code
        next_code += 1
        if next_code + early - 1 >= (1 << width) and width < 12:
            width += 1
        w = bytes([ch])
    if w:
        out_bits.append((table[w], width))
    out_bits.append((257, width))
    buf = nbits = 0
    res = bytearray()
    for code, wd in out_bits:
        buf = (buf << wd) | code
        nbits += wd
        while nbits >= 8:
            res.append((buf >> (nbits - 8)) & 0xFF)
            nbits -= 8
    if nbits:
        res.append((buf << (8 - nbits)) & 0xFF)
    return bytes(res)


def test_lzw_decode_roundtrip():
    from pdf_extract_sys_spark.sources.pdf_bytes import _lzw_decode

    for payload in (b"", b"A", b"TOBEORNOTTOBEORTOBEORNOT" * 20, CONTENT):
        assert _lzw_decode(_lzw_encode(payload)) == payload


def test_lzw_filtered_content_stream():
    pdf = _pdf_with_filtered_content(CONTENT, _lzw_encode(CONTENT), b"/LZWDecode")
    assert _extract_texts(pdf) == [LONG1, LONG2]


def test_filter_chain_a85_then_flate():
    import base64

    data = base64.a85encode(zlib.compress(CONTENT)) + b"~>"
    pdf = _pdf_with_filtered_content(
        CONTENT, data, b"[/ASCII85Decode /FlateDecode]"
    )
    assert _extract_texts(pdf) == [LONG1, LONG2]


def _png_predict(data: bytes, columns: int, ft: int) -> bytes:
    """Apply a PNG row filter (encoder side) for the predictor test."""
    rows = [data[i : i + columns] for i in range(0, len(data), columns)]
    rows = [r + b"\x00" * (columns - len(r)) for r in rows]
    out = bytearray()
    prev = bytes(columns)
    for r in rows:
        out.append(ft)
        if ft == 2:  # Up
            out += bytes((r[j] - prev[j]) & 0xFF for j in range(columns))
        elif ft == 1:  # Sub (bpp=1)
            out += bytes((r[j] - (r[j - 1] if j else 0)) & 0xFF for j in range(columns))
        else:
            out += r
        prev = r
    return bytes(out)


def test_flate_with_png_up_predictor():
    cols = 16
    padded = CONTENT + b" " * ((-len(CONTENT)) % cols)
    data = zlib.compress(_png_predict(padded, cols, 2))
    pdf = _pdf_with_filtered_content(
        padded, data, b"/FlateDecode",
        b" /DecodeParms << /Predictor 12 /Columns 16 >>",
    )
    assert _extract_texts(pdf) == [LONG1, LONG2]


def test_flate_with_png_sub_predictor_and_dp_alias():
    cols = 8
    padded = CONTENT + b" " * ((-len(CONTENT)) % cols)
    data = zlib.compress(_png_predict(padded, cols, 1))
    pdf = _pdf_with_filtered_content(
        padded, data, b"/FlateDecode",
        b" /DP << /Predictor 11 /Columns 8 >>",
    )
    assert _extract_texts(pdf) == [LONG1, LONG2]


def test_tiff_predictor_2():
    from pdf_extract_sys_spark.sources.pdf_bytes import _apply_predictor

    row = bytes([10, 5, 3, 2])  # decoded should be 10,15,18,20
    assert _apply_predictor(row, b"<< /Predictor 2 /Columns 4 >>") == bytes(
        [10, 15, 18, 20]
    )


def test_dct_decode_still_sentinels():
    """Codec-bound filters stay the marked seam — a DCT content stream is a
    page-scoped error (the doc's structure parsed fine)."""
    pdf = _pdf_with_filtered_content(CONTENT, b"\xff\xd8\xff", b"/DCTDecode")
    assert pdf_to_pdf_chars_payloads(pdf) == [None]


def test_encrypted_pdf_sentinels_not_mojibake():
    import pytest

    from pdf_extract_sys_spark.sources.pdf_bytes import PdfParseError

    pdf = make_pdf([CONTENT])
    pdf = pdf.replace(
        b"%%EOF",
        b"trailer\n<< /Size 9 /Root 1 0 R /Encrypt 8 0 R >>\n%%EOF",
    )
    with pytest.raises(PdfParseError, match="encrypted"):
        pdf_to_pdf_chars_payloads(pdf)


def test_encrypt_in_page_text_is_not_a_false_positive():
    content = (
        b"BT /F1 12 Tf 72 720 Td "
        b"(See the /Encrypt 5 0 R entry in a long enough sentence to pass the gate.) Tj ET"
    )
    texts = _extract_texts(make_pdf([content]))
    assert len(texts) == 1 and "/Encrypt 5 0 R" in texts[0]


def test_objstm_nonmonotonic_offsets():
    """Member offsets out of ascending order must slice each member to the
    NEXT-LARGER offset (r3 ADVICE), not offs[i+1]."""
    members = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R >> >> >>"),
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
    }
    bodies = list(members.values())
    offs = []
    pos = 0
    for b in bodies:
        offs.append(pos)
        pos += len(b) + 1
    # emit header pairs in REVERSED order (offsets descend)
    order = list(range(len(bodies)))[::-1]
    header = b" ".join(
        b"%d %d" % (list(members)[i], offs[i]) for i in order
    ) + b"\n"
    payload = header + b"\n".join(bodies) + b"\n"
    data = zlib.compress(payload)
    objstm = (
        b"<< /Type /ObjStm /N " + str(len(members)).encode()
        + b" /First " + str(len(header)).encode()
        + b" /Length " + str(len(data)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + data + b"\nendstream"
    )
    cdata = zlib.compress(CONTENT)
    cobj = (b"<< /Length " + str(len(cdata)).encode()
            + b" /Filter /FlateDecode >>\nstream\n" + cdata + b"\nendstream")
    pdf = (b"%PDF-1.5\n4 0 obj\n" + cobj + b"\nendobj\n7 0 obj\n" + objstm
           + b"\nendobj\n%%EOF")
    assert _extract_texts(pdf) == [LONG1, LONG2]


def test_malformed_objstm_skipped_when_pages_are_top_level():
    """A corrupt ObjStm irrelevant to extraction (e.g. metadata) must not
    promote to doc-level sentinel when all pages resolve at top level."""
    pdf = make_pdf([CONTENT])
    junk = b"\x00\x01broken"
    bad = (b"<< /Type /ObjStm /N 2 /First 8 /Length " + str(len(junk)).encode()
           + b" /Filter /FlateDecode >>\nstream\n" + junk + b"\nendstream")
    pdf = pdf.replace(b"%%EOF", b"9 0 obj\n" + bad + b"\nendobj\n%%EOF")
    assert _extract_texts(pdf) == [LONG1, LONG2]


# --- r3 VERDICT #6/#7: needs_ocr routing marker + AFM widths -----------------


def test_image_only_page_emits_needs_ocr_span(spark):
    """An image-only PDF page surfaces as (kind='needs_ocr',
    media_ref='page:N') through the FULL bytes→corpus→extract chain — the OCR
    work-list row — while text pages are unchanged."""
    from pdf_extract_sys_spark.pipeline import extract_corpus
    from pdf_extract_sys_spark.sources.pdf_bytes import pdf_binary_to_corpus

    text_page = f"BT /F1 12 Tf 72 720 Td ({LONG1} {LONG2}) Tj ET".encode()
    image_page = b"q 612 0 0 792 0 0 cm /Im1 Do Q"
    pdf = make_pdf([text_page, image_page])
    df = spark.createDataFrame([("mix-1", bytearray(pdf))], "doc_id string, pdf binary")
    out = extract_corpus(pdf_binary_to_corpus(df)).collect()[0]
    spans = [(s["kind"], s["text"], s["media_ref"]) for s in out["spans"]]
    assert spans == [
        ("text", LONG1, None),
        ("text", LONG2, None),
        ("needs_ocr", None, "page:1"),
        ("media", None, "img:1:0:Im1"),  # interleaved figure ref, paint order
    ]
    assert not out["parse_failed"]


def test_pure_image_pdf_needs_ocr_not_zero_spans(spark):
    from pdf_extract_sys_spark.pipeline import extract_corpus
    from pdf_extract_sys_spark.sources.pdf_bytes import pdf_binary_to_corpus

    pdf = make_pdf([b"q /Im1 Do Q", b"BI /W 1 /H 1 ID \x00\nEI"])
    df = spark.createDataFrame([("scan-2", bytearray(pdf))], "doc_id string, pdf binary")
    out = extract_corpus(pdf_binary_to_corpus(df)).collect()[0]
    assert [(s["kind"], s["media_ref"], s["offset"]) for s in out["spans"]] == [
        ("needs_ocr", "page:0", 0), ("media", "img:0:0:Im1", 1),
        ("needs_ocr", "page:1", 2), ("media", "img:1:0:inline", 3),
    ]
    assert not out["parse_failed"] and out["n_spans"] == 4


def test_truly_empty_page_still_yields_zero_spans():
    """A page with NO content (no text, no images) keeps the old behavior:
    zero spans, no needs_ocr, no sentinel."""
    from conftest import extract_rows

    from pdf_extract_sys_spark.sources.pdf_bytes import pdf_to_page_records

    recs = pdf_to_page_records(make_pdf([b"q Q"]))
    assert recs == [("PAGE\t612\t792", 0, 0, ())]
    (out,) = extract_rows([{"doc_id": "empty", "spans": [
        {"kind": "pdf_chars", "text": recs[0][0], "media_ref": None, "offset": 0}]}])
    assert out["spans"] == [] and not out["parse_failed"]


def test_helvetica_afm_widths_no_widths_array():
    """A Helvetica font with no /Widths uses the public AFM per-char table:
    'Aim' at 10pt → A=667, i=222, m=833 thousandths."""
    pdf = make_pdf([b"BT /F1 10 Tf 0 700 Td (Aim) Tj ET"])
    pdf = pdf.replace(b"/BaseFont /Courier", b"/BaseFont /Helvetica")
    payload = pdf_to_pdf_chars_payloads(pdf)[0]
    recs = [ln.split("\t") for ln in payload.split("\n")[1:]]
    xs = [(float(r[1]), float(r[3])) for r in recs]
    assert abs(xs[0][1] - xs[0][0] - 6.67) < 1e-6   # A
    assert abs(xs[1][1] - xs[1][0] - 2.22) < 1e-6   # i
    assert abs(xs[2][1] - xs[2][0] - 8.33) < 1e-6   # m
    assert abs(xs[1][0] - 6.67) < 1e-6 and abs(xs[2][0] - 8.89) < 1e-6


def test_times_alias_and_bold_variant_map_to_base_table():
    pdf = make_pdf([b"BT /F1 10 Tf 0 700 Td (W.) Tj ET"])
    for name in (b"/BaseFont /Times-Roman", b"/BaseFont /TimesNewRomanPSMT",
                 b"/BaseFont /ABCDEF+Times-BoldItalic"):
        p = pdf.replace(b"/BaseFont /Courier", name)
        recs = [ln.split("\t") for ln in
                pdf_to_pdf_chars_payloads(p)[0].split("\n")[1:]]
        assert abs(float(recs[0][3]) - 9.44) < 1e-6   # W = 944
        assert abs(float(recs[1][3]) - float(recs[1][1]) - 2.50) < 1e-6  # . = 250


def test_explicit_widths_override_afm():
    pdf = make_pdf([b"BT /F1 10 Tf 0 700 Td (AB) Tj ET"])
    pdf = pdf.replace(
        b"/BaseFont /Courier >>",
        b"/BaseFont /Helvetica /FirstChar 65 /Widths [100] >>",
    )
    recs = [ln.split("\t") for ln in
            pdf_to_pdf_chars_payloads(pdf)[0].split("\n")[1:]]
    assert abs(float(recs[0][3]) - 1.0) < 1e-6           # /Widths wins for A
    assert abs(float(recs[1][3]) - 1.0 - 6.67) < 1e-6    # AFM still covers B


# --- round 4 (beyond VERDICT): full matrix positioning (Tm rotation, cm, q/Q)


def test_rotated_text_90_degrees():
    """Tm = 90° rotation (0 1 -1 0 e f): glyph boxes must be transformed, not
    collapsed onto a unit x-scale — chars advance UPWARD (+y), and each box's
    x-extent equals the glyph height (the rotated em box)."""
    pdf = make_pdf([b"BT /F1 10 Tf 0 1 -1 0 300 100 Tm (AB) Tj ET"])
    recs = [ln.split("\t") for ln in pdf_to_pdf_chars_payloads(pdf)[0].split("\n")[1:]]
    boxes = [tuple(float(v) for v in r[1:5]) for r in recs]
    # Courier: adv = 600/1000*10 = 6; height = size 10
    (ax0, ay0, ax1, ay1), (bx0, by0, bx1, by1) = boxes
    assert (ax0, ax1) == (290.0, 300.0)      # x-extent = rotated height
    assert (ay0, ay1) == (100.0, 106.0)      # y-extent = advance
    assert (by0, by1) == (106.0, 112.0)      # B advances upward
    assert (bx0, bx1) == (290.0, 300.0)


def test_cm_scale_applies_to_text():
    """`cm` scale doubles device positions/advances of subsequent text."""
    plain = make_pdf([b"BT /F1 10 Tf 10 20 Td (A) Tj ET"])
    scaled = make_pdf([b"q 2 0 0 2 0 0 cm BT /F1 10 Tf 10 20 Td (A) Tj ET Q"])
    rp = plain and [ln.split("\t") for ln in pdf_to_pdf_chars_payloads(plain)[0].split("\n")[1:]]
    rs = [ln.split("\t") for ln in pdf_to_pdf_chars_payloads(scaled)[0].split("\n")[1:]]
    bp = [float(v) for v in rp[0][1:5]]
    bs = [float(v) for v in rs[0][1:5]]
    assert bs == [2 * v for v in bp]


def test_q_Q_restores_ctm():
    """Text after Q must not see the scale applied inside q..Q."""
    pdf = make_pdf([
        b"q 3 0 0 3 0 0 cm Q BT /F1 10 Tf 10 20 Td (A) Tj ET"
    ])
    recs = [ln.split("\t") for ln in pdf_to_pdf_chars_payloads(pdf)[0].split("\n")[1:]]
    assert [float(v) for v in recs[0][1:5]] == [10.0, 20.0, 16.0, 30.0]


def test_translation_scale_unchanged_vs_matrix_rewrite():
    """The uniform-scale surface must be bit-identical to the r3 scalar model:
    2 0 0 2 72 700 Tm at 10pt Courier → origin (72,700), adv 12, height 20."""
    pdf = make_pdf([b"BT /F1 10 Tf 2 0 0 2 72 700 Tm (AB) Tj ET"])
    recs = [ln.split("\t") for ln in pdf_to_pdf_chars_payloads(pdf)[0].split("\n")[1:]]
    a = [float(v) for v in recs[0][1:5]]
    b = [float(v) for v in recs[1][1:5]]
    assert a == [72.0, 700.0, 84.0, 720.0]
    assert b == [84.0, 700.0, 96.0, 720.0]


def test_tc_tw_spacing_advances():
    """Tc adds to every advance; Tw additionally to single-byte spaces."""
    pdf = make_pdf([b"BT /F1 10 Tf 5 Tc 4 Tw 0 0 Td (A B) Tj ET"])
    recs = [ln.split("\t") for ln in pdf_to_pdf_chars_payloads(pdf)[0].split("\n")[1:]]
    xs = [(float(r[1]), float(r[3])) for r in recs]
    # Courier adv 6: A box [0,6]; space starts 11 (6+Tc5); B starts 11+6+5+4=26
    assert xs[0] == (0.0, 6.0)
    assert xs[1][0] == 11.0
    assert xs[2][0] == 26.0


def test_tz_horizontal_scaling():
    pdf = make_pdf([b"BT /F1 10 Tf 50 Tz 0 0 Td (AB) Tj ET"])
    recs = [ln.split("\t") for ln in pdf_to_pdf_chars_payloads(pdf)[0].split("\n")[1:]]
    assert [float(v) for v in recs[0][1:5]] == [0.0, 0.0, 3.0, 10.0]
    assert float(recs[1][1]) == 3.0


def test_ts_rise_offsets_box():
    pdf = make_pdf([b"BT /F1 10 Tf 0 100 Td 5 Ts (A) Tj ET"])
    recs = [ln.split("\t") for ln in pdf_to_pdf_chars_payloads(pdf)[0].split("\n")[1:]]
    assert [float(v) for v in recs[0][1:5]] == [0.0, 105.0, 6.0, 115.0]


def test_dquote_sets_spacing():
    pdf = make_pdf([b"BT /F1 10 Tf 14 TL 0 100 Td 4 5 (A B) \" ET"])
    recs = [ln.split("\t") for ln in pdf_to_pdf_chars_payloads(pdf)[0].split("\n")[1:]]
    xs = [float(r[1]) for r in recs]
    # aw=4 ac=5: A at 0, space at 11 (6+5), B at 11+6+5+4=26; line dropped 14
    assert xs == [0.0, 11.0, 26.0]
    assert float(recs[0][2]) == 86.0


# --- round 4 (beyond VERDICT): Form-XObject text execution -------------------


def _pdf_with_form(form_stream: bytes, form_dict_extra: bytes = b"",
                   page_extra: bytes = b"", page_content: bytes | None = None) -> bytes:
    content = (page_content if page_content is not None
               else b"q /Fm1 Do Q" + page_extra)
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Resources "
            b"<< /Font << /F1 5 0 R >> /XObject << /Fm1 6 0 R >> >> >>"),
        4: (b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
            + content + b"\nendstream"),
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
        6: (b"<< /Type /XObject /Subtype /Form " + form_dict_extra
            + b" /Length " + str(len(form_stream)).encode() + b" >>\nstream\n"
            + form_stream + b"\nendstream"),
    }
    out = b"%PDF-1.4\n"
    for num in sorted(objs):
        out += f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"
    return out + b"%%EOF"


def test_form_xobject_text_extracted():
    """Text inside a /Subtype /Form XObject must be extracted (pdfium does),
    using the page's resources when the form has none."""
    form = f"BT /F1 12 Tf 72 720 Td ({LONG1} {LONG2}) Tj ET".encode()
    assert _extract_texts(_pdf_with_form(form)) == [LONG1, LONG2]


def test_form_matrix_concatenates_onto_ctm():
    form = b"BT /F1 10 Tf 0 0 Td (A) Tj ET"
    pdf = _pdf_with_form(form, form_dict_extra=b"/Matrix [1 0 0 1 100 50]")
    recs = [ln.split("\t") for ln in pdf_to_pdf_chars_payloads(pdf)[0].split("\n")[1:]]
    assert [float(v) for v in recs[0][1:5]] == [100.0, 50.0, 106.0, 60.0]


def test_form_own_resources_override_page():
    """A form with its own /Font resources binds /F1 to ITS font (fixed 300
    width via /Widths), not the page's Courier."""
    form = b"BT /F1 10 Tf 0 0 Td (A) Tj ET"
    pdf = _pdf_with_form(
        form,
        form_dict_extra=(b"/Resources << /Font << /F1 7 0 R >> >>"),
    )
    pdf = pdf.replace(
        b"%%EOF",
        b"7 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Courier "
        b"/FirstChar 65 /Widths [300] >>\nendobj\n%%EOF",
    )
    recs = [ln.split("\t") for ln in pdf_to_pdf_chars_payloads(pdf)[0].split("\n")[1:]]
    assert [float(v) for v in recs[0][1:5]] == [0.0, 0.0, 3.0, 10.0]


def test_form_with_text_is_not_needs_ocr():
    from pdf_extract_sys_spark.sources.pdf_bytes import pdf_to_page_records

    form = f"BT /F1 12 Tf 72 720 Td ({LONG1}) Tj ET".encode()
    payload, n_ev, n_img, images = pdf_to_page_records(_pdf_with_form(form))[0]
    assert n_ev == len(LONG1) and n_img == 0 and images == ()


def test_image_xobject_still_counts_as_image():
    from pdf_extract_sys_spark.sources.pdf_bytes import pdf_to_page_records

    pdf = _pdf_with_form(b"", page_content=b"q /Im9 Do Q")  # /Im9 unresolvable
    payload, n_ev, n_img, images = pdf_to_page_records(pdf)[0]
    assert n_ev == 0 and n_img == 1 and images == ("Im9",)


def test_self_referencing_form_terminates():
    """A form whose stream paints itself must terminate via the depth cap
    (counted as an image at the cap, never infinite recursion) — and a
    depth-capped FORM must NOT surface as a media figure span: it is a text
    container whose recursion was bounded, not a painted image."""
    from pdf_extract_sys_spark.sources.pdf_bytes import pdf_to_page_records

    form = b"q /Fm1 Do Q"
    pdf = _pdf_with_form(form)
    payload, _n_ev, n_img, images = pdf_to_page_records(pdf)[0]
    assert payload.startswith("PAGE")
    assert n_img >= 1 and images == ()


def test_rotate_90_maps_to_display_space():
    """/Rotate 90 (inheritable): PAGE dims swap and boxes land in display
    coordinates — a char at media (x=[10,16], y=[700,710]) on a 612x792 page
    displays at x=[700,710], y=[596,602]."""
    pdf = make_pdf([b"BT /F1 10 Tf 10 700 Td (A) Tj ET"])
    pdf = pdf.replace(b"/Contents 4 0 R", b"/Rotate 90 /Contents 4 0 R")
    payload = pdf_to_pdf_chars_payloads(pdf)[0]
    lines = payload.split("\n")
    assert lines[0] == "PAGE\t792\t612"
    box = [float(v) for v in lines[1].split("\t")[1:5]]
    assert box == [700.0, 596.0, 710.0, 602.0]


def test_rotate_inherited_from_pages_node():
    pdf = make_pdf([b"BT /F1 10 Tf 10 700 Td (A) Tj ET"])
    pdf = pdf.replace(b"/MediaBox [0 0 612 792]", b"/MediaBox [0 0 612 792] /Rotate 180")
    payload = pdf_to_pdf_chars_payloads(pdf)[0]
    lines = payload.split("\n")
    assert lines[0] == "PAGE\t612\t792"
    box = [float(v) for v in lines[1].split("\t")[1:5]]
    assert box == [612.0 - 16.0, 792.0 - 710.0, 612.0 - 10.0, 792.0 - 700.0]


def test_rotate_0_and_bogus_values_unchanged():
    base = make_pdf([b"BT /F1 10 Tf 10 700 Td (A) Tj ET"])
    expected = pdf_to_pdf_chars_payloads(base)
    for marker in (b"/Rotate 0 ", b"/Rotate 360 ", b"/Rotate 45 "):
        pdf = base.replace(b"/Contents 4 0 R", marker + b"/Contents 4 0 R")
        assert pdf_to_pdf_chars_payloads(pdf) == expected


def test_q_Q_restores_text_state():
    """Q restores the text state saved by q (font size, spacing), not just
    the CTM: the second (A) must render at 10pt with no char spacing."""
    pdf = make_pdf([
        b"BT /F1 10 Tf ET q BT /F1 20 Tf 5 Tc ET Q BT 0 100 Td (A) Tj ET"
    ])
    recs = [ln.split("\t") for ln in pdf_to_pdf_chars_payloads(pdf)[0].split("\n")[1:]]
    assert [float(v) for v in recs[0][1:5]] == [0.0, 100.0, 6.0, 110.0]


def test_negative_scale_y_flip_boxes_normalized():
    """Top-down y-flip (1 0 0 -1 0 792 cm) — common generator output — must
    produce normalized boxes (y0 < y1) on the fast path."""
    pdf = make_pdf([b"q 1 0 0 -1 0 792 cm BT /F1 10 Tf 10 92 Td (A) Tj ET Q"])
    recs = [ln.split("\t") for ln in pdf_to_pdf_chars_payloads(pdf)[0].split("\n")[1:]]
    box = [float(v) for v in recs[0][1:5]]
    # text-space y in [92, 102] maps to device [690, 700]
    assert box == [10.0, 690.0, 16.0, 700.0]
