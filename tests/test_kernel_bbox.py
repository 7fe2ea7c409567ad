"""Internal bbox contract (not part of the output schema, but pinned by FIXTURES.md
F07/F08/F14): normalization (y-flip on the text path, none on OCR) and the
min/min/max/max envelope with whitespace trims — exact parity with the oracle."""

from __future__ import annotations

import numpy as np
import pandas as pd
import oracle as ORC

from pdf_extract_sys_spark import corpus as C
from pdf_extract_sys_spark.kernels import ocr as O
from pdf_extract_sys_spark.kernels import pdf_text as P


def _page(payload: str) -> pd.DataFrame:
    return pd.DataFrame({"doc_id": ["d"], "page": [0], "pos": [0], "payload": [payload]})


def _pdf_spans(payload: str) -> pd.DataFrame:
    ev, bad = P.decode_pdf_core(_page(payload))
    assert not len(bad)
    return P.segment_sentences_core(ev)


def _ocr_spans(payload: str) -> tuple[pd.DataFrame, pd.Index]:
    ev, bad = O.decode_ocr_core(_page(payload))
    return O.group_ocr_lines_core(ev), bad


def test_pdf_normalization_yflip_exact():
    # one char with a known box on a 612x792 page (FIXTURES.md F08)
    payload = C.encode_pdf_page(["A", "."], [(61.2, 79.2, 122.4, 158.4), (300.0, 700.0, 306.0, 710.0)])
    spans = _pdf_spans(payload)
    assert len(spans) == 1
    l, t, r, b = spans.iloc[0][["l", "t", "r", "b"]]
    # envelope of both chars; char A: l=10, t=(792-158.4)/792*100=80, r=20, b=(792-79.2)/792*100=90
    assert np.isclose(l, 10.0) and np.isclose(r, 306.0 / 612.0 * 100)
    assert np.isclose(t, (792 - 710.0) / 792 * 100)
    assert np.isclose(b, (792 - 79.2) / 792 * 100)


def test_pdf_ws_trim_excludes_whitespace_from_envelope():
    # leading/trailing \r \n ' ' chars excluded from envelope (F07, main.py:454-457)
    chars = ["\n", " ", "H", "i", ".", " ", "\n"]
    boxes = [(0, 0, 1, 1), (1, 0, 2, 1), (100, 100, 110, 120), (110, 100, 120, 120), (120, 100, 130, 120), (500, 500, 600, 600), (601, 601, 602, 602)]
    spans = _pdf_spans(C.encode_pdf_page(chars, boxes, page_w=1000, page_h=1000))
    assert list(spans["text"]) == ["Hi."]
    l, t, r, b = spans.iloc[0][["l", "t", "r", "b"]]
    assert np.isclose(l, 10.0) and np.isclose(r, 13.0)  # only the Hi. chars
    assert np.isclose(t, (1000 - 120) / 1000 * 100) and np.isclose(b, (1000 - 100) / 1000 * 100)


def test_random_pdf_envelopes_match_oracle():
    rng = np.random.default_rng(17)
    for i in range(25):
        txt = C._random_page_text(rng, int(rng.integers(2, 8)))
        nb = int(rng.choice([0, 3, 7]))
        chars, boxes = C.layout_text(txt, nobbox_every=nb)
        payload = C.encode_pdf_page(chars, boxes)
        spans = _pdf_spans(payload)
        pw, ph, ch, bx = ORC.decode_pdf_payload(payload)
        gold = ORC.extract_page_text_oracle(pw, ph, ch, bx)
        assert len(spans) == len(gold)
        for (_, row), g in zip(spans.iterrows(), gold):
            assert row["text"] == g["text"]
            assert np.allclose([row["l"], row["t"], row["r"], row["b"]], g["bbox"], atol=1e-9)


def test_random_ocr_envelopes_match_oracle():
    rng = np.random.default_rng(23)
    for i in range(25):
        words = C._random_ocr_words(rng, int(rng.integers(5, 60)))
        payload = C.encode_ocr_page(words)
        spans, bad = _ocr_spans(payload)
        assert not len(bad)
        iw, ih, events = ORC.decode_ocr_payload(payload)
        gold = ORC.ocr_group_oracle(iw, ih, events)
        assert len(spans) == len(gold)
        for (_, row), g in zip(spans.iterrows(), gold):
            assert row["text"] == g["text"]
            assert np.allclose([row["l"], row["t"], row["r"], row["b"]], g["bbox"], atol=1e-9)


def test_ocr_no_yflip():
    payload = C.encode_ocr_page([("w.", 90, 100, 140, 300, 28, 1, 1)], img_w=1000, img_h=1400)
    spans, _ = _ocr_spans(payload)
    l, t, r, b = spans.iloc[0][["l", "t", "r", "b"]]
    assert np.isclose(l, 10.0) and np.isclose(t, 10.0)
    assert np.isclose(r, 40.0) and np.isclose(b, 12.0)
