"""Focused differentials for the text kernels.

* The r6 text-analysis Arrow kernels must reproduce their Catalyst/regex
  reference exactly on adversarial rows (empty, whitespace runs, non-ASCII
  fallback, mixed classes, long rows).
* The pdf and OCR kernels are text-only: their sentences must match the
  oracle's on random pages, and coordinates and page dimensions are validated
  but never parsed, so any regex-valid spelling of them yields the same spans.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from conftest import extract_rows
from oracle import (
    decode_ocr_payload,
    decode_pdf_payload,
    extract_page_text_oracle,
    ocr_group_oracle,
    oracle_extract_doc,
)

from pdf_extract_sys_spark import corpus as C
from pdf_extract_sys_spark.kernels import ocr as O
from pdf_extract_sys_spark.kernels import pdf_text as P
from pdf_extract_sys_spark.kernels.shingle import (
    bpe_token_count_batches,
    ngram_distinct_array_batches,
    ngram_string_batches,
    simhash_batches,
)
from pdf_extract_sys_spark.kernels.md5np import md5_first56_long


def _batch(texts):
    return pa.RecordBatch.from_arrays(
        [pa.array(list(range(len(texts))), pa.int64()),
         pa.array(texts, pa.string())],
        names=["doc_id", "t"],
    )


BPE_PAT = re.compile("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]")
BPE_TEXTS = [
    "", " ", "abc", "abc123def", "a1b2 c3!d4?", "hello  world!!",
    "naïve café 123 déjà", "中文123abc", "🙂a1🙂", "tabs\tand\nnewlines",
    "UPPER lower MiXeD 000111", "!@#$%^&*()", "a" * 300 + "5" * 300,
]


def test_bpe_token_counts_match_re():
    (out,) = list(bpe_token_count_batches()(iter([_batch(BPE_TEXTS)])))
    for i, t in enumerate(BPE_TEXTS):
        assert out.column(1)[i].as_py() == len(BPE_PAT.findall(t)), t
        assert out.column(2)[i].as_py() == len(t.split(" ")), t


NGRAM_TEXTS = [
    "", "a b", "one two three four five six seven eight nine ten eleven",
    "a  b   c " + "w " * 12, "naïve café x " + "tok " * 12, "t " * 9 + "t",
]


def test_ngram_strings_match_explode_reference():
    (out,) = list(ngram_string_batches(10)(iter([_batch(NGRAM_TEXTS)])))
    got = sorted(zip(out.column(0).to_pylist(), out.column(1).to_pylist()))
    exp = []
    for i, t in enumerate(NGRAM_TEXTS):
        toks = t.split(" ")
        for j in range(len(toks) - 9):
            exp.append((i, " ".join(toks[j:j + 10])))
    assert got == sorted(exp)


TG_TEXTS = [
    "", "a", "a b", "a b c", "one two three four two three four five",
    "x  y   z w", "naïve café x y z", "a b c " * 40, "t " * 2 + "t",
]


def test_ngram_distinct_arrays_match_reference_sets():
    (out,) = list(ngram_distinct_array_batches(3)(iter([_batch(TG_TEXTS)])))
    for i, t in enumerate(TG_TEXTS):
        toks = t.split(" ")
        exp = ({" ".join(toks[j:j + 3]) for j in range(len(toks) - 2)}
               if len(toks) >= 3 else set())
        got = out.column(1)[i].as_py()
        assert set(got) == exp and len(got) == len(exp), t


SIMHASH_TEXTS = ["", "one", "one two  three", "naïve café 中文", "w " * 80]


def test_simhash_matches_reference():
    nbits = 16
    (out,) = list(simhash_batches(nbits)(iter([_batch(SIMHASH_TEXTS)])))
    for i, t in enumerate(SIMHASH_TEXTS):
        hs = [md5_first56_long(tok.encode("utf-8")) for tok in t.split(" ")]
        sim = 0
        for j in range(nbits):
            votes = sum(1 if (h >> j) & 1 else -1 for h in hs)
            if votes > 0:
                sim |= 1 << j
        assert out.column(1)[i].as_py() == sim, t


# ---------------------------------------------------------------------------
# pdf_chars / ocr_words kernels: text only
# ---------------------------------------------------------------------------


def _page(payload: str) -> pd.DataFrame:
    return pd.DataFrame({"doc_id": ["d"], "page": [0], "pos": [0], "payload": [payload]})


def _pdf_texts(payload: str) -> list[str]:
    ev, bad = P.decode_pdf_core(_page(payload))
    assert not len(bad)
    return list(P.segment_sentences_core(ev)["text"])


def _ocr_texts(payload: str) -> list[str]:
    ev, bad = O.decode_ocr_core(_page(payload))
    assert not len(bad)
    return list(O.group_ocr_lines_core(ev)["text"])


def test_pdf_ws_only_chars_trim_from_sentence():
    # leading/trailing \r \n ' ' chars are stripped from the text (main.py:454)
    chars = ["\n", " ", "H", "i", ".", " ", "\n"]
    boxes = [(0, 0, 1, 1), (1, 0, 2, 1), (100, 100, 110, 120), (110, 100, 120, 120),
             (120, 100, 130, 120), (500, 500, 600, 600), (601, 601, 602, 602)]
    assert _pdf_texts(C.encode_pdf_page(chars, boxes, page_w=1000, page_h=1000)) == ["Hi."]


def test_random_pdf_pages_match_oracle():
    rng = np.random.default_rng(17)
    for _ in range(25):
        txt = C._random_page_text(rng, int(rng.integers(2, 8)))
        chars, boxes = C.layout_text(txt, nobbox_every=int(rng.choice([0, 3, 7])))
        payload = C.encode_pdf_page(chars, boxes)
        gold = extract_page_text_oracle(*decode_pdf_payload(payload))
        assert _pdf_texts(payload) == [g["text"] for g in gold]


def test_random_ocr_pages_match_oracle():
    rng = np.random.default_rng(23)
    for _ in range(25):
        payload = C.encode_ocr_page(C._random_ocr_words(rng, int(rng.integers(5, 60))))
        gold = ocr_group_oracle(*decode_ocr_payload(payload))
        assert _ocr_texts(payload) == [g["text"] for g in gold]


# regex-valid spellings the kernels must never need to parse
_COORDS = ["9" * 5000, "-0", "000012.5000", "-3.25", "0"]
# block is an int to the oracle too, and Python's int() refuses > 4300 digits
_INTS = ["12345678901234567890123", "-0", "0007", "-3"]
_DIMS = [("9" * 5000, "0007.50"), ("٦١٢", "٧٩٢"), ("1", "1")]


def _pdf_doc(doc_id: str, chars: list[str], boxes: list, dims: tuple, shift: int) -> dict:
    lines = [f"PAGE\t{dims[0]}\t{dims[1]}"]
    for i, (ch, box) in enumerate(zip(chars, boxes)):
        coords = "-" if box is None else "\t".join(
            _COORDS[(i + k + shift) % len(_COORDS)] for k in range(4))
        lines.append(f"{ord(ch):x}\t{coords}")
    return {"doc_id": doc_id, "spans": [C.span("pdf_chars", "\n".join(lines), None, 0)]}


def _ocr_doc(doc_id: str, words: list[tuple], dims: tuple, shift: int) -> dict:
    lines = [f"PAGE\t{dims[0]}\t{dims[1]}"]
    for i, (word, conf, *_box, _block, line) in enumerate(words):
        # x, y, w, h and the integer block take the odd spellings; conf and
        # line are the only fields the grouping reads
        box = [_COORDS[(i + k + shift) % len(_COORDS)] for k in range(4)]
        block = _INTS[(i + shift) % len(_INTS)]
        lines.append("\t".join([word, str(conf), *box, block, str(line)]))
    return {"doc_id": doc_id, "spans": [C.span("ocr_words", "\n".join(lines), None, 0)]}


def _spans(row: dict) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]


def test_coordinate_spelling_does_not_change_spans():
    rng = np.random.default_rng(5)
    chars, boxes = C.layout_text(C._random_page_text(rng, 6), nobbox_every=5)
    words = C._random_ocr_words(rng, 40)
    docs = [{"doc_id": "pdf", "spans": [C.span("pdf_chars", C.encode_pdf_page(chars, boxes), None, 0)]},
            {"doc_id": "ocr", "spans": [C.span("ocr_words", C.encode_ocr_page(words), None, 0)]}]
    for j, dims in enumerate(_DIMS):
        docs.append(_pdf_doc(f"pdf{j}", chars, boxes, dims, j))
        docs.append(_ocr_doc(f"ocr{j}", words, dims, j))
    # one record off the regex (an exponent; a fractional block) fails its doc
    bad_pdf = _pdf_doc("pdf_bad", chars, boxes, _DIMS[2], 0)
    bad_pdf["spans"][0]["text"] += "\n41\t1e5\t0\t0\t0"
    bad_ocr = _ocr_doc("ocr_bad", words, _DIMS[2], 0)
    bad_ocr["spans"][0]["text"] += "\nw\t90\t1\t2\t3\t4\t1.5\t1"
    rows = {r["doc_id"]: _spans(r) for r in extract_rows(docs + [bad_pdf, bad_ocr])}
    assert rows["pdf"][0][0] == "text" and rows["ocr"][0][0] == "text"
    for j in range(len(_DIMS)):
        assert rows[f"pdf{j}"] == rows["pdf"]
        assert rows[f"ocr{j}"] == rows["ocr"]
    for d in ("pdf_bad", "ocr_bad"):
        assert rows[d] == [("error", f"[Error processing doc {d}]", None, 0)]


# Arabic-Indic digits: valid to the header regex (Python re), as to the oracle
_NON_ASCII_HEADERS = {"pdf_chars": "PAGE\t٦١٢\t٧٩٢", "ocr_words": "PAGE\t١٠٠٠\t1400"}


@pytest.mark.parametrize("kind", sorted(_NON_ASCII_HEADERS))
def test_non_ascii_digit_header_matches_oracle(kind: str):
    rng = np.random.default_rng(3)
    if kind == "pdf_chars":
        payload = C.encode_pdf_text(C._random_page_text(rng, 5))
    else:
        payload = C.encode_ocr_page(C._random_ocr_words(rng, 30))
    payload = _NON_ASCII_HEADERS[kind] + payload[payload.index("\n"):]
    doc = {"doc_id": "d", "spans": [C.span(kind, payload, None, 0)]}
    (row,) = extract_rows([doc])
    want = oracle_extract_doc("d", doc["spans"])
    assert want[0]["kind"] == "text"
    assert _spans(row) == [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in want]


def _ocr_lines_doc(lines: list[str]) -> dict:
    """One ocr_words page: word i (w0, w1, ...) on line ``lines[i]``."""
    recs = [f"w{i}\t90\t1\t2\t3\t4\t1\t{ln}" for i, ln in enumerate(lines)]
    return {"doc_id": "d", "spans": [C.span("ocr_words", "\n".join(["PAGE\t1000\t1400", *recs]), None, 0)]}


_BIG = 10**30  # past int64: the kernel compares normalized digit strings


@pytest.mark.parametrize("lines", [
    # equal as float64 (2^53 and 2^53 + 1), not as integers; leading zeros and -0
    ["9007199254740992", "9007199254740993", "0007", "7", "-0", "0", "-5", "5"],
    [str(_BIG), str(_BIG + 1), f"000{_BIG + 1}", "9007199254740992", "9007199254740993",
     "-0", "0", "-00", str(-_BIG), str(_BIG)],
], ids=["int64", "past-int64"])
def test_ocr_line_numbers_compare_exactly(lines: list[str]):
    doc = _ocr_lines_doc(lines)
    (row,) = extract_rows([doc])
    want = oracle_extract_doc("d", doc["spans"])
    assert len(want) > 2 and want[0]["kind"] == "text"
    assert _spans(row) == [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in want]


def test_ocr_line_numbers_past_python_int_limit():
    """FIXTURES.md: a line number of any length is valid and compared exactly;
    past Python's int() digit limit the oracle cannot parse it and sentinels."""
    a, b = "9" * 5000, "9" * 4999 + "8"
    (row,) = extract_rows([_ocr_lines_doc([a, b, "0" + b])])
    assert [s[1] for s in _spans(row)] == ["w0", "w1 w2"]
