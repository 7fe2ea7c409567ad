"""Focused tests for the r6 vectorized hash kernels (kernels/md5np.py,
kernels/shingle.py): the batch MD5 must be bit-identical to hashlib on
adversarial lengths, and each shingle kernel must agree with a trivially
correct pure-Python reference on edge-case rows (empty text, <5 chars,
non-ASCII fallback rows, repeated/multiple spaces, overlong words that
exceed the 2-block vectorized MD5 limit)."""

from __future__ import annotations

import hashlib
import random

import numpy as np
import pyarrow as pa
import pytest

from pdf_extract_sys_spark.kernels.md5np import (
    md5_first32_long,
    md5_first32_var,
)
from pdf_extract_sys_spark.kernels import shingle as sh


def _ref32(data: bytes) -> int:
    return int(hashlib.md5(data).hexdigest()[:8], 16)


def md5_first32_concat(chunks: "list[bytes]") -> np.ndarray:
    """Hash a python list of byte strings (any lengths): the <=119-byte ones
    through the vectorized kernel, longer ones one by one."""
    lens = np.fromiter((len(c) for c in chunks), dtype=np.int64, count=len(chunks))
    buf = np.frombuffer(b"".join(chunks), dtype=np.uint8)
    starts = np.zeros(len(chunks), dtype=np.int64)
    if len(chunks):
        np.cumsum(lens[:-1], out=starts[1:])
    short = lens <= 119
    out = np.empty(len(chunks), dtype=np.int64)
    si = np.nonzero(short)[0]
    out[si] = md5_first32_var(buf, starts[si], lens[si])
    for i in np.nonzero(~short)[0]:
        out[i] = md5_first32_long(chunks[i])
    return out


def _per_row_hash5(batch_t):
    """list of per-row int64 hash arrays of the flat sliding 5-char hashes the
    hot kernels consume (ASCII vectorized, fallback exact)."""
    s = sh._Shingle5(batch_t)
    out: list = [None] * s.nrows
    for r in s.long_rows:
        out[r] = s.h[s.offs[r] : s.offs[r + 1] - 4]
    for j, r in enumerate(s.short_rows):
        out[r] = s.short_h[j : j + 1]
    for j, r in enumerate(s.fb_rows):
        out[r] = s.fb_h[j]
    return out


def _per_row_ngram_hashes(batch_t, gram: int):
    """list of per-row int64 hash arrays of word-n-grams (row order kept), from
    the flat ``_ngram_parts`` the hot kernels consume."""
    h_flat, row_ids, _ntok, nrows = sh._ngram_parts(batch_t, gram)
    out: list = [None] * nrows
    # row_ids is NOT globally sorted (fallback rows append after ASCII rows),
    # but each row's hashes are contiguous and in order — stable-split works
    order = np.argsort(row_ids, kind="stable")
    rs = row_ids[order]
    bounds = np.nonzero(np.diff(rs))[0] + 1
    for r, chunk in zip(
        rs[np.concatenate(([0], bounds))] if len(rs) else [],
        np.split(h_flat[order], bounds),
    ):
        out[int(r)] = chunk
    for r in range(nrows):
        if out[r] is None:
            out[r] = np.empty(0, dtype=np.int64)
    return out


def test_md5_var_matches_hashlib_adversarial_lengths():
    rng = random.Random(20260822)
    msgs = []
    for length in [0, 1, 4, 5, 54, 55, 56, 57, 63, 64, 65, 118, 119]:
        for _ in range(8):
            msgs.append(bytes(rng.randrange(256) for _ in range(length)))
    for _ in range(500):
        msgs.append(bytes(rng.randrange(256) for _ in range(rng.randrange(120))))
    got = md5_first32_concat(msgs)
    assert [int(x) for x in got] == [_ref32(m) for m in msgs]


def test_md5_var_rejects_three_block_messages():
    buf = np.zeros(200, dtype=np.uint8)
    with pytest.raises(ValueError):
        md5_first32_var(buf, np.array([0]), np.array([120]))
    assert md5_first32_long(bytes(200)) == _ref32(bytes(200))


EDGE_TEXTS = [
    "",                      # empty -> one shingle md5("")
    "ab",                    # < 5 chars -> one whole-text shingle
    "abcde",                 # exactly one 5-gram
    "the quick brown fox jumps over the lazy dog",
    "a  b   c",              # empty tokens from repeated spaces
    " leading and trailing ",
    "naïve café déjà vu",    # non-ASCII -> per-row fallback
    "x" * 130,               # one giant word: 1-token doc
    ("w" * 130 + " ") * 9,   # 8-grams longer than the 119-byte vector limit
    "word " * 40,
]


def _batch(texts):
    return pa.RecordBatch.from_arrays(
        [pa.array(list(range(len(texts))), pa.int64()), pa.array(texts, pa.string())],
        names=["doc_id", "t"],
    )


def _ref_shingle5(text: str):
    n = max(len(text) - 4, 1)
    return [_ref32(text[i : i + 5].encode("utf-8")) for i in range(n)]


def _ref_ngrams(text: str, gram: int):
    toks = text.split(" ")
    g = max(len(toks) - gram + 1, 1)
    return [_ref32(" ".join(toks[i : i + gram]).encode()) for i in range(g)]


def test_per_row_hash5_matches_reference():
    out = _per_row_hash5(_batch(EDGE_TEXTS).column(1))
    for text, got in zip(EDGE_TEXTS, out):
        assert list(got) == _ref_shingle5(text), text


def test_per_row_ngram_hashes_match_reference():
    for gram in (2, 8):
        out = _per_row_ngram_hashes(_batch(EDGE_TEXTS).column(1), gram)
        for text, got in zip(EDGE_TEXTS, out):
            assert list(got) == _ref_ngrams(text, gram), (gram, text)


def test_minhash_batches_matches_reference():
    P = (1 << 61) - 1
    coeffs = [(3, 7), (123456789, 987654321)]
    fn = sh.minhash_batches(coeffs)
    (out,) = list(fn(iter([_batch(EDGE_TEXTS)])))
    tbl = out.to_pydict()
    for r, text in enumerate(EDGE_TEXTS):
        hs = _ref_shingle5(text)
        for k, (a, b) in enumerate(coeffs):
            assert tbl[f"h{k}"][r] == min((a * h + b) % P for h in hs), text


def test_modp_and_winnow_batches_match_reference():
    (mp,) = list(sh.modp_batches(4)(iter([_batch(EDGE_TEXTS)])))
    for r, text in enumerate(EDGE_TEXTS):
        exp = sorted({h for h in _ref_shingle5(text) if h % 4 == 0})
        assert list(mp.column("fp")[r].as_py()) == exp, text

    w = 8
    (wn,) = list(sh.winnow_batches(w)(iter([_batch(EDGE_TEXTS)])))
    for r, text in enumerate(EDGE_TEXTS):
        hs = _ref_shingle5(text)
        if len(hs) <= w:
            exp = [min(hs)]
        else:
            exp = sorted({min(hs[i : i + w]) for i in range(len(hs) - w + 1)})
        assert list(wn.column("fp")[r].as_py()) == exp, text


def test_dsir_count_batches_matches_reference():
    fn = sh.dsir_count_batches(64, 3, 6)
    (out,) = list(fn(iter([_batch(EDGE_TEXTS)])))
    got = {}
    for d, t, h, c in zip(*[out.column(i).to_pylist() for i in range(4)]):
        got.setdefault(d, {})[h] = (t, c)
    for r, text in enumerate(EDGE_TEXTS):
        toks = text.split(" ")
        if len(toks) < 2:
            assert r not in got, text
            continue
        exp: dict = {}
        for i in range(len(toks) - 1):
            h = _ref32((toks[i] + " " + toks[i + 1]).encode()) % 64
            exp[h] = exp.get(h, 0) + 1
        tgt = 3 <= len(toks) <= 6
        assert got[r] == {h: (tgt, c) for h, c in exp.items()}, text


def test_substring_fp_batches_matches_reference():
    fn = sh.substring_fp_batches(8, 2)
    (out,) = list(fn(iter([_batch(EDGE_TEXTS)])))
    got: dict = {}
    for d, h in zip(out.column("doc_id").to_pylist(), out.column("h").to_pylist()):
        got.setdefault(d, set()).add(h)
    for r, text in enumerate(EDGE_TEXTS):
        exp = {h for h in _ref_ngrams(text, 8) if h % 2 == 0}
        assert got.get(r, set()) == exp, text
