"""OCR-path extraction kernel: word-event streams → line/sentence spans, vectorized.

Reimplements the reference's OCR grouping loop
(``backend/app/main.py:634-735``, ``process_page_with_optimized_ocr``) over
pre-tokenized word events (FIXTURES.md encoding #2 — the north-rule invariant is on
span sequences, not pixels; rasterization/Tesseract are out of scope, SURVEY.md §2 O1).

Semantics reproduced exactly (SURVEY.md §2.2 rules 8-9):
  * words with conf < 30 or blank text are dropped          (main.py:673)
  * kept words joined with a single space                   (main.py:694-705)
  * group closes when the kept word endswith . ! ?, or its conf < 50, or the RAW
    next event's line_num differs (lookahead indexes the raw array INCLUDING
    dropped words; clamps to itself at the last index ⇒ never fires there)
                                                            (main.py:708)
  * trailing group flushed                                  (main.py:719-724)
  * bbox percent-normalized WITHOUT y-flip (origin already top-left); envelope is
    min/min/max/max expansion over member words             (main.py:687-703)
  * an empty event list models a blank page ⇒ zero spans    (main.py:649-650)

Performance: payload parsing on pyarrow C++ kernels; grouping as numpy masks over
dense int32 page codes; per-group joins via one ``pc.binary_join`` over Arrow list
offsets; envelopes via ``np.minimum/maximum.reduceat``. The blank-word test and the
final per-span ``.strip()`` use Python semantics (str.isspace / str.strip), matching
the reference exactly even for exotic whitespace codepoints.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from .util import grouped_cumsum

_HEADER_RE = r"^PAGE\t(\d+(?:\.\d+)?)\t(\d+(?:\.\d+)?)$"
_NUM_FULL_RE = r"^-?\d+(?:\.\d+)?$"
_INT_FULL_RE = r"^-?\d+$"
# ONE structural regex over the whole record — exactly 8 tab-separated fields:
# word (tab-free), five numerics (conf,x,y,w,h), two integers (block,line).
# Equivalent to the per-field (fcnt==8) + 7 field-regex checks it replaced.
_EVENT_FULL_RE = r"^[^\t]*\t(?:-?\d+(?:\.\d+)?\t){5}-?\d+\t-?\d+$"
# the exact Python str.isspace() codepoint class (str.strip() strips these)
_PY_WS_CLASS = (
    "[\\x09-\\x0d\\x1c-\\x20\\x85\\xa0\\x{1680}"
    "\\x{2000}-\\x{200a}\\x{2028}\\x{2029}\\x{202f}\\x{205f}\\x{3000}]"
)
_PY_WS_ONLY_RE = f"^{_PY_WS_CLASS}*$"

EMPTY_SPANS = pd.DataFrame(
    {
        "doc_id": pd.Series(dtype=object),
        "page": pd.Series(dtype=np.int64),
        "seq": pd.Series(dtype=np.int64),
        "text": pd.Series(dtype=object),
        "l": pd.Series(dtype=np.float64),
        "t": pd.Series(dtype=np.float64),
        "r": pd.Series(dtype=np.float64),
        "b": pd.Series(dtype=np.float64),
    }
)


class OcrEvents:
    """Flat columnar word-event stream, page-major (dense int32 `prow` indexing
    `page_tab`); words kept as an Arrow string array for C++ join/endswith."""

    __slots__ = ("prow", "words", "conf", "x", "y", "w", "h", "block", "line", "page_tab")

    def __init__(self, prow, words: pa.Array, conf, x, y, w, h, block, line,
                 page_tab: pd.DataFrame):
        self.prow = prow
        self.words = words
        self.conf = conf
        self.x, self.y, self.w, self.h = x, y, w, h
        self.block = block
        self.line = line
        self.page_tab = page_tab

    def __len__(self) -> int:
        return len(self.prow)


def _empty_events(page_tab: pd.DataFrame) -> OcrEvents:
    z = np.empty(0)
    return OcrEvents(
        np.empty(0, np.int32), pa.array([], type=pa.string()), z, z, z, z, z,
        np.empty(0, np.int64), np.empty(0, np.int64), page_tab,
    )


def _list_field(values: pa.Array, offsets: np.ndarray, counts: np.ndarray, i: int) -> pa.Array:
    idx = np.where(counts > i, offsets[:-1] + i, 0)
    return values.take(pa.array(idx, type=pa.int64()))


def decode_ocr_core(pages: pd.DataFrame) -> tuple[OcrEvents, pd.Index]:
    """Decode `ocr_words` payloads (header ``PAGE\\tw\\th``, records
    ``word\\tconf\\tleft\\ttop\\twidth\\theight\\tblock\\tline``) into an OcrEvents
    stream. pages: (doc_id, page, pos, payload). Docs with any malformed payload
    fail whole (sentinel contract)."""
    pages = pages.reset_index(drop=True)
    npages = len(pages)
    page_tab = pages[["doc_id", "page", "pos"]].copy()
    page_tab["img_w"] = np.nan
    page_tab["img_h"] = np.nan
    if not npages:
        return _empty_events(page_tab), pd.Index([])

    payloads = pa.array(pages["payload"].to_numpy(dtype=object), type=pa.string())
    lines = pc.split_pattern(payloads, "\n")
    loff = lines.offsets.to_numpy(zero_copy_only=False)
    lcnt = np.diff(loff)
    lvals = lines.values
    prow_all = np.repeat(np.arange(npages, dtype=np.int32), lcnt)

    first = np.zeros(len(lvals), dtype=bool)
    first[loff[:-1][lcnt > 0]] = True

    hdr = pd.Series(lvals.take(pa.array(loff[:-1], type=pa.int64())).to_pandas())
    hx = hdr.str.extract(_HEADER_RE)
    bad_page = (hx[0].isna() | (lcnt == 0)).to_numpy()
    okp = ~bad_page
    page_tab.loc[okp, "img_w"] = pd.to_numeric(hx[0][okp]).to_numpy()
    page_tab.loc[okp, "img_h"] = pd.to_numeric(hx[1][okp]).to_numpy()

    body_mask = ~first & (pc.utf8_length(lvals).to_numpy(zero_copy_only=False) > 0)
    body = lvals.filter(pa.array(body_mask))
    bprow = prow_all[body_mask]

    if len(body) == 0:
        bad_docs = pd.Index(sorted(set(page_tab.loc[bad_page, "doc_id"])))
        return _empty_events(page_tab), bad_docs

    row_ok = pc.match_substring_regex(body, _EVENT_FULL_RE).to_numpy(
        zero_copy_only=False
    )

    bad_pages_mask = bad_page.copy()
    if (~row_ok).any():
        bad_pages_mask[np.unique(bprow[~row_ok])] = True
    bad_docs = pd.Index(sorted(set(page_tab.loc[bad_pages_mask, "doc_id"])))

    doc_bad = page_tab["doc_id"].isin(bad_docs).to_numpy()
    keep = ~doc_bad[bprow]
    if not keep.all():
        body = body.filter(pa.array(keep))
        bprow = bprow[keep]
        if len(body) == 0:
            return _empty_events(page_tab), bad_docs

    # split ONCE, after the keep-filter: validation is the full-line regex
    # above, so the fields are only needed for the surviving rows
    fields = pc.split_pattern(body, "\t")
    foff = fields.offsets.to_numpy(zero_copy_only=False)
    fcnt = np.diff(foff)
    fvals = fields.values

    def fnum(i: int) -> np.ndarray:
        return pc.cast(_list_field(fvals, foff, fcnt, i), pa.float64()).to_numpy(
            zero_copy_only=False
        )

    return (
        OcrEvents(
            bprow,
            _list_field(fvals, foff, fcnt, 0),
            fnum(1), fnum(2), fnum(3), fnum(4), fnum(5),
            fnum(6).astype(np.int64), fnum(7).astype(np.int64),
            page_tab,
        ),
        bad_docs,
    )


def group_ocr_lines_core(ev: OcrEvents) -> pd.DataFrame:
    """Word events → grouped spans: (doc_id, page, pos, seq, text, l, t, r, b).
    Implements main.py:666-724 exactly."""
    empty = EMPTY_SPANS.copy()
    empty["pos"] = pd.Series(dtype=np.int64)
    if not len(ev):
        return empty

    pg = ev.prow
    n = len(pg)
    line = ev.line

    # RAW next line_num, self-clamped at the page's last raw index (main.py:708)
    next_line = line.copy()
    same_next = np.zeros(n, dtype=bool)
    same_next[:-1] = pg[:-1] == pg[1:]
    next_line[:-1][same_next[:-1]] = line[1:][same_next[:-1]]

    # conf/blank filter (main.py:673). The blank test must use PYTHON str.strip
    # semantics (its whitespace set is wider than Unicode WSpace — e.g. \x1c-\x1f);
    # one C++ regex over the exact Python whitespace class keeps it vectorized.
    blank = pc.match_substring_regex(ev.words, _PY_WS_ONLY_RE).to_numpy(
        zero_copy_only=False
    )
    kept_mask = (ev.conf >= 30) & ~blank

    kpos = np.nonzero(kept_mask)[0]
    if not len(kpos):
        return empty
    kpg = pg[kpos]
    kconf = ev.conf[kpos]
    kline = line[kpos]
    knext = next_line[kpos]
    kwords = ev.words.take(pa.array(kpos, type=pa.int64()))

    ends = (
        pc.ends_with(kwords, ".").to_numpy(zero_copy_only=False)
        | pc.ends_with(kwords, "!").to_numpy(zero_copy_only=False)
        | pc.ends_with(kwords, "?").to_numpy(zero_copy_only=False)
    )
    is_break = ends | (kconf < 50) | (kline != knext)

    nk = len(kpos)
    brk_prev = np.zeros(nk, dtype=bool)
    brk_prev[1:] = is_break[:-1] & (kpg[1:] == kpg[:-1])
    gid = grouped_cumsum(brk_prev.astype(np.int64), kpg)

    gfirst = np.ones(nk, dtype=bool)
    gfirst[1:] = (kpg[1:] != kpg[:-1]) | (gid[1:] != gid[:-1])
    gstart = np.nonzero(gfirst)[0]
    gend = np.append(gstart[1:], nk)
    g_page = kpg[gstart]

    # group text: one C++ binary_join over list offsets (single-space separator)
    offs = np.empty(len(gstart) + 1, dtype=np.int32)
    offs[:-1] = gstart
    offs[-1] = nk
    glist = pa.ListArray.from_arrays(pa.array(offs, type=pa.int32()), kwords.combine_chunks() if isinstance(kwords, pa.ChunkedArray) else kwords)
    joined = pc.binary_join(glist, " ").to_pylist()
    texts = [t.strip() for t in joined]  # main.py:711 — Python strip semantics

    iw = ev.page_tab["img_w"].to_numpy()[kpg]
    ih = ev.page_tab["img_h"].to_numpy()[kpg]
    nl = (ev.x[kpos] / iw) * 100.0
    nt = (ev.y[kpos] / ih) * 100.0
    nr = ((ev.x[kpos] + ev.w[kpos]) / iw) * 100.0
    nb = ((ev.y[kpos] + ev.h[kpos]) / ih) * 100.0

    l = np.minimum.reduceat(nl, gstart)
    t = np.minimum.reduceat(nt, gstart)
    r = np.maximum.reduceat(nr, gstart)
    b = np.maximum.reduceat(nb, gstart)

    nonempty = np.array([len(x) > 0 for x in texts], dtype=bool)  # main.py:709/719
    seq = grouped_cumsum(nonempty.astype(np.int64), g_page) - 1

    tab = ev.page_tab
    out = pd.DataFrame(
        {
            "doc_id": tab["doc_id"].to_numpy()[g_page],
            "page": tab["page"].to_numpy()[g_page],
            "pos": tab["pos"].to_numpy()[g_page],
            "seq": seq,
            "text": texts,
            "l": l,
            "t": t,
            "r": r,
            "b": b,
        }
    )
    return out.loc[nonempty].reset_index(drop=True)
