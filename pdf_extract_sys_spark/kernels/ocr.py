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
  * an empty event list models a blank page ⇒ zero spans    (main.py:649-650)

Text only: the reference's percent-normalized bbox envelope (no y-flip,
main.py:687-703) feeds only its frontend's highlights and the output has no bbox
column, so image dimensions, the box and ``block_num`` are validated by the
header and record regexes but never parsed; ``tests/oracle.py`` keeps the
normalization.

Performance: payload parsing on pyarrow C++ kernels; grouping as numpy masks over
dense int32 page codes; per-group joins via one ``pc.binary_join`` over Arrow list
offsets. The blank-word test and the final per-span ``.strip()`` use Python
semantics (str.isspace / str.strip), matching the reference exactly even for
exotic whitespace codepoints.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from .util import grouped_cumsum, page_records

# ONE structural regex over the whole record — exactly 8 tab-separated fields:
# word (tab-free), five numerics (conf,x,y,w,h), two integers (block,line).
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
        "pos": pd.Series(dtype=np.int64),
        "seq": pd.Series(dtype=np.int64),
        "text": pd.Series(dtype=object),
    }
)


class OcrEvents:
    """Flat columnar word-event stream, page-major (dense int32 `prow` indexing
    `page_tab`); words kept as an Arrow string array for C++ join/endswith;
    `line` holds integer codes that compare like the line numbers."""

    __slots__ = ("prow", "words", "conf", "line", "page_tab")

    def __init__(self, prow, words: pa.Array, conf, line, page_tab: pd.DataFrame):
        self.prow = prow
        self.words = words
        self.conf = conf
        self.line = line
        self.page_tab = page_tab

    def __len__(self) -> int:
        return len(self.prow)


def decode_ocr_core(pages: pd.DataFrame) -> tuple[OcrEvents, pd.Index]:
    """Decode `ocr_words` payloads (header ``PAGE\\tw\\th``, records
    ``word\\tconf\\tleft\\ttop\\twidth\\theight\\tblock\\tline``) into an OcrEvents
    stream. pages: (doc_id, page, pos, payload). Docs with any malformed payload
    fail whole (sentinel contract). Image dimensions, the box and ``block`` are
    validated, never parsed: the grouping reads only word, conf and line."""
    page_tab, body, bprow, bad_docs = page_records(pages, _EVENT_FULL_RE)
    # split ONCE, after the keep-filter: every surviving record has 8 fields
    fields = pc.split_pattern(body, "\t")
    conf = pc.cast(pc.list_element(fields, 1), pa.float64()).to_numpy(zero_copy_only=False)
    # exact line keys of any length: codes of the digit strings normalized to int()
    # equality (leading zeros stripped, -0 → 0), the regexes run per distinct string
    raw = pc.dictionary_encode(pc.list_element(fields, 7))
    norm = pc.replace_substring_regex(raw.dictionary, r"^(-?)0*(\d)", r"\1\2")
    norm = pc.dictionary_encode(pc.replace_substring_regex(norm, r"^-0$", "0")).indices
    line = norm.take(raw.indices).to_numpy(zero_copy_only=False)
    return OcrEvents(bprow, pc.list_element(fields, 0), conf, line, page_tab), bad_docs


def group_ocr_lines_core(ev: OcrEvents) -> pd.DataFrame:
    """Word events → grouped spans: (doc_id, page, pos, seq, text). Implements
    main.py:666-724 exactly, less the bbox."""
    empty = EMPTY_SPANS.copy()
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
        }
    )
    return out.loc[nonempty].reset_index(drop=True)
