"""Native-text extraction kernel: char-event streams → sentence spans, fully vectorized.

Reimplements the reference's per-char extraction loop
(``backend/app/main.py:404-490``, ``extract_page_text``) as shifted-mask arithmetic
over numpy/Arrow arrays — the "cumsum-of-break-flags" sessionization pattern
(SURVEY.md §2 P1-P6). Semantics reproduced bit-for-bit (SURVEY.md §2.2 rules 1-6, 11):

  * enders ``. ! ?`` plus hard breaks ``\\n`` / ``\\ufffe``      (main.py:378, 451)
  * ``.`` exceptions, first-match-wins:
      decimal   — prev accumulated char isdigit AND next raw char isdigit
                                                               (main.py:436-437)
      ellipsis  — raw neighbor is ``.``; raw ``" ."`` ahead / ``". "`` behind
                                                               (main.py:439-441)
      email     — next 3 raw chars ∈ {com, org, edu}           (main.py:379, 444)
      url       — accumulated tail ``www.`` (case-insens), raw index > 3
                                                               (main.py:447)
  * bbox-less chars skipped from the text but still occupy a raw index for
    lookahead                                                  (main.py:415-422)
  * whitespace-only accumulations are NOT emitted and NOT reset — they merge
    forward into the next non-whitespace sentence              (main.py:452)
  * emitted text is ``.strip()``-ed                            (main.py:467)
  * unterminated tail flushed                                  (main.py:476-488)

Text only. The reference also computes a normalized bbox per sentence (y-flip,
envelope trim, min/min/max/max; main.py:425-430, 454-464) for its frontend's
highlights; the output contract (kind, text, media_ref, order) has no bbox, so
page dimensions and coordinates are validated by the header and record regexes
but never parsed — only whether a char has a bbox changes its text.
``tests/oracle.py`` keeps the normalization as the executable spec for any
future bbox column.

Key insight making exact vectorization possible: the two "stateful" lookbehinds
(decimal's ``current_sentence[-2]``, url's ``current_sentence[-4:]``) never straddle a
sentence boundary — digits and ``w`` are not enders, so the chars they inspect are
always in the same sentence as the ``.`` — hence plain shifted lookups over the
kept-char sequence reproduce them exactly (no fixpoint iteration needed).

Performance design (the 100 TB path):
  * payload parsing runs on **pyarrow compute** (C++ kernels: split_pattern,
    regex match, lpad) — no pandas object-string loops;
  * chars are **uint32 codepoints**; every rule is integer math; text materializes
    only at span granularity via the C ``utf-32`` codec on contiguous slices;
  * per-group tests are ``np.minimum.reduceat`` over contiguous runs keyed by
    dense int32 page codes — zero object sorts, zero merges;
  * ``.``-exception masks are evaluated only at dot positions (a tiny subset).

One deliberate divergence: ``main.py:436`` indexes ``full_text[index+1]`` unguarded and
would raise IndexError on a digit+``.`` at end-of-page (killing the whole request).
Here (and in tests/oracle.py) end-of-page lookahead is treated as "not a digit";
fixtures avoid the case (SURVEY.md §2.2 quirks).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from .util import grouped_cumsum, page_records

_NUM = r"-?\d+(?:\.\d+)?"
_EVENT_FULL_RE = rf"^[0-9a-fA-F]{{1,8}}\t(?:-|{_NUM}\t{_NUM}\t{_NUM}\t{_NUM})$"

EMPTY_SPANS = pd.DataFrame(
    {
        "doc_id": pd.Series(dtype=object),
        "page": pd.Series(dtype=np.int64),
        "pos": pd.Series(dtype=np.int64),
        "seq": pd.Series(dtype=np.int64),
        "text": pd.Series(dtype=object),
    }
)

_CP_DOT, _CP_BANG, _CP_Q, _CP_NL, _CP_FFFE = 0x2E, 0x21, 0x3F, 0x0A, 0xFFFE
_CP_SP = 0x20
_ENDER_CPS = np.array([_CP_DOT, _CP_BANG, _CP_Q, _CP_NL, _CP_FFFE], dtype=np.uint32)
# Python str.isspace() codepoints (str.strip() strips exactly these)
_PY_WS_CPS = np.array(
    sorted(
        list(range(0x09, 0x0E)) + list(range(0x1C, 0x21))
        + [0x85, 0xA0, 0x1680]
        + list(range(0x2000, 0x200B))
        + [0x2028, 0x2029, 0x202F, 0x205F, 0x3000]
    ),
    dtype=np.uint32,
)


def _cps_to_str(cps: np.ndarray) -> str:
    return cps.astype("<u4").tobytes().decode("utf-32-le")


class PdfEvents:
    """Flat columnar char-event stream, page-major (dense int32 page code `prow`
    indexing `page_tab`); chars as uint32 codepoints; rows in stream order."""

    __slots__ = ("prow", "cp", "has_bbox", "page_tab")

    def __init__(self, prow, cp, has_bbox, page_tab: pd.DataFrame):
        self.prow = prow
        self.cp = cp
        self.has_bbox = has_bbox
        # page_tab columns: doc_id, page (int64), pos (int64) — one row per
        # input pdf_chars span
        self.page_tab = page_tab

    def __len__(self) -> int:
        return len(self.prow)

    def select_pages(self, page_mask: np.ndarray) -> "PdfEvents":
        """Restrict to pages where page_mask[prow] (page_tab unchanged — prow codes
        stay valid)."""
        m = page_mask[self.prow]
        if m.all():
            # nothing filtered (the common all-searchable batch): skip three
            # full-array gather copies; events are read-only downstream
            return self
        return PdfEvents(self.prow[m], self.cp[m], self.has_bbox[m], self.page_tab)


def decode_pdf_core(pages: pd.DataFrame) -> tuple[PdfEvents, pd.Index]:
    """Decode `pdf_chars` payloads (FIXTURES.md encoding #1) into a PdfEvents stream.

    pages: columns (doc_id, page, pos, payload), one row per pdf_chars span.
    Returns (events, bad_doc_ids): docs with any malformed payload (bad header or
    record) fail whole — the analogue of pdfium refusing the file (main.py:157-164).
    Page dimensions and coordinates are validated, never parsed: the text needs
    only each char and whether it has a bbox. Records are parsed with pyarrow
    C++ compute; only the one header per page goes through Python ``re``.
    """
    page_tab, body, bprow, bad_doc_ids = page_records(pages, _EVENT_FULL_RE)
    # hex → codepoints: split at the first tab only, lpad to 8, join the whole
    # column into ONE hex string (C++), bytes.fromhex (C), big-endian uint32 view
    hexes = pc.list_element(pc.split_pattern(body, "\t", max_splits=1), 0)
    padded = pc.utf8_lpad(hexes, 8, "0")
    one = pa.ListArray.from_arrays(
        pa.array([0, len(padded)], type=pa.int32()), padded
    )
    blob = bytes.fromhex(pc.binary_join(one, "")[0].as_py())
    cps = np.frombuffer(blob, dtype=">u4").astype(np.uint32)
    # a valid record ends in a digit unless it is the bbox-less "hex\t-" form
    has_bbox = ~pc.ends_with(body, "\t-").to_numpy(zero_copy_only=False)
    return PdfEvents(bprow, cps, has_bbox, page_tab), bad_doc_ids


def page_stripped_lengths_core(ev: PdfEvents) -> np.ndarray:
    """len(full_text.strip()) per page row of ev.page_tab — the searchable
    classifier input (main.py:57-66). full_text includes bbox-less chars."""
    npages = len(ev.page_tab)
    out = np.zeros(npages, dtype=np.int64)
    if not len(ev):
        return out
    counts = np.bincount(ev.prow, minlength=npages)
    present = np.nonzero(counts)[0]
    ends = np.cumsum(counts[present])
    starts = ends - counts[present]
    cp = ev.cp
    out[present] = [
        len(_cps_to_str(cp[s:e]).strip()) for s, e in zip(starts, ends)
    ]  # page-level loop
    return out


def _isdigit_cps(cps: np.ndarray) -> np.ndarray:
    """str.isdigit per codepoint (unicode digits, as the reference). Evaluated only
    on tiny subsets (dot neighborhoods)."""
    if not len(cps):
        return np.zeros(0, dtype=bool)
    ascii_dig = (cps >= 0x30) & (cps <= 0x39)
    exotic = ~ascii_dig & (cps > 0x7F)
    if exotic.any():
        s = _cps_to_str(cps[exotic])
        ascii_dig = ascii_dig.copy()
        ascii_dig[np.nonzero(exotic)[0]] = np.fromiter(
            (c.isdigit() for c in s), dtype=bool, count=len(s)
        )
    return ascii_dig


def segment_sentences_core(ev: PdfEvents) -> pd.DataFrame:
    """Char events → sentence spans: (doc_id, page, pos, seq, text); seq =
    within-page emit order. Implements main.py:413-488 exactly, less the bbox."""
    empty = EMPTY_SPANS.copy()
    if not len(ev):
        return empty

    pg = ev.prow
    cp = ev.cp
    n = len(cp)
    # raw index within page without a full cumsum: i - first_row_of(page)
    page_counts = np.bincount(pg, minlength=len(ev.page_tab))
    page_first = np.concatenate(([0], np.cumsum(page_counts)[:-1]))

    kept = ev.has_bbox
    kpos = np.nonzero(kept)[0]
    if not len(kpos):
        return empty
    kpg = pg[kpos]
    kcp = cp[kpos]
    nk = len(kpos)

    # --- break mask over kept chars; '.'-exceptions evaluated ONLY at kept dots ---
    is_break = np.isin(kcp, _ENDER_CPS)

    dots = np.nonzero(kcp == _CP_DOT)[0]  # indices in kept space
    if len(dots):
        dpos = kpos[dots]
        dpg = pg[dpos]

        def raw_at(off: int) -> np.ndarray:
            p = dpos + off
            ok = (p >= 0) & (p < n)
            ok &= np.where(ok, pg[np.clip(p, 0, n - 1)] == dpg, False)
            out = np.zeros(len(dpos), dtype=np.uint32)
            out[ok] = cp[p[ok]]
            return out

        def kept_at(off: int) -> np.ndarray:
            j = dots + off
            ok = (j >= 0) & (j < nk)
            ok &= np.where(ok, kpg[np.clip(j, 0, nk - 1)] == dpg, False)
            out = np.zeros(len(dots), dtype=np.uint32)
            out[ok] = kcp[j[ok]]
            return out

        nxt1, nxt2, nxt3 = raw_at(1), raw_at(2), raw_at(3)
        prv1, prv2 = raw_at(-1), raw_at(-2)
        pk1, pk2, pk3 = kept_at(-1), kept_at(-2), kept_at(-3)

        # decimal (main.py:436)
        exc = _isdigit_cps(pk1) & _isdigit_cps(nxt1)
        # ellipsis neighbors (main.py:439)
        exc |= (nxt1 == _CP_DOT) | (prv1 == _CP_DOT)
        # spaced ellipsis (main.py:441)
        exc |= ((nxt3 != 0) & (nxt1 == _CP_SP) & (nxt2 == _CP_DOT)) | (
            (prv2 == _CP_DOT) & (prv1 == _CP_SP)
        )
        # email TLD (main.py:444): raw[i+1:i+4] ∈ {com, org, edu}
        exc |= (
            ((nxt1 == 0x63) & (nxt2 == 0x6F) & (nxt3 == 0x6D))
            | ((nxt1 == 0x6F) & (nxt2 == 0x72) & (nxt3 == 0x67))
            | ((nxt1 == 0x65) & (nxt2 == 0x64) & (nxt3 == 0x75))
        )
        # url (main.py:447): index>3 ∧ tail "www." (case-insensitive w)
        is_w = lambda a: (a == 0x77) | (a == 0x57)  # noqa: E731
        d_ridx = dpos - page_first[dpg]
        exc |= (d_ridx > 3) & is_w(pk1) & is_w(pk2) & is_w(pk3)

        is_break[dots] &= ~exc

    # --- tentative groups: cumsum of breaks shifted by one ------------------------
    brk_prev = np.zeros(nk, dtype=bool)
    brk_prev[1:] = is_break[:-1] & (kpg[1:] == kpg[:-1])
    gid = grouped_cumsum(brk_prev.astype(np.int64), kpg)

    gfirst = np.ones(nk, dtype=bool)
    gfirst[1:] = (kpg[1:] != kpg[:-1]) | (gid[1:] != gid[:-1])
    gstart = np.nonzero(gfirst)[0]
    gend = np.append(gstart[1:], nk)
    ngroups = len(gstart)
    g_page = kpg[gstart]

    # group is whitespace-only ⟺ text.strip() == '' ⟺ every char isspace
    is_space_char = np.isin(kcp, _PY_WS_CPS)
    is_ws = np.minimum.reduceat(is_space_char.astype(np.int8), gstart).astype(bool)

    # whitespace-only groups merge FORWARD into the next non-ws group on the same
    # page (main.py:452); trailing ws-only groups drop (main.py:476 guard).
    target = (
        pd.Series(np.where(is_ws, np.nan, np.arange(ngroups, dtype=np.float64)))
        .groupby(g_page)
        .bfill()
        .fillna(-1)
        .to_numpy(np.int64)
    )

    row_target = np.repeat(target, gend - gstart)
    row_valid = row_target >= 0
    if not row_valid.any():
        return empty

    ft = row_target[row_valid]
    ffirst = np.ones(len(ft), dtype=bool)
    ffirst[1:] = ft[1:] != ft[:-1]
    fstart_rows = np.nonzero(ffirst)[0]
    fends = np.append(fstart_rows[1:], len(ft))

    vcp = kcp[row_valid]
    vpg = kpg[row_valid]
    vbig = _cps_to_str(vcp)
    ftexts = [vbig[s:e].strip() for s, e in zip(fstart_rows, fends)]  # span-level

    f_page = vpg[fstart_rows]
    seq = grouped_cumsum(np.ones(len(f_page), np.int64), f_page) - 1

    tab = ev.page_tab
    return pd.DataFrame(
        {
            "doc_id": tab["doc_id"].to_numpy()[f_page],
            "page": tab["page"].to_numpy()[f_page],
            "pos": tab["pos"].to_numpy()[f_page],
            "seq": seq,
            "text": ftexts,
        }
    )


def payload_stripped_lengths(payloads: pd.Series) -> pd.Series:
    """Per-payload ``len(full_text.strip())`` (the searchable-classifier input,
    main.py:62-64); -1 for malformed payloads. Payloads must be strings. The
    salted mega-doc path's slicer (``pipeline._slice_mega_docs``) calls it on
    the non-NULL pdf_chars payloads of whole docs."""
    idx = pd.RangeIndex(len(payloads))
    frame = pd.DataFrame(
        {
            "doc_id": idx.to_numpy(np.int64),
            "page": 0,
            "pos": 0,
            "payload": payloads.to_numpy(dtype=object),
        }
    )
    ev, bad = decode_pdf_core(frame)
    out = pd.Series(page_stripped_lengths_core(ev), index=idx)
    if len(bad):
        out.loc[list(bad)] = -1
    return out
