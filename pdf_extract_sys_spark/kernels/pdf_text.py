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
  * bbox-less chars skipped from BOTH text and envelope but still occupy a raw
    index for lookahead                                        (main.py:415-422)
  * whitespace-only accumulations are NOT emitted and NOT reset — they merge
    forward into the next non-whitespace sentence              (main.py:452)
  * emitted text is ``.strip()``-ed; envelope excludes leading/trailing
    ``\\r \\n `` chars, then min/min/max/max                   (main.py:454-467)
  * bbox normalized to percent with y-flip                     (main.py:425-430)
  * unterminated tail flushed                                  (main.py:476-488)

Key insight making exact vectorization possible: the two "stateful" lookbehinds
(decimal's ``current_sentence[-2]``, url's ``current_sentence[-4:]``) never straddle a
sentence boundary — digits and ``w`` are not enders, so the chars they inspect are
always in the same sentence as the ``.`` — hence plain shifted lookups over the
kept-char sequence reproduce them exactly (no fixpoint iteration needed).

Performance design (the 100 TB path):
  * payload parsing runs on **pyarrow compute** (C++ kernels: split_pattern,
    regex match, lpad, casts) — no pandas object-string loops;
  * chars are **uint32 codepoints**; every rule is integer math; text materializes
    only at span granularity via the C ``utf-32`` codec on contiguous slices;
  * all per-group aggregations are ``np.minimum/maximum.reduceat`` over contiguous
    runs keyed by dense int32 page codes — zero object sorts, zero merges;
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

from .util import grouped_cumsum

_HEADER_RE = r"^PAGE\t(\d+(?:\.\d+)?)\t(\d+(?:\.\d+)?)$"
_NUM = r"-?\d+(?:\.\d+)?"
_EVENT_FULL_RE = rf"^[0-9a-fA-F]{{1,8}}\t(?:-|{_NUM}\t{_NUM}\t{_NUM}\t{_NUM})$"

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

_CP_DOT, _CP_BANG, _CP_Q, _CP_NL, _CP_FFFE = 0x2E, 0x21, 0x3F, 0x0A, 0xFFFE
_CP_CR, _CP_SP = 0x0D, 0x20
_ENDER_CPS = np.array([_CP_DOT, _CP_BANG, _CP_Q, _CP_NL, _CP_FFFE], dtype=np.uint32)
_TRIM_CPS = np.array([_CP_CR, _CP_NL, _CP_SP], dtype=np.uint32)
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

    __slots__ = ("prow", "cp", "has_bbox", "x0", "y0", "x1", "y1", "page_tab")

    def __init__(self, prow, cp, has_bbox, x0, y0, x1, y1, page_tab: pd.DataFrame):
        self.prow = prow
        self.cp = cp
        self.has_bbox = has_bbox
        self.x0, self.y0, self.x1, self.y1 = x0, y0, x1, y1
        # page_tab columns: doc_id (object), page (int64), pos (int64),
        # page_w, page_h (float64) — one row per input pdf_chars span
        self.page_tab = page_tab

    def __len__(self) -> int:
        return len(self.prow)

    def select_pages(self, page_mask: np.ndarray) -> "PdfEvents":
        """Restrict to pages where page_mask[prow] (page_tab unchanged — prow codes
        stay valid)."""
        m = page_mask[self.prow]
        if m.all():
            # nothing filtered (the common all-searchable batch): skip eight
            # full-array gather copies; events are read-only downstream
            return self
        return PdfEvents(
            self.prow[m], self.cp[m], self.has_bbox[m],
            self.x0[m], self.y0[m], self.x1[m], self.y1[m], self.page_tab,
        )


def _empty_events(page_tab: pd.DataFrame) -> PdfEvents:
    z = np.empty(0)
    return PdfEvents(
        np.empty(0, np.int32), np.empty(0, np.uint32), np.empty(0, bool),
        z, z, z, z, page_tab,
    )


def _list_field(values: pa.Array, offsets: np.ndarray, counts: np.ndarray, i: int):
    """i-th element of each list in a (values, offsets) list layout; rows with
    count <= i get index 0 and must be masked by the caller. Returns (arrow array,
    present mask)."""
    present = counts > i
    idx = np.where(present, offsets[:-1] + i, 0)
    return values.take(pa.array(idx, type=pa.int64())), present


def decode_pdf_core(pages: pd.DataFrame) -> tuple[PdfEvents, pd.Index]:
    """Decode `pdf_chars` payloads (FIXTURES.md encoding #1) into a PdfEvents stream.

    pages: columns (doc_id, page, pos, payload), one row per pdf_chars span.
    Returns (events, bad_doc_ids): docs with any malformed payload (bad header or
    record) fail whole — the analogue of pdfium refusing the file (main.py:157-164).
    All string parsing is pyarrow C++ compute.
    """
    pages = pages.reset_index(drop=True)
    npages = len(pages)
    page_tab = pages[["doc_id", "page", "pos"]].copy()
    page_tab["page_w"] = np.nan
    page_tab["page_h"] = np.nan
    if not npages:
        return _empty_events(page_tab), pd.Index([])

    payloads = pa.array(pages["payload"].to_numpy(dtype=object), type=pa.string())
    lines = pc.split_pattern(payloads, "\n")
    loffsets = lines.offsets.to_numpy(zero_copy_only=False)
    lcounts = np.diff(loffsets)
    lvalues = lines.values  # flat line strings
    prow_all = np.repeat(np.arange(npages, dtype=np.int32), lcounts)

    nflat = len(lvalues)
    first = np.zeros(nflat, dtype=bool)
    first[loffsets[:-1][lcounts > 0]] = True

    # headers (small: one per page)
    hdr = pd.Series(lvalues.take(pa.array(loffsets[:-1], type=pa.int64())).to_pandas())
    hx = hdr.str.extract(_HEADER_RE)
    bad_page = (hx[0].isna() | (lcounts == 0)).to_numpy()
    okp = ~bad_page
    page_tab.loc[okp, "page_w"] = pd.to_numeric(hx[0][okp]).to_numpy()
    page_tab.loc[okp, "page_h"] = pd.to_numeric(hx[1][okp]).to_numpy()

    body_mask = ~first
    blen = pc.utf8_length(lvalues).to_numpy(zero_copy_only=False)
    body_mask &= blen > 0
    body = lvalues.filter(pa.array(body_mask))
    bprow = prow_all[body_mask]

    if len(body) == 0:
        bad_doc_ids = pd.Index(sorted(set(page_tab.loc[bad_page, "doc_id"])))
        return _empty_events(page_tab), bad_doc_ids

    # ONE structural regex validates the whole record (hex + '-' | 4 numerics);
    # field extraction then casts without further checks
    row_ok = pc.match_substring_regex(body, _EVENT_FULL_RE).to_numpy(zero_copy_only=False)

    fields = pc.split_pattern(body, "\t")
    foff = fields.offsets.to_numpy(zero_copy_only=False)
    fcnt = np.diff(foff)
    fvals = fields.values
    f0, _ = _list_field(fvals, foff, fcnt, 0)
    f1, p1 = _list_field(fvals, foff, fcnt, 1)
    is_dash = pc.equal(f1, "-").to_numpy(zero_copy_only=False) & p1
    shape5 = fcnt == 5

    bad_pages_mask = bad_page.copy()
    if (~row_ok).any():
        bad_pages_mask[np.unique(bprow[~row_ok])] = True
    bad_doc_ids = pd.Index(sorted(set(page_tab.loc[bad_pages_mask, "doc_id"])))

    # drop events belonging to any page of a bad doc
    doc_bad = page_tab["doc_id"].isin(bad_doc_ids).to_numpy()
    keep = ~doc_bad[bprow]
    if not keep.all():
        keep_arr = pa.array(keep)
        body = body.filter(keep_arr)
        bprow = bprow[keep]
        fields = pc.split_pattern(body, "\t")
        foff = fields.offsets.to_numpy(zero_copy_only=False)
        fcnt = np.diff(foff)
        fvals = fields.values
        f0, _ = _list_field(fvals, foff, fcnt, 0)
        f1, _ = _list_field(fvals, foff, fcnt, 1)
        is_dash = pc.equal(f1, "-").to_numpy(zero_copy_only=False) & (fcnt > 1)
        shape5 = fcnt == 5
    if len(body) == 0:
        return _empty_events(page_tab), bad_doc_ids

    # hex → codepoints: lpad to 8, join the whole column into ONE hex string (C++),
    # bytes.fromhex (C), big-endian uint32 view
    padded = pc.utf8_lpad(f0, 8, "0")
    one = pa.ListArray.from_arrays(
        pa.array([0, len(padded)], type=pa.int32()), padded
    )
    blob = bytes.fromhex(pc.binary_join(one, "")[0].as_py())
    cps = np.frombuffer(blob, dtype=">u4").astype(np.uint32)

    # coords: cast only valid 5-field rows (others → NaN)
    n = len(body)
    x0 = np.full(n, np.nan)
    y0 = np.full(n, np.nan)
    x1 = np.full(n, np.nan)
    y1 = np.full(n, np.nan)
    if shape5.any():
        # reuse the existing field split (r6): filtering the ListArray is a
        # buffer-level take — re-splitting every body line cost a second full
        # pass over the batch's bytes in the common all-coords case
        sub = fields if shape5.all() else fields.filter(pa.array(shape5))
        soff = sub.offsets.to_numpy(zero_copy_only=False)
        scnt = np.diff(soff)
        svals = sub.values
        for k, dst in ((1, x0), (2, y0), (3, x1), (4, y1)):
            fk, _ = _list_field(svals, soff, scnt, k)
            dst[shape5] = pc.cast(fk, pa.float64()).to_numpy(zero_copy_only=False)

    return (
        PdfEvents(bprow, cps, ~is_dash, x0, y0, x1, y1, page_tab),
        bad_doc_ids,
    )


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
    """Char events → sentence spans: (doc_id, page, pos, seq, text, l, t, r, b);
    seq = within-page emit order. Implements main.py:413-488 exactly."""
    empty = EMPTY_SPANS.copy()
    empty["pos"] = pd.Series(dtype=np.int64)
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

    # --- envelope: trim leading/trailing {\r,\n,' '} then min/min/max/max --------
    fcodes = (np.cumsum(ffirst) - 1).astype(np.int64)
    not_trim = ~np.isin(vcp, _TRIM_CPS)
    pos_v = np.arange(len(vcp), dtype=np.int64)
    big_pos = np.where(not_trim, pos_v, np.iinfo(np.int64).max)
    small_pos = np.where(not_trim, pos_v, -1)
    first_nt = np.minimum.reduceat(big_pos, fstart_rows)
    last_nt = np.maximum.reduceat(small_pos, fstart_rows)
    env = (pos_v >= first_nt[fcodes]) & (pos_v <= last_nt[fcodes])

    w = ev.page_tab["page_w"].to_numpy()[vpg]
    h = ev.page_tab["page_h"].to_numpy()[vpg]
    X0 = ev.x0[kpos][row_valid]
    Y0 = ev.y0[kpos][row_valid]
    X1 = ev.x1[kpos][row_valid]
    Y1 = ev.y1[kpos][row_valid]
    # main.py:425-430 (y-flip; payload y0=bottom, y1=top)
    nl = (X0 / w) * 100.0
    nt = ((h - Y1) / h) * 100.0
    nr = (X1 / w) * 100.0
    nb = ((h - Y0) / h) * 100.0

    env_codes = fcodes[env]
    efirst = np.ones(len(env_codes), dtype=bool)
    efirst[1:] = env_codes[1:] != env_codes[:-1]
    estart = np.nonzero(efirst)[0]
    l = np.minimum.reduceat(nl[env], estart)
    t = np.minimum.reduceat(nt[env], estart)
    r = np.maximum.reduceat(nr[env], estart)
    b = np.maximum.reduceat(nb[env], estart)
    # every final group's text strips non-empty ⇒ it has ≥1 non-trim char ⇒ the
    # reduceat segments align 1:1 with final groups
    assert len(estart) == len(fstart_rows)

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
            "l": l,
            "t": t,
            "r": r,
            "b": b,
        }
    )


# ---------------------------------------------------------------------------------
# DataFrame-compat wrappers (tests + salted-path helpers)
# ---------------------------------------------------------------------------------


def decode_pdf_char_events(pages: pd.DataFrame) -> tuple[pd.DataFrame, pd.Index]:
    """Compat wrapper over decode_pdf_core returning the row-level events frame
    (doc_id, page, idx, char, has_bbox, x0..y1, page_w, page_h)."""
    if "pos" not in pages.columns:
        pages = pages.assign(pos=np.arange(len(pages), dtype=np.int64))
    ev, bad = decode_pdf_core(pages)
    tab = ev.page_tab
    idx = grouped_cumsum(np.ones(len(ev), np.int64), ev.prow) - 1
    chars = np.array(list(_cps_to_str(ev.cp)), dtype="<U1") if len(ev) else np.empty(0, "<U1")
    df = pd.DataFrame(
        {
            "doc_id": tab["doc_id"].to_numpy()[ev.prow],
            "page": tab["page"].to_numpy()[ev.prow],
            "idx": idx,
            "char": chars,
            "has_bbox": ev.has_bbox,
            "x0": ev.x0, "y0": ev.y0, "x1": ev.x1, "y1": ev.y1,
            "page_w": tab["page_w"].to_numpy()[ev.prow],
            "page_h": tab["page_h"].to_numpy()[ev.prow],
        }
    )
    return df, bad


def payload_stripped_lengths(payloads: pd.Series) -> pd.Series:
    """Per-payload ``len(full_text.strip())`` (the searchable-classifier input,
    main.py:62-64); -1 for malformed payloads. Used by the salted mega-doc path."""
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


def _events_from_frame(events: pd.DataFrame) -> PdfEvents:
    """Rebuild a PdfEvents from a row-level frame (test convenience)."""
    e = events.sort_values(["doc_id", "page", "idx"], kind="stable").reset_index(drop=True)
    key = pd.MultiIndex.from_frame(e[["doc_id", "page"]])
    codes, uniq = pd.factorize(key)
    tab = pd.DataFrame(
        {
            "doc_id": [u[0] for u in uniq],
            "page": [u[1] for u in uniq],
            "pos": np.arange(len(uniq), dtype=np.int64),
        }
    )
    pw = np.full(len(uniq), np.nan)
    ph = np.full(len(uniq), np.nan)
    first = np.ones(len(e), dtype=bool)
    first[1:] = codes[1:] != codes[:-1]
    pw[codes[first]] = e["page_w"].to_numpy()[first]
    ph[codes[first]] = e["page_h"].to_numpy()[first]
    tab["page_w"] = pw
    tab["page_h"] = ph
    cps = np.frombuffer(
        "".join(e["char"]).encode("utf-32-le"), dtype="<u4"
    ).astype(np.uint32)
    return PdfEvents(
        codes.astype(np.int32),
        cps,
        e["has_bbox"].to_numpy(bool),
        e["x0"].to_numpy(np.float64),
        e["y0"].to_numpy(np.float64),
        e["x1"].to_numpy(np.float64),
        e["y1"].to_numpy(np.float64),
        tab,
    )


def segment_sentences(events: pd.DataFrame) -> pd.DataFrame:
    """Compat wrapper: row-level events frame → span frame
    (doc_id, page, seq, text, l, t, r, b)."""
    if not len(events):
        return EMPTY_SPANS.copy()
    ev = _events_from_frame(events)
    spans = segment_sentences_core(ev)
    return spans[["doc_id", "page", "seq", "text", "l", "t", "r", "b"]]
