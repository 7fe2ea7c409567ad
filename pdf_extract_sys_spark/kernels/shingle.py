"""Arrow-batch shingle/fingerprint kernels (guide §4.2: hand whole batches to
vectorized native code instead of per-element JVM expression evaluation).

Each kernel consumes (doc_id, t) batches where ``t`` is the ALREADY-LOWERED
text — lowering stays in Catalyst so case semantics never leave the JVM — and
reproduces, bit for bit, the values the previous pure-Catalyst formulations
computed (the same MD5-derived hashes via kernels.md5np, the same integer
arithmetic). The fast path slices shingles directly out of the Arrow byte
buffer, which is valid only when one byte == one character (pure ASCII); rows
containing any non-ASCII byte take a per-row Python fallback with identical
semantics (str slicing/split by code points == Spark substr/split, and
hashlib MD5 over the UTF-8 bytes == Catalyst md5).

Shared conventions (mirroring the Catalyst originals):
  * char-5-gram starts: substr(i,5) for i in 1..greatest(len-4, 1) — docs
    shorter than 5 chars yield ONE shingle (the whole text, possibly empty).
  * word tokens: split on the literal single space, empties preserved — so
    the byte span between two token starts is exactly the joined n-gram.
  * hash value: first 32 bits of md5 as a non-negative int64, the engine-wide
    conv(substr(md5(x),1,8),16,10) convention.
"""

from __future__ import annotations

import numpy as np

from .md5np import (
    md5_first32_long,
    md5_first32_slide5,
    md5_first32_var,
    md5_first56_long,
    md5_first56_var,
)

_MH_P = (1 << 61) - 1
_MH_P64 = np.uint64(_MH_P)


def _mod_m61(x: np.ndarray) -> np.ndarray:
    """x % (2^61-1) for uint64 x < 2^62, via Mersenne fold (one shift + one
    conditional subtract — no integer division). Bit-identical to ``%``:
    x = q·2^61 + r with q ∈ {0,1}, so x mod p = (r + q) mod p and r + q ≤ p."""
    r = (x & _MH_P64) + (x >> np.uint64(61))
    return np.where(r >= _MH_P64, r - _MH_P64, r)


def _string_parts(arr):
    """(byte buffer, per-row offsets int64) of an Arrow string/large_string
    array — accounting for array offset/slicing."""
    import pyarrow as pa

    if arr.null_count:
        raise ValueError("shingle kernels expect non-null text")
    if pa.types.is_large_string(arr.type):
        odt = np.int64
    elif pa.types.is_string(arr.type):
        odt = np.int32
    else:
        raise ValueError(f"unexpected type {arr.type}")
    offs = np.frombuffer(arr.buffers()[1], dtype=odt)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    buf = np.frombuffer(arr.buffers()[2], dtype=np.uint8) if arr.buffers()[2] else \
        np.zeros(0, dtype=np.uint8)
    return buf, offs


def _ascii_rows(buf: np.ndarray, offs: np.ndarray) -> np.ndarray:
    """Bool per row: every byte < 0x80 (fast path eligible)."""
    if len(buf) == 0:
        return np.ones(len(offs) - 1, dtype=bool)
    hi = np.concatenate(([0], np.cumsum((buf >= 0x80).astype(np.int64))))
    return (hi[offs[1:]] - hi[offs[:-1]]) == 0


def _hash5_fallback(text: str) -> np.ndarray:
    n = max(len(text) - 4, 1)
    return np.fromiter(
        (md5_first32_long(text[i : i + 5].encode("utf-8")) for i in range(n)),
        dtype=np.int64,
        count=n,
    )


class _Shingle5:
    """Flat sliding-hash view of one (doc_id, t) batch (guide §4.2): ONE
    sliding-window MD5 pass over the batch's contiguous string buffer computes
    every char-5-gram hash — valid positions for ASCII row r are
    ``h[offs[r] : offs[r+1]-4]`` (views, no per-row copies); window positions
    that straddle row boundaries are simply never selected. Rows shorter than
    5 chars hash their whole text (one shingle, vectorized across rows);
    non-ASCII rows take the per-row code-point fallback with identical
    semantics. Downstream kernels consume the FLAT array with segment
    arithmetic (reduceat / masks) instead of per-row Python loops."""

    __slots__ = ("buf", "offs", "nrows", "ln", "ascii_ok", "h",
                 "long_rows", "short_rows", "fb_rows", "short_h", "fb_h")

    def __init__(self, batch_t):
        self.buf, self.offs = _string_parts(batch_t)
        if len(self.offs) and (self.offs[0] != 0 or self.offs[-1] != len(self.buf)):
            # sliced array (shared values buffer): rebase so the sliding pass
            # hashes exactly this batch's bytes, not the whole parent buffer
            self.buf = self.buf[self.offs[0] : self.offs[-1]]
            self.offs = self.offs - self.offs[0]
        self.nrows = len(self.offs) - 1
        self.ln = self.offs[1:] - self.offs[:-1]
        self.ascii_ok = _ascii_rows(self.buf, self.offs)
        long_mask = self.ascii_ok & (self.ln >= 5)
        self.long_rows = np.nonzero(long_mask)[0]
        self.short_rows = np.nonzero(self.ascii_ok & (self.ln < 5))[0]
        self.fb_rows = np.nonzero(~self.ascii_ok)[0]
        self.h = (
            md5_first32_slide5(self.buf)
            if self.long_rows.size and len(self.buf) >= 5
            else np.empty(0, dtype=np.int64)
        )
        self.short_h = md5_first32_var(
            self.buf, self.offs[self.short_rows], self.ln[self.short_rows]
        )
        self.fb_h = [
            _hash5_fallback(batch_t[r].as_py()) for r in self.fb_rows
        ]

    def valid_bounds(self):
        """(starts, ends) of the valid flat-hash span per long row."""
        return self.offs[self.long_rows], self.offs[self.long_rows + 1] - 4

    def reduceat_min(self, v: np.ndarray) -> np.ndarray:
        """Per-long-row min over v's valid spans (v aligned with self.h),
        via one interleaved reduceat — no per-row loop."""
        starts, ends = self.valid_bounds()
        segs = np.empty(2 * len(starts), dtype=np.int64)
        segs[0::2] = starts
        segs[1::2] = ends
        idx = segs[:-1] if len(segs) and segs[-1] >= len(v) else segs
        red = np.minimum.reduceat(v, idx)
        return red[0::2][: len(starts)]

    def valid_mask(self) -> np.ndarray:
        """Bool over the flat hash array: position belongs to a long row's
        valid span (built from boundary deltas, no per-row loop)."""
        dm = np.zeros(len(self.h) + 1, dtype=np.int32)
        starts, ends = self.valid_bounds()
        np.add.at(dm, starts, 1)
        np.add.at(dm, ends, -1)
        return np.cumsum(dm[:-1]) > 0

    def row_of(self, flat_pos: np.ndarray) -> np.ndarray:
        """Row index of each flat hash position (positions must be valid)."""
        return np.searchsorted(self.offs, flat_pos, side="right") - 1


def _rows_vals_to_list_array(rows, vals, nrows):
    """(row_id, value) pairs → Arrow list<int64> column of per-row
    SORTED-DISTINCT values, one lexsort + run-length dedupe (no np.unique per
    row, no Python list-of-arrays)."""
    import pyarrow as pa

    order = np.lexsort((vals, rows))
    rs, vs = rows[order], vals[order]
    if len(rs):
        keep = np.empty(len(rs), dtype=bool)
        keep[0] = True
        np.not_equal(rs[1:], rs[:-1], out=keep[1:])
        keep[1:] |= vs[1:] != vs[:-1]
        rs, vs = rs[keep], vs[keep]
    counts = np.bincount(rs, minlength=nrows) if len(rs) else np.zeros(nrows, np.int64)
    offsets = np.zeros(nrows + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int64()).cast(pa.int32()),
        pa.array(vs, type=pa.int64()),
    )


def minhash_batches(coeffs):
    """mapInArrow factory: (doc_id, t) -> (doc_id, h0..h7) minhash signatures.
    coeffs: list of (a, b) affine permutation coefficients. Per-permutation
    minima come from ONE interleaved reduceat over the flat sliding-hash
    array; the 2^61-1 modulus is a Mersenne fold (no division)."""
    import pyarrow as pa

    k = len(coeffs)

    def fn(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            sh = _Shingle5(batch.column(1))
            cols_np = [np.empty(sh.nrows, dtype=np.int64) for _ in range(k)]
            h64 = sh.h.astype(np.uint64) if sh.long_rows.size else None
            short64 = sh.short_h.astype(np.uint64)
            for kk, (a, b) in enumerate(coeffs):
                a64, b64 = np.uint64(a), np.uint64(b)
                if h64 is not None:
                    v = _mod_m61(a64 * h64 + b64)
                    cols_np[kk][sh.long_rows] = sh.reduceat_min(v).astype(np.int64)
                if sh.short_rows.size:
                    cols_np[kk][sh.short_rows] = _mod_m61(
                        a64 * short64 + b64
                    ).astype(np.int64)
                for j, r in enumerate(sh.fb_rows):
                    hs = sh.fb_h[j].astype(np.uint64)
                    cols_np[kk][r] = int(((a64 * hs + b64) % _MH_P64).min())
            yield pa.RecordBatch.from_arrays(
                [batch.column(0)] + [pa.array(c, type=pa.int64()) for c in cols_np],
                names=["doc_id"] + [f"h{i}" for i in range(k)],
            )

    return fn


def _sliding_min_flat(a: np.ndarray, w: int) -> np.ndarray:
    """min(a[p:p+w]) for every window start p — O(n) block prefix/suffix mins
    over the whole flat array (no per-row calls)."""
    m = len(a)
    kk = m - w + 1
    if kk <= 0:
        return np.empty(0, dtype=np.int64)
    nb = -(-m // w)
    pad = np.full(nb * w, np.iinfo(np.int64).max, dtype=np.int64)
    pad[:m] = a
    blocks = pad.reshape(nb, w)
    lmin = np.minimum.accumulate(blocks, axis=1).ravel()
    rmin = np.minimum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
    return np.minimum(rmin[:kk], lmin[w - 1 : w - 1 + kk])


def _window_mins(a: np.ndarray, w: int) -> np.ndarray:
    """Sorted-distinct sliding-window-of-w mins (per-row reference/fallback)."""
    m = len(a)
    if m <= w:
        return np.array([a.min()]) if m else np.array([], dtype=np.int64)
    return np.unique(_sliding_min_flat(a, w))


def winnow_batches(w: int):
    """mapInArrow factory: (doc_id, t) -> (doc_id, fp array<long>) winnowing
    fingerprints (min 5-gram hash per sliding window of w, sorted-distinct).
    Window mins run ONCE over the whole flat hash array (windows that straddle
    row boundaries are excluded by the per-row start range, never computed
    into a result); per-row sorted-distinct is one lexsort + run-length
    dedupe."""
    import pyarrow as pa

    def fn(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            sh = _Shingle5(batch.column(1))
            rows_parts: list = []
            vals_parts: list = []
            if sh.long_rows.size:
                starts, ends = sh.valid_bounds()
                m = ends - starts  # valid hash count per long row (>= 1)
                big = m > w
                if big.any():
                    gw = _sliding_min_flat(sh.h, w)
                    bs, bc = starts[big], (m[big] - w + 1)
                    seg = np.zeros(len(bc) + 1, dtype=np.int64)
                    np.cumsum(bc, out=seg[1:])
                    within = np.arange(seg[-1], dtype=np.int64) - np.repeat(
                        seg[:-1], bc
                    )
                    pos = np.repeat(bs, bc) + within
                    rows_parts.append(np.repeat(sh.long_rows[big], bc))
                    vals_parts.append(gw[pos])
                small = ~big
                if small.any():
                    # whole-row min for rows with <= w hashes
                    segs = np.empty(2 * int(small.sum()), dtype=np.int64)
                    segs[0::2] = starts[small]
                    segs[1::2] = ends[small]
                    idx = segs[:-1] if segs[-1] >= len(sh.h) else segs
                    red = np.minimum.reduceat(sh.h, idx)
                    rows_parts.append(sh.long_rows[small])
                    vals_parts.append(red[0::2][: int(small.sum())])
            if sh.short_rows.size:
                rows_parts.append(sh.short_rows)
                vals_parts.append(sh.short_h)
            for j, r in enumerate(sh.fb_rows):
                fp = _window_mins(sh.fb_h[j], w)
                rows_parts.append(np.full(len(fp), r, dtype=np.int64))
                vals_parts.append(fp)
            rows = np.concatenate(rows_parts) if rows_parts else np.empty(0, np.int64)
            vals = np.concatenate(vals_parts) if vals_parts else np.empty(0, np.int64)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), _rows_vals_to_list_array(rows, vals, sh.nrows)],
                names=["doc_id", "fp"],
            )

    return fn


def modp_batches(mod: int):
    """mapInArrow factory: (doc_id, t) -> (doc_id, fp array<long>) — the
    sorted-distinct 5-gram hashes that are 0 mod ``mod``. One mask over the
    flat sliding-hash array selects sampled positions; row attribution is a
    searchsorted over the (few) survivors."""
    import pyarrow as pa

    def fn(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            sh = _Shingle5(batch.column(1))
            rows_parts: list = []
            vals_parts: list = []
            if sh.long_rows.size:
                sel = np.nonzero(sh.valid_mask() & (sh.h % mod == 0))[0]
                rows_parts.append(sh.row_of(sel))
                vals_parts.append(sh.h[sel])
            if sh.short_rows.size:
                keep = sh.short_h % mod == 0
                rows_parts.append(sh.short_rows[keep])
                vals_parts.append(sh.short_h[keep])
            for j, r in enumerate(sh.fb_rows):
                fp = sh.fb_h[j][sh.fb_h[j] % mod == 0]
                rows_parts.append(np.full(len(fp), r, dtype=np.int64))
                vals_parts.append(fp)
            rows = np.concatenate(rows_parts) if rows_parts else np.empty(0, np.int64)
            vals = np.concatenate(vals_parts) if vals_parts else np.empty(0, np.int64)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), _rows_vals_to_list_array(rows, vals, sh.nrows)],
                names=["doc_id", "fp"],
            )

    return fn


def _flat_within(counts: np.ndarray):
    """(total, seg, within): segment cumsum boundaries and the 0-based offset
    of each flat element inside its segment — the standard vectorized-explode
    index arithmetic."""
    seg = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=seg[1:])
    total = int(seg[-1])
    within = np.arange(total, dtype=np.int64) - np.repeat(seg[:-1], counts)
    return total, seg, within


def _space_scan(buf: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """ONE pass over the batch buffer shared by every n-gram consumer:
    (space positions, cumulative space count) — the review-filed fix for the
    kernels re-deriving buf == 0x20 up to three times per batch."""
    mask = buf == 0x20
    sp_all = np.nonzero(mask)[0]
    csp = np.zeros(len(buf) + 1, dtype=np.int64)
    np.cumsum(mask, out=csp[1:])
    return sp_all, csp


def _ngram_spans_ascii(buf, offs, rows, gram: int, space_scan=None):
    """Word-n-gram byte spans for ASCII rows (joined with the original single
    spaces — a word-n-gram IS a contiguous byte span of the row): per row
    max(n_tok - gram + 1, 1) grams; rows-major flat arrays plus per-row
    counts. Fully vectorized: token bounds for the whole batch come from one
    space scan + segment arithmetic, no per-row Python. Callers that already
    ran :func:`_space_scan` pass its result via ``space_scan``."""
    nsel = len(rows)
    counts = np.empty(nsel, dtype=np.int64)
    if nsel == 0:
        return np.zeros(0, np.int64), np.zeros(0, np.int64), counts
    sp_all, csp = space_scan if space_scan is not None else _space_scan(buf)
    if nsel == len(offs) - 1:
        sp = sp_all  # every row selected — no filtering needed
    else:
        rowmask = np.zeros(len(offs) - 1, dtype=bool)
        rowmask[rows] = True
        sp = sp_all[rowmask[np.searchsorted(offs, sp_all, side="right") - 1]]
    # spaces per selected row via cumulative space counts at row bounds
    nsp = csp[offs[rows + 1]] - csp[offs[rows]]
    ntok = nsp + 1
    # flat token starts/ends (global byte positions), grouped by selected row
    ntoks_total, tseg, _ = _flat_within(ntok)
    tok_starts = np.empty(ntoks_total, dtype=np.int64)
    tok_ends = np.empty(ntoks_total, dtype=np.int64)
    tok_starts[tseg[:-1]] = offs[rows]
    tok_ends[tseg[1:] - 1] = offs[rows + 1]
    if len(sp):
        _, spseg, sp_within = _flat_within(nsp)
        tok_starts[np.repeat(tseg[:-1], nsp) + sp_within + 1] = sp + 1
        tok_ends[np.repeat(tseg[:-1], nsp) + sp_within] = sp
    # gram spans: start of token t, end of token min(t+gram-1, ntok-1)
    np.maximum(ntok - gram + 1, 1, out=counts)
    _, gseg, gwithin = _flat_within(counts)
    base = np.repeat(tseg[:-1], counts)
    st = tok_starts[base + gwithin]
    en = tok_ends[base + np.minimum(gwithin + gram - 1, np.repeat(ntok - 1, counts))]
    return st, en - st, counts


def _hash_spans(buf, starts, lens):
    """md5-first32 for byte spans of any length (vectorized <=119, exact
    fallback beyond)."""
    out = np.empty(len(starts), dtype=np.int64)
    short = lens <= 119
    si = np.nonzero(short)[0]
    out[si] = md5_first32_var(buf, starts[si], lens[si])
    for i in np.nonzero(~short)[0]:
        out[i] = md5_first32_long(buf[starts[i] : starts[i] + lens[i]].tobytes())
    return out


def _ngram_hashes_fallback(text: str, gram: int) -> np.ndarray:
    toks = text.split(" ")
    g = max(len(toks) - gram + 1, 1)
    return np.fromiter(
        (
            md5_first32_long(" ".join(toks[i : i + gram]).encode("utf-8"))
            for i in range(g)
        ),
        dtype=np.int64,
        count=g,
    )


def _ngram_parts(batch_t, gram: int):
    """Flat word-n-gram hashes of one batch: (h_flat, row_ids, ntok_all,
    nrows) — ASCII rows vectorized through one space scan + span hashing,
    non-ASCII rows appended via the exact per-row fallback. ``row_ids`` is
    flat-aligned with ``h_flat``; ``ntok_all`` is the per-row token count
    (all rows, single-space split semantics)."""
    buf, offs = _string_parts(batch_t)
    if len(offs) and (offs[0] != 0 or offs[-1] != len(buf)):
        buf = buf[offs[0] : offs[-1]]
        offs = offs - offs[0]
    nrows = len(offs) - 1
    ascii_ok = _ascii_rows(buf, offs)
    scan = _space_scan(buf)
    # 0x20 never appears inside a UTF-8 multibyte sequence
    ntok_all = (scan[1][offs[1:]] - scan[1][offs[:-1]]) + 1
    rows = np.nonzero(ascii_ok)[0]
    h_parts: list = []
    row_parts: list = []
    if rows.size:
        starts, lens, counts = _ngram_spans_ascii(buf, offs, rows, gram, scan)
        h_parts.append(_hash_spans(buf, starts, lens))
        row_parts.append(np.repeat(rows, counts))
    for r in np.nonzero(~ascii_ok)[0]:
        fh = _ngram_hashes_fallback(batch_t[r].as_py(), gram)
        h_parts.append(fh)
        row_parts.append(np.full(len(fh), r, dtype=np.int64))
    h_flat = np.concatenate(h_parts) if h_parts else np.empty(0, np.int64)
    row_ids = np.concatenate(row_parts) if row_parts else np.empty(0, np.int64)
    return h_flat, row_ids, ntok_all, nrows


def dsir_count_batches(buckets: int, lo: int, hi: int):
    """mapInArrow factory: (doc_id, t) -> (doc_id, is_target, h, cnt) —
    per-(doc, bigram-hash-bucket) counts. is_target = token count in
    [lo, hi]. Docs with fewer than 2 tokens emit nothing (the Catalyst
    formulation's NULL-bigram filter + explode)."""
    import pyarrow as pa

    def fn(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            h_flat, row_ids, ntok, nrows = _ngram_parts(batch.column(1), 2)
            doc_ids = batch.column(0).to_numpy(zero_copy_only=False)
            # single-token rows produced one "gram" = the whole text; drop
            # them (the Catalyst formulation's NULL-bigram filter + explode)
            keep = ntok[row_ids] >= 2
            rows_k = row_ids[keep]
            # per-(row, bucket) counts in one combined-key sort + RLE
            key = rows_k * np.int64(buckets) + (h_flat[keep] % buckets)
            key.sort()
            if not len(key):
                continue
            edge = np.empty(len(key), dtype=bool)
            edge[0] = True
            np.not_equal(key[1:], key[:-1], out=edge[1:])
            uk = key[edge]
            cnt = np.diff(np.append(np.nonzero(edge)[0], len(key)))
            ur = uk // buckets
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids[ur], type=pa.int64()),
                    pa.array(
                        (ntok[ur] >= lo) & (ntok[ur] <= hi), type=pa.bool_()
                    ),
                    pa.array(uk % buckets, type=pa.int64()),
                    pa.array(cnt.astype(np.int64), type=pa.int64()),
                ],
                names=["doc_id", "is_target", "h", "cnt"],
            )

    return fn


def _ascii_spaces(buf: np.ndarray, offs: np.ndarray) -> np.ndarray:
    """Space count per row (token count - 1 under single-space split) — valid
    for ASCII and non-ASCII rows alike (0x20 never appears inside a UTF-8
    multibyte sequence)."""
    if len(buf) == 0:
        return np.zeros(len(offs) - 1, dtype=np.int64)
    c = np.concatenate(([0], np.cumsum((buf == 0x20).astype(np.int64))))
    return c[offs[1:]] - c[offs[:-1]]


def ngram_string_batches(gram: int):
    """mapInArrow factory: (doc_id, t) -> (doc_id, gram) — one row per
    word-``gram``-gram POSITION (duplicates kept, matching explode), emitted
    only for rows with >= ``gram`` tokens. A word-n-gram joined on single
    spaces IS a contiguous byte span of the row, so the output string column
    is one gather over the batch buffer + an offsets array (guide §4.2's
    buffer-re-slicing pattern) — no per-gram JVM slice/array_join chain."""
    import pyarrow as pa

    def fn(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            buf, offs = _string_parts(batch.column(1))
            if len(offs) and (offs[0] != 0 or offs[-1] != len(buf)):
                buf = buf[offs[0] : offs[-1]]
                offs = offs - offs[0]
            nrows = len(offs) - 1
            ascii_ok = _ascii_rows(buf, offs)
            doc_ids = batch.column(0).to_numpy(zero_copy_only=False)
            out_doc_parts: list = []
            gram_val_parts: list = []
            gram_len_parts: list = []
            py_rows: list = []
            rows = np.nonzero(ascii_ok)[0]
            if rows.size:
                scan = _space_scan(buf)
                starts, lens, counts = _ngram_spans_ascii(buf, offs, rows, gram, scan)
                # rows with < gram tokens produced ONE whole-text pseudo-gram;
                # drop them (the Catalyst formulation filters n >= gram)
                csp = scan[1]
                ntok = csp[offs[rows + 1]] - csp[offs[rows]] + 1
                ok = ntok >= gram
                keep = np.repeat(ok, counts)
                starts, lens = starts[keep], lens[keep]
                counts = counts * ok
                # gather the gram bytes row-major into one value buffer
                total, _gseg, within = _flat_within(lens)
                idx = np.repeat(starts, lens) + within
                vals = buf[idx] if total else np.empty(0, np.uint8)
                goffs = np.zeros(len(lens) + 1, dtype=np.int64)
                np.cumsum(lens, out=goffs[1:])
                if goffs[-1] >= (1 << 31):  # int32 offset overflow guard: a
                    # degenerate batch (one colossal row) must error loudly,
                    # never wrap into a corrupt StringArray
                    raise ValueError("gram batch exceeds 2 GiB of string data")
                gram_arr = pa.Array.from_buffers(
                    pa.string(), len(lens),
                    [None,
                     pa.py_buffer(goffs.astype(np.int32).tobytes()),
                     pa.py_buffer(vals.tobytes())],
                )
                out_doc_parts.append(np.repeat(doc_ids[rows], counts))
                gram_val_parts.append(gram_arr)
            for r in np.nonzero(~ascii_ok)[0]:
                toks = batch.column(1)[r].as_py().split(" ")
                if len(toks) < gram:
                    continue
                gs = [" ".join(toks[i : i + gram])
                      for i in range(len(toks) - gram + 1)]
                out_doc_parts.append(np.full(len(gs), doc_ids[r], dtype=np.int64))
                py_rows.extend(gs)
            if py_rows:
                gram_val_parts.append(pa.array(py_rows, type=pa.string()))
            if not out_doc_parts:
                continue
            grams = (
                pa.concat_arrays(gram_val_parts)
                if len(gram_val_parts) > 1
                else gram_val_parts[0]
            )
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(out_doc_parts), type=pa.int64()), grams],
                names=["doc_id", "gram"],
            )

    return fn


def _bpe_counts_cps(cls_alpha, cls_digit, cls_space, offs):
    """Token count per row for the [a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ] tokenizer
    given per-position class masks and row offsets: alpha-run starts +
    digit-run starts + other positions (greedy alternation ⇒ maximal runs)."""
    if len(cls_alpha) == 0:  # batch of empty rows
        return np.zeros(len(offs) - 1, dtype=np.int64)
    other = ~(cls_alpha | cls_digit | cls_space)
    prev_a = np.empty_like(cls_alpha)
    prev_a[0] = False
    prev_a[1:] = cls_alpha[:-1]
    prev_d = np.empty_like(cls_digit)
    prev_d[0] = False
    prev_d[1:] = cls_digit[:-1]
    # a run never continues across a row boundary
    row_starts = offs[:-1][(offs[:-1] < len(cls_alpha))]
    prev_a[row_starts] = False
    prev_d[row_starts] = False
    contrib = ((cls_alpha & ~prev_a) | (cls_digit & ~prev_d) | other).astype(
        np.int64
    )
    c = np.zeros(len(contrib) + 1, dtype=np.int64)
    np.cumsum(contrib, out=c[1:])
    return c[offs[1:]] - c[offs[:-1]]


def bpe_token_count_batches():
    """mapInArrow factory: (doc_id, t) -> (doc_id, n_bpe_tokens, n_ws_tokens)
    — the regex-tokenizer counts ([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ] matches and
    whitespace-split tokens) computed by byte-class transition arithmetic
    instead of per-doc JVM regexp_extract_all. Identical counts: the greedy
    alternation matches exactly the maximal alpha runs, maximal digit runs,
    and single other-class codepoints. Non-ASCII rows classify decoded
    codepoints (every codepoint > 0x7F is other-class — the regex classes
    are ASCII-only)."""
    import pyarrow as pa

    def fn(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            buf, offs = _string_parts(batch.column(1))
            if len(offs) and (offs[0] != 0 or offs[-1] != len(buf)):
                buf = buf[offs[0] : offs[-1]]
                offs = offs - offs[0]
            nrows = len(offs) - 1
            ascii_ok = _ascii_rows(buf, offs)
            n_bpe = np.zeros(nrows, dtype=np.int32)
            lo = buf | np.uint8(0x20)
            alpha = (lo >= 0x61) & (lo <= 0x7A)
            digit = (buf >= 0x30) & (buf <= 0x39)
            space = buf == 0x20
            all_counts = _bpe_counts_cps(alpha, digit, space, offs)
            n_bpe[:] = all_counts.astype(np.int32)
            for r in np.nonzero(~ascii_ok)[0]:
                cps = np.frombuffer(
                    batch.column(1)[r].as_py().encode("utf-32-le"), dtype="<u4"
                )
                a = ((cps | 0x20) >= 0x61) & ((cps | 0x20) <= 0x7A) & (cps < 0x80)
                d = (cps >= 0x30) & (cps <= 0x39)
                s = cps == 0x20
                n_bpe[r] = _bpe_counts_cps(
                    a, d, s, np.array([0, len(cps)], dtype=np.int64)
                )[0]
            n_ws = (_ascii_spaces(buf, offs) + 1).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.array(n_bpe, type=pa.int32()),
                    pa.array(n_ws, type=pa.int32()),
                ],
                names=["doc_id", "n_bpe_tokens", "n_ws_tokens"],
            )

    return fn


def ngram_distinct_array_batches(gram: int):
    """mapInArrow factory: (doc_id, t) -> (doc_id, tg array<string>) — the
    per-row DISTINCT word-``gram``-gram strings, one array per row.

    Semantics mirror the Catalyst n-gram builder used by
    q_ngram_jaccard_pairs: a row with >= ``gram`` tokens yields its
    n_tok - gram + 1 gram positions deduplicated; a row with fewer tokens
    yields an EMPTY array (the Catalyst formulation's NULL-filter drops its
    padded grams). Array ORDER is (length, bytes)-ascending rather than
    first-occurrence — the consumer uses only set CARDINALITIES
    (array_intersect/array_union sizes), which are order-insensitive; the
    dedup key (length, padded bytes) equals string equality exactly."""
    import pyarrow as pa

    def fn(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            buf, offs = _string_parts(batch.column(1))
            if len(offs) and (offs[0] != 0 or offs[-1] != len(buf)):
                buf = buf[offs[0] : offs[-1]]
                offs = offs - offs[0]
            nrows = len(offs) - 1
            ascii_ok = _ascii_rows(buf, offs)
            rows = np.nonzero(ascii_ok)[0]
            # per-row distinct spans, accumulated as (row, start, len)
            out_counts = np.zeros(nrows, dtype=np.int64)
            sel_starts_parts: list = []
            sel_lens_parts: list = []
            sel_rows_parts: list = []
            py_vals: dict[int, list] = {}
            if rows.size:
                scan = _space_scan(buf)
                starts, lens, counts = _ngram_spans_ascii(buf, offs, rows, gram, scan)
                csp = scan[1]
                ntok = csp[offs[rows + 1]] - csp[offs[rows]] + 1
                keep = np.repeat(ntok >= gram, counts)
                starts, lens = starts[keep], lens[keep]
                row_ids = np.repeat(rows, counts)[keep]
                if len(starts):
                    w = int(lens.max())
                    if w <= 512:
                        # pad spans to fixed width, dedupe via one lexsort on
                        # (row, len, bytes) + run-length edge detection
                        total, _seg, within = _flat_within(lens)
                        m = np.zeros((len(starts), w), dtype=np.uint8)
                        flat_idx = np.repeat(
                            np.arange(len(starts), dtype=np.int64) * w, lens
                        ) + within
                        m.ravel()[flat_idx] = buf[np.repeat(starts, lens) + within]
                        key = m.view(f"S{w}").ravel()
                        order = np.lexsort((key, lens, row_ids))
                        rs = row_ids[order]
                        ls = lens[order]
                        ks = key[order]
                        uniq = np.empty(len(rs), dtype=bool)
                        if len(rs):
                            uniq[0] = True
                            uniq[1:] = (
                                (rs[1:] != rs[:-1])
                                | (ls[1:] != ls[:-1])
                                | (ks[1:] != ks[:-1])
                            )
                        sel = order[uniq]
                        sel_rows_parts.append(row_ids[sel])
                        sel_starts_parts.append(starts[sel])
                        sel_lens_parts.append(lens[sel])
                    else:  # absurdly long grams: per-row python dedupe
                        for r in np.unique(row_ids):
                            sp = starts[row_ids == r]
                            ln = lens[row_ids == r]
                            seen = sorted(
                                {buf[s : s + l].tobytes() for s, l in zip(sp, ln)}
                            )
                            py_vals[int(r)] = [b.decode("utf-8") for b in seen]
            for r in np.nonzero(~ascii_ok)[0]:
                toks = batch.column(1)[r].as_py().split(" ")
                if len(toks) < gram:
                    continue
                py_vals[int(r)] = sorted(
                    {" ".join(toks[i : i + gram])
                     for i in range(len(toks) - gram + 1)}
                )
            # assemble row-major: vectorized spans first, then merge py rows
            if sel_rows_parts:
                vr = sel_rows_parts[0]
                vs, vl = sel_starts_parts[0], sel_lens_parts[0]
                ordr = np.argsort(vr, kind="stable")  # lexsort left rows sorted
                vr, vs, vl = vr[ordr], vs[ordr], vl[ordr]
            else:
                vr = np.empty(0, np.int64)
                vs = vl = np.empty(0, np.int64)
            np.add.at(out_counts, vr, 1) if len(vr) else None
            for r, vals in py_vals.items():
                out_counts[r] = len(vals)
            # values buffer for the vectorized spans
            total, _seg, within = _flat_within(vl)
            vals_bytes = buf[np.repeat(vs, vl) + within] if total else np.empty(0, np.uint8)
            voffs = np.zeros(len(vl) + 1, dtype=np.int64)
            np.cumsum(vl, out=voffs[1:])
            if voffs[-1] >= (1 << 31):  # int32 offset overflow guard
                raise ValueError("gram batch exceeds 2 GiB of string data")
            vec_arr = pa.Array.from_buffers(
                pa.string(), len(vl),
                [None, pa.py_buffer(voffs.astype(np.int32).tobytes()),
                 pa.py_buffer(vals_bytes.tobytes())],
            )
            if py_vals:
                # merge: build per-row python lists only where needed
                vec_lists = []
                b0 = np.zeros(nrows + 1, dtype=np.int64)
                np.cumsum(np.bincount(vr, minlength=nrows), out=b0[1:])
                for r in range(nrows):
                    if r in py_vals:
                        vec_lists.append(py_vals[r])
                    else:
                        vec_lists.append(
                            vec_arr.slice(b0[r], b0[r + 1] - b0[r]).to_pylist()
                        )
                tg = pa.array(vec_lists, type=pa.list_(pa.string()))
            else:
                loffs = np.zeros(nrows + 1, dtype=np.int64)
                np.cumsum(out_counts, out=loffs[1:])
                tg = pa.ListArray.from_arrays(
                    pa.array(loffs, type=pa.int64()).cast(pa.int32()), vec_arr
                )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), tg], names=["doc_id", "tg"]
            )

    return fn


def _hash_spans56(buf, starts, lens):
    """md5-first56 (_h56) for byte spans of any length (vectorized <=119,
    exact fallback beyond)."""
    out = np.empty(len(starts), dtype=np.int64)
    short = lens <= 119
    si = np.nonzero(short)[0]
    out[si] = md5_first56_var(buf, starts[si], lens[si])
    for i in np.nonzero(~short)[0]:
        out[i] = md5_first56_long(buf[starts[i] : starts[i] + lens[i]].tobytes())
    return out


def simhash_batches(nbits: int):
    """mapInArrow factory: (doc_id, t) -> (doc_id, simhash) — the per-doc
    SimHash over whitespace tokens (empties included, matching split-on-' '),
    token hash = the engine-wide 56-bit md5 (_h56), bit j's vote = +1 when
    set else -1, simhash bit j = (sum > 0). One vectorized 56-bit MD5 pass +
    nbits bincounts replaces explode → per-token JVM md5 → 16-way conditional
    aggregation (values bit-identical: same md5, same integer votes)."""
    import pyarrow as pa

    def fn(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            buf, offs = _string_parts(batch.column(1))
            if len(offs) and (offs[0] != 0 or offs[-1] != len(buf)):
                buf = buf[offs[0] : offs[-1]]
                offs = offs - offs[0]
            nrows = len(offs) - 1
            ascii_ok = _ascii_rows(buf, offs)
            rows = np.nonzero(ascii_ok)[0]
            sums = np.zeros((nrows, nbits), dtype=np.int64)
            if rows.size:
                starts, lens, counts = _ngram_spans_ascii(buf, offs, rows, 1)
                h = _hash_spans56(buf, starts, lens)
                row_ids = np.repeat(rows, counts)
                for j in range(nbits):
                    pm = (((h >> np.int64(j)) & 1) * 2 - 1).astype(np.float64)
                    sums[:, j] = np.bincount(
                        row_ids, weights=pm, minlength=nrows
                    ).astype(np.int64)
            for r in np.nonzero(~ascii_ok)[0]:
                toks = batch.column(1)[r].as_py().split(" ")
                hs = np.fromiter(
                    (md5_first56_long(t.encode("utf-8")) for t in toks),
                    dtype=np.int64, count=len(toks),
                )
                for j in range(nbits):
                    sums[r, j] = int((((hs >> np.int64(j)) & 1) * 2 - 1).sum())
            sim = np.zeros(nrows, dtype=np.int64)
            for j in range(nbits):
                sim |= (sums[:, j] > 0).astype(np.int64) << np.int64(j)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(sim, type=pa.int64())],
                names=["doc_id", "simhash"],
            )

    return fn


def substring_fp_batches(gram: int, mod: int):
    """mapInArrow factory: (doc_id, t) -> (doc_id, h) — the DISTINCT sampled
    (h % mod == 0) word-``gram``-gram fingerprints, one row per (doc, h)."""
    import pyarrow as pa

    def fn(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            h_flat, row_ids, _ntok, nrows = _ngram_parts(batch.column(1), gram)
            doc_ids = batch.column(0).to_numpy(zero_copy_only=False)
            keep = h_flat % mod == 0
            rows_k, vals = row_ids[keep], h_flat[keep]
            if not len(rows_k):
                continue
            # per-(row, h) distinct via one lexsort + run-length dedupe
            order = np.lexsort((vals, rows_k))
            rs, vs = rows_k[order], vals[order]
            uniq = np.empty(len(rs), dtype=bool)
            uniq[0] = True
            np.not_equal(rs[1:], rs[:-1], out=uniq[1:])
            uniq[1:] |= vs[1:] != vs[:-1]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids[rs[uniq]], type=pa.int64()),
                    pa.array(vs[uniq], type=pa.int64()),
                ],
                names=["doc_id", "h"],
            )

    return fn
