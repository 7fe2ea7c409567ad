"""Vectorized MD5 (RFC 1321) over numpy arrays — batch hashing for the
shingle/fingerprint kernels.

Why this exists (optimization guide §4.2): the dedup/fingerprint family hashes
every char-5-gram / word-n-gram of the corpus. One Catalyst ``md5(substr(...))``
call per shingle allocates a shingle string, a 32-char hex string, a substring
and a base-16 parse — ~3 µs/shingle of JVM object churn. Hashing a whole Arrow
batch of shingles through one vectorized 64-round MD5 loop runs the same math
at ~0.2-0.4 µs/shingle, and the value is BIT-IDENTICAL: this is the same MD5,
not an approximation, so oracle hashes cannot drift.

Scope: messages up to 119 bytes (1 or 2 blocks — every 5-gram and almost every
word-n-gram). Longer messages must go through the caller's hashlib fallback
(`md5_first32_long`). Only the first 32 bits of the digest are returned,
matching the engine-wide ``conv(substr(md5(x),1,8),16,10)`` convention.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

_K = np.array(
    [int(abs(math.sin(i + 1.0)) * 4294967296.0) & 0xFFFFFFFF for i in range(64)],
    dtype=np.uint32,
)
_S = (
    [7, 12, 17, 22] * 4 + [5, 9, 14, 20] * 4 + [4, 11, 16, 23] * 4 + [6, 10, 15, 21] * 4
)
# per-round message word index
_G = (
    list(range(16))
    + [(5 * i + 1) % 16 for i in range(16, 32)]
    + [(3 * i + 5) % 16 for i in range(32, 48)]
    + [(7 * i) % 16 for i in range(48, 64)]
)

_INIT = (
    np.uint32(0x67452301),
    np.uint32(0xEFCDAB89),
    np.uint32(0x98BADCFE),
    np.uint32(0x10325476),
)


def _compress(state, words):
    """One MD5 compression round over vectorized words.

    state: 4-tuple of uint32 scalars/arrays; words: list of 16 uint32 arrays
    (each length n). Returns the new 4-tuple (elementwise chaining)."""
    A, B, C, D = state
    a, b, c, d = A, B, C, D
    for i in range(64):  # uint32 wrap-around is the intended MD5 arithmetic
        if i < 16:
            f = (b & c) | (~b & d)
        elif i < 32:
            f = (d & b) | (~d & c)
        elif i < 48:
            f = b ^ c ^ d
        else:
            f = c ^ (b | ~d)
        tmp = a + f + _K[i] + words[_G[i]]
        a, d, c = d, c, b
        s = _S[i]
        b = b + ((tmp << np.uint32(s)) | (tmp >> np.uint32(32 - s)))
    return (A + a, B + b, C + c, D + d)


def _md5_state_ab_var(buf: np.ndarray, starts: np.ndarray, lens: np.ndarray):
    """(A, B) final state words (uint32 arrays) of MD5 for n messages given
    as byte slices of one uint8 buffer. Lengths 0..119 (1-2 blocks)."""
    n = len(starts)
    out_a = np.empty(n, dtype=np.uint32)
    out_b = np.empty(n, dtype=np.uint32)
    if n == 0:
        return out_a, out_b
    if int(lens.max(initial=0)) > 119:
        raise ValueError("vectorized MD5 handles <=119-byte messages")
    starts = starts.astype(np.int64, copy=False)
    lens = lens.astype(np.int64, copy=False)
    one = lens <= 55
    for mask, nblocks in ((one, 1), (~one, 2)):
        idxs = np.nonzero(mask)[0]
        if idxs.size == 0:
            continue
        st, ln = starts[idxs], lens[idxs]
        total = 64 * nblocks
        pos = np.arange(total, dtype=np.int64)
        gather = np.minimum(st[:, None] + pos[None, :], len(buf) - 1 if len(buf) else 0)
        valid = pos[None, :] < ln[:, None]
        if len(buf):
            m = np.where(valid, buf[gather], 0).astype(np.uint8)
        else:
            m = np.zeros((idxs.size, total), dtype=np.uint8)
        m[np.arange(idxs.size), ln] = 0x80
        words = np.ascontiguousarray(m).view("<u4")
        words[:, nblocks * 16 - 2] = (ln * 8).astype(np.uint32)
        state = _INIT
        with np.errstate(over="ignore"):  # modular uint32 arithmetic by design
            for blk in range(nblocks):
                w = [words[:, blk * 16 + j] for j in range(16)]
                state = _compress(state, w)
        out_a[idxs] = state[0]
        out_b[idxs] = state[1]
    return out_a, out_b


def md5_first32_var(buf: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """First 32 digest bits (as the non-negative int64 the engine's
    conv(substr(md5,1,8),16,10) yields) for n messages given as byte slices
    ``buf[starts[i] : starts[i]+lens[i]]`` of one uint8 buffer.

    Handles lengths 0..119 (1-2 MD5 blocks). Raises for longer messages —
    route those through :func:`md5_first32_long`."""
    a, _b = _md5_state_ab_var(buf, starts, lens)
    return a.byteswap().astype(np.int64)


def md5_first56_var(buf: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """First 56 digest bits as non-negative int64 — the engine-wide
    conv(substr(md5(x),1,14),16,10) value (_h56). Digest bytes 0-6 are the
    little-endian bytes of state A plus the low 3 bytes of state B, read
    big-endian: (bswap32(A) << 24) | (bswap32(B) >> 8)."""
    a, b = _md5_state_ab_var(buf, starts, lens)
    return (
        (a.byteswap().astype(np.int64) << np.int64(24))
        | (b.byteswap().astype(np.int64) >> np.int64(8))
    )


def md5_first56_long(data: bytes) -> int:
    """Scalar fallback for messages the vectorized path rejects."""
    return int(hashlib.md5(data).hexdigest()[:14], 16)


def md5_first32_long(data: bytes) -> int:
    """Scalar fallback for messages the vectorized path rejects."""
    return int(hashlib.md5(data).hexdigest()[:8], 16)


# ---------------------------------------------------------------------------------
# sliding fixed-length-5 fast path (char-5-gram shingles)
# ---------------------------------------------------------------------------------
#
# For 5-byte messages only two message words are ever nonzero — word 0 (bytes
# 0-3), word 1 (byte 4 | 0x80 padding) — plus the constant length word 14
# (5*8 = 40). The generic path above builds an (n, 64) padded byte matrix
# (~0.5 KB of memory traffic per 5-byte message before hashing starts); this
# path builds just TWO uint32 arrays from sliding views of the batch buffer
# and folds every zero/constant word into the per-round additive constant.
# Work runs in L2-sized chunks with explicit `out=` buffers so the 64-round
# loop touches ~10 cache-resident arrays instead of allocating ~256 chunk-
# sized temporaries — on a memory-bandwidth-saturated many-core host this is
# the difference between scaling and bus contention (guide §2.2 logic applied
# to RAM). Values are bit-identical to the generic path (same MD5).

_SLIDE_CHUNK = 16384
# per-round additive constant: K[i] plus the fixed length word (40) when the
# round's message index is 14; words 2-13 and 15 are zero for 5-byte messages
_KW5 = [
    (int(_K[i]) + (40 if _G[i] == 14 else 0)) & 0xFFFFFFFF for i in range(64)
]
# which live word (0 or 1) the round consumes, None when it consumes a zero
_USE5 = [_G[i] if _G[i] in (0, 1) else None for i in range(64)]


def _compress5(w0: np.ndarray, w1: np.ndarray, out: np.ndarray) -> None:
    """64 MD5 rounds for single-block 5-byte messages given words 0/1; writes
    the big-endian first digest word into ``out`` (uint32). All arithmetic is
    in-place over six chunk-sized uint32 buffers (2 scratch + 4 state)."""
    n = len(w0)
    a = np.full(n, _INIT[0], dtype=np.uint32)
    b = np.full(n, _INIT[1], dtype=np.uint32)
    c = np.full(n, _INIT[2], dtype=np.uint32)
    d = np.full(n, _INIT[3], dtype=np.uint32)
    s1 = np.empty(n, dtype=np.uint32)
    s2 = np.empty(n, dtype=np.uint32)
    for i in range(64):
        # f into s1 (minimal-op forms of the four round functions)
        if i < 16:  # (b&c)|(~b&d) == d ^ (b & (c^d))
            np.bitwise_xor(c, d, out=s1)
            np.bitwise_and(s1, b, out=s1)
            np.bitwise_xor(s1, d, out=s1)
        elif i < 32:  # (d&b)|(~d&c) == c ^ (d & (b^c))
            np.bitwise_xor(b, c, out=s1)
            np.bitwise_and(s1, d, out=s1)
            np.bitwise_xor(s1, c, out=s1)
        elif i < 48:  # b^c^d
            np.bitwise_xor(b, c, out=s1)
            np.bitwise_xor(s1, d, out=s1)
        else:  # c ^ (b|~d)
            np.bitwise_not(d, out=s1)
            np.bitwise_or(s1, b, out=s1)
            np.bitwise_xor(s1, c, out=s1)
        # tmp = f + a + K' (+ live word)
        np.add(s1, a, out=s1)
        np.add(s1, np.uint32(_KW5[i]), out=s1)
        u = _USE5[i]
        if u == 0:
            np.add(s1, w0, out=s1)
        elif u == 1:
            np.add(s1, w1, out=s1)
        # rotate left by S[i]
        s = _S[i]
        np.left_shift(s1, np.uint32(s), out=s2)
        np.right_shift(s1, np.uint32(32 - s), out=s1)
        np.bitwise_or(s1, s2, out=s1)
        # new b = b + rot(tmp), written into a's (now free) buffer
        np.add(b, s1, out=a)
        a, b, c, d = d, a, b, c
    np.add(a, np.uint32(_INIT[0]), out=out)


def md5_first32_slide5(buf: np.ndarray) -> np.ndarray:
    """h[i] = first-32-bits-of-MD5 of ``buf[i:i+5]`` for every sliding window
    position i in 0..len(buf)-5, as non-negative int64 (the engine-wide
    conv(substr(md5(x),1,8),16,10) convention). Requires len(buf) >= 5."""
    n = len(buf) - 4
    out = np.empty(n, dtype=np.uint32)
    with np.errstate(over="ignore"):  # modular uint32 arithmetic by design
        for c0 in range(0, n, _SLIDE_CHUNK):
            c1 = min(c0 + _SLIDE_CHUNK, n)
            m = c1 - c0
            b = buf[c0 : c1 + 4]
            w0 = b[0:m].astype(np.uint32)
            np.bitwise_or(w0, b[1 : m + 1].astype(np.uint32) << np.uint32(8), out=w0)
            np.bitwise_or(w0, b[2 : m + 2].astype(np.uint32) << np.uint32(16), out=w0)
            np.bitwise_or(w0, b[3 : m + 3].astype(np.uint32) << np.uint32(24), out=w0)
            w1 = b[4 : m + 4].astype(np.uint32)
            np.bitwise_or(w1, np.uint32(0x8000), out=w1)
            _compress5(w0, w1, out[c0:c1])
    return out.byteswap().astype(np.int64)
