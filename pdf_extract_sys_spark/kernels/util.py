"""Vectorized helpers shared by the extraction kernels.

Everything here is numpy/pandas/Arrow array math — no per-row Python. These
helpers exist so the kernels can express the reference's per-char / per-word loop
semantics (``backend/app/main.py:415, 671``) as shifted-mask arithmetic over sorted
arrays.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

# page header of FIXTURES.md encodings #1/#2, matched with Python ``re``
# semantics (``\d`` takes any Unicode decimal digit, as the reference's float()
# parse does); the dimensions are validated, never parsed
_HEADER_RE = r"^PAGE\t\d+(?:\.\d+)?\t\d+(?:\.\d+)?$"


def group_codes(df: pd.DataFrame, cols: list[str]) -> np.ndarray:
    """Dense int codes identifying each group; rows MUST be pre-sorted by `cols`
    so equal codes are contiguous (all kernels sort once up front)."""
    if not len(df):
        return np.empty(0, dtype=np.int64)
    codes, _ = pd.factorize(pd.MultiIndex.from_frame(df[cols]) if len(cols) > 1 else df[cols[0]])
    return codes.astype(np.int64)


def grouped_cumsum(values: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """Cumulative sum restarting at each contiguous group boundary (pure numpy):
    one global cumsum + one repeat of per-group bases. Codes MUST be contiguous."""
    m = len(values)
    if m == 0:
        return np.zeros(0, dtype=np.int64)
    v = values.astype(np.int64, copy=False)
    cs = np.cumsum(v)
    first = np.ones(m, dtype=bool)
    first[1:] = codes[1:] != codes[:-1]
    starts = np.nonzero(first)[0]
    sizes = np.diff(np.append(starts, m))
    base = np.repeat(cs[starts] - v[starts], sizes)
    return cs - base


def repeat_frame(df: pd.DataFrame, counts: np.ndarray) -> pd.DataFrame:
    """Row-repeat a frame by per-row counts (numpy repeat on each column)."""
    idx = np.repeat(np.arange(len(df)), counts)
    return df.iloc[idx].reset_index(drop=True)


def page_records(pages: pd.DataFrame, record_re: str):
    """Split page payloads (FIXTURES.md encodings #1/#2: a ``PAGE\\tw\\th`` header
    line, then one record per non-empty line) into their record lines.

    pages: (doc_id, page, pos, payload), one row per input span; payloads are
    non-NULL strings. A doc fails whole when any of its pages has a header not
    matching ``_HEADER_RE`` or a record not fully matching ``record_re`` (RE2).
    Returns (page_tab: (doc_id, page, pos) per input row, records of the docs
    that did not fail as an Arrow string array, each record's page row as int32,
    the failed doc ids as a sorted Index)."""
    pages = pages.reset_index(drop=True)
    page_tab = pages[["doc_id", "page", "pos"]].copy()
    payloads = pa.array(pages["payload"].to_numpy(dtype=object), type=pa.string())
    lines = pc.split_pattern(payloads, "\n")
    loff = lines.offsets.to_numpy(zero_copy_only=False)
    lcnt = np.diff(loff)
    lvals = lines.values
    prow_all = np.repeat(np.arange(len(pages), dtype=np.int32), lcnt)

    first = np.zeros(len(lvals), dtype=bool)
    first[loff[:-1][lcnt > 0]] = True
    hdr = pd.Series(lvals.take(pa.array(loff[:-1], type=pa.int64())).to_pandas())
    bad_page = ~hdr.str.contains(_HEADER_RE, na=False).to_numpy(bool) | (lcnt == 0)

    body_mask = ~first & (pc.utf8_length(lvals).to_numpy(zero_copy_only=False) > 0)
    body = lvals.filter(pa.array(body_mask))
    bprow = prow_all[body_mask]
    row_ok = pc.match_substring_regex(body, record_re).to_numpy(zero_copy_only=False)
    bad_page[bprow[~row_ok]] = True
    bad_docs = pd.Index(sorted(set(page_tab.loc[bad_page, "doc_id"])))

    keep = ~page_tab["doc_id"].isin(bad_docs).to_numpy()[bprow]
    if not keep.all():
        body = body.filter(pa.array(keep))
        bprow = bprow[keep]
    return page_tab, body, bprow, bad_docs
