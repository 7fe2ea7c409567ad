"""HTML main-content extraction: text-density boilerplate stripping, vectorized.

The reference has no HTML path; BASELINE.json's north_star mandates "DOM text-density
boilerplate stripping" for interleaved HTML docs. The heuristic below is a
deterministic line-density rule in the spirit of Kohlschütter et al., "Boilerplate
Detection using Shallow Text Features" (WSDM 2010) — pinned by fixture F16
(FIXTURES.md: there is no reference implementation; the fixture freezes THIS behavior):

  1. drop <script>/<style> elements and <!-- comments -->
  2. each <img ... src=S ...> becomes a standalone MEDIA line carrying S
  3. block-level tags (p, div, li, h1-h6, br, tr, td, section, article, nav, header,
     footer, main, aside, blockquote, pre, table, ul, ol, form, hr) break lines
  4. anchor text is marked so per-line link density can be computed
  5. remaining tags are stripped; basic entities decoded
  6. a text line is MAIN CONTENT iff stripped visible length >= 25 chars AND
     link_density <= 0.34 (link chars / visible chars)
  7. media lines are always emitted (images survive boilerplate stripping), in
     document order, interleaved with kept text lines

Two implementations with identical semantics, selected per batch:

  * ``_extract_html_spans_arrow`` — the hot path: the whole regex chain runs as
    RE2 via pyarrow.compute over the batch's Arrow string array (guide §4.2),
    line splitting/trimming/length/density all C++ kernels + numpy segment
    arithmetic. Valid only for pure-ASCII payloads: within ASCII, RE2 and
    Python ``re`` agree on ``\\b``/case-folding/laziness, and the one known
    divergence (``\\s``: RE2 omits 0x0B and 0x1C-0x1F) is removed by spelling
    Python's whitespace class out explicitly (``_WS_CLS`` below).
  * ``_extract_html_spans_pandas`` — the original pandas ``.str`` chain
    (Python ``re``), byte-identical to the behavior the F16 fixture froze;
    used whenever a batch contains any non-ASCII (or NULL) payload, and as
    the differential-test reference (tests/test_html_arrow.py pins the two
    against each other on adversarial inputs).

``\x00`` is ordinary content to both chains (it also opens the internal image
marker, as in ``tests/oracle.py``), so NUL-bearing payloads need no routing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from .util import group_codes, grouped_cumsum, repeat_frame

MIN_TEXT_LEN = 25
MAX_LINK_DENSITY = 0.34

_IMG_MARK = "\x00IMG\x1f"
_A_MARK = "\x01"

_BLOCK_TAGS = (
    "p|div|li|ul|ol|h[1-6]|br|tr|td|th|table|section|article|aside|nav|footer|"
    "header|main|blockquote|pre|form|hr|figure|figcaption"
)

# Python's \s / str.strip() whitespace, restricted to ASCII — RE2's \s omits
# 0x0B and 0x1C-0x1F, so the fast path spells the class out.
_PYWS = "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f "
_WS_CLS = r"\t\n\x0b\x0c\r\x1c-\x1f "

EMPTY_SPANS = pd.DataFrame(
    {
        "doc_id": pd.Series(dtype=object),
        "page": pd.Series(dtype=np.int64),
        "seq": pd.Series(dtype=np.int64),
        "kind": pd.Series(dtype=object),
        "text": pd.Series(dtype=object),
        "media_ref": pd.Series(dtype=object),
    }
)


def extract_html_spans(docs: pd.DataFrame) -> pd.DataFrame:
    """(doc_id, page, payload) — `page` is the input span's offset (a doc may carry
    several html spans) — → (doc_id, page, seq, kind, text, media_ref) with
    kind ∈ {text, media}, seq = order within the payload."""
    if not len(docs):
        return EMPTY_SPANS.copy()
    docs = docs.reset_index(drop=True)
    payloads = pa.array(docs["payload"].to_numpy(dtype=object), type=pa.string())
    # ASCII ⟺ utf8 length == byte length; the RE2 chain is exactly equivalent
    # to the Python-re chain only there (see module docstring)
    if (
        payloads.null_count == 0
        and pc.all(
            pc.equal(pc.utf8_length(payloads), pc.binary_length(payloads))
        ).as_py()
    ):
        return _extract_html_spans_arrow(docs, payloads)
    return _extract_html_spans_pandas(docs)


def _seal_output(out: pd.DataFrame) -> pd.DataFrame:
    """Shared tail: order by (doc_id, page, lineno), assign per-(doc_id, page)
    seq, project the contract columns."""
    out = out.sort_values(["doc_id", "page", "lineno"], kind="stable").reset_index(drop=True)
    out["seq"] = (
        grouped_cumsum(np.ones(len(out), np.int64), group_codes(out, ["doc_id", "page"])) - 1
    )
    return out[["doc_id", "page", "seq", "kind", "text", "media_ref"]]


def _extract_html_spans_arrow(docs: pd.DataFrame, payloads: pa.Array) -> pd.DataFrame:
    """RE2/pyarrow fast path (pure-ASCII batches). Same steps, same order, same
    patterns as the pandas reference — with Python's \\s class spelled out."""
    sub = pc.replace_substring_regex
    s = payloads
    # 1. scripts/styles/comments out
    s = sub(s, pattern=rf"(?is)<script\b.*?</script[{_WS_CLS}]*>", replacement=" ")
    s = sub(s, pattern=rf"(?is)<style\b.*?</style[{_WS_CLS}]*>", replacement=" ")
    s = sub(s, pattern=r"(?s)<!--.*?-->", replacement=" ")
    # 2. img → sentinel line (RE2 rewrite keeps the \1 backreference)
    s = sub(
        s,
        pattern=(
            rf"""(?is)<img\b[^>]*?\bsrc[{_WS_CLS}]*=[{_WS_CLS}]*"""
            rf"""["']?([^"'{_WS_CLS}>]+)["']?[^>]*>"""
        ),
        replacement="\n" + _IMG_MARK + r"\1" + "\n",
    )
    # 4. mark anchor spans for link density
    s = sub(s, pattern=r"(?is)<a\b[^>]*>", replacement=_A_MARK)
    s = sub(s, pattern=rf"(?is)</a[{_WS_CLS}]*>", replacement=_A_MARK)
    # 3. block tags → newlines
    s = sub(s, pattern=rf"(?is)</?(?:{_BLOCK_TAGS})\b[^>]*>", replacement="\n")
    # 5. strip remaining tags; decode a fixed entity set (deterministic)
    s = sub(s, pattern=r"(?s)<[^>]*>", replacement="")
    for ent, rep in [
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&amp;", "&"),
    ]:
        s = pc.replace_substring(s, pattern=ent, replacement=rep)

    lines = pc.split_pattern(s, "\n")
    loffs = lines.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    n = np.diff(loffs)
    flat_raw = lines.values
    nlines = len(flat_raw)
    if not nlines:
        return EMPTY_SPANS.copy()

    line = pc.utf8_trim(flat_raw, _PYWS)
    is_img = pc.starts_with(line, _IMG_MARK).to_numpy(zero_copy_only=False)
    visible = pc.replace_substring(line, pattern=_A_MARK, replacement="")
    vis_len = pc.utf8_length(pc.utf8_trim(visible, _PYWS)).to_numpy(zero_copy_only=False)

    # link chars = chars between marker PAIRS, left to right (the reference's
    # extractall(\x01([^\x01]*)\x01)): splitting on the marker, part i sits
    # between markers i and i+1, so the captured parts are the odd-indexed
    # parts having a closing marker, i.e. odd i <= nparts-2
    parts = pc.split_pattern(line, _A_MARK)
    poffs = parts.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    nparts = np.diff(poffs)
    plens = pc.utf8_length(parts.values).to_numpy(zero_copy_only=False).astype(np.int64)
    local = np.arange(len(plens), dtype=np.int64) - np.repeat(poffs[:-1], nparts)
    inside = (local % 2 == 1) & (local <= np.repeat(nparts - 2, nparts))
    line_of_part = np.repeat(np.arange(nlines, dtype=np.int64), nparts)
    link_len = np.bincount(
        line_of_part[inside], weights=plens[inside], minlength=nlines
    ).astype(np.int64)

    density_ok = link_len <= MAX_LINK_DENSITY * np.maximum(vis_len, 1)
    keep = is_img | ((vis_len >= MIN_TEXT_LEN) & density_ok)
    if not keep.any():
        return EMPTY_SPANS.copy()

    sel = np.nonzero(keep)[0]
    doc_row = np.repeat(np.arange(len(docs), dtype=np.int64), n)
    lineno_all = np.arange(nlines, dtype=np.int64) - np.repeat(loffs[:-1], n)

    oline = line.take(pa.array(sel, type=pa.int64()))
    o_img = is_img[sel]
    media_ref = pc.utf8_slice_codeunits(oline, len(_IMG_MARK), np.iinfo(np.int32).max)
    text = pc.utf8_trim(
        pc.replace_substring_regex(
            pc.replace_substring(oline, pattern=_A_MARK, replacement=""),
            pattern=rf"[{_WS_CLS}]+",
            replacement=" ",
        ),
        _PYWS,
    )
    doc_ids = docs["doc_id"].to_numpy(dtype=object)
    pages = docs["page"].to_numpy(np.int64)
    out = pd.DataFrame(
        {
            "doc_id": doc_ids[doc_row[sel]],
            "page": pages[doc_row[sel]],
            "lineno": lineno_all[sel],
            "kind": np.where(o_img, "media", "text"),
            "text": pd.Series(text.to_pandas().to_numpy(dtype=object)).where(~o_img),
            "media_ref": pd.Series(media_ref.to_pandas().to_numpy(dtype=object)).where(
                o_img
            ),
        }
    )
    return _seal_output(out)


def _extract_html_spans_pandas(docs: pd.DataFrame) -> pd.DataFrame:
    """The original pandas .str chain (Python re) — reference semantics; used for
    batches with non-ASCII or NULL payloads and by the differential tests."""
    if not len(docs):
        return EMPTY_SPANS.copy()

    docs = docs.reset_index(drop=True)
    s = docs["payload"].astype(object)
    # 1. scripts/styles/comments out
    s = s.str.replace(r"(?is)<script\b.*?</script\s*>", " ", regex=True)
    s = s.str.replace(r"(?is)<style\b.*?</style\s*>", " ", regex=True)
    s = s.str.replace(r"(?s)<!--.*?-->", " ", regex=True)
    # 2. img → sentinel line
    s = s.str.replace(
        r"""(?is)<img\b[^>]*?\bsrc\s*=\s*["']?([^"'\s>]+)["']?[^>]*>""",
        "\n" + _IMG_MARK + r"\1\n",
        regex=True,
    )
    # 4. mark anchor spans for link density (before block-splitting so that the
    #    markers stay inside the anchor's line)
    s = s.str.replace(r"(?is)<a\b[^>]*>", _A_MARK, regex=True)
    s = s.str.replace(r"(?is)</a\s*>", _A_MARK, regex=True)
    # 3. block tags → newlines
    s = s.str.replace(rf"(?is)</?(?:{_BLOCK_TAGS})\b[^>]*>", "\n", regex=True)
    # 5. strip remaining tags; decode a fixed entity set (deterministic)
    s = s.str.replace(r"(?s)<[^>]*>", "", regex=True)
    for ent, rep in [
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&amp;", "&"),
    ]:
        s = s.str.replace(ent, rep, regex=False)

    lines = s.str.split("\n")
    n = lines.str.len().to_numpy()
    flat = repeat_frame(docs[["doc_id", "page"]], n)
    # object dtype: a numpy '<U' buffer would drop each line's trailing \x00
    flat["line"] = lines.explode().to_numpy(dtype=object)
    doc_row = np.repeat(np.arange(len(docs)), n)
    flat["lineno"] = grouped_cumsum(np.ones(len(flat), np.int64), doc_row) - 1

    line = flat["line"].str.strip()
    is_img = line.str.startswith(_IMG_MARK)

    visible = line.str.replace(_A_MARK, "", regex=False)
    vis_len = visible.str.strip().str.len().to_numpy()
    # link chars = chars between marker pairs
    link_len = (
        line.str.extractall(rf"{_A_MARK}([^{_A_MARK}]*){_A_MARK}")[0]
        .str.len()
        .groupby(level=0)
        .sum()
        .reindex(range(len(flat)), fill_value=0)
        .to_numpy()
    )
    density_ok = link_len <= MAX_LINK_DENSITY * np.maximum(vis_len, 1)
    keep_text = (~is_img.to_numpy()) & (vis_len >= MIN_TEXT_LEN) & density_ok

    out = flat.loc[keep_text | is_img.to_numpy()].reset_index(drop=True)
    if not len(out):
        return EMPTY_SPANS.copy()
    oline = out["line"].str.strip()
    o_img = oline.str.startswith(_IMG_MARK).to_numpy()
    out["kind"] = np.where(o_img, "media", "text")
    out["media_ref"] = oline.str.slice(len(_IMG_MARK)).where(o_img)
    out["text"] = (
        oline.str.replace(_A_MARK, "", regex=False)
        .str.replace(r"\s+", " ", regex=True)
        .str.strip()
        .where(~o_img)
    )
    return _seal_output(out[["doc_id", "page", "lineno", "kind", "text", "media_ref"]])
