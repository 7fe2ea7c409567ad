"""Per-batch extraction orchestration: input span rows → ordered output spans.

This module is the ONLY Python that runs on the hot path, invoked from
``pipeline.py`` via ``mapInArrow``, over whole docs (zero shuffle) or over the
reading-order slices of salted mega docs, which it takes as ordinary docs.
Everything inside is vectorized pandas over Arrow batches.

Doc codes: every step keys a doc by an integer code ``doc`` in
``range(len(all_doc_ids))``, never by the ``doc_id`` string. The code is the
doc's row in its Arrow batch, so two rows sharing a ``doc_id`` are two
independent docs. The string only comes back in sentinel text and in the output
batch.

Routing semantics (reference: ``backend/app/main.py:171-205``):
  * a doc is *searchable* iff ANY of its pdf_chars pages has stripped text length
    > 50 (``main.py:57-66``) → native-text rules apply to its pdf_chars pages and
    its ocr_words pages are ignored; otherwise pdf_chars pages are ignored and
    ocr_words pages are OCR-grouped (the reference renders+OCRs the same pages;
    here both representations may be present in one doc — FIXTURES.md).
  * html and media spans are always processed, independent of the classifier.

Sentinel totality (``main.py:361-372, 642-646, 731-735``): any doc whose payload
fails to decode — or that hits an unexpected kernel exception (isolated by
bisecting the batch's doc codes, about 2·log2(docs) re-runs per poison doc) —
emits exactly one
``(kind='error', text='[Error processing doc <doc_id>]', media_ref=NULL, offset=0)``
span and counts as a parse failure; the job never aborts.

Reading order (``main.py:288, 382, 389-391`` — explicit here, SURVEY.md §2 O7):
output spans are ordered by (input span offset, position in the doc's input
array, within-payload sequence) and the final ``offset`` is the 0-based
enumeration of that order per doc.
"""

from __future__ import annotations

import sys
import zipimport
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from .kernels import html as html_k
from .kernels import ocr as ocr_k
from .kernels import pdf_text as pdf_k
from .kernels.util import grouped_cumsum
from .schema import (
    EXTRACTED_ARROW,
    INPUT_KINDS,
    KIND_ERROR,
    KIND_HTML,
    KIND_MEDIA,
    KIND_NEEDS_OCR,
    KIND_OCR_WORDS,
    KIND_PAGE_ERROR,
    KIND_PDF_CHARS,
    KIND_TEXT,
)

SEARCHABLE_THRESHOLD = 50  # main.py:64

_ROW_COLS = ["doc", "in_off", "pos", "seq", "kind", "text", "media_ref"]


def _pages(rows: pd.DataFrame) -> pd.DataFrame:
    """Kernel input frame: the doc code is the kernels' opaque doc_id."""
    return pd.DataFrame(
        {
            "doc_id": rows["doc"].to_numpy(),
            "page": rows["offset"].to_numpy(),
            "pos": rows["pos"].to_numpy(),
            "payload": rows["text"].to_numpy(),
        }
    )


def _rows(*cols) -> pd.DataFrame:
    """Output rows from one value per ``_ROW_COLS`` column: arrays, Series
    (taken by position) or scalars."""
    return pd.DataFrame(
        {c: v.to_numpy() if isinstance(v, pd.Series) else v for c, v in zip(_ROW_COLS, cols)}
    )


def _assemble(
    parts: list[pd.DataFrame],
    failed: np.ndarray,
    bytes_in: np.ndarray,
    all_doc_ids: np.ndarray,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Drop failed docs' rows, add one sentinel per failed doc, order every doc's
    rows by (in_off, pos, seq), number them per doc (``out_offset``) and build
    the metrics aligned with all_doc_ids."""
    codes = np.flatnonzero(failed)
    sentinels = _rows(codes, -1, -1, 0, KIND_ERROR,
                      [f"[Error processing doc {d}]" for d in all_doc_ids[codes]], None)
    rows = pd.concat([p.loc[~failed[p["doc"].to_numpy()]] for p in parts] + [sentinels],
                     ignore_index=True)
    doc = rows["doc"].to_numpy(np.int64)
    order = np.lexsort((rows["seq"].to_numpy(), rows["pos"].to_numpy(),
                        rows["in_off"].to_numpy(), doc))
    rows = rows.iloc[order].reset_index(drop=True)
    doc = doc[order]
    rows["out_offset"] = (grouped_cumsum(np.ones(len(doc), np.int64), doc) - 1).astype(np.int32)
    metrics = pd.DataFrame(
        {
            "n_spans": np.bincount(doc, minlength=len(all_doc_ids)),
            "parse_failed": failed,
            "bytes_in": bytes_in,
        }
    )
    return rows[["doc", "out_offset", "kind", "text", "media_ref"]], metrics


def extract_docs(
    span_rows: pd.DataFrame,
    all_doc_ids: np.ndarray,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Core vectorized extraction over exploded input spans.

    span_rows: one row per input span with columns
      * ``doc`` — int64 doc code, an index into ``all_doc_ids``;
      * ``kind``, ``text``, ``media_ref``, ``offset`` — the input span;
      * ``pos`` — the span's index within its doc's input array (tie-break
        for duplicate offsets);
      * ``text_bytes`` — utf-8 byte length of ``text`` (0 for NULL);
      * optionally ``route`` — doc-level routing override ('text' | 'ocr' |
        None) for the slices of a salted mega doc: a slice cannot see the
        pages of its sibling slices that decide the searchable classifier, so
        ``pipeline._slice_mega_docs`` pre-computes it (SURVEY.md §2 S5).
    all_doc_ids: the doc_id of every code (docs with zero input spans included).
    Returns (out_spans, metrics) — out_spans (doc, out_offset, kind, text,
    media_ref) sorted by doc then reading order, ``out_offset`` numbering it;
    metrics columns (n_spans, parse_failed, bytes_in) row-aligned with all_doc_ids.
    May raise — callers go through :func:`extract_docs_safe`.
    """
    sr = span_rows.reset_index(drop=True)
    n_docs = len(all_doc_ids)
    doc = sr["doc"].to_numpy(np.int64)
    # float64 weights sum exactly: an Arrow string column holds < 2^31 bytes
    bytes_in = np.bincount(doc, weights=sr["text_bytes"].to_numpy(np.int64),
                           minlength=n_docs).astype(np.int64)

    kind = sr["kind"]
    bad_row = ~kind.isin(INPUT_KINDS).to_numpy()
    bad_row |= (kind.isin([KIND_PDF_CHARS, KIND_OCR_WORDS, KIND_HTML]).to_numpy()
                & sr["text"].isna().to_numpy())
    bad_row |= (kind.isin([KIND_MEDIA, KIND_NEEDS_OCR]).to_numpy()
                & sr["media_ref"].isna().to_numpy())
    failed = np.zeros(n_docs, dtype=bool)
    failed[doc[bad_row]] = True

    def ok_rows(kinds: list[str], mask: bool | np.ndarray = True) -> pd.DataFrame:
        return sr.loc[kind.isin(kinds).to_numpy() & ~failed[doc] & mask]

    def fail(bad_codes: pd.Index) -> None:
        failed[np.asarray(bad_codes, dtype=np.int64)] = True

    # --- pdf_chars: decode + searchable classification (numpy core) -------------
    pdf_ev, bad = pdf_k.decode_pdf_core(_pages(ok_rows([KIND_PDF_CHARS])))
    fail(bad)  # decode already dropped bad docs' events

    plens = pdf_k.page_stripped_lengths_core(pdf_ev)
    page_doc = pdf_ev.page_tab["doc_id"].to_numpy(np.int64)
    searchable = np.zeros(n_docs, dtype=bool)
    searchable[page_doc[plens > SEARCHABLE_THRESHOLD]] = True
    # a salted mega doc's slice: the pipeline pre-computed doc-level routing
    # (a slice cannot see its sibling slices' pages) — apply the override
    if "route" in sr.columns:
        route = sr["route"].to_numpy(dtype=object)
        searchable[doc[route == "text"]] = True
        searchable[doc[route == "ocr"]] = False
    pdf_spans = pdf_k.segment_sentences_core(pdf_ev.select_pages(searchable[page_doc]))

    # --- ocr_words: only for docs NOT routed to the native-text path -----------
    # page identity stays PER INPUT SPAN: two ocr_words spans sharing one offset
    # keep distinct page_tab rows, matching the oracle's per-span treatment
    ocr_ev, bad = ocr_k.decode_ocr_core(_pages(ok_rows([KIND_OCR_WORDS], ~searchable[doc])))
    fail(bad)  # core already dropped bad docs' events
    ocr_spans = ocr_k.group_ocr_lines_core(ocr_ev)

    # --- html: keyed per input span (its row here), so two html spans sharing
    # an offset come out payload by payload, as in the oracle ---------------------
    html_rows = ok_rows([KIND_HTML])
    html_spans = html_k.extract_html_spans(
        _pages(html_rows).assign(doc_id=np.arange(len(html_rows)))
    )
    row = html_spans["doc_id"].to_numpy(np.int64)

    # --- passthrough kinds, independent of the classifier (like html):
    # media (FIXTURES.md kind #4 / F17); needs_ocr (r3 VERDICT #6): image-only
    # PDF pages surface as an explicit OCR work-list row instead of silently
    # zero spans; page_error (r4 VERDICT #3): a page-scoped decode failure
    # becomes the reference's '[Error processing page N]' span (main.py:361-372)
    # — the doc's other pages keep extracting; only doc-level failures sentinel
    pt = ok_rows([KIND_MEDIA, KIND_NEEDS_OCR, KIND_PAGE_ERROR])
    pt_kind = pt["kind"].to_numpy(dtype=object)
    page_err = pt_kind == KIND_PAGE_ERROR
    pt_text = np.where(pt_kind == KIND_MEDIA, pt["text"].to_numpy(dtype=object), None)
    # reference format, 0-based page index (main.py:59,369)
    pt_text[page_err] = (
        "[Error processing page " + pt["offset"][page_err].astype(str) + "]"
    ).to_numpy()

    parts = [
        _rows(s["doc_id"], s["page"], s["pos"], s["seq"], KIND_TEXT, s["text"], None)
        for s in (pdf_spans, ocr_spans)
    ] + [
        _rows(html_rows["doc"].to_numpy()[row], html_spans["page"],
              html_rows["pos"].to_numpy()[row], html_spans["seq"], html_spans["kind"],
              html_spans["text"], html_spans["media_ref"]),
        _rows(pt["doc"], pt["offset"], pt["pos"], 0, np.where(page_err, KIND_ERROR, pt_kind),
              pt_text, pt["media_ref"]),
    ]
    return _assemble([p for p in parts if len(p)], failed, bytes_in, all_doc_ids)


def extract_docs_safe(
    span_rows: pd.DataFrame,
    all_doc_ids: np.ndarray,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Sentinel-totality wrapper (main.py:361-372) — the batch never fails. On an
    unexpected kernel exception it bisects the doc codes: each half re-runs on
    its own (codes ``< mid``, then ``>= mid`` shifted down by ``mid``) until the
    raising docs stand alone and become sentinels (cold path; one poison doc
    costs about 2·log2(docs) re-runs)."""
    try:
        return extract_docs(span_rows, all_doc_ids)
    except Exception:
        n = len(all_doc_ids)
        if n == 0:
            raise
        if n == 1:
            return _assemble([], np.ones(1, dtype=bool), np.zeros(1, np.int64), all_doc_ids)
        mid = n // 2
        doc = span_rows["doc"].to_numpy()
        lo_out, lo_met = extract_docs_safe(span_rows.loc[doc < mid], all_doc_ids[:mid])
        hi_out, hi_met = extract_docs_safe(
            span_rows.loc[doc >= mid].assign(doc=doc[doc >= mid] - mid), all_doc_ids[mid:]
        )
        return (pd.concat([lo_out, hi_out.assign(doc=hi_out["doc"] + mid)], ignore_index=True),
                pd.concat([lo_met, hi_met], ignore_index=True))


# ---------------------------------------------------------------------------------
# Arrow-level plumbing for mapInArrow (zero-copy explode / reassemble)
# ---------------------------------------------------------------------------------


def _explode_spans(spans: pa.ListArray) -> tuple[np.ndarray, np.ndarray, dict[str, pa.Array]]:
    """Flatten a ``list<struct>`` spans column with its list offsets. Returns
    each span's doc code (its row in the batch), its pos (index within that
    row's list) and the span fields by name; StructArray.flatten folds a NULL
    span's validity into every field."""
    offs = spans.offsets.to_numpy()
    counts = np.diff(offs)
    doc = np.repeat(np.arange(len(spans), dtype=np.int64), counts)
    pos = np.arange(len(doc), dtype=np.int64) - np.repeat(offs[:-1] - offs[0], counts)
    flat = spans.values.slice(offs[0], offs[-1] - offs[0])
    return doc, pos, dict(zip((f.name for f in flat.type), flat.flatten()))


def _record_batch_to_rows(batch: pa.RecordBatch) -> tuple[np.ndarray, pd.DataFrame]:
    """Flatten a (doc_id, spans list<struct>) Arrow batch to exploded pandas span
    rows (the :func:`extract_docs` input) using Arrow list offsets — vectorized,
    no Python per row. A ``route`` column (a salted slice's doc-level routing)
    is copied onto its spans. Returns (doc_id per code, span rows)."""
    doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
    doc, pos, f = _explode_spans(batch.column("spans"))
    span_rows = pd.DataFrame(
        {
            "doc": doc,
            "kind": f["kind"].to_numpy(zero_copy_only=False),
            "text": f["text"].to_numpy(zero_copy_only=False),
            "media_ref": f["media_ref"].to_numpy(zero_copy_only=False),
            "offset": pc.fill_null(f["offset"], 0).to_numpy().astype(np.int64),
            "pos": pos,
            # utf-8 byte length straight off the Arrow buffer (no re-encode)
            "text_bytes": pc.fill_null(pc.binary_length(f["text"]), 0).to_numpy(
                zero_copy_only=False
            ),
        }
    )
    if "route" in batch.schema.names:
        span_rows["route"] = batch.column("route").to_numpy(zero_copy_only=False)[doc]
    return doc_ids, span_rows


def _rows_to_record_batch(
    doc_ids: np.ndarray, out: pd.DataFrame, metrics: pd.DataFrame
) -> pa.RecordBatch:
    """Reassemble output span rows (keyed by doc code) into the EXTRACTED_ARROW
    batch in input doc order, with an empty spans array for spanless docs;
    ``metrics`` is row-aligned with ``doc_ids``."""
    doc = out["doc"].to_numpy()
    order = np.lexsort((out["out_offset"].to_numpy(), doc))
    o = out.iloc[order]
    offsets = np.zeros(len(doc_ids) + 1, dtype=np.int32)
    np.cumsum(np.bincount(doc, minlength=len(doc_ids)), out=offsets[1:])

    struct = pa.StructArray.from_arrays(
        [
            pa.array(o["kind"].to_numpy(dtype=object), type=pa.string()),
            pa.array(o["text"].where(o["text"].notna(), None).to_numpy(dtype=object), type=pa.string()),
            pa.array(
                o["media_ref"].where(o["media_ref"].notna(), None).to_numpy(dtype=object),
                type=pa.string(),
            ),
            pa.array(o["out_offset"].to_numpy(np.int32), type=pa.int32()),
        ],
        fields=list(EXTRACTED_ARROW.field("spans").type.value_type),
    )
    spans_arr = pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), struct)

    return pa.RecordBatch.from_arrays(
        [
            pa.array(doc_ids, type=pa.string()),
            spans_arr,
            pa.array(metrics["n_spans"].to_numpy(np.int64), type=pa.int64()),
            pa.array(metrics["parse_failed"].to_numpy(bool), type=pa.bool_()),
            pa.array(metrics["bytes_in"].to_numpy(np.int64), type=pa.int64()),
        ],
        schema=EXTRACTED_ARROW,
    )


def _prepare_worker() -> None:
    """Per-task set-up of a Python worker, called at the top of every Python entry
    point of the extraction plan: ``extract_map_in_arrow`` (the salted slices
    reach it through ``pipeline._extract_slices``) and the mega-doc slicer
    ``pipeline._slice_mega_docs``. Its effects last for the rest of the
    (reused) worker's life; repeat calls cost microseconds.

      * Pin pyarrow's thread pools to one thread. Spark already owns the
        core-level parallelism (one worker per task slot); without the pin a
        local[8] run secretly uses all 32 cores and scaling measurements lie.
      * Drop every cached ``zipimporter`` from ``sys.path_importer_cache``.
        PySpark's worker calls ``importlib.invalidate_caches()`` before each
        task, and before Python 3.13 that makes each cached zipimporter re-read
        its whole archive directory (pyspark.zip, the py4j zip and the
        spark-core jar: about 0.2 s of CPU per task on a 4-core host, more than
        the extraction of a typical batch). With the entries gone there is
        nothing to re-read until an import scans an archive path again, which
        a warmed-up worker rarely does. That import builds a fresh importer
        that reads the archive as it is then, so imports behave the same on
        every Python version.
    """
    try:
        if pa.cpu_count() != 1:
            pa.set_cpu_count(1)
            pa.set_io_thread_count(1)
    except Exception:
        pass
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


def extract_map_in_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """The mapInArrow function: corpus batches in, EXTRACTED_ARROW batches out."""
    _prepare_worker()
    for batch in batches:
        if batch.num_rows == 0:
            continue
        doc_ids, span_rows = _record_batch_to_rows(batch)
        out, metrics = extract_docs_safe(span_rows, doc_ids)
        yield _rows_to_record_batch(doc_ids, out, metrics)

