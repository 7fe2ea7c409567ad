"""Per-batch extraction orchestration: input span rows → ordered output spans.

This module is the ONLY Python that runs on the hot path, invoked from
``pipeline.py`` via ``mapInArrow``, over whole docs (zero shuffle) or over salted
mega-doc chunks. Everything inside is vectorized pandas over Arrow batches.

Routing semantics (reference: ``backend/app/main.py:171-205``):
  * a doc is *searchable* iff ANY of its pdf_chars pages has stripped text length
    > 50 (``main.py:57-66``) → native-text rules apply to its pdf_chars pages and
    its ocr_words pages are ignored; otherwise pdf_chars pages are ignored and
    ocr_words pages are OCR-grouped (the reference renders+OCRs the same pages;
    here both representations may be present in one doc — FIXTURES.md).
  * html and media spans are always processed, independent of the classifier.

Sentinel totality (``main.py:361-372, 642-646, 731-735``): any doc whose payload
fails to decode — or that hits an unexpected kernel exception (isolated by a
per-doc fallback retry) — emits exactly one
``(kind='error', text='[Error processing doc <doc_id>]', media_ref=NULL, offset=0)``
span and counts as a parse failure; the job never aborts.

Reading order (``main.py:288, 382, 389-391`` — explicit here, SURVEY.md §2 O7):
output spans are ordered by (input span offset, within-payload sequence) and the
final ``offset`` is the 0-based enumeration of that order per doc.
"""

from __future__ import annotations

import sys
import zipimport
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

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

_OUT_COLS = ["doc_id", "out_offset", "kind", "text", "media_ref"]


def _empty_out() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "doc_id": pd.Series(dtype=object),
            "out_offset": pd.Series(dtype=np.int32),
            "kind": pd.Series(dtype=object),
            "text": pd.Series(dtype=object),
            "media_ref": pd.Series(dtype=object),
        }
    )


def extract_docs(
    span_rows: pd.DataFrame,
    all_doc_ids: np.ndarray,
    *,
    enumerate_offsets: bool = True,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Core vectorized extraction over exploded input spans.

    span_rows: columns (doc_id, kind, text, media_ref, offset) — one row per input
    span — plus optionally:
      * ``pos``   — the span's index within the doc's input array (deterministic
        tie-break for duplicate offsets; defaults to the row order per doc)
      * ``route`` — doc-level routing override for the salted mega-doc path
        ('text' | 'ocr' | None): a chunk cannot see the sibling pages that decide
        the searchable classifier, so the pipeline pre-computes it (SURVEY.md §2 S5)
    all_doc_ids: every doc in the batch (docs with zero input spans included).
    With enumerate_offsets=False, returns rows keyed (doc_id, in_off, pos, seq)
    WITHOUT final per-doc offset enumeration (sentinels get in_off=-1) — the salted
    path enumerates after reassembling all chunks of a doc.
    Returns (out_spans, metrics[doc_id, n_spans, parse_failed, bytes_in]).
    May raise — callers go through :func:`extract_docs_safe`.
    """
    sr = span_rows.reset_index(drop=True)
    if "pos" not in sr.columns:
        sr["pos"] = sr.groupby("doc_id", sort=False).cumcount()
    # lineage metric: bytes of input payload text per doc (utf-8). The Arrow layer
    # provides byte lengths zero-copy (`text_bytes`); the pandas path re-encodes.
    if "text_bytes" in sr.columns:
        tb = sr["text_bytes"].astype(np.int64)
    else:
        tb = (
            sr["text"].str.encode("utf-8").str.len()
            .astype("float64").fillna(0).astype(np.int64)
        )
    bytes_in = (
        pd.DataFrame({"doc_id": sr["doc_id"], "b": tb})
        .groupby("doc_id", sort=False)["b"]
        .sum()
    )

    failed: set = set()
    kind = sr["kind"].astype(object)
    known = kind.isin(INPUT_KINDS).to_numpy()
    failed.update(sr.loc[~known, "doc_id"].unique())
    needs_text = kind.isin([KIND_PDF_CHARS, KIND_OCR_WORDS, KIND_HTML]).to_numpy()
    failed.update(sr.loc[needs_text & sr["text"].isna().to_numpy(), "doc_id"].unique())
    failed.update(
        sr.loc[
            kind.isin([KIND_MEDIA, KIND_NEEDS_OCR]).to_numpy()
            & sr["media_ref"].isna().to_numpy(),
            "doc_id",
        ].unique()
    )

    def ok_rows(k: str) -> pd.DataFrame:
        m = (kind == k).to_numpy() & ~sr["doc_id"].isin(failed).to_numpy()
        return sr.loc[m]

    def attach_pos(spans: pd.DataFrame, pages: pd.DataFrame) -> pd.DataFrame:
        """Carry the input-array position onto kernel outputs (tie-break key)."""
        key = pages.drop_duplicates(["doc_id", "page"])[["doc_id", "page", "pos"]]
        return spans.merge(key, on=["doc_id", "page"], how="left")

    # --- pdf_chars: decode + searchable classification (numpy core) -------------
    pdf_rows = ok_rows(KIND_PDF_CHARS)
    pdf_pages = pdf_rows.rename(columns={"offset": "page", "text": "payload"})[
        ["doc_id", "page", "pos", "payload"]
    ]
    pdf_ev, bad_pdf = pdf_k.decode_pdf_core(pdf_pages)
    failed.update(bad_pdf)  # decode already dropped bad docs' events

    plens = pdf_k.page_stripped_lengths_core(pdf_ev)
    tab_docs = pdf_ev.page_tab["doc_id"].to_numpy()
    searchable_docs = set(tab_docs[plens > SEARCHABLE_THRESHOLD])
    # mega-doc chunk path: the pipeline pre-computed doc-level routing (a chunk
    # cannot see sibling pages) — apply the override
    if "route" in sr.columns:
        rt = sr.dropna(subset=["route"]).drop_duplicates("doc_id")
        searchable_docs |= set(rt.loc[rt["route"] == "text", "doc_id"])
        searchable_docs -= set(rt.loc[rt["route"] == "ocr", "doc_id"])

    page_sel = pdf_ev.page_tab["doc_id"].isin(searchable_docs).to_numpy()
    pdf_spans = pdf_k.segment_sentences_core(pdf_ev.select_pages(page_sel))

    # --- ocr_words: only for docs NOT routed to the native-text path -----------
    # calls the pyarrow/numpy cores directly (the pandas compat wrappers exist for
    # tests only): no object-dtype round-trip, and page identity stays PER INPUT
    # SPAN (two ocr_words spans sharing one offset keep distinct page_tab rows,
    # matching the oracle's per-span treatment — the wrapper's re-factorize on
    # (doc_id, page) would merge them)
    ocr_rows = ok_rows(KIND_OCR_WORDS)
    ocr_rows = ocr_rows.loc[~ocr_rows["doc_id"].isin(searchable_docs)]
    ocr_pages = ocr_rows.rename(columns={"offset": "page", "text": "payload"})[
        ["doc_id", "page", "pos", "payload"]
    ]
    ocr_ev, bad_ocr = ocr_k.decode_ocr_core(ocr_pages)
    failed.update(bad_ocr)  # core already dropped bad docs' events
    ocr_spans = ocr_k.group_ocr_lines_core(ocr_ev)

    # --- html -------------------------------------------------------------------
    html_rows = ok_rows(KIND_HTML)
    html_docs = html_rows.rename(columns={"offset": "page", "text": "payload"})[
        ["doc_id", "page", "payload", "pos"]
    ]
    html_spans = html_k.extract_html_spans(html_docs[["doc_id", "page", "payload"]])
    html_spans = attach_pos(html_spans, html_docs)

    # --- media passthrough (FIXTURES.md kind #4 / F17) ---------------------------
    media_rows = ok_rows(KIND_MEDIA)

    # --- needs_ocr passthrough (r3 VERDICT #6): image-only PDF pages surface
    # as an explicit OCR work-list row instead of silently zero spans;
    # independent of the searchable classifier (like media/html) -----------------
    ocr_todo_rows = ok_rows(KIND_NEEDS_OCR)

    # --- page_error passthrough (r4 VERDICT #3): a page-scoped decode failure
    # becomes the reference's '[Error processing page N]' span (main.py:361-372)
    # — the doc's other pages keep extracting; only doc-level failures sentinel
    page_err_rows = ok_rows(KIND_PAGE_ERROR)

    # --- assemble reading order ---------------------------------------------------
    parts = []
    if len(pdf_spans):
        parts.append(
            pd.DataFrame(
                {
                    "doc_id": pdf_spans["doc_id"],
                    "in_off": pdf_spans["page"].astype(np.int64),
                    "pos": pdf_spans["pos"].astype(np.int64),
                    "seq": pdf_spans["seq"],
                    "kind": KIND_TEXT,
                    "text": pdf_spans["text"],
                    "media_ref": None,
                }
            )
        )
    if len(ocr_spans):
        parts.append(
            pd.DataFrame(
                {
                    "doc_id": ocr_spans["doc_id"],
                    "in_off": ocr_spans["page"].astype(np.int64),
                    "pos": ocr_spans["pos"].astype(np.int64),
                    "seq": ocr_spans["seq"],
                    "kind": KIND_TEXT,
                    "text": ocr_spans["text"],
                    "media_ref": None,
                }
            )
        )
    if len(html_spans):
        parts.append(
            pd.DataFrame(
                {
                    "doc_id": html_spans["doc_id"],
                    "in_off": html_spans["page"].astype(np.int64),
                    "pos": html_spans["pos"].astype(np.int64),
                    "seq": html_spans["seq"],
                    "kind": html_spans["kind"],
                    "text": html_spans["text"],
                    "media_ref": html_spans["media_ref"],
                }
            )
        )
    if len(media_rows):
        parts.append(
            pd.DataFrame(
                {
                    "doc_id": media_rows["doc_id"],
                    "in_off": media_rows["offset"].astype(np.int64),
                    "pos": media_rows["pos"].astype(np.int64),
                    "seq": 0,
                    "kind": KIND_MEDIA,
                    "text": media_rows["text"],
                    "media_ref": media_rows["media_ref"],
                }
            )
        )
    if len(ocr_todo_rows):
        parts.append(
            pd.DataFrame(
                {
                    "doc_id": ocr_todo_rows["doc_id"],
                    "in_off": ocr_todo_rows["offset"].astype(np.int64),
                    "pos": ocr_todo_rows["pos"].astype(np.int64),
                    "seq": 0,
                    "kind": KIND_NEEDS_OCR,
                    "text": None,
                    "media_ref": ocr_todo_rows["media_ref"],
                }
            )
        )
    if len(page_err_rows):
        parts.append(
            pd.DataFrame(
                {
                    "doc_id": page_err_rows["doc_id"],
                    "in_off": page_err_rows["offset"].astype(np.int64),
                    "pos": page_err_rows["pos"].astype(np.int64),
                    "seq": 0,
                    "kind": KIND_ERROR,
                    # reference format, 0-based page index (main.py:59,369)
                    "text": "[Error processing page "
                    + page_err_rows["offset"].astype(np.int64).astype(str)
                    + "]",
                    "media_ref": page_err_rows["media_ref"],
                }
            )
        )

    if parts:
        allp = pd.concat(parts, ignore_index=True)
        allp = allp.loc[~allp["doc_id"].isin(failed)]
        idx = pd.Index(pd.Series(all_doc_ids, dtype=object))
        codes = (
            idx.get_indexer(allp["doc_id"].to_numpy(dtype=object))
            if idx.is_unique
            else None
        )
        # -1 codes (span doc_ids outside all_doc_ids — impossible from the
        # internal callers, but this is a public function) would collapse
        # into ONE group; keep the exact per-doc_id numbering path for them
        if codes is not None and (len(codes) == 0 or codes.min() >= 0):
            # out_offset only needs per-doc grouping + within-doc
            # (in_off, pos, seq) order, so an integer doc code replaces the
            # object-string sort key — value-identical, no string compares
            order = np.lexsort(
                (
                    allp["seq"].to_numpy(),
                    allp["pos"].to_numpy(),
                    allp["in_off"].to_numpy(),
                    codes,
                )
            )
            allp = allp.iloc[order].reset_index(drop=True)
            allp["out_offset"] = (
                grouped_cumsum(np.ones(len(allp), np.int64), codes[order]) - 1
            ).astype(np.int32)
        else:
            allp = allp.sort_values(
                ["doc_id", "in_off", "pos", "seq"], kind="stable"
            ).reset_index(drop=True)
            allp["out_offset"] = (
                allp.groupby("doc_id", sort=False).cumcount().astype(np.int32)
            )
    else:
        allp = _empty_out().assign(in_off=np.int64(0), pos=np.int64(0), seq=np.int64(0))

    # --- error sentinels ----------------------------------------------------------
    if failed:
        fids = pd.Series(sorted(failed), dtype=object)
        sent = pd.DataFrame(
            {
                "doc_id": fids,
                "in_off": np.int64(-1),
                "pos": np.int64(-1),
                "seq": np.int64(0),
                "out_offset": np.int32(0),
                "kind": KIND_ERROR,
                "text": "[Error processing doc " + fids + "]",
                "media_ref": None,
            }
        )
        allp = pd.concat([allp, sent], ignore_index=True)

    if enumerate_offsets:
        out = allp[["doc_id", "out_offset", "kind", "text", "media_ref"]]
    else:
        out = allp[["doc_id", "in_off", "pos", "seq", "kind", "text", "media_ref"]]

    # --- per-doc metrics ------------------------------------------------------------
    ids = pd.Series(all_doc_ids, dtype=object)
    nsp = out.groupby("doc_id", sort=False).size()
    metrics = pd.DataFrame(
        {
            "doc_id": ids,
            "n_spans": nsp.reindex(ids).fillna(0).astype(np.int64).to_numpy(),
            "parse_failed": ids.isin(failed).to_numpy(),
            "bytes_in": bytes_in.reindex(ids).fillna(0).astype(np.int64).to_numpy(),
        }
    )
    return out, metrics


def extract_docs_safe(
    span_rows: pd.DataFrame,
    all_doc_ids: np.ndarray,
    *,
    enumerate_offsets: bool = True,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Sentinel-totality wrapper: on an unexpected kernel exception, retry per doc to
    isolate the poison docs (cold path) — the batch never fails (main.py:361-372)."""
    try:
        return extract_docs(span_rows, all_doc_ids, enumerate_offsets=enumerate_offsets)
    except Exception:
        outs, mets = [], []
        for did in all_doc_ids:
            rows = span_rows.loc[span_rows["doc_id"] == did]
            try:
                o, m = extract_docs(
                    rows, np.array([did], dtype=object), enumerate_offsets=enumerate_offsets
                )
            except Exception:
                o = pd.DataFrame(
                    {
                        "doc_id": [did],
                        "in_off": np.array([-1], dtype=np.int64),
                        "pos": np.array([-1], dtype=np.int64),
                        "seq": np.array([0], dtype=np.int64),
                        "out_offset": np.array([0], dtype=np.int32),
                        "kind": [KIND_ERROR],
                        "text": [f"[Error processing doc {did}]"],
                        "media_ref": [None],
                    }
                )
                o = (
                    o[["doc_id", "out_offset", "kind", "text", "media_ref"]]
                    if enumerate_offsets
                    else o[["doc_id", "in_off", "pos", "seq", "kind", "text", "media_ref"]]
                )
                m = pd.DataFrame(
                    {
                        "doc_id": [did],
                        "n_spans": np.array([1], dtype=np.int64),
                        "parse_failed": [True],
                        "bytes_in": np.array([0], dtype=np.int64),
                    }
                )
            outs.append(o)
            mets.append(m)
        return (
            pd.concat(outs, ignore_index=True) if outs else _empty_out(),
            pd.concat(mets, ignore_index=True)
            if mets
            else pd.DataFrame(columns=["doc_id", "n_spans", "parse_failed", "bytes_in"]),
        )


# ---------------------------------------------------------------------------------
# Arrow-level plumbing for mapInArrow (zero-copy explode / reassemble)
# ---------------------------------------------------------------------------------


def _record_batch_to_rows(batch: pa.RecordBatch) -> tuple[np.ndarray, pd.DataFrame]:
    """Flatten (doc_id, spans list<struct>) Arrow batch to exploded pandas span rows
    using Arrow list offsets — vectorized, no Python per row."""
    import pyarrow.compute as pc

    doc_ids = batch.column("doc_id").to_pandas().to_numpy(dtype=object)
    spans = batch.column("spans")
    parent = pc.list_parent_indices(spans).to_numpy(zero_copy_only=False)
    flat = pc.list_flatten(spans)
    # pos = index within the doc's input array (flat rows are parent-ordered)
    counts = np.bincount(parent, minlength=len(doc_ids)) if len(parent) else np.zeros(len(doc_ids), np.int64)
    starts = np.zeros(len(doc_ids), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:]) if len(doc_ids) > 1 else None
    pos = np.arange(len(parent), dtype=np.int64) - starts[parent] if len(parent) else np.empty(0, np.int64)
    text_arr = flat.field("text")
    span_rows = pd.DataFrame(
        {
            "doc_id": doc_ids[parent],
            "kind": flat.field("kind").to_pandas().to_numpy(dtype=object),
            "text": text_arr.to_pandas().to_numpy(dtype=object),
            "media_ref": flat.field("media_ref").to_pandas().to_numpy(dtype=object),
            "offset": flat.field("offset").to_pandas().to_numpy(np.int64),
            "pos": pos,
            # utf-8 byte length straight off the Arrow buffer (no re-encode)
            "text_bytes": pc.fill_null(pc.binary_length(text_arr), 0).to_numpy(
                zero_copy_only=False
            ),
        }
    )
    return doc_ids, span_rows


def _rows_to_record_batch(
    doc_ids: np.ndarray, out: pd.DataFrame, metrics: pd.DataFrame
) -> pa.RecordBatch:
    """Reassemble output span rows into the EXTRACTED_ARROW batch, preserving the
    input doc order and emitting an empty spans array for spanless docs."""
    idx = pd.Index(doc_ids)
    if idx.is_unique:
        # hash-map doc position + integer lexsort instead of an object-key
        # merge + sort_values — same rows, same order (out_offset is unique
        # per doc, so the sort is deterministic)
        pos = idx.get_indexer(out["doc_id"].to_numpy(dtype=object))
        if (pos < 0).any():  # inner-merge semantics: drop unknown doc rows
            m = pos >= 0
            out = out.loc[m]
            pos = pos[m]
        order = np.lexsort((out["out_offset"].to_numpy(), pos))
        o = out.iloc[order]
        pos = pos[order]
        counts = np.bincount(pos, minlength=len(doc_ids))
    else:
        order_df = pd.DataFrame({"doc_id": doc_ids, "_doc_pos": np.arange(len(doc_ids))})
        o = out.merge(order_df, on="doc_id", how="inner")
        o = o.sort_values(["_doc_pos", "out_offset"], kind="stable")
        counts = (
            o.groupby("_doc_pos", sort=True)
            .size()
            .reindex(range(len(doc_ids)), fill_value=0)
            .to_numpy()
        )
    offsets = np.zeros(len(doc_ids) + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])

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

    m = metrics.set_index("doc_id").reindex(pd.Index(doc_ids))
    return pa.RecordBatch.from_arrays(
        [
            pa.array(doc_ids, type=pa.string()),
            spans_arr,
            pa.array(m["n_spans"].fillna(0).to_numpy(np.int64), type=pa.int64()),
            pa.array(m["parse_failed"].fillna(True).to_numpy(bool), type=pa.bool_()),
            pa.array(m["bytes_in"].fillna(0).to_numpy(np.int64), type=pa.int64()),
        ],
        schema=EXTRACTED_ARROW,
    )


def _prepare_worker() -> None:
    """Per-task set-up of a Python worker, called at the top of every Python entry
    point of the extraction plan: ``extract_map_in_arrow``,
    ``extract_chunk_map_in_arrow`` and the mega-doc classifier UDF
    ``pipeline._pdf_stripped_len``. Its effects last for the rest of the
    (reused) worker's life; repeat calls cost microseconds.

      * Pin pyarrow's thread pools to one thread. Spark already owns the
        core-level parallelism (one worker per task slot); without the pin a
        local[8] run secretly uses all 32 cores and scaling measurements lie.
        The classifier UDF calls this too, so a worker whose first task is that
        ArrowEvalPython no longer fans pyarrow out to every host core.
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


def extract_chunk_map_in_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow function for the salted mega-doc path: chunk rows (one row per
    input span, with pre-computed doc routing) in, CHUNK_OUT_ARROW rows out — no
    final offset enumeration (the reassembly groupBy seals offsets). One marker
    row per doc carries the chunk's input byte count so the reassembly needs no
    extra joins/aggregations."""
    from .schema import CHUNK_MARKER_OFF, CHUNK_OUT_ARROW, KIND_CHUNK_MARKER

    _prepare_worker()
    import pyarrow.compute as pc

    for batch in batches:
        if batch.num_rows == 0:
            continue
        df = batch.to_pandas()
        df["text_bytes"] = pc.fill_null(
            pc.binary_length(batch.column("text")), 0
        ).to_numpy(zero_copy_only=False)
        doc_ids = df["doc_id"].unique()
        out, metrics = extract_docs_safe(df, doc_ids, enumerate_offsets=False)
        out = out.astype({"in_off": np.int64, "pos": np.int64, "seq": np.int64})
        out["bytes_in"] = np.int64(0)
        markers = pd.DataFrame(
            {
                "doc_id": metrics["doc_id"],
                "in_off": np.int64(CHUNK_MARKER_OFF),
                "pos": np.int64(0),
                "seq": np.int64(0),
                "kind": KIND_CHUNK_MARKER,
                "text": None,
                "media_ref": None,
                "bytes_in": metrics["bytes_in"].astype(np.int64),
            }
        )
        out = pd.concat([out, markers], ignore_index=True)
        yield pa.RecordBatch.from_pandas(out, schema=CHUNK_OUT_ARROW, preserve_index=False)


def extract_batch_pandas(docs: pd.DataFrame) -> pd.DataFrame:
    """Test convenience (no production caller):
    (doc_id, spans: list[dict]) → EXTRACTED_ARROW-shaped pandas frame."""
    doc_ids = docs["doc_id"].to_numpy(dtype=object)
    n = docs["spans"].str.len().fillna(0).astype(np.int64).to_numpy()
    idx = np.repeat(np.arange(len(docs)), n)
    flat = [s for lst in docs["spans"] for s in (lst if lst is not None else [])]
    span_rows = pd.DataFrame(
        {
            "doc_id": doc_ids[idx],
            "kind": [s["kind"] for s in flat],
            "text": [s["text"] for s in flat],
            "media_ref": [s["media_ref"] for s in flat],
            "offset": np.array([s["offset"] for s in flat], dtype=np.int64),
        }
    )
    out, metrics = extract_docs_safe(span_rows, doc_ids)
    rb = _rows_to_record_batch(doc_ids, out, metrics)
    return rb.to_pandas()
