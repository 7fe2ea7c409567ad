"""Explicit schemas for every table the engine touches.

The reference keeps all schemas implicit in dict literals
(``backend/app/main.py:466-470`` span dicts, ``main.py:47-54`` JobStatus); here every
schema is an explicit StructType, enforced at read and write (SURVEY.md §1.2).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Corpus (input AND output) — fixed by BASELINE.json `input_hint`.
# Output spans carry kind ∈ {text, media, error}; offset = 0-based reading order;
# media_ref non-null iff kind='media'.
# ---------------------------------------------------------------------------

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), nullable=False),
        T.StructField("text", T.StringType(), nullable=True),
        T.StructField("media_ref", T.StringType(), nullable=True),
        T.StructField("offset", T.IntegerType(), nullable=False),
    ]
)

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), nullable=False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), nullable=False),
    ]
)

# Arrow twin of the corpus schema — mapInArrow works in pyarrow types.
SPAN_ARROW = pa.struct(
    [
        pa.field("kind", pa.string(), nullable=False),
        pa.field("text", pa.string(), nullable=True),
        pa.field("media_ref", pa.string(), nullable=True),
        pa.field("offset", pa.int32(), nullable=False),
    ]
)

CORPUS_ARROW = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("spans", pa.list_(SPAN_ARROW), nullable=False),
    ]
)

# Internal UDF output: corpus columns + per-doc metrics, aggregated per partition
# afterwards (SURVEY.md §2 C1/K1 — metrics derive from data, not accumulators).
EXTRACTED_ARROW = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("spans", pa.list_(SPAN_ARROW), nullable=False),
        pa.field("n_spans", pa.int64(), nullable=False),
        pa.field("parse_failed", pa.bool_(), nullable=False),
        pa.field("bytes_in", pa.int64(), nullable=False),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), nullable=False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), nullable=False),
        T.StructField("n_spans", T.LongType(), nullable=False),
        T.StructField("parse_failed", T.BooleanType(), nullable=False),
        T.StructField("bytes_in", T.LongType(), nullable=False),
    ]
)

# ---------------------------------------------------------------------------
# Checkpoint table — replaces the reference's Redis JobStatus record
# (``main.py:47-54, 94-125``): one row per (run_id, partition_id) attempt;
# latest row wins (append-only log ⇒ idempotent MERGE semantics on parquet,
# true MERGE INTO when the Iceberg catalog is configured).
# ---------------------------------------------------------------------------

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), nullable=False),
        T.StructField("partition_id", T.IntegerType(), nullable=False),
        T.StructField("status", T.StringType(), nullable=False),  # completed|failed
        T.StructField("docs_done", T.LongType(), nullable=False),
        T.StructField("spans_emitted", T.LongType(), nullable=False),
        T.StructField("parse_failures", T.LongType(), nullable=False),
        T.StructField("bytes_processed", T.LongType(), nullable=False),
        T.StructField("input_path", T.StringType(), nullable=True),  # lineage
        T.StructField("updated_at", T.TimestampType(), nullable=False),
    ]
)

# Output span kinds. needs_ocr (r3 VERDICT #6) marks an image-only PDF page
# that reached extraction without a text representation: the documented
# raster/OCR boundary made VISIBLE in the data — a real OCR stage's work-list
# is exactly `WHERE kind = 'needs_ocr'` (media_ref names the page).
KIND_TEXT = "text"
KIND_MEDIA = "media"
KIND_ERROR = "error"
KIND_NEEDS_OCR = "needs_ocr"

# Input span kinds (FIXTURES.md payload encodings). media and needs_ocr pass
# through extraction unchanged (both are refs, not payloads). page_error
# (r4 VERDICT #3) is a PAGE-scoped decode failure from a binary source
# (pdf_binary_to_corpus): extraction emits the reference's
# '[Error processing page N]' span for it (main.py:361-372) while the doc's
# other pages extract normally — page granularity, never whole-doc loss.
KIND_PDF_CHARS = "pdf_chars"
KIND_OCR_WORDS = "ocr_words"
KIND_HTML = "html"
KIND_PAGE_ERROR = "page_error"
INPUT_KINDS = {
    KIND_PDF_CHARS, KIND_OCR_WORDS, KIND_HTML, KIND_MEDIA, KIND_NEEDS_OCR,
    KIND_PAGE_ERROR,
}
