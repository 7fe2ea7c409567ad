"""The Spark plan: extraction over a corpus DataFrame, with mega-doc salting.

Architecture (SURVEY.md §3.4) — designed for 10^12 docs / 1000 executors, tested on
local[N]:

  * **Normal docs** (≈all of them): ``mapInArrow`` straight over the scanned rows —
    ZERO shuffles; one JVM→Python Arrow boundary; Catalyst keeps the scan pruned to
    (doc_id, spans).
  * **Mega docs** (the skew tail, size(spans) > salt_threshold): the reference has
    no answer for these (it capped pages at 2000 and sharded per-container,
    main.py:167-170 / load_balancer.py); here one ``mapInArrow`` pass over the whole
    docs tags each with its routing (the doc-level searchable classifier,
    main.py:57-66), each is exploded to per-span rows, rows are round-robin
    repartitioned across the cluster (this IS the salting — one doc's pages land
    on many executors), extracted chunk-wise, and reassembled with
    groupBy(doc_id) + array_sort, sealing the final reading-order offsets.
    Shuffles touch only the mega tail, never the main corpus.

The two sub-plans union to one DataFrame with EXTRACTED_SCHEMA. Plan audit:
only MapInArrow Python nodes — never BatchEvalPython (north rule).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .extract import (
    SEARCHABLE_THRESHOLD,
    _explode_spans,
    _prepare_worker,
    extract_chunk_map_in_arrow,
    extract_map_in_arrow,
)
from .kernels.pdf_text import payload_stripped_lengths
from .schema import (
    CHUNK_OUT_SCHEMA,
    EXTRACTED_SCHEMA,
    KIND_CHUNK_MARKER,
    KIND_ERROR,
    KIND_PDF_CHARS,
)

DEFAULT_SALT_THRESHOLD = 256  # spans per doc above which a doc is salted


def _route_mega_docs(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow over whole mega docs: (doc_id, spans) in, (doc_id, spans,
    route) out, ``spans`` passed through untouched. The doc-level searchable
    classifier (main.py:57-66) runs here because a salted chunk cannot see the
    sibling pages that decide it: route = 'text' iff ANY pdf_chars page's
    stripped text is longer than SEARCHABLE_THRESHOLD, else 'ocr' (docs with
    no pdf_chars page, NULL payloads and malformed ones, length -1, included)."""
    _prepare_worker()
    for batch in batches:
        spans = batch.column("spans")
        doc, _, f = _explode_spans(spans)
        kind, text = f["kind"], f["text"]
        # NULL payloads are left out: decode_pdf_core takes strings only
        is_pdf = pc.fill_null(pc.and_(pc.equal(kind, KIND_PDF_CHARS), pc.is_valid(text)), False)
        plens = payload_stripped_lengths(
            pd.Series(pc.filter(text, is_pdf).to_numpy(zero_copy_only=False))
        ).to_numpy()
        pdf_doc = doc[is_pdf.to_numpy(zero_copy_only=False)]
        searchable = np.zeros(len(spans), dtype=bool)
        searchable[pdf_doc[plens > SEARCHABLE_THRESHOLD]] = True
        route = pa.array(np.where(searchable, "text", "ocr"), pa.string())
        yield pa.RecordBatch.from_arrays(
            [batch.column("doc_id"), spans, route], names=["doc_id", "spans", "route"]
        )


def _extract_salted(mega: DataFrame, salted_parallelism: int | None) -> DataFrame:
    """Mega-doc path: classify → explode → spread → chunk-extract → reassemble."""
    routed_schema = T.StructType(mega.schema.fields + [T.StructField("route", T.StringType())])
    routed = mega.mapInArrow(_route_mega_docs, routed_schema).select(
        "doc_id",
        F.posexplode("spans").alias("pos", "s"),
        "route",
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").cast("long").alias("offset"),
        "route",
    )

    # salting: round-robin spread of one doc's spans across the cluster
    chunks = routed.repartition(salted_parallelism) if salted_parallelism else routed.repartition(
        int(mega.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    )
    chunk_out = chunks.mapInArrow(extract_chunk_map_in_arrow, CHUNK_OUT_SCHEMA)

    # reassembly: the ONLY shuffle that touches extraction output, and only for the
    # mega tail. Marker rows (one per doc per chunk) carry input-byte counts and
    # guarantee zero-span docs still appear — no extra joins or aggregations.
    # array_sort orders lexicographically on (in_off, pos, seq) — unique per doc,
    # so nullable fields never get compared; markers (in_off=2^62) sort last.
    assembled = chunk_out.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("in_off", "pos", "seq", "kind", "text", "media_ref"))
        ).alias("arr"),
        F.sum("bytes_in").alias("bytes_in"),
    )
    real = F.filter("arr", lambda s: s["kind"] != F.lit(KIND_CHUNK_MARKER))
    # DOC-level sentinels only (in_off == -1): page-scoped error spans
    # (kind='error' at a real page offset, r4 VERDICT #3) are DATA — they must
    # not promote the whole doc to a sentinel, matching main.py:361-372
    has_err = F.exists(
        "arr",
        lambda s: (s["kind"] == F.lit(KIND_ERROR)) & (s["in_off"] == F.lit(-1)),
    )
    spans_ok = F.transform(
        real,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    sentinel = F.array(
        F.struct(
            F.lit(KIND_ERROR).alias("kind"),
            F.concat(F.lit("[Error processing doc "), F.col("doc_id"), F.lit("]")).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).cast("int").alias("offset"),
        )
    )

    out = assembled.select(
        "doc_id",
        F.when(has_err, sentinel).otherwise(spans_ok).alias("spans"),
        has_err.alias("parse_failed"),
        F.col("bytes_in").cast("long").alias("bytes_in"),
    ).select(
        "doc_id",
        "spans",
        F.size("spans").cast("long").alias("n_spans"),
        "parse_failed",
        "bytes_in",
    )
    return out


def extract_corpus(
    corpus: DataFrame,
    *,
    salt_threshold: int = DEFAULT_SALT_THRESHOLD,
    salted_parallelism: int | None = None,
    size_col: str | None = None,
) -> DataFrame:
    """corpus (doc_id, spans) → EXTRACTED_SCHEMA (doc_id, spans, n_spans,
    parse_failed, bytes_in). Normal docs shuffle-free; skewed mega-docs salted.

    ``size_col`` names an OPTIONAL precomputed span-count column (see
    write_corpus_parquet) used for the normal/mega routing predicate instead of
    ``size(spans)``. The difference matters at scale: ``size(spans)`` cannot
    reach the parquet reader, so the mega branch and its routing sub-plan
    re-decode the ENTIRE corpus to find the skew tail; a plain int column
    pushes down (PushedFilters) and prunes via row-group statistics, so the
    mega-side scans touch only the row groups that actually contain mega docs
    — the standard stats-column skew-routing pattern for 100 TB tables."""
    size_expr = F.col(size_col) if size_col else F.size("spans")
    # NULL routing (r4 ADVICE): with size_col set, a NULL stats value fails BOTH
    # branch predicates (NULL <= x and NULL > x are both NULL) and the doc would
    # silently vanish — data loss, not a sentinel. Externally written corpora
    # may carry NULLs; route them to the normal branch explicitly (worst case a
    # mega doc goes unsalted — a perf degrade, never loss). IsNull ORs with the
    # comparison and still pushes down to the parquet reader.
    normal_pred = (size_expr <= F.lit(salt_threshold)) | size_expr.isNull()
    normal = corpus.filter(normal_pred).select("doc_id", "spans")
    mega = corpus.filter(size_expr > F.lit(salt_threshold)).select("doc_id", "spans")
    out_normal = normal.mapInArrow(extract_map_in_arrow, EXTRACTED_SCHEMA)
    out_mega = _extract_salted(mega, salted_parallelism)
    return out_normal.unionByName(out_mega)


def extract_corpus_direct(corpus: DataFrame) -> DataFrame:
    """Normal-path-only extraction (one mapInArrow pass, zero shuffles) for
    corpora whose per-doc span count is STRUCTURALLY bounded far below
    DEFAULT_SALT_THRESHOLD — the query-layer synthesized corpora: one span
    per doc (documents_to_corpus, html wrap) or one per PDF page/figure
    (pdf_binary_to_corpus over the ≤3-page serialized variants). For such
    inputs this is value-identical to :func:`extract_corpus` (the mega
    branch's ``size(spans) > threshold`` filter is provably empty), but the
    plan reads the corpus ONCE — extract_corpus's two branch filters scan it
    twice, which forced every caller to persist() a corpus whose synthesis
    is itself an expensive mapInArrow (guide §2.4: remove the second pass
    instead of caching around it). General/unbounded corpora must keep using
    extract_corpus, which salts the skew tail."""
    return corpus.mapInArrow(extract_map_in_arrow, EXTRACTED_SCHEMA)


def extraction_sums(extracted: DataFrame, *keys: str) -> list[tuple]:
    """The one metrics rollup of an EXTRACTED_SCHEMA frame (the checkpointed
    batch job and the streaming job both use it): per group of ``keys``, the
    tuple ``(*key values, docs, spans, parse_failures, bytes)``, collected.
    With no keys it is one tuple over the whole frame, zeros when empty."""
    return [tuple(r) for r in extracted.groupBy(*keys).agg(
        F.count("*"),
        F.coalesce(F.sum("n_spans"), F.lit(0)),
        F.coalesce(F.sum(F.col("parse_failed").cast("long")), F.lit(0)),
        F.coalesce(F.sum("bytes_in"), F.lit(0)),
    ).collect()]


def assert_no_per_row_python(df: DataFrame) -> None:
    """North-rule audit: the physical plan must not contain BatchEvalPython
    (row-at-a-time Python UDF). Allowed: PythonMapInArrow, ArrowEvalPython,
    FlatMapGroupsInPandas."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "BatchEvalPython" in plan:
        raise AssertionError("per-row Python (BatchEvalPython) found in plan:\n" + plan)


def default_session(app: str = "pdf-extract-sys-spark", master: str | None = None,
                    shuffle_partitions: int | None = None,
                    extra_conf: dict | None = None) -> SparkSession:
    b = SparkSession.builder.appName(app)
    if master:
        b = b.master(master)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    b = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return b.getOrCreate()
