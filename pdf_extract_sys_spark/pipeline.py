"""The Spark plan: extraction over a corpus DataFrame, with mega-doc salting.

Architecture (SURVEY.md §3.4) — designed for 10^12 docs / 1000 executors, tested on
local[N]:

  * **Normal docs** (≈all of them): ``mapInArrow`` straight over the scanned rows —
    ZERO shuffles; one JVM→Python Arrow boundary; Catalyst keeps the scan pruned to
    (doc_id, spans).
  * **Mega docs** (the skew tail, size(spans) > salt_threshold): the reference has
    no answer for these (it capped pages at 2000 and sharded per-container,
    main.py:167-170 / load_balancer.py); here one ``mapInArrow`` pass over the whole
    docs decides each doc's routing (the doc-level searchable classifier,
    main.py:57-66) and cuts its spans, in reading order, into contiguous slices;
    the slice rows are round-robin repartitioned across the cluster (this IS
    the salting — one doc's slices land on many executors), extracted by
    ``extract_map_in_arrow`` as ordinary docs, and reassembled with
    groupBy(doc_id): slices in order, offsets renumbered by position, or the
    doc's sentinel when a slice failed. Shuffles touch only the mega tail,
    never the main corpus.

The two sub-plans union to one DataFrame with EXTRACTED_SCHEMA; a plan built
knowing the tail is empty is the normal path alone (see extract_corpus). Plan
audit: only MapInArrow Python nodes — never BatchEvalPython (north rule).
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial, update_wrapper
from urllib.parse import unquote, urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .extract import SEARCHABLE_THRESHOLD, _explode_spans, _prepare_worker, extract_map_in_arrow
from .kernels.pdf_text import payload_stripped_lengths
from .schema import EXTRACTED_SCHEMA, KIND_PDF_CHARS

DEFAULT_SALT_THRESHOLD = 256  # spans per doc above which a doc is salted


def _slice_mega_docs(batches: Iterator[pa.RecordBatch], parts: int) -> Iterator[pa.RecordBatch]:
    """mapInArrow over whole mega docs: (doc_id, spans) in, one row per slice
    (doc_id, slice, spans, route) out. Each doc's spans are put in reading
    order — offset (NULL read as 0, as extract._record_batch_to_rows does),
    then array position — and cut into min(spans, ``parts``) contiguous slices
    of near-equal span counts, numbered in that order. Every doc has at least
    one span (extract_corpus salts only docs over a threshold >= 0).

    route is the doc-level searchable classifier (main.py:57-66), decided here
    because a slice cannot see the sibling pages that decide it: 'text' iff
    ANY pdf_chars page's stripped text is longer than SEARCHABLE_THRESHOLD,
    else 'ocr' (docs with no pdf_chars page, NULL payloads and malformed
    ones, length -1, included)."""
    _prepare_worker()
    for batch in batches:
        spans = batch.column("spans")
        doc, pos, f = _explode_spans(spans)
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

        # the sort keeps each doc's spans where they were, so the span at
        # sorted position j is the one of reading-order rank pos[j] in its doc
        order = np.lexsort((pos, pc.fill_null(f["offset"], 0).to_numpy(), doc))
        n = np.diff(spans.offsets.to_numpy())[doc]
        piece = pos * np.minimum(n, parts) // n
        # a doc boundary is a cut too: a one-slice doc's slice 0 may meet the next doc's
        cut = np.flatnonzero((np.diff(doc, prepend=-1) != 0) | (np.diff(piece, prepend=-1) != 0))
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("doc_id").take(doc[cut]),
                pa.array(piece[cut], pa.int32()),
                pa.ListArray.from_arrays(pa.array(np.append(cut, len(doc)), pa.int32()),
                                         spans.flatten().take(order)),
                route.take(doc[cut]),
            ],
            names=["doc_id", "slice", "spans", "route"],
        )


def _extract_slices(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """extract_map_in_arrow over slice rows, each taken as an ordinary doc;
    every output row keeps its slice number."""
    for batch in batches:
        for out in extract_map_in_arrow(iter([batch])):
            yield out.append_column("slice", batch.column("slice"))


def _extract_salted(mega: DataFrame, salted_parallelism: int | None) -> DataFrame:
    """Mega-doc path: classify and slice → spread → extract → reassemble. The
    reassembly keys on doc_id: the path's input contract is unique doc ids."""
    parts = salted_parallelism or int(
        mega.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    slice_field = T.StructField("slice", T.IntegerType())
    # named after the function, so the plan reads MapInArrow _slice_mega_docs
    slicer = update_wrapper(partial(_slice_mega_docs, parts=parts), _slice_mega_docs)
    sliced = mega.mapInArrow(slicer, T.StructType([
        mega.schema["doc_id"], slice_field, mega.schema["spans"],
        T.StructField("route", T.StringType()),
    ]))
    # salting: round-robin spread of one doc's slices across the cluster
    extracted = sliced.repartition(parts).mapInArrow(
        _extract_slices, T.StructType(EXTRACTED_SCHEMA.fields + [slice_field]))

    # reassembly: the ONLY shuffle that touches extraction output, and only for
    # the mega tail. A failed slice's spans are already the doc's one sentinel
    # span at offset 0 (extract._assemble names the doc_id in it); page-scoped
    # error spans are data and leave parse_failed unset.
    assembled = extracted.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("slice", "parse_failed", "spans"))).alias("parts"),
        F.sum("bytes_in").alias("bytes_in"),
    )
    failed = F.get(F.filter("parts", lambda p: p["parse_failed"]), 0)
    joined = F.transform(F.flatten(F.transform("parts", lambda p: p["spans"])),
                         lambda s, i: s.withField("offset", i))
    out = assembled.select("doc_id", F.coalesce(failed["spans"], joined).alias("spans"),
                           failed.isNotNull().alias("parse_failed"), "bytes_in")
    return out.select("doc_id", "spans", F.size("spans").cast("long").alias("n_spans"),
                      "parse_failed", "bytes_in")


def _stats_max(corpus: DataFrame, col: str) -> int | None:
    """Max of ``col`` over the row-group statistics of ``corpus``'s parquet
    footers, read one by one on the driver (one FileSystem per scheme and host),
    so the cost grows with the file count. None if there are no files (in-memory
    corpus), a statistic is missing or a footer is unreadable (any error)."""
    import pyarrow.parquet as pq
    from pyarrow import fs

    try:
        highs, roots = [], {}
        for uri in corpus.inputFiles():
            u = urlparse(uri)
            if (u.scheme, u.netloc) not in roots:  # root: from_uri's path less the URI's
                fsys, path = fs.FileSystem.from_uri(uri)
                roots[u.scheme, u.netloc] = fsys, path[:len(path) - len(unquote(u.path))]
            fsys, root = roots[u.scheme, u.netloc]
            md = pq.read_metadata(root + unquote(u.path), filesystem=fsys)
            j = [md.schema.column(k).path for k in range(md.num_columns)].index(col)
            stats = [md.row_group(g).column(j).statistics for g in range(md.num_row_groups)]
            highs += [st.max if st is not None and st.has_min_max else None for st in stats]
        return max(highs) if highs and None not in highs else None
    except Exception:
        return None


def extract_corpus(
    corpus: DataFrame,
    *,
    salt_threshold: int = DEFAULT_SALT_THRESHOLD,
    salted_parallelism: int | None = None,
    size_col: str | None = None,
    max_spans: int | None = None,
) -> DataFrame:
    """corpus (doc_id, spans) → EXTRACTED_SCHEMA (doc_id, spans, n_spans,
    parse_failed, bytes_in). Normal docs shuffle-free; skewed mega-docs salted.

    ``size_col`` names an OPTIONAL precomputed span-count column (see
    write_corpus_parquet) routing normal/mega instead of ``size(spans)``; it
    pushes down, so mega-side scans read only row groups that admit a mega doc.
    When the plan is built knowing no doc exceeds ``salt_threshold`` spans — by
    the caller-stated ``max_spans``, else by ``size_col``'s footer statistics
    (_stats_max) — it is the normal path alone: one scan, zero Exchanges.
    Salted ≡ unsalted, so a wrong bound costs time, never output. (Iceberg
    manifest ``upper_bounds`` could stand in for the footers of a table.)

    Raises ValueError unless ``salt_threshold >= 0`` (a negative one would
    salt zero-span docs) and ``salted_parallelism`` is None or >= 1."""
    if not salt_threshold >= 0:
        raise ValueError(f"salt_threshold must be >= 0, got {salt_threshold!r}")
    if salted_parallelism is not None and not salted_parallelism >= 1:
        raise ValueError(f"salted_parallelism must be None or >= 1, got {salted_parallelism!r}")
    if max_spans is None and size_col:
        max_spans = _stats_max(corpus, size_col)
    if max_spans is not None and max_spans <= salt_threshold:
        return corpus.select("doc_id", "spans").mapInArrow(extract_map_in_arrow, EXTRACTED_SCHEMA)
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
