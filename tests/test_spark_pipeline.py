"""Spark-level properties (FIXTURES.md F19/F20, SURVEY.md §5.3):
  (a) e2e golden equality through the full pipeline,
  (b) salt invariance — salted mega-doc execution byte-identical to unsalted,
  (c) idempotent resume — crash after k partitions, resume, equals single run,
  (d) plan audit — no per-row Python anywhere,
  (e) checkpoint lineage metrics match the data."""

from __future__ import annotations

import os
import uuid

import pandas as pd
import pytest
from pyspark.sql import types as T
from conftest import assert_no_per_row_python, golden_tuples, rows_to_tuples
from fixtures_def import FILLER, fixture_docs

from pdf_extract_sys_spark import corpus as C
from pdf_extract_sys_spark.checkpoint import run_extraction, with_partition_id
from pdf_extract_sys_spark.pipeline import extract_corpus
from pdf_extract_sys_spark.schema import CORPUS_SCHEMA, SPAN_STRUCT

# CORPUS_SCHEMA with a nullable span offset: ROUTING_DOCS holds NULL offsets
NULL_OFFSET_SCHEMA = T.StructType([
    CORPUS_SCHEMA["doc_id"],
    T.StructField("spans", T.ArrayType(T.StructType(
        [*SPAN_STRUCT.fields[:3], T.StructField("offset", T.IntegerType())]))),
])


def make_input(spark, tmp_path, docs: pd.DataFrame, name="corpus", schema=CORPUS_SCHEMA) -> str:
    path = str(tmp_path / name)
    spark.createDataFrame(docs.to_dict("records"), schema=schema).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def collect_spans(df) -> dict[str, list[tuple]]:
    return {r["doc_id"]: rows_to_tuples(r["spans"]) for r in df.select("doc_id", "spans").collect()}


@pytest.fixture(scope="module")
def small_corpus() -> pd.DataFrame:
    fx = pd.DataFrame(fixture_docs())
    # MUST match tests/make_goldens.py exactly (same seed ⇒ same docs)
    rnd = C.generate_corpus(120, seed=42, mega_doc_every=40, mega_doc_pages=24)
    return pd.concat([fx, rnd], ignore_index=True)


def test_e2e_golden_equality(spark, tmp_path, small_corpus, goldens, goldens_seed42):
    path = make_input(spark, tmp_path, small_corpus)
    out = extract_corpus(spark.read.parquet(path))
    assert_no_per_row_python(out)
    got = collect_spans(out)
    gold = {**goldens, **goldens_seed42}
    assert len(got) == len(small_corpus)
    for did, spans in got.items():
        assert spans == golden_tuples(gold[did]), did


def _ocr_page(word: str) -> str:
    return C.encode_ocr_page([(word, 90, 10, 20, 60, 12, 1, 1)])


def _pdf(text: str, offset: int | None) -> dict:
    return C.span("pdf_chars", C.encode_pdf_text(text), None, offset)


# multi-page docs whose doc-level routing a single salted slice cannot decide,
# and docs whose reading order or failure a slice cut could get wrong
ROUTING_DOCS = pd.DataFrame(
    [
        # the only searchable pdf_chars page is the doc's last span: 'text'
        # wins, so the OCR page is dropped
        {"doc_id": "R01", "spans": [
            *(C.span("pdf_chars", C.encode_pdf_text(f"Short page {i}."), None, i)
              for i in range(4)),
            C.span("ocr_words", _ocr_page("Ignored."), None, 4),
            C.span("pdf_chars", C.encode_pdf_text(FILLER), None, 5),
        ]},
        # only ocr_words spans: 'ocr'
        {"doc_id": "R02", "spans": [
            C.span("ocr_words", _ocr_page(f"Scanned{i}."), None, i) for i in range(4)
        ]},
        # a pdf_chars span with NULL text beside a searchable page: a sentinel
        {"doc_id": "R03", "spans": [
            C.span("pdf_chars", C.encode_pdf_text(FILLER), None, 0),
            C.span("pdf_chars", None, None, 1),
            C.span("ocr_words", _ocr_page("Scanned."), None, 2),
        ]},
        # a page header in Arabic-Indic digits (valid to the header regex, as
        # in the reference): the router must classify it, not raise
        {"doc_id": "R04", "spans": [
            C.span("pdf_chars", "PAGE\t٦١٢\t٧٩٢" + C.encode_pdf_text(FILLER)[len("PAGE\t612\t792"):],
                   None, 0),
            C.span("ocr_words", _ocr_page("Scanned."), None, 1),
        ]},
        # spans stored out of offset order
        {"doc_id": "R05", "spans": [
            _pdf("Page three comes last.", 3), _pdf(FILLER, 0),
            C.span("html", "<p>The html page sits at offset two of this doc.</p>", None, 2),
            _pdf("Page one follows the filler.", 1),
        ]},
        # equal offsets: with 2 slices, the offset-1 pages straddle the cut
        {"doc_id": "R06", "spans": [
            _pdf(FILLER, 0), _pdf("First page at one.", 1), _pdf("Second page at one.", 1),
            C.span("html", "<p>An html page also sits at offset one here.</p>", None, 1),
        ]},
        # NULL offsets read as 0, tied by array position
        {"doc_id": "R07", "spans": [
            _pdf(FILLER, 2), _pdf("A page with no offset.", None),
            C.span("media", None, "img:R07", None), _pdf("The page at one.", 1),
        ]},
        # page_error and html spans beside pdf pages: page-scoped, not a sentinel
        {"doc_id": "R08", "spans": [
            _pdf(FILLER, 0), C.span("page_error", None, "page:1", 1),
            C.span("html", "<p>The html page comes after the broken page.</p>", None, 2),
            _pdf("The last pdf page.", 3),
        ]},
        # the only doc-level failure (an unknown kind) is last in reading order
        {"doc_id": "R09", "spans": [
            C.span("bogus", "?", None, 5), _pdf(FILLER, 0),
            *(_pdf(f"Page {i} reads fine.", i) for i in range(1, 5)),
        ]},
    ]
)


def test_salt_invariance(spark, tmp_path, small_corpus):
    """F19: forcing every doc through the salted path yields byte-identical output,
    including when the salt spreads each doc over at least as many slices as it
    has spans, so the slices hold single pages of it, and when it cuts each doc
    into one or two slices."""
    docs = pd.concat([small_corpus, ROUTING_DOCS], ignore_index=True)
    path = make_input(spark, tmp_path, docs, schema=NULL_OFFSET_SCHEMA)
    src = spark.read.parquet(path)
    unsalted = collect_spans(extract_corpus(src, salt_threshold=10**9))
    assert unsalted["R01"][-1][0] == "text" and unsalted["R02"][0][0] == "text"
    assert unsalted["R03"] == [("error", "[Error processing doc R03]", None, 0)]
    assert unsalted["R04"] and all(s[0] == "text" for s in unsalted["R04"])
    assert unsalted["R05"][-1][1] == "Page three comes last."
    assert [s[1] for s in unsalted["R07"][:2]] == ["A page with no offset.", None]
    assert ("error", "[Error processing page 1]", "page:1", 1) in unsalted["R08"]
    assert unsalted["R09"] == [("error", "[Error processing doc R09]", None, 0)]
    widest = int(docs["spans"].str.len().max())
    for parallelism in (7, widest, 1, 2):
        salted = collect_spans(
            extract_corpus(src, salt_threshold=0, salted_parallelism=parallelism)
        )
        assert salted == unsalted, parallelism
    mixed = collect_spans(extract_corpus(src, salt_threshold=6))
    assert mixed == unsalted


def test_salted_metrics_match_unsalted(spark, tmp_path, small_corpus):
    docs = pd.concat([small_corpus, ROUTING_DOCS], ignore_index=True)
    path = make_input(spark, tmp_path, docs, schema=NULL_OFFSET_SCHEMA)
    src = spark.read.parquet(path)
    a = {
        r["doc_id"]: (r["n_spans"], r["parse_failed"], r["bytes_in"])
        for r in extract_corpus(src, salt_threshold=10**9).collect()
    }
    b = {
        r["doc_id"]: (r["n_spans"], r["parse_failed"], r["bytes_in"])
        for r in extract_corpus(src, salt_threshold=0).collect()
    }
    assert a == b


@pytest.mark.parametrize("kw", [dict(salt_threshold=-1), dict(salted_parallelism=0)])
def test_extract_corpus_refuses_bad_salting(spark, tmp_path, kw):
    """A negative threshold would send zero-span docs down the salted path,
    where they vanish; a parallelism below 1 cannot spread anything."""
    path = make_input(spark, tmp_path, pd.DataFrame(
        [{"doc_id": "empty", "spans": []},
         {"doc_id": "one", "spans": [C.span("pdf_chars", C.encode_pdf_text(FILLER), None, 0)]}]
    ), name="tiny")
    with pytest.raises(ValueError):
        extract_corpus(spark.read.parquet(path), **kw)


def test_idempotent_resume(spark, tmp_path, small_corpus):
    """F20: run partitions {subset}, 'crash', resume; final output equals a single
    uninterrupted run, with no duplicate docs."""
    path = make_input(spark, tmp_path, small_corpus)
    run = f"r-{uuid.uuid4().hex[:8]}"
    out_a = str(tmp_path / "out_a")
    cp_a = str(tmp_path / "cp_a")

    # partial run: only even partitions
    s1 = run_extraction(
        spark, run_id=run, input_path=path, output_path=out_a, checkpoint_path=cp_a,
        num_partitions=8, process_only=[0, 2, 4, 6],
    )
    assert s1.partitions_pending <= 4
    # resume: everything else
    s2 = run_extraction(
        spark, run_id=run, input_path=path, output_path=out_a, checkpoint_path=cp_a,
        num_partitions=8,
    )
    # a third run is a no-op
    s3 = run_extraction(
        spark, run_id=run, input_path=path, output_path=out_a, checkpoint_path=cp_a,
        num_partitions=8,
    )
    assert s3.partitions_pending == 0 and s3.docs_done == 0

    # single uninterrupted run
    out_b = str(tmp_path / "out_b")
    cp_b = str(tmp_path / "cp_b")
    run_extraction(
        spark, run_id=run, input_path=path, output_path=out_b, checkpoint_path=cp_b,
        num_partitions=8,
    )

    a = collect_spans(spark.read.parquet(out_a))
    b = collect_spans(spark.read.parquet(out_b))
    assert a == b
    assert len(a) == len(small_corpus)  # no dupes, no missing
    n_rows = spark.read.parquet(out_a).count()
    assert n_rows == len(small_corpus)


def test_empty_partitions_complete_in_one_call(spark, tmp_path, small_corpus):
    """Pending partitions come from range(P) minus the checkpoint rows, not from
    the docs: with fewer docs than partitions one call completes all of them,
    the empty ones with zero-count rows. process_only ids outside the range are
    ignored."""
    path = make_input(spark, tmp_path, small_corpus.head(3), name="tiny")
    kw = dict(run_id=f"r-{uuid.uuid4().hex[:8]}", input_path=path,
              output_path=str(tmp_path / "out_t"), checkpoint_path=str(tmp_path / "cp_t"),
              num_partitions=16)
    s0 = run_extraction(spark, **kw, process_only=[16, 99])
    assert (s0.partitions_pending, s0.partitions_done) == (0, 0)
    s = run_extraction(spark, **kw)
    assert (s.partitions_pending, s.partitions_done, s.docs_done) == (16, 16, 3)
    cp = spark.read.parquet(kw["checkpoint_path"]).toPandas()
    assert sorted(cp["partition_id"]) == list(range(16))
    assert (cp["status"] == "completed").all() and cp["docs_done"].sum() == 3
    empty = cp[cp["docs_done"] == 0]
    assert len(empty) >= 13
    assert (empty[["spans_emitted", "parse_failures", "bytes_processed"]] == 0).all().all()
    s2 = run_extraction(spark, **kw)
    assert (s2.partitions_pending, s2.partitions_done, s2.docs_done) == (0, 16, 0)


def test_no_op_call_does_not_read_input(spark, tmp_path, small_corpus):
    """A call with nothing pending is planned from the checkpoint table alone:
    it succeeds even when the input is gone."""
    path = make_input(spark, tmp_path, small_corpus.head(20), name="noop_in")
    kw = dict(run_id=f"r-{uuid.uuid4().hex[:8]}", input_path=path,
              output_path=str(tmp_path / "out_n"), checkpoint_path=str(tmp_path / "cp_n"),
              num_partitions=8)
    assert run_extraction(spark, **kw).docs_done == 20
    os.rename(path, path + "_moved")
    s = run_extraction(spark, **kw)
    assert (s.partitions_pending, s.partitions_done, s.docs_done) == (0, 8, 0)


def test_rerun_overwrites_partial_partition(spark, tmp_path, small_corpus):
    """A partition written but NOT checkpointed (crash between the two steps) is
    re-run and overwritten — dynamic partition overwrite keeps it duplicate-free."""
    path = make_input(spark, tmp_path, small_corpus)
    run = f"r-{uuid.uuid4().hex[:8]}"
    out = str(tmp_path / "out_c")
    cp = str(tmp_path / "cp_c")

    # simulate orphaned output: write partition 1's output manually, no checkpoint
    src = with_partition_id(spark.read.parquet(path), 8).filter("partition_id = 1")
    orphan = extract_corpus(src.select("doc_id", "spans"))
    (
        with_partition_id(orphan, 8)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("partition_id")
        .parquet(out)
    )
    # full run resumes from empty checkpoint → must reprocess partition 1 cleanly
    run_extraction(
        spark, run_id=run, input_path=path, output_path=out, checkpoint_path=cp,
        num_partitions=8,
    )
    assert spark.read.parquet(out).count() == len(small_corpus)


def test_checkpoint_metrics_lineage(spark, tmp_path, small_corpus):
    path = make_input(spark, tmp_path, small_corpus)
    run = f"r-{uuid.uuid4().hex[:8]}"
    out = str(tmp_path / "out_m")
    cp = str(tmp_path / "cp_m")
    s = run_extraction(
        spark, run_id=run, input_path=path, output_path=out, checkpoint_path=cp,
        num_partitions=8,
    )
    cpdf = spark.read.parquet(cp).toPandas()
    assert set(cpdf["run_id"]) == {run}
    assert set(cpdf["input_path"]) == {path}
    assert cpdf["docs_done"].sum() == len(small_corpus) == s.docs_done
    written = spark.read.parquet(out).toPandas()
    assert cpdf["spans_emitted"].sum() == written["n_spans"].sum() == s.spans_emitted
    assert cpdf["parse_failures"].sum() == written["parse_failed"].sum() == s.parse_failures
    assert cpdf["bytes_processed"].sum() == written["bytes_in"].sum() == s.bytes_processed
    # parse_failures equals the number of error-sentinel docs in the data
    n_err = sum(
        1 for r in spark.read.parquet(out).select("spans").collect()
        if any(s_["kind"] == "error" for s_ in r["spans"])
    )
    assert s.parse_failures == n_err


def test_page_error_spans_survive_salting_without_doc_sentinel(spark, tmp_path):
    """A page_error input span (r4 VERDICT #3) must come out as a page-scoped
    '[Error processing page N]' span — IDENTICALLY on the normal and the
    salted path — and must NOT mark the doc parse_failed or promote it to the
    doc-level sentinel (only a doc-level failure does that)."""
    payload = "PAGE\t612\t792\n" + "\n".join(
        f"{ord(c):08x}\t{10 + 7 * i}\t760\t{17 + 7 * i}\t772"
        for i, c in enumerate(
            "A perfectly ordinary sentence long enough to clear the gate."
        )
    )
    docs = pd.DataFrame(
        {
            "doc_id": ["pe1"],
            "spans": [
                [
                    {"kind": "pdf_chars", "text": payload, "media_ref": None,
                     "offset": 0},
                    {"kind": "page_error", "text": None, "media_ref": "page:1",
                     "offset": 1},
                ]
            ],
        }
    )
    path = make_input(spark, tmp_path, docs, name="page_err")
    src = spark.read.parquet(path)
    normal = extract_corpus(src, salt_threshold=10**9)
    salted = extract_corpus(src, salt_threshold=0, salted_parallelism=3)
    rows_n = normal.collect()
    rows_s = salted.collect()
    for rows in (rows_n, rows_s):
        (r,) = rows
        kinds = [s["kind"] for s in r["spans"]]
        assert kinds[-1] == "error"
        assert r["spans"][-1]["text"] == "[Error processing page 1]"
        assert kinds[0] == "text"  # page 0 extracted normally
        assert not r["parse_failed"]
    assert collect_spans(normal) == collect_spans(salted)
