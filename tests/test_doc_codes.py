"""Docs are keyed by their row in the Arrow batch (the integer doc code), never
by the doc_id string: a repeated doc_id is two independent docs, one poison doc
is isolated by bisecting the codes, and two html spans sharing an offset stay
two payloads."""

from __future__ import annotations

import math

from conftest import extract_rows
from oracle import oracle_extract_doc

from pdf_extract_sys_spark import corpus as C
from pdf_extract_sys_spark import extract


def test_repeated_doc_id_in_one_batch_is_two_independent_docs():
    for d in C.generate_corpus(3, seed=1).to_dict("records"):
        (alone,) = extract_rows([d])
        twice = extract_rows([d, d])
        assert len(twice) == 2
        for row in twice:
            assert row["spans"] == alone["spans"], d["doc_id"]
            assert row["n_spans"] == alone["n_spans"] == len(alone["spans"])


def _poison_doc(doc_id: str) -> dict:
    """A pdf_chars record with hex d800: it passes the record regex, then the
    UTF-32 decode raises inside the kernel."""
    chars, boxes = C.layout_text("A poison page. It decodes to a lone surrogate.")
    chars[5] = "\ud800"
    payload = C.encode_pdf_page(chars, boxes)
    return {"doc_id": doc_id, "spans": [C.span("pdf_chars", payload, None, 0)]}


def test_poison_doc_isolation_costs_log_calls(monkeypatch):
    pool = C.generate_corpus(120, seed=4).to_dict("records")
    alone = {}
    for d in pool:
        (row,) = extract_rows([d])
        if not row["parse_failed"]:
            alone[d["doc_id"]] = row
    clean = [d for d in pool if d["doc_id"] in alone][:63]
    assert len(clean) == 63
    docs = clean[:37] + [_poison_doc("poison")] + clean[37:]

    calls = []
    real = extract.extract_docs

    def counting(*args, **kw):
        calls.append(len(args[1]))
        return real(*args, **kw)

    monkeypatch.setattr(extract, "extract_docs", counting)
    rows = extract_rows(docs)
    assert 1 < len(calls) <= 2 * math.ceil(math.log2(64)) + 1, calls

    assert [r["doc_id"] for r in rows] == [d["doc_id"] for d in docs]
    sentinels = [r for r in rows if any(s["kind"] == "error" and s["offset"] == 0
                                        and s["text"].startswith("[Error processing doc ")
                                        for s in r["spans"])]
    assert [r["doc_id"] for r in sentinels] == ["poison"]
    assert sentinels[0]["spans"] == [{"kind": "error", "text": "[Error processing doc poison]",
                                      "media_ref": None, "offset": 0}]
    assert sentinels[0]["parse_failed"] and sentinels[0]["n_spans"] == 1
    for r in rows:
        if r["doc_id"] != "poison":
            assert r == alone[r["doc_id"]], r["doc_id"]


def test_html_spans_sharing_an_offset_stay_per_payload():
    p1 = "<p>The first payload has one long enough paragraph of text.</p>" \
         "<p>And the first payload has a second paragraph as well here.</p>"
    p2 = "<p>The second payload comes after the whole first payload.</p>"
    spans = [C.span("html", p1, None, 0), C.span("html", p2, None, 0)]
    (row,) = extract_rows([{"doc_id": "h", "spans": spans}])
    got = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]
    assert got == [(s["kind"], s["text"], s["media_ref"], s["offset"])
                   for s in oracle_extract_doc("h", spans)]
    assert [t for _, t, _, _ in got] == [
        "The first payload has one long enough paragraph of text.",
        "And the first payload has a second paragraph as well here.",
        "The second payload comes after the whole first payload.",
    ]
