"""Fixture-golden equality at the pandas (kernel-orchestration) level — every
FIXTURES.md case F01-F18 plus extras, against the frozen goldens AND a handful of
fully hand-written expectations (guarding against a shared oracle/kernel bug)."""

from __future__ import annotations

import pytest
from conftest import extract_rows, golden_tuples
from fixtures_def import fixture_docs


def run_pandas(docs: list[dict]) -> dict[str, list[tuple]]:
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in extract_rows(docs)
    }


@pytest.fixture(scope="module")
def results() -> dict[str, list[tuple]]:
    return run_pandas(fixture_docs())


@pytest.mark.parametrize("case", [d["doc_id"] for d in fixture_docs()])
def test_fixture_case(case: str, results, goldens):
    assert results[case] == golden_tuples(goldens[case]), f"span mismatch for {case}"


# -- independent hand-written expectations (not oracle-derived) --------------------

FILLER_SPAN = ("text", "This filler sentence makes the document searchable indeed.", None)


def test_f01_hand(results):
    assert results["F01"] == [
        ("text", "Hello world.", None, 0),
        ("text", "Bye!", None, 1),
        (*FILLER_SPAN, 2),
    ]


def test_f02_decimal_hand(results):
    assert results["F02"][0] == ("text", "Pi is 3.14 exactly.", None, 0)


def test_f05_url_hand(results):
    assert results["F05"][0] == ("text", "visit www.example.org now.", None, 0)


def test_f06_hard_breaks_hand(results):
    # ￾ is an ender but NOT whitespace: it stays in the emitted text
    assert [s[1] for s in results["F06"][:3]] == ["Line one", "Line two￾", "Line three"]


def test_f12_ocr_hand(results):
    assert results["F12"] == [("text", "Hello world.", None, 0)]


def test_f13_ocr_breaks_hand(results):
    # break after "two." (ender), after "three" (conf 45<50), line change 1→2 is
    # then absorbed by the conf break; trailing "four five" flushed
    assert [s[1] for s in results["F13"]] == ["one two.", "three", "four five"]


def test_f15_blank_page_hand(results):
    assert results["F15"] == []


def test_f16_html_hand(results):
    assert results["F16"] == [
        ("text", "This paragraph is long and dense enough to be kept as main content.", None, 0),
        ("media", None, "m1", 1),
        ("text", "The second paragraph also carries plenty of real sentence text.", None, 2),
    ]


def test_f17_media_interleave_hand(results):
    kinds = [s[0] for s in results["F17"]]
    assert kinds == ["text", "text", "media", "text", "text"]
    assert results["F17"][2] == ("media", "figure one", "fig-1", 2)


def test_f18_sentinel_hand(results):
    assert results["F18"] == [("error", "[Error processing doc F18]", None, 0)]


def test_x03_empty_doc(results):
    assert results["X03"] == []


def test_x04_ocr_routing(results):
    # sparse text layer (4 chars < 50) routes the doc to OCR rules
    assert results["X04"] == [("text", "Scanned text.", None, 0)]


def test_offsets_dense_and_ordered(results):
    for case, spans in results.items():
        assert [s[3] for s in spans] == list(range(len(spans))), case
