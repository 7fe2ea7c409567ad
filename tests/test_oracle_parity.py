"""Randomized parity: the vectorized kernels must match the pure-Python oracle
transcription on seeded random corpora (multiple seeds, mega-docs, garbage docs)
— span-sequence equality on (kind, text, media_ref, order)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from conftest import extract_rows
from oracle import oracle_extract_doc
from test_fixture_goldens import run_pandas

from pdf_extract_sys_spark import corpus as C


@pytest.mark.parametrize("seed", [1, 2, 3, 11])
def test_random_corpus_matches_oracle(seed: int):
    docs = C.generate_corpus(80, seed=seed, mega_doc_every=29, mega_doc_pages=16).to_dict(
        "records"
    )
    mine = run_pandas(docs)
    for d in docs:
        gold = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in oracle_extract_doc(d["doc_id"], d["spans"])
        ]
        assert mine[d["doc_id"]] == gold, d["doc_id"]


def test_frozen_seed42_corpus(goldens_seed42):
    docs = C.generate_corpus(120, seed=42, mega_doc_every=40, mega_doc_pages=24).to_dict(
        "records"
    )
    mine = run_pandas(docs)
    for did, spans in goldens_seed42.items():
        assert mine[did] == [tuple(s) for s in spans], did


def test_input_row_permutation_invariance():
    """Shuffling input span-row order within docs never changes output (order is
    reconstructed from `offset`, never from arrival order — SURVEY.md §2 O7)."""
    docs = C.generate_corpus(40, seed=9).to_dict("records")
    base = run_pandas(docs)
    rng = np.random.default_rng(0)
    shuffled = []
    for d in docs:
        sp = list(d["spans"])
        rng.shuffle(sp)
        shuffled.append({"doc_id": d["doc_id"], "spans": sp})
    rng.shuffle(shuffled)
    assert run_pandas(shuffled) == base


def test_sentinel_totality_fuzz():
    """Arbitrary garbage payloads never raise; every failed doc yields exactly the
    sentinel span (main.py:361-372 contract)."""
    rng = np.random.default_rng(123)
    docs = []
    for i in range(60):
        kind = rng.choice(["pdf_chars", "ocr_words", "html", "media", "junkkind"])
        blob = "".join(chr(int(c)) for c in rng.integers(1, 2000, size=int(rng.integers(0, 80))))
        docs.append(
            {"doc_id": f"fz-{i}", "spans": [C.span(str(kind), blob, None if rng.random() < 0.8 else "m", 0)]}
        )
    res = run_pandas(docs)
    for d in docs:
        gold = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in oracle_extract_doc(d["doc_id"], d["spans"])
        ]
        assert res[d["doc_id"]] == gold, d["doc_id"]


def test_metrics_counts():
    docs = C.generate_corpus(50, seed=5).to_dict("records")
    rows = extract_rows(docs)
    met = pd.DataFrame(rows).set_index("doc_id")
    per_doc = {r["doc_id"]: len(r["spans"]) for r in rows}
    for d in docs:
        did = d["doc_id"]
        gold = oracle_extract_doc(did, d["spans"])
        assert met.loc[did, "n_spans"] == len(gold)
        assert met.loc[did, "n_spans"] == per_doc.get(did, 0)
        assert bool(met.loc[did, "parse_failed"]) == (gold[0]["kind"] == "error" if gold else False)
        exp_bytes = sum(len(s["text"].encode()) for s in d["spans"] if s["text"] is not None)
        assert met.loc[did, "bytes_in"] == exp_bytes
