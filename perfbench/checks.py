"""Output checks shared by every workload.

An extraction output is an Arrow table with at least (doc_id, spans). The
checks compare it with the inputs: every doc comes out exactly once, every
golden doc matches its frozen span sequence, every poison doc yields exactly
one sentinel, and the order-independent digest matches a reference digest.
"""

from __future__ import annotations

import hashlib
import json

import pyarrow as pa


def doc_spans(table: pa.Table) -> dict[str, list[tuple]]:
    """doc_id -> [(kind, text, media_ref, offset), ...] in offset order."""
    return {did: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                  for s in sorted(spans, key=lambda s: s["offset"])]
            for did, spans in zip(table.column("doc_id").to_pylist(),
                                  table.column("spans").to_pylist())}


def digest(spans_by_doc: dict[str, list[tuple]]) -> str:
    h = hashlib.sha256()
    for did in sorted(spans_by_doc):
        h.update(json.dumps([did, spans_by_doc[did]], ensure_ascii=False).encode("utf-8", "surrogatepass"))
    return h.hexdigest()[:16]


def check_extraction(spans_by_doc: dict[str, list[tuple]], rows: int, meta: dict,
                     goldens: dict[str, list[tuple]]) -> list[str]:
    """Return the failed checks (empty when the output is correct); ``rows``
    is the output's row count, so a doc emitted twice shows."""
    failed = []
    if rows != len(spans_by_doc):
        failed.append(f"{rows - len(spans_by_doc)} docs emitted more than once")
    if len(spans_by_doc) != meta["docs"]:
        failed.append(f"docs out {len(spans_by_doc)} != docs in {meta['docs']}")
    bad = [d for d, want in goldens.items() if spans_by_doc.get(d) != want]
    if bad:
        failed.append(f"golden mismatch on {len(bad)} docs, e.g. {bad[:3]}")
    for did in meta.get("poison_ids", []):
        want = [("error", f"[Error processing doc {did}]", None, 0)]
        if spans_by_doc.get(did) != want:
            failed.append(f"poison doc {did} did not yield exactly one sentinel")
    return failed


def failed_docs(spans_by_doc: dict[str, list[tuple]]) -> int:
    """Docs emitted as the `[Error processing doc …]` sentinel."""
    return sum(1 for did, s in spans_by_doc.items()
               if len(s) == 1 and s[0][0] == "error" and s[0][1] == f"[Error processing doc {did}]")
