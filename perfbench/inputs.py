"""Seeded benchmark inputs, generated once per (workload, seed, size) and cached.

Every generator takes the seed as an argument and builds its docs from
``pdf_extract_sys_spark.corpus``'s public encoders (or, for the registry,
from ``bench_data.py``'s table generators). The extraction
workloads also splice in the frozen golden fixture docs, so every run can be
checked span by span.

Cache layout, relative to the checkout root::

    .perfbench_cache/inputs/<workload>-s<seed>-n<size>-v<GENERATOR>/
        corpus/part-*.parquet   (extraction workloads) or <table>.parquet (registry)
        meta.json               input properties, golden/poison doc ids
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np

CACHE = Path(".perfbench_cache")
BATCH_ROWS = 512  # spark.sql.execution.arrow.maxRecordsPerBatch used by the runs
N_FILES = 16
GENERATOR = 3  # part of the cache key: bump when a generator changes its output

# Docs per workload. Smoke sizes keep every code path (goldens, poison, mega
# docs, non-ASCII HTML) and only shrink the random part.
SIZES = {
    "pdf-native": {"full": 3000, "smoke": 120},
    "web-skew-resume": {"full": 500, "smoke": 150},
    "registry": {"full": 0.002, "smoke": 0.001},  # bench_data scale factor
}
# the mega-doc tail: one doc per entry, each with a span a page and more spans
# than the salting threshold
MEGA_STYLES = ("native", "scanned", "native")
N_POISON = 2
# of web-skew-resume HTML docs. Each checkpoint call feeds the extraction one
# batch per input file of that call's docs, about 20 docs and 10 HTML pages,
# so about 1 - 0.8**10 = 89% of batches carry a non-ASCII page; each run
# logs the measured share.
NON_ASCII_HTML_SHARE = 0.2

NON_ASCII_PHRASES = [
    "Grüße aus München.", "Ça coûte cher, naïve idée.", "日本語のテキストです。",
    "Привет, мир.", "Ελληνικά κείμενα.", "عربي نص قصير.",
]


@dataclass
class Inputs:
    path: Path  # corpus directory, or the registry table directory
    meta: dict


# ---------------------------------------------------------------------------
# document builders (public corpus encoders only)
# ---------------------------------------------------------------------------


def _sentence(rng: np.random.Generator) -> str:
    from pdf_extract_sys_spark import corpus as C

    words = rng.choice(C.VOCAB, size=int(rng.integers(3, 12))).tolist()
    return " ".join(words).capitalize() + str(rng.choice(C.SENTENCE_ENDERS))


def _page_text(rng: np.random.Generator, n_sentences: int) -> str:
    parts = []
    for _ in range(n_sentences):
        parts.append(_sentence(rng))
        parts.append("\n" if rng.random() < 0.3 else " ")
    return "".join(parts)


def _pdf_page(rng: np.random.Generator, offset: int) -> dict:
    from pdf_extract_sys_spark import corpus as C

    nobbox = 7 if rng.random() < 0.3 else 0  # a share of bbox-less chars
    chars, boxes = C.layout_text(_page_text(rng, int(rng.integers(3, 9))), nobbox_every=nobbox)
    return C.span("pdf_chars", C.encode_pdf_page(chars, boxes), None, offset)


def _ocr_page(rng: np.random.Generator, offset: int) -> dict:
    from pdf_extract_sys_spark import corpus as C

    words = []
    if rng.random() >= 0.1:  # one page in ten is blank
        x, y, line = 10, 20, 1
        for w in rng.choice(C.VOCAB, size=int(rng.integers(8, 40))).tolist():
            if rng.random() < 0.1:
                w += str(rng.choice(C.SENTENCE_ENDERS))
            width = 8 * len(w)
            words.append((w, int(rng.integers(20, 100)), x, y, width, 12, 1, line))
            x += width + 5
            if x > 900:
                x, y, line = 10, y + 18, line + 1
    return C.span("ocr_words", C.encode_ocr_page(words), None, offset)


def _html(rng: np.random.Generator, non_ascii: bool) -> str:
    body = ['<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/b">Blog</a></nav>']
    for i in range(int(rng.integers(2, 6))):
        text = _page_text(rng, int(rng.integers(2, 5)))
        if non_ascii and i == 0:
            text = str(rng.choice(NON_ASCII_PHRASES)) + " " + text
        body.append(f"<p>{text}</p>")
        if rng.random() < 0.4:
            body.append(f'<img src="img-{int(rng.integers(0, 999))}.png" alt="f">')
    body.append('<footer><a href="/tos">Terms</a> <a href="/p">Privacy</a></footer>')
    return ("<html><head><title>t</title><style>a{}</style></head><body>"
            + "".join(body) + "</body></html>")


def _pdf_native_docs(rng: np.random.Generator, seed: int, n: int) -> list[dict]:
    """Docs of 1-4 pages drawn from a seeded pool of n/4 distinct pages (the
    kernels keep no state across docs, so reuse costs them nothing, and the
    pool keeps input generation short)."""
    from pdf_extract_sys_spark import corpus as C

    pool = [_pdf_page(rng, 0)["text"] for _ in range(max(1, n // 4))]
    return [{"doc_id": f"pn-{seed}-{i:07d}",
             "spans": [C.span("pdf_chars", pool[int(rng.integers(0, len(pool)))], None, off)
                       for off in range(int(rng.integers(1, 5)))]}
            for i in range(n)]


def _web_dirty_doc(rng: np.random.Generator, doc_id: str) -> dict:
    from pdf_extract_sys_spark import corpus as C

    roll = rng.random()
    spans = []
    if roll < 0.50:  # crawled HTML page, sometimes with an attached video
        spans.append(C.span("html", _html(rng, rng.random() < NON_ASCII_HTML_SHARE), None, 0))
        if rng.random() < 0.2:
            spans.append(C.span("media", "caption", f"vid-{doc_id}", 1))
    elif roll < 0.75:  # scanned PDF: OCR pages behind a sparse text layer
        off = 0
        for _ in range(int(rng.integers(1, 5))):
            if rng.random() < 0.5:
                chars, boxes = C.layout_text("scan")
                spans.append(C.span("pdf_chars", C.encode_pdf_page(chars, boxes), None, off))
                off += 1
            spans.append(_ocr_page(rng, off))
            off += 1
    elif roll < 0.88:  # PDF with figures, image-only pages and a broken page
        spans.append(_pdf_page(rng, 0))
        spans.append(C.span("media", None, f"fig-{doc_id}-1", 1))
        spans.append(C.span("needs_ocr", None, f"img-{doc_id}-2", 2))
        if rng.random() < 0.5:
            spans.append(C.span("page_error", None, None, 3))
    else:  # garbage the classifier rejects
        g = rng.random()
        if g < 0.4:
            spans.append(C.span("pdf_chars", "THIS IS NOT A VALID STREAM", None, 0))
        elif g < 0.7:
            spans.append(C.span("blob", "\x00\x01\x02", None, 0))
        else:
            spans.append(C.span("media", "caption without a ref", None, 0))
    return {"doc_id": doc_id, "spans": spans}


def _poison_doc(rng: np.random.Generator, doc_id: str) -> dict:
    """A pdf_chars record with hex d800: it passes the record regex, then fails
    the UTF-32 decode, so the whole batch takes the per-doc fallback."""
    from pdf_extract_sys_spark import corpus as C

    chars, boxes = C.layout_text(_page_text(rng, 4))
    chars[int(rng.integers(0, len(chars)))] = "\ud800"
    return {"doc_id": doc_id, "spans": [C.span("pdf_chars", C.encode_pdf_page(chars, boxes), None, 0)]}


def _mega_doc(rng: np.random.Generator, doc_id: str, pages: int, scanned: bool) -> dict:
    """A native-text or a scanned doc of ``pages`` pages, one span a page. The
    style is fixed by the doc's place in the tail, so every seed gets the same
    mix of mega-doc work."""
    page = _ocr_page if scanned else _pdf_page
    return {"doc_id": doc_id, "spans": [page(rng, off) for off in range(pages)]}


def golden_docs() -> tuple[list[dict], dict]:
    """The 142 frozen golden docs and their expected span tuples."""
    import sys

    from pdf_extract_sys_spark import corpus as C

    tests = Path("tests")
    if str(tests) not in sys.path:
        sys.path.insert(0, str(tests))
    from fixtures_def import fixture_docs

    docs = list(fixture_docs())
    docs += C.generate_corpus(120, seed=42, mega_doc_every=40, mega_doc_pages=24).to_dict("records")
    expected = {}
    for name in ("goldens.json", "goldens_seed42.json"):
        for did, spans in json.loads((tests / "fixtures" / name).read_text()).items():
            expected[did] = [tuple(s) for s in spans]
    return docs, expected


def _build_docs(workload: str, seed: int, size: str) -> tuple[list[dict], list[str]]:
    n = SIZES[workload][size]
    rng = np.random.default_rng([seed, _name_key(workload)])
    poison: list[str] = []
    if workload == "pdf-native":
        docs = _pdf_native_docs(rng, seed, n)
    elif workload == "web-skew-resume":
        docs = [_web_dirty_doc(rng, f"ws-{seed}-{i:07d}") for i in range(n)]
        for j in range(N_POISON):
            did = f"ws-{seed}-poison-{j}"
            docs.insert(int(rng.integers(0, len(docs) + 1)), _poison_doc(rng, did))
            poison.append(did)
        # mega tail: about a third of all spans sit in MEGA_STYLES docs
        from pdf_extract_sys_spark.pipeline import DEFAULT_SALT_THRESHOLD

        normal_spans = sum(len(d["spans"]) for d in docs + golden_docs()[0])
        pages = max(DEFAULT_SALT_THRESHOLD + 4, normal_spans // (2 * len(MEGA_STYLES)))
        for j, style in enumerate(MEGA_STYLES):
            d = _mega_doc(rng, f"ws-{seed}-mega-{j}", pages, style == "scanned")
            docs.insert(int(rng.integers(0, len(docs) + 1)), d)
    else:
        raise ValueError(workload)
    gdocs, _ = golden_docs()
    for d in gdocs:
        docs.insert(int(rng.integers(0, len(docs) + 1)), d)
    return docs, poison


def _name_key(name: str) -> int:
    """A second seed word per workload, so two workloads at one seed differ."""
    return int.from_bytes(name.encode()[:8].ljust(8, b"\0"), "little")


def _properties(docs: list[dict], poison: list[str]) -> dict:
    from pdf_extract_sys_spark.pipeline import DEFAULT_SALT_THRESHOLD

    n_spans = [len(d["spans"]) for d in docs]
    payload = sum(len(s["text"].encode("utf-8", "surrogatepass"))
                  for d in docs for s in d["spans"] if s["text"] is not None)
    mega = [n for n in n_spans if n > DEFAULT_SALT_THRESHOLD]
    return {
        "docs": len(docs),
        "spans": int(sum(n_spans)),
        "payload_mb": round(payload / 1e6, 3),
        "mega_docs": len(mega),
        "mega_span_share": round(sum(mega) / max(1, sum(n_spans)), 4),
        "poison_docs": len(poison),
    }


def _registry_tables(seed: int, sf: float, out: Path) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    import bench_data as BD

    rng = np.random.default_rng(seed)
    tables = {
        "documents": BD.gen_documents(int(50_000 * sf), rng),
        "embeddings": BD.gen_embeddings(int(20_000 * sf), rng),
        "orders": BD.gen_orders(int(1_500_000 * sf), rng),
        "lineitem": BD.gen_lineitem(int(1_500_000 * sf), rng),
        "customer": BD.gen_customer(int(150_000 * sf), rng),
        "part": BD.gen_part(int(200_000 * sf), rng),
        "supplier": BD.gen_supplier(int(10_000 * sf), rng),
        "events": BD.gen_events(int(1_000_000 * sf), rng),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array([f"REGION{i}" for i in range(5)], pa.string()),
        }),
    }
    for name, tbl in tables.items():
        pq.write_table(tbl, out / f"{name}.parquet")
    return {"sf": sf, "docs": tables["documents"].num_rows,
            "rows": {k: t.num_rows for k, t in tables.items()}}


def load(workload: str, seed: int, size: str) -> Inputs:
    """Return the cached inputs, generating them first if this (workload, seed,
    size) has not been built in this checkout yet."""
    root = CACHE / "inputs" / f"{workload}-s{seed}-n{SIZES[workload][size]}-v{GENERATOR}"
    data = root / ("tables" if workload == "registry" else "corpus")
    if not (root / "meta.json").exists():
        tmp = root.with_name(root.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        (tmp / data.name).mkdir(parents=True)
        if workload == "registry":
            meta = _registry_tables(seed, SIZES[workload][size], tmp / data.name)
        else:
            import pandas as pd

            from pdf_extract_sys_spark.corpus import write_corpus_parquet

            docs, poison = _build_docs(workload, seed, size)
            write_corpus_parquet(pd.DataFrame(docs), str(tmp / data.name), n_files=N_FILES)
            meta = _properties(docs, poison)
            meta["poison_ids"] = poison
        (tmp / "meta.json").write_text(json.dumps(meta, indent=1))
        shutil.rmtree(root, ignore_errors=True)
        tmp.rename(root)
    return Inputs(data, json.loads((root / "meta.json").read_text()))
