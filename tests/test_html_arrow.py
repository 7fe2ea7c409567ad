"""Differential tests: the RE2/pyarrow HTML fast path must be frame-identical to
the pandas/Python-re reference chain (whose behavior fixture F16 froze).

The fast path is ASCII-gated; within ASCII the only engine divergence is the \\s
class (RE2 omits 0x0B and 0x1C-0x1F), which html.py removes by spelling Python's
whitespace class out — these tests drive exactly those corners (plus marker-char
collisions, unpaired anchors, weird img/src shapes) and the dispatcher routing."""

import random

import pandas as pd
import pyarrow as pa
import pytest
import oracle as ORC

from pdf_extract_sys_spark.kernels import html as H


def _run_both(docs: pd.DataFrame):
    docs = docs.reset_index(drop=True)
    payloads = pa.array(docs["payload"].to_numpy(dtype=object), type=pa.string())
    a = H._extract_html_spans_arrow(docs, payloads)
    b = H._extract_html_spans_pandas(docs)
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))
    return a


_FRAGMENTS = [
    "<script>var x=1;</script>",
    "<SCRIPT a=b >zz</sCrIpT\t>",
    "<style>.c{}</style  >",
    "<style>.d{}</style\x0b>",          # \s-matched by Python re, not RE2's \s
    "</a\x1c>",                          # ditto, in the anchor-close pattern
    "<!-- c -- ->x-->",
    "<img src=foo.png>",
    "<IMG  SRC = 'a b.png' alt=x>",
    '<img data-src="d.png" src="r.png">',
    "<img\tsrc=\x0bweird>",
    "<img src=>",
    "<a href=x>", "</a >",
    "<p>", "</div>", "<h3 class=t>", "<br/>", "<hr>",
    "&nbsp;&lt;&gt;&quot;&#39;&amp;",
    "plain text with many words to pass the length rule ok",
    "short",
    "\x01",                              # pre-existing anchor-marker collision
    "\x00IMG\x1f",                       # pre-existing img-marker collision
    "a<b", "x > y",
    "<table><tr><td>cell</td></tr></table>",
    "<a href=q>link text that is quite long and should trip density</a>",
    "<ul><li>item one two three four five six seven</li></ul>",
    "\x0b\x1c\x1d\x1e\x1f",
    "  spaces  ",
    "<notatag attr='>'>",
    "<a>one</a> mixed <a>two</a> tail",
    "<a>unclosed anchor text here longer longer",
    "<pre>  pre   formatted   text   kept   here  </pre>",
]


def test_arrow_matches_pandas_adversarial():
    rng = random.Random(7)
    for _ in range(120):
        recs = []
        for _d in range(rng.randint(1, 5)):
            payload = "".join(
                rng.choice(_FRAGMENTS) for _ in range(rng.randint(0, 25))
            )
            recs.append(
                {
                    "doc_id": f"d{rng.randint(0, 3)}",
                    "page": rng.randint(0, 2),
                    "payload": payload,
                }
            )
        _run_both(pd.DataFrame(recs))


def test_arrow_matches_pandas_edge_payloads():
    docs = pd.DataFrame(
        {
            "doc_id": ["a", "a", "b", "c", "d"],
            "page": [0, 1, 0, 0, 0],
            "payload": [
                "",                                        # empty → one empty line
                "\n\n\n",
                "<a>x</a>" * 40,                           # marker-heavy
                "<img src='only.png'>",
                "word " * 10,                              # pure text, no tags
            ],
        }
    )
    _run_both(docs)


def test_dispatcher_routes_nonascii_to_pandas():
    # one non-ASCII payload in the batch → whole batch takes the reference
    # chain; the dispatcher's output must equal the reference on such batches
    docs = pd.DataFrame(
        {
            "doc_id": ["a", "b"],
            "page": [0, 0],
            "payload": [
                "<p>héllo wörld — ünïcode paragraph long enough to keep</p>",
                "<p>plain ascii paragraph that is long enough to keep ok</p>",
            ],
        }
    )
    got = H.extract_html_spans(docs)
    ref = H._extract_html_spans_pandas(docs)
    pd.testing.assert_frame_equal(got.reset_index(drop=True), ref.reset_index(drop=True))


def test_dispatcher_empty():
    out = H.extract_html_spans(pd.DataFrame(columns=["doc_id", "page", "payload"]))
    assert len(out) == 0
    assert list(out.columns) == ["doc_id", "page", "seq", "kind", "text", "media_ref"]


@pytest.mark.parametrize("payload", ["", "<p></p>", "short only"])
def test_no_kept_lines(payload):
    docs = pd.DataFrame({"doc_id": ["a"], "page": [0], "payload": [payload]})
    out = H.extract_html_spans(docs)
    assert len(out) == 0


def test_nul_payloads_route_to_reference_path():
    # \x00 is content: both chains keep it wherever it sits in a line, as the
    # oracle does (a numpy '<U' line buffer would drop each line's trailing
    # \x00). The ASCII batch takes the Arrow chain, the non-ASCII one pandas.
    ascii_batch = [
        "x" * 24 + "\x00" + "<br>more text that is long enough here",
        "plain ascii paragraph that is long enough to keep ok",
    ]
    for payloads in (ascii_batch, ascii_batch + ["é" * 24 + "\x00<p>ü\x00 and a line long enough\x00"]):
        docs = pd.DataFrame({"doc_id": [f"d{i}" for i in range(len(payloads))],
                             "page": 0, "payload": payloads})
        got = H.extract_html_spans(docs)
        for i, payload in enumerate(payloads):
            g = got[got["doc_id"] == f"d{i}"]
            spans = [(k, t if k == "text" else None, m if k == "media" else None)
                     for k, t, m in zip(g["kind"], g["text"], g["media_ref"])]
            assert spans == ORC.extract_html_oracle(payload), payload
