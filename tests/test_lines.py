"""The line table and the metadata head lines against the test oracle.

The reference reads each page as ``extract_text().split('\\n')`` and strips
every line; ``generator.spans_to_pages`` renders a doc's spans to the page
texts the reference is fed. ``lines.line_table`` and
``lines.head_lines_frame`` both split ``lines.pages_col``, so each must give
exactly that split — including pages with no text lines, which split to the
one line ``''``.
"""

from __future__ import annotations

from collections import defaultdict

import pytest

from aide_spark.generator import gen_doc, spans_to_pages
from aide_spark.operators.lines import head_lines_frame, line_table
from aide_spark.schemas import DOCUMENTS, PAGE_BREAK


def _text(t: str, off: int) -> tuple:
    return ("text", t, None, off)


def _doc(doc_id: str, parts: list) -> dict:
    """A hand-built doc; ``parts`` are span texts, ``None`` a media span."""
    spans = [
        ("media", None, f"{doc_id}-img{i}", i) if t is None else _text(t, i)
        for i, t in enumerate(parts)
    ]
    return {"doc_id": doc_id, "spans": spans, "bank_id": "UNION"}


EDGE_DOCS = [
    _doc("edge-leading-break", [PAGE_BREAK, "a", "b", PAGE_BREAK, "c"]),
    _doc("edge-double-break", ["a", PAGE_BREAK, PAGE_BREAK, "b", "  c "]),
    _doc("edge-media-page", ["a", PAGE_BREAK, None, None, PAGE_BREAK, "b"]),
    _doc("edge-empty-span-at-page-end", ["a", "", PAGE_BREAK, "b", ""]),
    _doc("edge-media-first-page", [None, PAGE_BREAK, "a"]),
    _doc("edge-no-spans", []),
]


@pytest.fixture(scope="module")
def docs(spark):
    gen = [d for d in map(gen_doc, range(360)) if d["spans"] is not None]
    rows = gen + EDGE_DOCS
    df = spark.createDataFrame(
        [(d["doc_id"], d["spans"], d["bank_id"], None, False, 0.1, None) for d in rows],
        DOCUMENTS,
    )
    return {d["doc_id"]: spans_to_pages(d["spans"]) for d in rows}, df


def _split(text: str) -> list[str]:
    return [line.strip() for line in text.split("\n")]


def test_line_table_is_the_reference_page_split(docs):
    pages, df = docs
    got = defaultdict(list)
    for r in line_table(df, carry=("bank_id",)).collect():
        got[(r["doc_id"], r["page"])].append((r["off"], r["line"]))
    got = {k: [line for _, line in sorted(v)] for k, v in got.items()}
    want = {
        (doc_id, n): _split(page)
        for doc_id, doc_pages in pages.items()
        for n, page in enumerate(doc_pages, start=1)
    }
    assert got == want


def test_off_orders_pages(docs):
    """``off`` is the doc's one line order: unique, and page-major."""
    _, df = docs
    rows = sorted(line_table(df).collect(), key=lambda r: (r["doc_id"], r["off"]))
    for a, b in zip(rows, rows[1:]):
        if a["doc_id"] == b["doc_id"]:
            assert a["off"] < b["off"] and a["page"] <= b["page"], (a, b)


@pytest.mark.parametrize("two_pages", [False, True])
def test_head_lines_are_the_reference_head_split(docs, two_pages):
    pages, df = docs
    got = {r["doc_id"]: r["arr"] for r in head_lines_frame(df, two_pages=two_pages).collect()}
    if two_pages:  # APGVB: page1 + '\n' + page2 + '\n'
        want = {d: _split("".join(p + "\n" for p in ps[:2])) for d, ps in pages.items()}
    else:
        want = {d: _split(ps[0]) for d, ps in pages.items()}
    assert got == want
