"""The spans offset-order invariant, per producer.

``pipeline.media_spans`` and ``lines.pages_col`` — the one page split that
validation, ``lines.line_table`` and ``lines.head_lines_frame`` read — take
a doc's spans array in stored order without sorting it: they rely on every
producer storing spans in offset order. Each producer below promises dense offsets
(offset == array index, which implies strictly increasing). The markdown
renderer is the one consumer that re-sorts instead; its test pins that it
still does, whatever order the span rows arrive in.
"""

from __future__ import annotations

import gzip
import random

from aide_spark.generator import gen_doc

# a slice of the generator's index space: every bank layout, the hybrid
# (media) docs and the deliberately broken ones
INDICES = range(400)


def _offsets(spans) -> list[int]:
    return [s[3] if isinstance(s, tuple) else s["offset"] for s in spans]


def assert_dense(spans, what) -> None:
    offs = _offsets(spans)
    assert offs == list(range(len(offs))), (what, offs)


def _docs():
    return [d for d in map(gen_doc, INDICES) if d["spans"] is not None]


def test_generator_offsets_dense():
    docs = _docs()
    assert any(s[0] == "media" for d in docs for s in d["spans"])
    for d in docs:
        assert_dense(d["spans"], d["doc_id"])


def test_pdf_codec_offsets_dense():
    from aide_spark.sources.pdf_codec import decode_pdf_bytes, encode_pdf

    for d in _docs():
        assert_dense(decode_pdf_bytes(encode_pdf(d["spans"])), d["doc_id"])


def test_decode_container_offsets_dense():
    from aide_spark.sources.binary_ingest import decode_container, encode_spans

    for d in _docs():
        payload = encode_spans(d["spans"])
        assert_dense(decode_container(payload), d["doc_id"])
        assert_dense(decode_container(gzip.compress(payload)), d["doc_id"])


def _page(seed: int) -> bytes:
    """A page mixing link-dense boilerplate, content paragraphs and images,
    so the boilerplate strip drops blocks between kept ones."""
    rng = random.Random(seed)
    parts = []
    for i in range(rng.randint(3, 12)):
        r = rng.random()
        if r < 0.3:
            parts.append('<nav><a href="/">home</a> <a href="/b">blog</a></nav>')
        elif r < 0.5:
            parts.append(f'<img src="img{seed}_{i}.png">')
        else:
            words = " ".join(f"w{seed}x{j}" for j in range(rng.randint(5, 60)))
            parts.append(f"<p>{words}</p>")
    return ("<html><body>" + "".join(parts) + "</body></html>").encode()


def test_decode_html_offsets_dense():
    from aide_spark.sources.binary_ingest import decode_html
    from aide_spark.sources.html_codec import tokenize_blocks

    pages = [_page(s) for s in range(80)]
    kept = [decode_html(p) for p in pages]
    # the strip drops blocks, so dense offsets are re-numbered, not copied
    assert any(len(k) < len(tokenize_blocks(p)) for k, p in zip(kept, pages))
    for s, spans in enumerate(kept):
        assert_dense(spans, s)


def test_ingest_mixed_offsets_dense(spark):
    from aide_spark.sources.binary_ingest import encode_spans, ingest_mixed
    from aide_spark.sources.pdf_codec import encode_pdf

    docs = _docs()[:30]
    rows = []
    for i, d in enumerate(docs):
        payload = [encode_pdf(d["spans"]), encode_spans(d["spans"]), _page(i)][i % 3]
        rows.append((d["doc_id"], gzip.compress(payload) if i % 2 else payload))
    df = spark.createDataFrame(rows, "doc_id string, content binary").repartition(3)
    got = ingest_mixed(df).collect()
    assert {r.fmt for r in got} == {"pdf", "container", "html"}
    for r in got:
        assert r.spans, r.doc_id
        assert_dense([s.asDict() for s in r.spans], r.doc_id)


def test_markdown_orders_by_offset_not_arrival(spark):
    from aide_spark.operators.markdown import render_markdown

    spans = [
        (d["doc_id"], o, k, t, m)
        for d in _docs()[:12]
        for (k, t, m, o) in d["spans"]
    ]
    random.Random(7).shuffle(spans)
    df = spark.createDataFrame(
        spans, "doc_id string, offset long, kind string, text string, media_ref string"
    ).repartition(4)
    got = {r.doc_id: r.markdown for r in render_markdown(df).collect()}
    for d in _docs()[:12]:
        frags = [f"![]({m})" if k == "media" else t for (k, t, m, _) in d["spans"]]
        assert got[d["doc_id"]] == "\n\n".join(frags), d["doc_id"]
