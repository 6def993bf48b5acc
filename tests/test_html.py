"""HTML tokenizer + boilerplate classifier tests (north-rule HTML leg).

The cross-engine oracle for the full path lives in test_oracle_queries
(html_block_classify / html_main_content); these tests pin the parser's
edge behavior and each branch of the NumWordsRules decision tree directly.
"""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from aide_spark.sources.html_codec import decode_entities, tokenize_blocks


def texts(page):
    return [b["text"] for b in tokenize_blocks(page) if b["kind"] == "text"]


# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------


def test_entities():
    assert decode_entities("a &amp; b &lt;c&gt; &#65;&#x42; &copy; &unknown; &") == (
        "a & b <c> AB © &unknown; &"
    )


def test_rawtext_and_comments_discarded():
    page = (
        b"<head><title>t</title><style>p{}</style>"
        b"<script>var s='<p>fake</p>'; if(1<2){}</script></head>"
        b"<body><!-- note --><p>real</p></body>"
    )
    assert texts(page) == ["real"]


def test_literal_lt_is_text():
    assert texts(b"<p>1 < 2 and x <3</p>") == ["1 < 2 and x <3"]


def test_block_boundaries_and_implicit_close():
    assert texts(b"<p>a<p>b</p><div>c</div>") == ["a", "b", "c"]
    assert texts(b"<ul><li>one<li>two</ul>") == ["one", "two"]


def test_whitespace_normalized():
    assert texts(b"<p>  a\n\t b  c </p>") == ["a b c"]


def test_anchor_word_counting():
    (b,) = tokenize_blocks(b'<p>x <a href="/">one two</a> y</p>')
    assert (b["n_words"], b["n_anchor_words"]) == (4, 2)
    (b,) = tokenize_blocks(b'<p><a>all</a> <a>linked</a></p>')
    assert (b["n_words"], b["n_anchor_words"]) == (2, 2)


def test_nested_anchor_depth():
    (b,) = tokenize_blocks(b"<p><a>out <span>in</span></a> tail</p>")
    assert (b["n_words"], b["n_anchor_words"]) == (3, 2)


def test_skip_ancestor_flag():
    bs = tokenize_blocks(b"<nav><p>menu</p></nav><p>body</p><footer>foot</footer>")
    assert [(b["text"], b["skip_ancestor"]) for b in bs] == [
        ("menu", True), ("body", False), ("foot", True),
    ]


def test_img_media_row_and_quoted_gt():
    bs = tokenize_blocks(b'<p>a<img src="i.png" alt="x>y">b</p>')
    assert [b["kind"] for b in bs] == ["text", "media", "text"]
    assert bs[1]["media_ref"] == "i.png"
    bs = tokenize_blocks(b"<img src='q.png'><img src=bare.png>")
    assert [b["media_ref"] for b in bs] == ["q.png", "bare.png"]


def test_malformed_never_raises():
    for page in (b"<p>tail<", b"<p attr='unclosed", b"</nope></p>", b"", b"<>",
                  b"\xff\xfe<p>bad utf8 \x80</p>"):
        tokenize_blocks(page)  # must not raise


def test_br_is_inline_space():
    assert texts(b"<p>a<br>b</p>") == ["a b"]


WORDS = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=6), min_size=1, max_size=8
)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(WORDS, st.booleans()), min_size=1, max_size=6), st.randoms())
def test_roundtrip_property(paras, rnd):
    """Serialize known paragraphs (optionally anchor-wrapped, with random
    entity-escaped ampersands and noise comments) -> tokenize -> same texts
    and anchor word counts."""
    parts, want = [], []
    for words, anchored in paras:
        body = " ".join(words)
        inner = f'<a href="/x">{body}</a>' if anchored else body
        parts.append(f"<p>{inner}</p>")
        if rnd.random() < 0.3:
            parts.append("<!-- c -->")
        want.append((body, len(words) if anchored else 0))
    page = ("<body>" + "".join(parts) + "</body>").encode()
    got = [
        (b["text"], b["n_anchor_words"])
        for b in tokenize_blocks(page)
        if b["kind"] == "text"
    ]
    assert got == want


# ---------------------------------------------------------------------------
# classifier rule branches (columnar, on Spark)
# ---------------------------------------------------------------------------


def _classify(spark, page: bytes):
    from aide_spark.operators.boilerplate import classify_blocks, segment_html

    pages = spark.createDataFrame([(0, bytearray(page))], "doc_id long, payload binary")
    rows = (
        classify_blocks(segment_html(pages))
        .orderBy("block_idx")
        .select("text", "kind", "is_content")
        .collect()
    )
    return [(r.text if r.kind == "text" else "<media>", r.is_content) for r in rows]


def test_rules_low_ld_branch(spark):
    # prev_ld=0 branch: long block content; short block content only via
    # neighbor word counts (next>15 / prev>4)
    long = " ".join(f"w{i}" for i in range(20))
    page = f"<p>{long}</p><p>short tail</p>".encode()
    got = _classify(spark, page)
    assert got == [(long, True), ("short tail", True)]  # prev_nw 20 > 4
    page = b"<p>one</p><p>two</p>"
    assert [c for _, c in _classify(spark, page)] == [False, False]


def test_rules_high_ld_branch(spark):
    # after a link-dense block (prev_ld > 0.555): need curr>40 or next>17
    nxt = " ".join(f"n{i}" for i in range(18))
    page = f'<p><a>l1</a> <a>l2</a></p><p>headline here</p><p>{nxt}</p>'.encode()
    got = _classify(spark, page)
    assert got[0][1] is False            # link-dense: ld 1 > 0.33
    assert got[1][1] is True             # next_nw 18 > 17
    assert got[2][1] is True
    page = b"<p><a>l1</a> <a>l2</a></p><p>headline here</p><p>five little words here</p>"
    got = _classify(spark, page)
    assert got[1][1] is False            # next_nw 4 <= 17, curr 2 <= 40


def test_dom_heuristic_overrides_density(spark):
    long = " ".join(f"w{i}" for i in range(30))
    page = f"<footer><p>{long}</p></footer><p>{long}</p>".encode()
    got = _classify(spark, page)
    assert got[0] == (long, False)       # skip ancestor wins despite length
    assert got[1] == (long, True)


def test_media_transparent_to_text_chain(spark):
    """An <img> between two paragraphs must not break prev/next features."""
    long = " ".join(f"w{i}" for i in range(20))
    with_img = f'<p>{long}</p><img src="a.png"><p>short tail</p>'.encode()
    without = f"<p>{long}</p><p>short tail</p>".encode()
    a = [(t, c) for t, c in _classify(spark, with_img) if t != "<media>"]
    assert a == _classify(spark, without)
    # and the in-flow media row itself is content / footer media is not
    got = _classify(spark, with_img)
    assert ("<media>", True) in got
    got = _classify(spark, b'<footer><img src="badge.png"></footer>')
    assert got == [("<media>", False)]


def test_spans_offsets_dense_and_ordered(spark):
    from aide_spark.operators.boilerplate import main_content_spans, segment_html

    long1 = " ".join(f"a{i}" for i in range(20))
    long2 = " ".join(f"b{i}" for i in range(20))
    page = (
        f'<nav><a>x</a></nav><p>{long1}</p><img src="f.png"><p>{long2}</p>'
    ).encode()
    pages = spark.createDataFrame([(7, bytearray(page))], "doc_id long, payload binary")
    rows = main_content_spans(segment_html(pages)).orderBy("offset").collect()
    assert [(r.offset, r.kind) for r in rows] == [(0, "text"), (1, "media"), (2, "text")]
    assert rows[1].media_ref == "f.png"
    assert [r.text for r in rows] == [long1, "", long2]


# ---------------------------------------------------------------------------
# mixed-format ingest: python twin + magic sniff
# ---------------------------------------------------------------------------


def test_py_twin_matches_columnar(spark):
    """label_blocks_py (per-doc path) must agree with classify_blocks
    (columnar path) on randomized block sequences — the twin contract."""
    import random

    from aide_spark.operators.boilerplate import (
        BLOCK_SCHEMA, classify_blocks, label_blocks_py,
    )

    rnd = random.Random(42)
    docs = {}
    rows = []
    for doc in range(40):
        blocks = []
        for i in range(rnd.randint(1, 12)):
            if rnd.random() < 0.2:
                b = {"block_idx": i, "kind": "media", "text": "",
                     "n_words": 0, "n_anchor_words": 0,
                     "skip_ancestor": rnd.random() < 0.3, "media_ref": "m"}
            else:
                nw = rnd.randint(1, 50)
                b = {"block_idx": i, "kind": "text", "text": "t",
                     "n_words": nw, "n_anchor_words": rnd.randint(0, nw),
                     "skip_ancestor": rnd.random() < 0.3, "media_ref": ""}
            blocks.append(b)
            rows.append((doc, i, b["kind"], b["text"], b["n_words"],
                         b["n_anchor_words"], b["skip_ancestor"], b["media_ref"]))
        docs[doc] = blocks
    df = spark.createDataFrame(rows, BLOCK_SCHEMA)  # doc_id is field 0
    got = {
        (r.doc_id, r.block_idx): r.is_content
        for r in classify_blocks(df).collect()
    }
    for doc, blocks in docs.items():
        want = label_blocks_py(blocks)
        for b, w in zip(blocks, want):
            assert got[(doc, b["block_idx"])] == w, (doc, b)


def _main_content_page() -> bytes:
    long = " ".join(f"w{i}" for i in range(45))
    return f'<!DOCTYPE html><html><nav><a href="/">home</a></nav><p>{long}</p></html>'.encode()


def test_sniff_format():
    """Plus the gzip re-sniff: sniff_decode decompresses a gzip payload once
    and re-sniffs it, so gzipped HTML gets the boilerplate strip (not the
    raw markup as one container text span), gzipped PDFs and containers
    decode as their plain forms, and a corrupt gzip body quarantines as
    None without raising."""
    import gzip

    from aide_spark.sources.binary_ingest import (
        decode_container,
        decode_html,
        encode_spans,
        sniff_decode,
        sniff_format,
    )
    from aide_spark.sources.pdf_codec import encode_pdf

    assert sniff_format(b"%PDF-1.4 ...") == "pdf"
    assert sniff_format(b"<!DOCTYPE html><html>...") == "html"
    assert sniff_format(b"  <!doctype HTML>") == "html"
    assert sniff_format(b"<HTML><body>x</body>") == "html"
    assert sniff_format(b"plain text lines") == "container"
    assert sniff_format(b"\x1f\x8b\x08gzip...") == "container"
    assert sniff_format(None) == "container"

    page = _main_content_page()
    assert len(decode_html(page)) == 1
    assert sniff_decode(page) == ("html", decode_html(page))
    assert sniff_decode(gzip.compress(page)) == ("html", decode_html(page))
    box = encode_spans([("text", "a", "", 0), ("media", "", "m1", 1)])
    assert sniff_decode(gzip.compress(box)) == ("container", decode_container(box))
    pdf = encode_pdf([("text", "statement 1", "", 0)])
    assert sniff_decode(gzip.compress(pdf)) == sniff_decode(pdf)
    assert sniff_decode(pdf)[0] == "pdf"
    assert sniff_decode(b"\x1f\x8b\x08gzip...") == ("container", None)
    assert sniff_decode(gzip.compress(page)[:-12]) == ("container", None)


def test_ingest_mixed_gzipped_html(spark):
    import gzip

    from aide_spark.sources.binary_ingest import decode_html, ingest_mixed

    page = _main_content_page()
    df = spark.createDataFrame(
        [("plain", page), ("gz", gzip.compress(page)), ("bad", b"\x1f\x8b\x08gzip...")],
        "doc_id string, content binary",
    )
    rows = {r.doc_id: r for r in ingest_mixed(df).collect()}
    want = [s["text"] for s in decode_html(page)]
    for doc in ("plain", "gz"):
        assert rows[doc].fmt == "html"
        assert [s.text for s in rows[doc].spans] == want
    assert rows["bad"].fmt == "container" and rows["bad"].spans is None


def test_decode_html_strips_boilerplate():
    from aide_spark.sources.binary_ingest import decode_html

    # 45 words: after the link-dense nav (prev_ld 1 > 0.555) a block is
    # content only via curr > 40 — the short footer next can't rescue it
    long = " ".join(f"w{i}" for i in range(45))
    page = (
        f'<nav><a href="/">home</a></nav><p>{long}</p>'
        f'<img src="f.png"><footer>copyright</footer>'
    ).encode()
    spans = decode_html(page)
    assert [(s["kind"], s["offset"]) for s in spans] == [("text", 0), ("media", 1)]
    assert spans[0]["text"] == long and spans[1]["media_ref"] == "f.png"


def test_extract_links_edge_cases():
    from aide_spark.sources.html_codec import extract_links

    h = (
        b"<!DOCTYPE html><body>"
        b"<script>var x='<a href=\"/no\">no</a>';</script>"
        b'<a href="/one">first &amp; link</a> between '
        b"<a href='/two'>second<br>line</a>"
        b"<a name=target>not a link</a>"
        b'<a href="/three">outer <a href=/four>nested</a>'
        b'<!-- <a href=/c>comment</a> -->'
        b'<a href="/bare">dangling'
    )
    got = [(li["link_idx"], li["href"], li["anchor_text"]) for li in extract_links(h)]
    assert got == [
        (0, "/one", "first & link"),     # entity decoded in anchor text
        (1, "/two", "second line"),      # <br> is inline whitespace
        (2, "/three", "outer"),          # nested <a> implicitly closes
        (3, "/four", "nested"),
        (4, "/bare", "dangling"),        # EOF closes a dangling anchor
    ]


def test_extract_links_quoted_gt_and_entity_href():
    from aide_spark.sources.html_codec import extract_links

    h = b'<a href="/q?a=1&amp;b=2" title="x > y">quoted</a>'
    (li,) = extract_links(h)
    assert li["href"] == "/q?a=1&b=2"
    assert li["anchor_text"] == "quoted"


def test_extract_links_never_raises_on_malformed():
    from aide_spark.sources.html_codec import extract_links

    for h in (b"<a", b"<a href=", b"<a href='unclosed", b"</a></a>", b"< a >", b""):
        extract_links(h)


def test_sniff_charset_bom_and_meta():
    from aide_spark.sources.html_codec import decode_html_bytes, sniff_charset

    assert sniff_charset(b"\xef\xbb\xbf<html>") == "utf-8-sig"
    assert sniff_charset(b"\xff\xfe<\x00h\x00") == "utf-16-le"
    assert sniff_charset(b"\xfe\xff\x00<\x00h") == "utf-16-be"
    assert sniff_charset(b'<meta charset="windows-1252">') == "cp1252"
    assert sniff_charset(b"<META CHARSET='ISO-8859-1'>") == "latin-1"
    assert (
        sniff_charset(
            b'<meta http-equiv="Content-Type" '
            b'content="text/html; charset=Shift_JIS">'
        )
        == "shift_jis"
    )
    assert sniff_charset(b'<meta charset="klingon-9">') == "utf-8"  # unknown
    assert sniff_charset(b"<html>no meta at all") == "utf-8"
    # meta beyond the 1024-byte prescan window is ignored (WHATWG rule)
    assert sniff_charset(b" " * 1100 + b'<meta charset="latin1">') == "utf-8"
    # BOM is stripped, not decoded into the text
    assert decode_html_bytes(b"\xef\xbb\xbfhi") == "hi"


def test_tokenize_blocks_charset_aware():
    from aide_spark.sources.html_codec import tokenize_blocks

    # cp1252 0x92 = right single quote; as utf-8 it would be a replacement char
    page = b'<meta charset="windows-1252"><p>it\x92s body text here now</p>'
    (b,) = tokenize_blocks(page)
    assert b["text"] == "it’s body text here now"

    utf16 = '<html><body><p>café text</p></body></html>'.encode("utf-16")
    (b16,) = tokenize_blocks(utf16)
    assert b16["text"] == "café text"


def test_extract_links_charset_aware():
    from aide_spark.sources.html_codec import extract_links

    page = '<a href="/café">café</a>'.encode("utf-16")
    (li,) = extract_links(page)
    assert li["anchor_text"] == "café" and li["href"] == "/café"


def test_sniff_format_utf16_html():
    from aide_spark.sources.binary_ingest import sniff_format

    assert sniff_format("<html><body>x</body></html>".encode("utf-16")) == "html"
    # explicit BOM forms
    assert sniff_format(b"\xff\xfe" + "<html>".encode("utf-16-le")) == "html"
    assert sniff_format(b"\xfe\xff" + "<html>".encode("utf-16-be")) == "html"
    # BOM-less utf-16 is not sniffable (documented limit): falls to container
    assert sniff_format("<html>".encode("utf-16-be")) == "container"
