"""Repetition signals, PII redaction, and URL canonicalization units.

Python-level expectations are computed independently (naive reference
implementations inline) so the columnar expressions are checked against
first principles, not against themselves.
"""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from tests.conftest import spark  # noqa: F401  (shared session fixture)


def _one(spark, expr, **cols):
    df = spark.createDataFrame([cols or {"x": 1}])
    return df.select(expr.alias("r")).head()["r"]


# ---------------------------------------------------------------- repetition


def _ppm(num, den):
    import math

    return int(math.floor(num * 1000000.0 / max(den, 1)))


def _ref_signals(text):
    ws = text.split(" ")
    nc = len(text)
    bi = Counter(" ".join(ws[i : i + 2]) for i in range(len(ws) - 1))
    top = max(((c, g) for g, c in bi.items()), key=lambda t: (t[0], [-ord(ch) for ch in t[1]]))
    # tie-break: smallest gram lexicographically at max count
    best = min((g for g, c in bi.items() if c == top[0]))
    g5 = Counter(" ".join(ws[i : i + 5]) for i in range(len(ws) - 4))
    dup5 = sum(c * len(g) for g, c in g5.items() if c > 1)
    wc = Counter(ws)
    dups = sum(c - 1 for c in wc.values())
    return (
        _ppm(top[0] * len(best), nc),
        _ppm(dup5, nc),
        _ppm(dups, len(ws)),
    )


def test_repetition_signals_match_reference(spark):
    from aide_spark.operators.textmetrics import repetition_signals

    texts = [
        "a b a b a b a b end",                       # dominated by one 2-gram
        "all words here are totally unique tokens",  # no repetition at all
        "x y z w v x y z w v x y z w v",             # repeated 5-gram
        "spam spam spam spam spam spam spam",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["top2gram_ppm"], r["dup5gram_ppm"], r["dup_word_ppm"])
        for r in repetition_signals(df).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _ref_signals(t), f"doc {i}: {t!r}"


def test_repetition_short_docs_survive(spark):
    from aide_spark.operators.textmetrics import repetition_signals

    df = spark.createDataFrame([(0, "solo"), (1, "two words")], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert set(rows) == {0, 1}
    assert rows[0]["top2gram_ppm"] == 0 and rows[0]["dup5gram_ppm"] == 0
    assert rows[1]["dup_word_ppm"] == 0


def test_word_ngrams_edges(spark):
    from aide_spark.operators.textmetrics import word_ngrams

    ws = F.split(F.lit("a b c"), " ")
    assert _one(spark, word_ngrams(ws, 2)) == ["a b", "b c"]
    assert _one(spark, word_ngrams(ws, 3)) == ["a b c"]
    assert _one(spark, word_ngrams(ws, 4)) == []


# ----------------------------------------------------------------------- PII


def _luhn_ref(s):
    d = [int(c) for c in s if c.isdigit()][::-1]
    t = sum(x if i % 2 == 0 else (2 * x - 9 if 2 * x > 9 else 2 * x) for i, x in enumerate(d))
    return len(d) >= 12 and t % 10 == 0


@pytest.mark.parametrize(
    "num",
    [
        "4539578763621486",
        "4539578763621487",
        "4539-5787-6362-1486",
        "4111 1111 1111 1111",
        "5500005555555559",
        "1234567890123",
        "378282246310005",  # 15-digit Amex shape
    ],
)
def test_luhn_matches_reference(spark, num):
    from aide_spark.operators.pii import luhn_valid

    assert _one(spark, luhn_valid(F.lit(num))) == _luhn_ref(num)


def test_redact_pii_shapes(spark):
    from aide_spark.operators.pii import redact_pii

    cases = {
        "mail a.b+c@x-y.co.uk now": "mail [EMAIL] now",
        "srv 192.168.0.1 down": "srv [IP] down",
        "call +441234567890 ok": "call [PHONE] ok",
        "pay 4539578763621486 thanks": "pay [CARD] thanks",
        # Luhn-invalid run survives; order id is NOT a card
        "order 4539578763621487 shipped": "order 4539578763621487 shipped",
        "none here": "none here",
        "": "",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], ["i", "t"]
    ).select("i", redact_pii(F.col("t")).alias("r"))
    got = {r["i"]: r["r"] for r in df.collect()}
    for i, (src, want) in enumerate(cases.items()):
        assert got[i] == want, f"{src!r}"


def test_pii_counts_multiple(spark):
    from aide_spark.operators.pii import pii_counts

    t = "a@b.com c@d.org 1.2.3.4 5.6.7.8 +1234567 4539578763621486"
    r = _one(spark, pii_counts(F.lit(t)))
    assert (r["n_emails"], r["n_ips"], r["n_phones"], r["n_cards"]) == (2, 2, 1, 1)


# ---------------------------------------------------------------------- URLs


@pytest.mark.parametrize(
    "raw,want",
    [
        ("HTTP://Ex.COM:80/A?b=1#f", "http://ex.com/A?b=1"),
        ("https://ex.com:443/", "https://ex.com/"),
        ("https://ex.com:8443/x", "https://ex.com:8443/x"),
        ("http://ex.com", "http://ex.com/"),
        ("http://ex.com?utm_source=a&z=1&a=2", "http://ex.com/?a=2&z=1"),
        ("http://ex.com/p?gclid=1&fbclid=2", "http://ex.com/p"),
        ("ftp://Files.EX.com/Pub", "ftp://files.ex.com/Pub"),
        ("no-scheme/path", "no-scheme/path"),
    ],
)
def test_canonicalize_url(spark, raw, want):
    from aide_spark.operators.weblinks import canonicalize_url

    assert _one(spark, canonicalize_url("u"), u=raw) == want


@pytest.mark.parametrize(
    "host,want",
    [
        ("www.bbc.co.uk", "bbc.co.uk"),
        ("news.bbc.co.uk", "bbc.co.uk"),
        ("a.b.github.io", "b.github.io"),
        ("www.example.com", "example.com"),
        ("example.com", "example.com"),
        ("localhost", "localhost"),
        ("co.uk", "co.uk"),  # bare suffix: nothing above it to take
    ],
)
def test_registrable_domain(spark, host, want):
    from aide_spark.operators.weblinks import registrable_domain

    assert _one(spark, registrable_domain("h"), h=host) == want


@pytest.mark.parametrize(
    "base,href,want",
    [
        ("http://a.com/d/p.html", "http://b.com/x", "http://b.com/x"),
        ("https://a.com/d/p.html", "//cdn.com/x", "https://cdn.com/x"),
        ("http://a.com/d/p.html", "/root.css", "http://a.com/root.css"),
        ("http://a.com/d/p.html", "sib.html", "http://a.com/d/sib.html"),
        ("http://a.com/d/e/p.html", "../up.html", "http://a.com/d/up.html"),
        ("http://a.com/d/p.html", "./same.html", "http://a.com/d/same.html"),
        ("http://a.com/d/p.html", "x?q=1", "http://a.com/d/x?q=1"),
        ("http://a.com/d/p.html", "#sec", "http://a.com/d/p.html#sec"),
        ("http://a.com", "x.html", "http://a.com/x.html"),
        ("http://a.com/d/e/p.html", "../../../up.html", "http://a.com/up.html"),
    ],
)
def test_resolve_href(spark, base, href, want):
    from aide_spark.operators.weblinks import resolve_href

    assert _one(spark, resolve_href("b", "href"), b=base, href=href) == want


def test_remove_dot_segments(spark):
    from aide_spark.operators.weblinks import remove_dot_segments

    for raw, want in [
        ("/a/b/../c", "/a/c"),
        ("/a/./b/", "/a/b/"),
        ("/../x", "/x"),
        ("/a/b/..", "/a/"),
        ("/", "/"),
        ("/a//b", "/a/b"),
    ]:
        assert _one(spark, remove_dot_segments("p"), p=raw) == want, raw


# ------------------------------------------------------------- normalization


def test_nfc_normalize_table(spark):
    import unicodedata

    from aide_spark.operators.normalize import nfc_normalize_table

    decomp = "naïve café"
    df = spark.createDataFrame([(0, decomp), (1, None)], ["doc_id", "text"])
    rows = {r["doc_id"]: r["text"] for r in nfc_normalize_table(df).collect()}
    assert rows[0] == unicodedata.normalize("NFC", decomp)
    assert len(rows[0]) == len(decomp) - 2
    assert rows[1] is None  # null-safe


def test_strip_controls_and_whitespace(spark):
    from aide_spark.operators.normalize import clean_whitespace, strip_controls

    raw = "a\x00b\x1fc\td  e\n\nf  "
    got = _one(
        spark, clean_whitespace(strip_controls(F.lit(raw)))
    )
    assert got == "abc d e f"


def test_weblinks_chain_values(spark):
    """The staged resolve → canonicalize → host → domain chain that
    web_domain_outdegree runs, over absolute/relative/dot-segment/port/
    tracking/no-scheme inputs. Expected tuples were recorded when the SQL
    text and an independent Column-tree form of each transform still both
    existed and agreed on every case."""
    from aide_spark.operators import weblinks as W

    cases = [
        ("http://www.shop1.co.uk/dir/page.html", "/t/a"),
        ("http://www.shop2.co.uk/dir/page.html", "../up/./x.html?q=1#f"),
        ("HTTP://Example.COM:80/Path/a?utm_source=n&b=2&a=1#frag", "other.html"),
        ("https://Sub.Shop.co.uk:443/", "//cdn.example.com/lib.js"),
        ("http://example.com:8080?q=1", "#frag-only"),
        ("https://a.GitHub.io/p/q/", "../../../deep/../x"),
        ("http://news.com.au/x?fbclid=abc", "https://abs.example.org:8443/y?z=1"),
        ("http://h.test/a/b/c", ""),
        ("http://h.test/a/b/", "."),
        ("http://h.test", "/only?gclid=1&keep=2"),
    ]
    want = [  # (r, u, h, d)
        ("http://www.shop1.co.uk/t/a", "http://www.shop1.co.uk/t/a", "www.shop1.co.uk", "shop1.co.uk"),
        ("http://www.shop2.co.uk/up/x.html?q=1#f", "http://www.shop2.co.uk/up/x.html?q=1",
         "www.shop2.co.uk", "shop2.co.uk"),
        ("http://example.com:80/Path/other.html", "http://example.com/Path/other.html",
         "example.com", "example.com"),
        ("https://cdn.example.com/lib.js", "https://cdn.example.com/lib.js", "cdn.example.com",
         "example.com"),
        ("http://example.com:8080#frag-only", "http://example.com:8080/", "example.com", "example.com"),
        ("https://a.github.io/x", "https://a.github.io/x", "a.github.io", "a.github.io"),
        ("https://abs.example.org:8443/y?z=1", "https://abs.example.org:8443/y?z=1",
         "abs.example.org", "example.org"),
        ("http://h.test/a/b/", "http://h.test/a/b/", "h.test", "h.test"),
        ("http://h.test/a/b/", "http://h.test/a/b/", "h.test", "h.test"),
        ("http://h.test/only?gclid=1&keep=2", "http://h.test/only?keep=2", "h.test", "h.test"),
    ]
    df = spark.createDataFrame(cases, "b string, href string")
    got = (
        df.select(W.resolve_href("b", "href").alias("r"))
        .select("r", W.canonicalize_url("r").alias("u"))
        .select("r", "u", W.url_host("u").alias("h"))
        .select("r", "u", "h", W.registrable_domain("h").alias("d"))
        .collect()
    )
    assert [tuple(r) for r in got] == want
