"""V1-V10: the validator taxonomy (FIXTURES.md §1.1 — mirrors the reference's
8-fixture corpus, /root/reference/tests/test_pdf_validator.py:37-46) must
yield the same error codes / pdf types as pdf_validator.py."""

from __future__ import annotations

import pytest

from aide_spark.generator import corpus, local_corpus_df
from aide_spark.operators.validation import PDF_META_FIELDS, validate
from tests.reference_oracle import assert_cases_match, expected_values

EXPECTED = {
    "BAD-CORRUPTED": ("CORRUPTED", "invalid", False),
    "BAD-SCANNED": ("NO_TEXT_CONTENT", "scanned", False),
    "BAD-HYBRID": ("VALID", "hybrid", True),
    "BAD-ENCRYPTEDOK": ("VALID", "text", True),
    "BAD-ENCRYPTEDWRONGPW": ("WRONG_PASSWORD", "invalid", False),
    "BAD-ENCRYPTEDNOPW": ("ENCRYPTED_NO_PASSWORD", "invalid", False),
    "BAD-LARGEFILE": ("FILE_TOO_LARGE", "invalid", False),
    "BAD-EMPTY": ("EMPTY_PDF", "invalid", False),
    "BAD-MANYPAGES": ("TOO_MANY_PAGES", "invalid", False),
}


@pytest.fixture(scope="module")
def results(spark):
    docs = local_corpus_df(spark, 72)
    return {r.doc_id: r for r in validate(docs).collect()}


def test_taxonomy_error_codes(results):
    checked = 0
    for doc_id, r in results.items():
        for prefix, (code, pdf_type, is_valid) in EXPECTED.items():
            if doc_id.startswith(prefix + "-"):
                assert (r.error_code, r.pdf_type, r.is_valid) == (
                    code, pdf_type, is_valid,
                ), doc_id
                checked += 1
    assert checked >= 9  # two taxonomy cycles in 72 docs


def test_bank_docs_all_valid(results):
    for doc_id, r in results.items():
        if not doc_id.startswith("BAD-"):
            assert r.is_valid and r.error_code == "VALID", doc_id
            assert r.pdf_type == "text", doc_id


def test_page_and_text_metrics(results):
    many = next(r for d, r in results.items() if d.startswith("BAD-MANYPAGES"))
    assert many.page_count == 251
    empty = next(r for d, r in results.items() if d.startswith("BAD-EMPTY"))
    assert empty.page_count == 0
    scanned = next(r for d, r in results.items() if d.startswith("BAD-SCANNED"))
    assert scanned.text_length < 100


V9_CASES = [
    ("FILE_TOO_LARGE", 26.04, 10),
    ("FILE_TOO_LARGE", 25.25, 10),   # exact .x5 tie
    ("FILE_TOO_LARGE", 31.0, 10),
    ("FILE_TOO_LARGE", 1234.56, 10),  # comma-free rendering
    ("TOO_MANY_PAGES", 30.0, 251),
    ("TOO_MANY_PAGES", 5.0, 999),
    ("VALID", 1.0, 3),
    ("CORRUPTED", 1.0, 0),
]


def _v9_got(spark) -> dict:
    from pyspark.sql import Row

    from aide_spark.operators.validation import with_error_message

    df = spark.createDataFrame(
        [Row(error_code=c, declared_size_mb=s, page_count=p) for c, s, p in V9_CASES]
    )
    return {
        (r.error_code, r.declared_size_mb, r.page_count): r.error_message
        for r in with_error_message(df).collect()
    }


def _v9_reference() -> dict:
    from validators.error_codes import ErrorCode, get_error_message

    return {
        (code, size, pages): get_error_message(
            ErrorCode(code), file_size_mb=size, page_count=pages
        )
        for code, size, pages in V9_CASES
    }


def test_v9_interpolated_messages(spark):
    """V9 — error_message byte-equals the reference's get_error_message
    incl. the FILE_TOO_LARGE/:.1f and TOO_MANY_PAGES interpolations
    (error_codes.py:38-58). Tie values (25.25) pin half-even rounding."""
    want = expected_values("v9_error_messages", _v9_reference)
    assert len(want) == len(V9_CASES)
    assert_cases_match(want, _v9_got(spark))


def test_v9_static_when_columns_absent(spark):
    from pyspark.sql import Row

    from aide_spark.operators.validation import ERROR_MESSAGES, with_error_message

    df = spark.createDataFrame([Row(error_code="FILE_TOO_LARGE")])
    (r,) = with_error_message(df).collect()
    assert r.error_message == ERROR_MESSAGES["FILE_TOO_LARGE"]


def _v7_got(spark) -> dict:
    from aide_spark.operators.validation import extract_pdf_metadata

    rows = extract_pdf_metadata(local_corpus_df(spark, 120)).collect()
    return {(r.doc_id, f): getattr(r, f) for r in rows for _k, f in PDF_META_FIELDS}


def _v7_reference() -> dict:
    from validators.pdf_validator import PDFValidator

    class FakeReader:
        def __init__(self, meta):
            self.metadata = meta

    validator = PDFValidator()
    want = {}
    for d in corpus(120):
        ref = validator._extract_pdf_metadata(FakeReader(d["pdf_meta"]))
        for _k, field in PDF_META_FIELDS:
            want[(d["doc_id"], field)] = ref.get(field)
    return want


def test_v7_pdf_metadata_parity(spark):
    """V7 — extract_pdf_metadata field-for-field equals the reference's
    _extract_pdf_metadata (pdf_validator.py:252-282) run on the same
    document-info dicts (absent dict key == NULL column)."""
    want = expected_values("v7_pdf_metadata", _v7_reference)
    got = _v7_got(spark)
    assert set(got) == set(want)
    assert_cases_match(want, got)
    assert sum(v is not None for v in want.values()) > 200  # present keys...
    # ...and the drop branches: at least one None dict, one empty-string title
    docs = corpus(120)
    assert any(d["pdf_meta"] is None for d in docs)
    assert any((d["pdf_meta"] or {}).get("/Title") == "" for d in docs)


def test_v7_distributed_generator_roundtrip(spark):
    """pdf_meta survives the Arrow mapInPandas path identically to the
    driver-side corpus (map<string,string> batch shape)."""
    from aide_spark.generator import local_corpus_df, spark_corpus

    a = local_corpus_df(spark, 40).select("doc_id", "pdf_meta")
    b = spark_corpus(spark, 40, partitions=3).select("doc_id", "pdf_meta")
    rows_a = {r.doc_id: r.pdf_meta for r in a.collect()}
    rows_b = {r.doc_id: r.pdf_meta for r in b.collect()}
    assert rows_a == rows_b


V8_IDS = ["andhra pradesh grameena", "apgvb"]
V8_CASES = [
    ("Statement of APGVB account 1234567890", "APGVB"),
    ("Andhra Pradesh Grameena Bank ledger page", "APGVB"),
    ("Some other bank entirely, long enough text", "APGVB"),
    ("short", "APGVB"),              # < 10 stripped chars -> not ok
    ("   padded      ", "APGVB"),    # strip() matters
    ("No identifiers configured for this bank", "UNION"),
]


def _v8_got(spark) -> dict:
    from aide_spark.operators.validation import validate_pdf_content

    docs = spark.createDataFrame(
        [(str(i), b, [("text", t, "", 0)]) for i, (t, b) in enumerate(V8_CASES)],
        "doc_id string, bank_id string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    return {
        int(r.doc_id): (r.content_ok, r.has_bank_indicator)
        for r in validate_pdf_content(docs, {"APGVB": V8_IDS}).collect()
    }


def _v8_reference() -> dict:
    """_validate_pdf_content's raise/no-raise, and its any()-substring
    warning condition (None when the bank defines no identifiers)."""
    from extractors.apgvb_extractor import _validate_pdf_content

    from tests.reference_oracle import FakePage

    class R:
        def __init__(self, text):
            self.pages = [FakePage(text)]

    want = {}
    for i, (text, bank) in enumerate(V8_CASES):
        ids = V8_IDS if bank == "APGVB" else None
        try:
            _validate_pdf_content(R(text), ids)
            ok = True
        except ValueError:
            ok = False
        want[i] = (ok, any(x in text.lower() for x in ids) if ids else None)
    return want


def test_v8_content_check_parity(spark):
    """V8 — content_ok mirrors _validate_pdf_content's raise/no-raise on the
    same first-page text (apgvb_extractor.py:132-168); has_bank_indicator
    mirrors its any()-substring warning condition, NULL when the bank
    defines no identifiers."""
    want = expected_values("v8_content_check", _v8_reference)
    assert len(want) == len(V8_CASES)
    assert_cases_match(want, _v8_got(spark))
