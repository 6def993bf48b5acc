"""Formatter parity: the Spark formatted_* columns must equal the REFERENCE's
format_transactions_for_ui output on the same parsed transactions (the module
is pure Python — imported directly as the oracle). Without the reference the
expected values come from ``goldens/reference_values.json``."""

from __future__ import annotations

import pytest

from aide_spark.generator import corpus, local_corpus_df, spans_to_pages
from aide_spark.operators.formatters import format_transactions_for_ui
from aide_spark.plans import pipeline

from .reference_oracle import assert_cases_match, expected_values, run_reference

FIELDS = [
    "formatted_txn_date", "formatted_value_date", "formatted_debit",
    "formatted_credit", "formatted_balance", "formatted_amount",
    "debit_amount", "credit_amount",
]


def _parsed_docs():
    """Corpus docs the reference parses: bank docs plus the two valid
    taxonomy classes."""
    for d in corpus(24):
        if d["bank_id"] is not None and (
            not d["doc_id"].startswith("BAD-")
            or d["doc_id"].startswith(("BAD-HYBRID", "BAD-ENCRYPTEDOK"))
        ):
            yield d, run_reference(d["bank_id"], spans_to_pages(d["spans"]))


@pytest.fixture(scope="module")
def transactions(spark):
    return pipeline.run(local_corpus_df(spark, 24))["transactions"]


def _formatted_got(txns) -> dict:
    return {
        (r.doc_id, r.order): tuple(getattr(r, f) for f in FIELDS)
        for r in format_transactions_for_ui(txns).collect()
    }


def _formatted_reference() -> dict:
    from formatters.transaction_formatter import format_transactions_for_ui as ref_fmt

    return {
        (d["doc_id"], order): tuple(txn[f] for f in FIELDS)
        for d, result in _parsed_docs()
        for order, txn in enumerate(ref_fmt(result["transactions"]), start=1)
    }


def test_formatted_fields_match_reference(transactions):
    want = expected_values("formatted_fields", _formatted_reference)
    assert len(want) > 50
    assert_cases_match(want, _formatted_got(transactions))


def test_py_float_str_matches_python(spark):
    """serialize.py f-tag: Spark rendering == str(float) across the full
    plain-decimal band and both scientific boundaries (ADVICE r1: the old
    cast(double as string) emitted 1.0E7 for >=1e7)."""
    from pyspark.sql import functions as F

    from aide_spark.serialize import py_float_str

    vals = [
        0.0, 1.0, -1.0, 123.45, 9999999.99, 1e7, 10000000.5, -12345678.9,
        12345678901.23, 1e8 + 0.01, 123456789012345.6, 999999999999999.9,
        1e15, 1.5e15, 1e16, 1.5e16, 1e22,
        0.001, 0.0001, 0.00015, 9.999e-05, 1e-05, 1.5e-07, -2.5e-08,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    rows = df.select("v", py_float_str(F.col("v")).alias("s")).collect()
    for r in rows:
        assert r.s == str(r.v), (r.v, r.s)


CELLS = ["txn_date", "value_date", "description", "debit", "credit", "balance",
         "debit_red", "credit_green"]


def _workbook_got(txns) -> dict:
    from aide_spark.operators.formatters import workbook_view

    return {
        (r.doc_id, r.row_num): tuple(getattr(r, c) for c in CELLS)
        for r in workbook_view(txns).collect()
    }


def _workbook_reference() -> dict:
    """format_transaction_for_display plus create_excel_workbook's
    ``value if value else ''`` branch; row 1 is the header."""
    from formatters.transaction_formatter import format_transaction_for_display

    want = {}
    for d, result in _parsed_docs():
        for i, txn in enumerate(result.get("transactions") or []):
            f = format_transaction_for_display(txn)
            want[(d["doc_id"], i + 2)] = (
                f["txn_date"], f["value_date"], f["description"],
                f["debit"] if f["debit"] else "", f["credit"] if f["credit"] else "",
                f["balance"], bool(f["debit"]), bool(f["credit"]),
            )
    return want


def test_workbook_view_matches_reference_cells(transactions):
    """S6 — workbook_view rows carry exactly the cell values the reference's
    create_excel_workbook writes (format_transaction_for_display + the
    `value if value else ''` branch), checked on real pipeline output."""
    want = expected_values("workbook_cells", _workbook_reference)
    assert len(want) > 50
    assert_cases_match(want, _workbook_got(transactions))


FILENAME_METAS = [
    {"bank_name": "Union Bank of India", "account_number": "123456789012",
     "statement_period": {"from_date": "01/04/2024", "to_date": "31/03/2025"}},
    {"bank_name": "Canara Bank!", "account_number": "981",
     "statement_period": {"from_date": "5/3/2024", "to_date": "7/11/2024"}},
    {"bank_name": "A.P. Grameena  Bank", "account_number": "55554444",
     "statement_period": {"from_date": "31/31/2024", "to_date": "01/01/2025"}},
    {"bank_name": "Union Bank", "account_number": "",
     "statement_period": {"from_date": "", "to_date": ""}},
    # non-ASCII letters: Python \w is Unicode, so the reference KEEPS
    # them — Java needs (?U) or it strips them (r2 advisory)
    {"bank_name": "Crédit Agricolé (São Paulo)", "account_number": "777",
     "statement_period": {"from_date": "01/04/2024", "to_date": "31/03/2025"}},
    None,
]


def _filename_got(spark, today) -> dict:
    from pyspark.sql import functions as F

    from aide_spark.operators.formatters import statement_filename

    rows = [
        (i, None if m is None else {
            "bank_name": m["bank_name"],
            "account_number": m["account_number"],
            "statement_period": (m["statement_period"]["from_date"],
                                 m["statement_period"]["to_date"]),
        }) for i, m in enumerate(FILENAME_METAS)
    ]
    schema = ("i int, meta struct<bank_name:string, account_number:string, "
              "statement_period:struct<from_date:string,to_date:string>>")
    df = spark.createDataFrame(rows, schema)
    return {
        r.i: r.fn
        for r in df.select(
            "i",
            statement_filename(
                F.col("meta"), F.concat(F.lit("job"), F.col("i").cast("string")),
                today=F.lit(str(today)).cast("date"),
            ).alias("fn"),
        ).collect()
    }


def _filename_reference() -> dict:
    from formatters.excel_formatter import get_statement_filename

    return {
        # with no metadata the reference raises inside its try (None.get)
        # and takes the job-id fallback
        i: f"bank_statement_job{i}.xlsx" if m is None else get_statement_filename(m, f"job{i}")
        for i, m in enumerate(FILENAME_METAS)
    }


def test_statement_filename_matches_reference(spark):
    """S6 — statement_filename byte-equals get_statement_filename
    (excel_formatter.py:13-63) across every branch: full metadata, short
    account, unparseable dates (fallback replace), no period (today), no
    metadata (job-id fallback). Recorded names spell the no-period date as
    ``{today}``."""
    import datetime as _dt

    today = _dt.date.today()
    want = {
        i: fn.replace("{today}", str(today))
        for i, fn in expected_values("statement_filenames", _filename_reference).items()
    }
    assert len(want) == len(FILENAME_METAS)
    assert_cases_match(want, _filename_got(spark, today))
