"""Explicit schemas for every stage boundary (SURVEY.md §1.2).

The reference is row-oriented and schemaless-by-convention (plain dicts checked
informally against STANDARD_RESPONSE_SCHEMA, base_extractor.py:138-159); here
every boundary carries a declared StructType so Catalyst can prune columns and
the contract is machine-checkable.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# Canonical input: interleaved text+media documents (BASELINE.json input_hint)
# ---------------------------------------------------------------------------

SPAN = StructType(
    [
        StructField("kind", StringType(), False),       # 'text' | 'media'
        StructField("text", StringType(), True),        # one line for kind='text'; '' for media
        StructField("media_ref", StringType(), True),   # '' for text; 'img://doc/page/k' for media
        StructField("offset", IntegerType(), False),    # 0-based global order within the doc
    ]
)

DOCUMENTS = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN), True),    # null ⇒ corrupted doc
        # auxiliary validator-fixture columns (FIXTURES.md §1)
        StructField("bank_id", StringType(), True),     # 'UNION' | 'CANARA' | 'APGVB' | None
        StructField("password", StringType(), True),
        StructField("encrypted", BooleanType(), True),
        StructField("declared_size_mb", DoubleType(), True),
        # PDF document-info dictionary, keyed exactly like PdfReader.metadata
        # ('/Title', '/Author', ... — pdf_validator.py:252-282); null ⇒ the
        # reader exposed no metadata (the reference's `if pdf_reader.metadata`)
        StructField("pdf_meta", MapType(StringType(), StringType()), True),
    ]
)

# Form-feed marker: a text span with this text is a page break.
PAGE_BREAK = "\f"

# ---------------------------------------------------------------------------
# Validation result (mirrors api/validators/validation_result.py:21-64)
# ---------------------------------------------------------------------------

VALIDATION = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("is_valid", BooleanType(), False),
        StructField("pdf_type", StringType(), False),   # text_based|scanned|hybrid|invalid
        StructField("error_code", StringType(), False), # error_codes.py:11-22 taxonomy
        StructField("confidence_score", DoubleType(), False),
        StructField("page_count", IntegerType(), True),
        StructField("text_length", IntegerType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Transaction record — superset of the three banks' field sets
# (union_bank_extractor.py:342-353, canara_bank_extractor.py:363-372,
#  apgvb_extractor.py:743-753). Fields a bank doesn't emit stay NULL so the
# serialized span only contains the bank's own keys.
# ---------------------------------------------------------------------------

TRANSACTION = StructType(
    [
        StructField("S_No", StringType(), True),
        StructField("Date", StringType(), True),
        StructField("Transaction_ID", StringType(), True),
        StructField("Remarks", StringType(), True),
        StructField("Amount", StringType(), True),           # Union display string "123.00 (Dr)"
        StructField("Debit", StringType(), True),            # Canara/APGVB
        StructField("Credit", StringType(), True),           # Canara/APGVB
        StructField("Balance", StringType(), True),
        StructField("Amount_Numeric", DoubleType(), True),   # Union only
        StructField("Balance_Numeric", DoubleType(), True),  # Union only
        StructField("Transaction_Type", StringType(), True), # 'Debit' | 'Credit'
        StructField("Page_Number", IntegerType(), True),
    ]
)

TRANSACTIONS_OUT = StructType(
    [StructField("doc_id", StringType(), False), StructField("order", IntegerType(), False)]
    + TRANSACTION.fields
)

# ---------------------------------------------------------------------------
# Per-doc statement metadata (nested statement_period like the reference)
# ---------------------------------------------------------------------------

STATEMENT_PERIOD = StructType(
    [
        StructField("from_date", StringType(), True),
        StructField("to_date", StringType(), True),
    ]
)

METADATA = StructType(
    [
        StructField("bank_name", StringType(), True),
        StructField("currency", StringType(), True),
        StructField("customer_name", StringType(), True),
        StructField("customer_cif_id", StringType(), True),
        StructField("account_number", StringType(), True),
        StructField("account_type", StringType(), True),
        StructField("ifsc_code", StringType(), True),
        StructField("statement_date", StringType(), True),
        StructField("statement_period", STATEMENT_PERIOD, True),
        StructField("mobile_number", StringType(), True),
        StructField("home_branch", StringType(), True),
        StructField("branch_code", StringType(), True),
        StructField("address", StringType(), True),
        StructField("opening_balance", DoubleType(), True),  # APGVB metadata field
    ]
)

# ---------------------------------------------------------------------------
# Per-doc financial summary (SURVEY.md §2.6; string min/max dates — quirk)
# ---------------------------------------------------------------------------

SUMMARY = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("opening_balance", DoubleType(), True),
        StructField("closing_balance", DoubleType(), True),
        StructField("total_debits", DoubleType(), True),
        StructField("total_credits", DoubleType(), True),
        StructField("net_change", DoubleType(), True),
        StructField("transaction_count", LongType(), True),
        StructField("from_date", StringType(), True),
        StructField("to_date", StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Output span-sequence — the equality surface (kind, text, media_ref, order)
# ---------------------------------------------------------------------------

SPANS_OUT = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("seq", IntegerType(), False),
        StructField("kind", StringType(), False),       # 'meta' | 'media' | 'txn' | 'summary'
        StructField("text", StringType(), False),       # '' for media
        StructField("media_ref", StringType(), False),  # '' unless kind='media'
    ]
)

# ---------------------------------------------------------------------------
# SnapshotStore tables (plans/checkpoint.py), written and read with these
# schemas; ``spans`` is stored as SPANS_OUT.
# ---------------------------------------------------------------------------

LINEAGE = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("batch_id", StringType(), False),
        StructField("status", StringType(), False),     # committed | quarantined | skipped
        StructField("error_code", StringType(), True),  # null for skipped
    ]
)

QUARANTINE = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("bank_id", StringType(), True),
        StructField("error_code", StringType(), False),
        StructField("pdf_type", StringType(), False),
    ]
)

METRICS = StructType(
    [
        StructField("partition_id", IntegerType(), False),  # part-NNNNN of the spans file
        StructField("docs", LongType(), False),
        StructField("spans", LongType(), False),
        StructField("batch_id", StringType(), False),
    ]
)
