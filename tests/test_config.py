"""S8/V10/J3 — bank-config dimension, upload gate, compatibility check."""

from __future__ import annotations

from aide_spark.generator import local_corpus_df
from aide_spark.operators.config import (
    compatibility_check,
    list_available_banks,
    validate_bank_configuration,
)


def test_list_available_banks_sorted(spark):
    names = [r.bank_name for r in list_available_banks(spark).collect()]
    assert names == sorted(names) and len(names) == 3


def test_upload_gate_rejects_unknown_bank(spark):
    docs = local_corpus_df(spark, 24)
    accepted, rejected = validate_bank_configuration(docs)
    acc_ids = {r.doc_id for r in accepted.select("doc_id").collect()}
    rej_ids = {r.doc_id for r in rejected.select("doc_id").collect()}
    assert acc_ids.isdisjoint(rej_ids)
    assert all(i.startswith("BAD-") for i in rej_ids)  # only bank-less docs
    assert any(not i.startswith("BAD-") for i in acc_ids)


def test_compatibility_check(spark):
    docs = local_corpus_df(spark, 48)
    compat = {r.doc_id: r.compatible for r in compatibility_check(docs).collect()}
    # oversized (30 MB < 50 MB limit) is COMPATIBLE at the bank layer — the
    # 25 MB gate is the API-level validator's, not the extractor's
    for doc_id, ok in compat.items():
        if doc_id.startswith("BAD-") and "ENCRYPTED" in doc_id:
            assert ok  # all banks advertise password_protected
        elif doc_id.split("-")[0] in ("UNION", "CANARA", "APGVB"):
            assert ok
        elif doc_id.startswith(("BAD-CORRUPTED", "BAD-SCANNED", "BAD-EMPTY",
                                "BAD-MANYPAGES")):
            assert not ok  # no bank_id ⇒ incompatible (reference returns False)


def test_pipeline_parsers_are_the_active_banks():
    """The pipeline dispatches exactly the banks the config dimension
    lists as ACTIVE."""
    from aide_spark.operators.config import BANK_CONFIGS
    from aide_spark.plans.pipeline import PARSERS

    assert set(PARSERS) == {bank for bank, _, status, *_ in BANK_CONFIGS if status == "ACTIVE"}
