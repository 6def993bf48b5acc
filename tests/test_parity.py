"""Golden span-sequence parity: the Spark pipeline's output spans must equal,
byte for byte, the sequence produced by running the REFERENCE extractors on
the same synthesized documents (the north-rule invariant: span-sequence
equality on (kind, text, media_ref, order)). Without the reference, the
expected sequences come from ``goldens/parity_spans.json``."""

from __future__ import annotations

import json
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from aide_spark import schemas
from aide_spark.generator import corpus, local_corpus_df
from aide_spark.plans import pipeline
from aide_spark.serialize import meta_texts_col
from aide_spark.sources.tables import results_json_view

from .reference_oracle import expected_spans, span_diff

N_DOCS = 72  # covers all 3 banks + two full taxonomy cycles


def _by_doc(spans_out) -> dict[str, list[tuple]]:
    spans = defaultdict(list)
    for r in spans_out.collect():
        spans[r.doc_id].append((r.seq, r.kind, r.text, r.media_ref))
    for v in spans.values():
        v.sort()
    return dict(spans)


@pytest.fixture(scope="module")
def outputs(spark):
    docs = local_corpus_df(spark, N_DOCS)
    out = pipeline.run(docs)
    validation = {r.doc_id: r.asDict() for r in out["validation"].collect()}
    meta = out["metadata"].select(
        F.col("metadata.bank_name").alias("bank_name"),
        F.col("metadata.currency").alias("currency"),
        F.size(meta_texts_col(F.col("metadata"))).alias("n"),
    ).collect()
    return {
        "spans": _by_doc(out["spans_out"]),
        # spans_out over the RAW documents: media of invalid docs in scope
        "raw_spans": _by_doc(pipeline.spans_out(docs, out)),
        "invalid_media": docs.where(F.exists("spans", lambda s: s["kind"] == "media"))
        .join(out["quarantine"], "doc_id", "left_semi").count(),
        "validation": validation,
        "meta": meta,
        "results": out["results"].collect(),
        "results_json": {
            r.doc_id: json.loads(r.json) for r in results_json_view(out["results"]).collect()
        },
        "schemas": {
            "transactions": out["transactions"].drop("bank_id").schema,
            "metadata": out["metadata"].schema["metadata"].dataType,
            "summaries": out["summaries"].schema,
            "validation": out["validation"].schema,
            "spans_out": out["spans_out"].schema,
        },
    }


def _parsed_docs():
    """Generator docs the pipeline should parse (valid per the taxonomy)."""
    out = []
    for d in corpus(N_DOCS):
        if d["bank_id"] is None:
            continue
        if d["doc_id"].startswith("BAD-") and not (
            d["doc_id"].startswith("BAD-HYBRID") or d["doc_id"].startswith("BAD-ENCRYPTEDOK")
        ):
            continue
        out.append(d)
    return out


@pytest.mark.parametrize("doc", _parsed_docs(), ids=lambda d: d["doc_id"])
def test_span_sequence_equality(outputs, doc):
    expected = expected_spans(doc)
    actual = outputs["spans"].get(doc["doc_id"], [])
    assert actual == expected, span_diff(doc["doc_id"], expected, actual)


def test_every_valid_doc_produced_spans(outputs):
    want = {d["doc_id"] for d in _parsed_docs()}
    got = set(outputs["spans"])
    assert got == want


def test_quarantined_docs_not_parsed(outputs):
    for doc_id, v in outputs["validation"].items():
        if not v["is_valid"]:
            assert doc_id not in outputs["spans"]


def test_spans_out_input_contract(outputs):
    """spans_out keeps only docs whose first span is a meta span, so it may
    be given the raw documents: invalid docs (some carrying media) emit
    nothing, and the rows equal those from the validated frame. That rule
    needs every metadata row to yield a meta span — bank_name and currency
    are literals in all three parsers."""
    assert outputs["invalid_media"] > 0
    assert outputs["raw_spans"] == outputs["spans"]
    assert outputs["meta"] and all(
        r.bank_name is not None and r.currency is not None and r.n >= 2 for r in outputs["meta"]
    )
    for doc_id, seq in outputs["spans"].items():
        assert seq[0][:2] == (0, "meta"), doc_id


@pytest.mark.parametrize("table, declared", [
    ("transactions", schemas.TRANSACTIONS_OUT),
    ("metadata", schemas.METADATA),
    ("summaries", schemas.SUMMARY),
    ("validation", schemas.VALIDATION),
    ("spans_out", schemas.SPANS_OUT),
])
def test_stage_schemas_match_declared(outputs, table, declared):
    """Each stage boundary carries its declared ``schemas`` type: column
    names, order and types (``simpleString`` leaves out nullability). The
    transactions are compared without the routing column ``bank_id`` and
    the metadata as its struct column."""
    assert outputs["schemas"][table].simpleString() == declared.simpleString()


def test_spans_out_schema_is_declared_exactly(outputs):
    assert outputs["schemas"]["spans_out"] == schemas.SPANS_OUT


def test_results_envelope(outputs):
    """The STANDARD_RESPONSE_SCHEMA analogue: one row per doc that emitted
    spans, its transaction counts equal to the doc's txn spans, and its
    transactions array in ``order``; the JSON view renders the same rows."""
    results = outputs["results"]
    assert [r.doc_id for r in results] and len({r.doc_id for r in results}) == len(results)
    assert {r.doc_id for r in results} == set(outputs["spans"])
    for r in results:
        n_txn = sum(1 for span in outputs["spans"][r.doc_id] if span[1] == "txn")
        assert r.total_transactions == n_txn, r.doc_id
        assert r.financial_summary.transaction_count == n_txn, r.doc_id
        orders = [t.order for t in r.transactions or []]
        assert orders == sorted(orders), r.doc_id
        assert outputs["results_json"][r.doc_id]["total_transactions"] == n_txn, r.doc_id
