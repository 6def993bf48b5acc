"""Golden span-sequence parity: the Spark pipeline's output spans must equal,
byte for byte, the sequence produced by running the REFERENCE extractors on
the same synthesized documents (the north-rule invariant: span-sequence
equality on (kind, text, media_ref, order)). Without the reference, the
expected sequences come from ``goldens/parity_spans.json``."""

from __future__ import annotations

from collections import defaultdict

import pytest

from aide_spark.generator import corpus, local_corpus_df
from aide_spark.plans import pipeline

from .reference_oracle import expected_spans, span_diff

N_DOCS = 72  # covers all 3 banks + two full taxonomy cycles


@pytest.fixture(scope="module")
def outputs(spark):
    docs = local_corpus_df(spark, N_DOCS)
    out = pipeline.run(docs)
    spans = defaultdict(list)
    for r in out["spans_out"].collect():
        spans[r.doc_id].append((r.seq, r.kind, r.text, r.media_ref))
    for v in spans.values():
        v.sort()
    validation = {r.doc_id: r.asDict() for r in out["validation"].collect()}
    return {"spans": dict(spans), "validation": validation}


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
