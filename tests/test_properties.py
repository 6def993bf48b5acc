"""Property tests (SURVEY.md §5): round-trip invariants over a wide slice of
the generator's index space — cheap Python-side cross-checks of the pipeline
outputs, complementing the byte-exact parity suite."""

from __future__ import annotations

import math

import pytest

from aide_spark.generator import local_corpus_df
from aide_spark.plans import pipeline


@pytest.fixture(scope="module")
def out(spark):
    docs = local_corpus_df(spark, 120)
    o = pipeline.run(docs)
    return {
        "txns": [r.asDict() for r in o["transactions"].collect()],
        "summaries": {r.doc_id: r.asDict() for r in o["summaries"].collect()},
        "spans": [r.asDict() for r in o["spans_out"].collect()],
    }


def test_union_net_change_equals_signed_sum(out):
    by_doc = {}
    for t in out["txns"]:
        if t["bank_id"] == "UNION":
            by_doc.setdefault(t["doc_id"], []).append(t)
    assert by_doc
    for doc_id, ts in by_doc.items():
        s = out["summaries"][doc_id]
        assert math.isclose(
            s["net_change"], sum(t["Amount_Numeric"] for t in ts), abs_tol=1e-6
        )
        assert s["transaction_count"] == len(ts)


def test_apgvb_balance_walk_matches_classification(out):
    """The lag-classifier invariant: from the second record on, the type is
    Debit iff the balance decreased (the FIRST record always classifies
    Credit against previous=0.0 — the reference quirk, apgvb:821-824, so
    closing−opening == net_change deliberately does NOT hold when a doc
    opens with a debit). Closing balance must equal the last txn's balance."""
    by_doc = {}
    for t in out["txns"]:
        if t["bank_id"] == "APGVB":
            by_doc.setdefault(t["doc_id"], []).append(t)
    assert by_doc
    for doc_id, ts in by_doc.items():
        ts.sort(key=lambda t: t["order"])
        assert ts[0]["Transaction_Type"] == "Credit", doc_id
        for prev, cur in zip(ts, ts[1:]):
            decreased = float(cur["Balance"]) < float(prev["Balance"])
            assert (cur["Transaction_Type"] == "Debit") == decreased, (doc_id, cur)
        s = out["summaries"][doc_id]
        assert math.isclose(s["closing_balance"], float(ts[-1]["Balance"]), abs_tol=1e-9)


def test_span_seq_strictly_increasing_and_ordered_kinds(out):
    by_doc = {}
    for s in out["spans"]:
        by_doc.setdefault(s["doc_id"], []).append(s)
    order = {"meta": 0, "media": 1, "txn": 2, "summary": 3}
    for doc_id, spans in by_doc.items():
        spans.sort(key=lambda s: s["seq"])
        assert [s["seq"] for s in spans] == list(range(len(spans))), doc_id
        kinds = [order[s["kind"]] for s in spans]
        assert kinds == sorted(kinds), doc_id
        assert sum(1 for s in spans if s["kind"] == "summary") <= 1


def test_txn_orders_dense_per_doc(out):
    by_doc = {}
    for t in out["txns"]:
        by_doc.setdefault(t["doc_id"], []).append(t["order"])
    for doc_id, orders in by_doc.items():
        assert sorted(orders) == list(range(1, len(orders) + 1)), doc_id


def test_canara_serials_restart_per_page(out):
    by_page = {}
    for t in out["txns"]:
        if t["bank_id"] == "CANARA":
            by_page.setdefault((t["doc_id"], t["Page_Number"]), []).append(int(t["S_No"]))
    assert by_page
    for key, serials in by_page.items():
        assert sorted(serials) == list(range(1, len(serials) + 1)), key


def test_debit_xor_credit(out):
    for t in out["txns"]:
        if t["bank_id"] in ("CANARA", "APGVB"):
            d, c = t["Debit"], t["Credit"]
            assert (d == "") or (c == ""), t
            assert (t["Transaction_Type"] == "Debit") == (c == ""), t


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=10, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)).filter(lambda e: e[0] != e[1]),
        max_size=30,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Property: on arbitrary random graphs over 25 nodes, the min-label
    propagation fixpoint equals a reference union-find's min-id components."""
    from aide_spark.operators.dedup import connected_components

    norm = sorted({(min(a, b), max(a, b)) for a, b in edges})
    nodes = spark.createDataFrame([(n,) for n in range(25)], "doc_id long")
    if norm:
        pairs = spark.createDataFrame(norm, "d1 long, d2 long")
    else:
        pairs = spark.createDataFrame([], "d1 long, d2 long")
    got = {r.doc_id: r.component for r in connected_components(pairs, nodes).collect()}

    parent = list(range(25))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in norm:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    want = {}
    comp_min: dict[int, int] = {}
    for n in range(25):
        comp_min.setdefault(find(n), n)  # nodes ascend, so first seen = min
    for n in range(25):
        want[n] = comp_min[find(n)]
    assert got == want


def test_incremental_exact_dedup_statuses(spark):
    """seen / dup_in_batch / new classification with deterministic keeper."""
    from pyspark.sql import functions as F

    from aide_spark.operators.dedup import incremental_exact_dedup

    store = spark.createDataFrame(
        [("old content",)], "text string"
    ).select(F.md5("text").alias("content_hash"))
    batch = spark.createDataFrame(
        [
            (10, "old content"),     # seen
            (11, "fresh thing"),     # new (keeper)
            (12, "fresh thing"),     # dup_in_batch
            (13, "other fresh"),     # new
            (14, "old content"),     # seen (even though 10 also has it)
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["status"]
        for r in incremental_exact_dedup(batch, store).collect()
    }
    assert out == {
        10: "seen", 11: "new", 12: "dup_in_batch", 13: "new", 14: "seen"
    }


def test_incremental_exact_dedup_empty_store(spark):
    from aide_spark.operators.dedup import incremental_exact_dedup

    store = spark.createDataFrame([], "content_hash string")
    batch = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["status"]
        for r in incremental_exact_dedup(batch, store).collect()
    }
    assert out == {1: "new", 2: "dup_in_batch", 3: "new"}


def test_decontaminate_flags_ngram_overlap(spark):
    from aide_spark.operators.dedup import decontaminate

    probes = ["alpha beta gamma delta epsilon zeta eta theta iota"]
    rows = [
        (0, "clean words only here nothing shared at all with anything"),
        # contains probe 8-gram starting at "beta"
        (1, "prefix beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota"),  # = probe
        (3, "Alpha BETA gamma, delta epsilon zeta eta theta iota!"),  # normalization
        (4, None),
        (5, "alpha beta gamma"),  # shorter than n
    ]
    out = {
        r["doc_id"]: r
        for r in decontaminate(
            spark.createDataFrame(rows, "doc_id long, text string"),
            probes,
            n=8,
        ).collect()
    }
    assert len(out) == 6
    assert not out[0]["contaminated"] and out[0]["n_hits"] == 0
    assert out[1]["contaminated"] and out[1]["n_hits"] == 1
    assert out[2]["contaminated"] and out[2]["n_hits"] == 2  # both 8-grams
    assert out[3]["contaminated"] and out[3]["n_hits"] == 2
    assert not out[4]["contaminated"] and not out[5]["contaminated"]


def test_decontaminate_empty_probes(spark):
    from aide_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame([(0, "any text")], "doc_id long, text string")
    out = decontaminate(docs, [], n=8).collect()
    assert out[0]["contaminated"] is False and out[0]["n_hits"] == 0
