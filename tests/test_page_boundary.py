"""Parser lookahead and record combining stop at the page end.

The generator only breaks a page after a complete transaction, so these
hand-built line frames put a record's continuation on the next page. Each
case has a control doc with the same lines on one page, which shows that
the page break alone changes the result.
"""

from __future__ import annotations

from aide_spark.operators import apgvb_parser, canara_parser, union_parser


def _lines(spark, docs: dict[str, list[list[str]]]):
    """{doc_id: [page lines, ...]} → (doc_id, page, off, line)."""
    rows = []
    for doc_id, pages in docs.items():
        off = 0
        for page, lines in enumerate(pages, start=1):
            for line in lines:
                rows.append((doc_id, page, off, line))
                off += 1
    return spark.createDataFrame(rows, "doc_id string, page int, off long, line string")


def _by_doc(txns) -> dict[str, list]:
    out: dict[str, list] = {}
    for r in txns.orderBy("doc_id", "order").collect():
        out.setdefault(r.doc_id, []).append(r)
    return out


def test_apgvb_balance_lookahead_stops_at_page_end(spark):
    start = "01-09-2024 01-09-2024 TO CASH WITHDRAWAL"
    bal = "3,985.93   27,189.17Cr USER101 USER102"
    got = _by_doc(
        apgvb_parser.transactions(
            _lines(spark, {"split": [[start], [bal]], "same": [[start, bal]]})
        )
    )
    assert "split" not in got
    (t,) = got["same"]
    assert (t.Remarks, t.Credit, t.Balance) == ("TO CASH WITHDRAWAL", "3985.93", "27189.17")


def test_canara_amounts_line_stops_at_page_end(spark):
    lines = ["01-04-2024 UPI/DR/1234567890/SHOP", "Chq:"]
    amounts = "100.00 4,900.00"
    got = _by_doc(
        canara_parser.transactions(
            _lines(spark, {"split": [lines, [amounts]], "same": [lines + [amounts]]})
        )
    )
    (t,) = got["split"]
    assert (t.Debit, t.Credit, t.Balance) == ("0.00", "", "0.00")
    (t,) = got["same"]
    assert (t.Debit, t.Credit, t.Balance) == ("100.00", "", "4900.00")


def test_union_combine_stops_at_page_end(spark):
    start = "1 01/04/2024 TXN123456789 UPI PAYMENT 100.00 (Dr)"
    cont = ["5000.00 (Cr)", "EXTRA"]
    got = _by_doc(
        union_parser.transactions(
            _lines(spark, {"split": [[start], cont], "same": [[start] + cont]})
        )
    )
    # alone on its page the start has one amount pattern: no record
    assert "split" not in got
    (t,) = got["same"]
    assert (t.Amount, t.Balance) == ("100.00 (Dr)", "5000.00 (Cr)")
