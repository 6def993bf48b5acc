"""APGVB parser — pure DataFrame re-expression of
``/root/reference/api/extractors/apgvb_extractor.py``.

The flagship mapping (SURVEY.md §2.10.1): the reference's stateful
``_previous_balance`` debit/credit mathematics (apgvb:894-907, state at
:856-859) becomes ``lag(balance, 1, 0.0) over (partition by doc_id order by
position)`` — balance increased ⇒ Credit, decreased ⇒ Debit, unchanged ⇒
Credit. The per-document lag(…, 0.0) matches the documented fresh-instance
behavior (first record compares against 0.0, apgvb:821-824).

Amount search scans the start line plus up to 3 following raw page lines,
skipping empty/'---' lines, for the first line carrying the balance pattern
``([\\d,]+\\.?\\d*)Cr\\s+`` with a clean amount before it (apgvb:833-892) —
mapped to a candidate array of page-bounded leads (``lines.page_lead``).
Transactions whose amounts land on a lookahead line CONSUME those lines
(apgvb:696: ``i += offset+1``): a consumed line never re-parses as a
transaction start. That sequential consumption is reproduced with a per-page
left fold (``F.aggregate``) over the candidate records — state is (next
allowed line index, accepted records) — and the accepted records are
exploded straight into rows. The parse is single-pass: one line window
(``lines.doc_window``) feeds the lookahead, and the same order gives the
balance ``lag`` and the record ``order`` after the fold, so the branch has
one scan, one exchange and no join. The fold stays per page because its
``concat`` accumulator is quadratic in the array length; pages are bounded
(≤ a few hundred lines), a doc is not.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .lines import doc_window, last_match, nz, page_lead, py_strip

BANK_NAME = "Andhra Pradesh Grameena Bank"

START_RE = r"^(\d{2}-\d{2}-\d{4})\s+(\d{2}-\d{2}-\d{4})\s+(.+)"  # apgvb:719
BAL_RE = r"[\d,]+\.?\d*Cr\s+"                                     # apgvb:867 (match region)
BAL_CAP_RE = r"([\d,]+\.?\d*)Cr\s+"
NUM_RE = r"([\d,]+\.?\d*)"                                        # apgvb:880
DESC_CUT_RE = r"\s+[\d,]+\.?\d*\s"                                # apgvb:942
DESC_FALLBACK_RE = r"\s+[\d,]+\.?\d*Cr.*$"                        # apgvb:951

_HEADER_KW = [  # apgvb:706-710
    "GL.", "Date", "Value", "Instrmnt", "Particulars", "Transaction",
    "Debit Amount", "Credit Amount", "Balance", "Entry", "Verified",
    "User Id", "Order by GL. Date", "Page Total", "B/F Balance",
]


def _skip(line: Column) -> Column:
    cond = (line == "") | line.startswith("---") | line.contains("Page")  # apgvb:713-715
    for kw in _HEADER_KW:
        cond = cond | line.contains(kw)
    return cond


def _clean_numeric_last(before: Column) -> Column:
    """Last token matching NUM_RE in ``before`` that is all-digits after
    stripping ',' and '.' (apgvb:878-892), as double; null if none."""
    clean = F.filter(
        F.transform(
            F.regexp_extract_all(before, F.lit(NUM_RE), 1),
            lambda t: F.regexp_replace(t, ",", ""),
        ),
        lambda t: F.regexp_replace(t, r"\.", "").rlike(r"^\d+$"),
    )
    return F.try_element_at(clean, F.lit(-1)).cast("double")


def transactions(lines: DataFrame) -> DataFrame:
    """(doc_id, page, off, line) → TRANSACTIONS_OUT rows for APGVB docs."""
    line = F.col("line")
    w = doc_window()
    df = (
        # idx is the reference's per-page line index i plus a per-page
        # constant, which the per-page fold below only ever compares
        lines.withColumn("idx", F.row_number().over(w))
        .withColumn(
            "cands",
            F.array(line, page_lead("line", 1), page_lead("line", 2), page_lead("line", 3)),
        )
        .where(~_skip(line) & line.rlike(START_RE))
    )

    # first candidate line carrying both the balance pattern and a clean
    # amount before it (apgvb:833-854: skip empty/'---', else continue);
    # hit_idx is the reference's `offset` — the raw lines-ahead count
    def _usable(c: Column) -> Column:
        return (
            c.isNotNull()
            & (c != "")
            & ~c.startswith("---")
            & (F.regexp_extract(c, BAL_CAP_RE, 1) != "")
            & _clean_numeric_last(py_strip(F.element_at(F.split(c, BAL_RE), 1))).isNotNull()
        )

    hit_idx = F.try_element_at(
        F.filter(
            F.transform(F.col("cands"), lambda c, i: F.when(_usable(c), i)),
            lambda x: x.isNotNull(),
        ),
        F.lit(1),
    )
    df = (
        df.withColumn("hit_idx", hit_idx)
        .where(F.col("hit_idx").isNotNull())
        .withColumn("hit", F.element_at("cands", F.col("hit_idx") + 1))
    )

    # lookahead CONSUMPTION (apgvb:696 `i += offset+1`): per-page fold over
    # the records in line order — accept a start only if its line index is
    # past the previous accepted start's consumed range. The fold keeps the
    # accepted records themselves, which are exploded straight into rows.
    recs = df.groupBy("doc_id", "page").agg(
        F.array_sort(
            F.collect_list(F.struct("idx", "hit_idx", "off", "line", "hit"))
        ).alias("ss")
    )
    kept = F.aggregate(
        "ss",
        F.struct(
            F.lit(0).alias("nxt"),
            F.filter("ss", lambda s: F.lit(False)).alias("keep"),  # typed []
        ),
        lambda acc, s: F.when(
            s["idx"] >= acc["nxt"],
            F.struct(
                (s["idx"] + s["hit_idx"] + 1).alias("nxt"),
                F.concat(acc["keep"], F.array(s)).alias("keep"),
            ),
        ).otherwise(acc),
        lambda acc: acc["keep"],
    )

    before = py_strip(F.element_at(F.split(F.col("hit"), BAL_RE), 1))
    parsed = (
        recs.select("doc_id", "page", F.inline(kept))
        .withColumn(
            "bal_num",
            F.regexp_replace(F.regexp_extract("hit", BAL_CAP_RE, 1), ",", "").cast("double"),
        )
        .withColumn("amt_num", _clean_numeric_last(before))
        .withColumn("Date", F.regexp_extract("line", START_RE, 1))
        .withColumn("after_dates", py_strip(F.regexp_extract("line", START_RE, 3)))
    )

    # balance-change classification — the lag window (P10)
    change = F.col("bal_num") - F.lag("bal_num", 1, 0.0).over(w)
    txn_type = F.when(change < 0, F.lit("Debit")).otherwise(F.lit("Credit"))  # ==0 ⇒ Credit

    # description cleaning (apgvb:909-952)
    after = F.col("after_dates")
    remarks = F.when(
        after.rlike(DESC_CUT_RE), py_strip(F.element_at(F.split(after, DESC_CUT_RE), 1))
    ).otherwise(py_strip(F.regexp_replace(after, DESC_FALLBACK_RE, "")))

    # str(float) display form — Spark's double→string cast matches Python's
    # shortest round-trip repr for this value range (quirk, SURVEY.md §2.4)
    amt_str = F.col("amt_num").cast("string")
    out = (
        parsed.withColumn("Transaction_Type", txn_type)
        .withColumn("Remarks", remarks)
        .withColumn(
            "Debit", F.when(txn_type == "Debit", amt_str).otherwise(F.lit(""))
        )
        .withColumn(
            "Credit", F.when(txn_type == "Credit", amt_str).otherwise(F.lit(""))
        )
        .withColumn("Balance", F.col("bal_num").cast("string"))
        .withColumn("Page_Number", F.col("page").cast("int"))
        .withColumn("order", F.row_number().over(w).cast("int"))
        .withColumn("S_No", F.col("order").cast("string"))  # continuous across pages (apgvb:597-613)
    )
    return out.select(
        "doc_id", "order", "S_No", "Date",
        F.lit("").alias("Transaction_ID"),
        "Remarks",
        F.lit(None).cast("string").alias("Amount"),
        "Debit", "Credit", "Balance",
        F.lit(None).cast("double").alias("Amount_Numeric"),
        F.lit(None).cast("double").alias("Balance_Numeric"),
        "Transaction_Type", "Page_Number",
    )


def metadata(head_lines: DataFrame) -> DataFrame:
    """Per-doc metadata from the first two pages (apgvb:440-551);
    ``head_lines`` is the staged (doc_id, arr) from
    ``lines.head_lines_frame(two_pages=True)``."""
    arr = F.col("arr")

    def last_extract(cond, pat: str, group: int = 1) -> Column:
        matched = last_match(arr, lambda l: cond(l) & (F.regexp_extract(l, pat, group) != ""))
        return F.regexp_extract(matched, pat, group)

    period_re = r"(?:Period\s*:\s*|from\s+)(\d{2}-\d{2}-\d{4})\s+to\s+(\d{2}-\d{2}-\d{4})"
    per_cond = lambda l: l.startswith("Period") | l.contains(  # noqa: E731
        "Customer Account Ledger Report from"
    )
    p_from = last_extract(per_cond, period_re, 1)
    p_to = last_extract(per_cond, period_re, 2)
    period = F.when(
        p_from != "",
        F.struct(p_from.alias("from_date"), p_to.alias("to_date")),
    ).otherwise(F.lit(None).cast("struct<from_date:string,to_date:string>"))

    opening = F.regexp_replace(
        last_extract(
            lambda l: l.startswith("Opening Balance"),
            r"Opening Balance\s*:\s*([\d,]+(?:\.\d+)?)",
        ),
        ",",
        "",
    ).cast("double")

    meta = F.struct(
        F.lit(BANK_NAME).alias("bank_name"),
        F.lit("INR").alias("currency"),
        nz(
            py_strip(
                last_extract(
                    lambda l: l.contains("Account No") & l.contains("INR"),
                    r"Account No\s*:\s*\d+\s+INR\s+(.+)",
                )
            )
        ).alias("customer_name"),
        F.lit(None).cast("string").alias("customer_cif_id"),
        nz(
            last_extract(lambda l: l.contains("Account No"), r"Account No\s*:\s*(\d+)")
        ).alias("account_number"),
        nz(
            py_strip(
                last_extract(
                    lambda l: l.contains("CURRENT DEPOSITS") | l.contains("SAVINGS"),
                    r"\d+\s+(.+)",
                )
            )
        ).alias("account_type"),
        F.lit(None).cast("string").alias("ifsc_code"),
        F.lit(None).cast("string").alias("statement_date"),
        period.alias("statement_period"),
        F.lit(None).cast("string").alias("mobile_number"),
        nz(
            py_strip(
                last_extract(
                    lambda l: l.contains("Service OutLet"), r"Service OutLet\s*:\s*\d+\s+(.+)"
                )
            )
        ).alias("home_branch"),
        F.lit(None).cast("string").alias("branch_code"),
        F.lit(None).cast("string").alias("address"),
        opening.alias("opening_balance"),
    )
    return head_lines.select("doc_id", meta.alias("metadata"))


def summary(txns: DataFrame, meta: DataFrame) -> DataFrame:
    """A1-A6 (apgvb:954-1042): opening from metadata (default 0.0), closing
    from the last transaction's Balance string, totals from the Debit/Credit
    strings, net = credits - debits, lexicographic string date min/max."""
    num = lambda c: F.coalesce(  # noqa: E731
        F.when(F.col(c) != "", F.regexp_replace(F.col(c), ",", "").cast("double")), F.lit(0.0)
    )
    last_bal = F.max_by(F.col("Balance"), F.col("order"))
    agg = txns.groupBy("doc_id").agg(
        F.coalesce(
            F.when(last_bal != "", F.regexp_replace(last_bal, ",", "").cast("double")),
            F.lit(0.0),
        ).alias("closing_balance"),
        F.sum(num("Debit")).alias("total_debits"),
        F.sum(num("Credit")).alias("total_credits"),
        F.count(F.lit(1)).alias("transaction_count"),
        F.min(F.when(F.col("Date") != "", F.col("Date"))).alias("from_date"),
        F.max(F.when(F.col("Date") != "", F.col("Date"))).alias("to_date"),
    )
    return (
        agg.join(
            meta.select(
                "doc_id", F.col("metadata.opening_balance").alias("_opening")
            ),
            "doc_id",
            "left",
        )
        .withColumn("opening_balance", F.coalesce(F.col("_opening"), F.lit(0.0)))
        .withColumn("net_change", F.col("total_credits") - F.col("total_debits"))
        .drop("_opening")
    )
