"""Canara Bank parser — pure DataFrame re-expression of
``/root/reference/api/extractors/canara_bank_extractor.py``.

Distinctive semantics vs Union:

* header-keyword skip list runs BEFORE start detection (canara:228-235), so a
  date-led line containing e.g. 'Balance' is never a transaction start;
* records combine from the date line up to the first ``Chq:`` line; the
  amounts live on the line IMMEDIATELY AFTER ``Chq:`` (canara:262-291) —
  mapped to ``lines.page_lead`` (the reference reads the raw
  ``lines[i+1]``, which may even cross into the next record);
* serial numbers restart at 1 on every page (canara:221);
* the financial summary sorts by parsed date but still assigns
  opening = latest / closing = earliest (canara:385-393) — inverted
  semantics faithfully copied from Union; reproduced, not fixed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .lines import doc_window, earlier_in_seg, last_match, nz, page_lead, py_strip, segments

BANK_NAME = "Canara Bank"

DATE_RE = r"^(\d{2}-\d{2}-\d{4})"  # canara:238
_HEADER_KW = ["Date", "Particulars", "Deposits", "Withdrawals", "Balance"]  # canara:228


def _is_header(line: Column) -> Column:
    cond = F.lit(False)
    for kw in _HEADER_KW:
        cond = cond | line.contains(kw)
    return cond


def transactions(lines: DataFrame) -> DataFrame:
    """(doc_id, page, off, line) → TRANSACTIONS_OUT rows for Canara docs."""
    line = F.col("line")
    is_start = (
        ~_is_header(line)
        & ~line.startswith("Opening Balance")
        & line.rlike(DATE_RE)
    )
    # combine (canara:262-291): non-empty lines from the start up to and
    # including the FIRST 'Chq:' line of the segment; the amounts line is
    # the raw line after it on the page (canara:278-282), '' when there is
    # none or no Chq: was found before the segment ended
    is_chq = line.startswith("Chq:")
    no_chq_yet = earlier_in_seg(is_chq) == 0
    segs = segments(
        lines.withColumn("next_line", F.coalesce(page_lead("line", 1), F.lit(""))),
        is_start,
        (line != "") & no_chq_yet,
        amt_line=F.when(is_chq & no_chq_yet, F.col("next_line")),
    )

    text = F.col("text")
    date = F.element_at(F.split(text, r"\s+"), 1)
    valid_date = (F.length(date) == 10) & (
        F.size(F.split(date, "-")) == 3
    )  # len==10 and count('-')==2 (canara:316)

    # amounts: whitespace tokens that contain '.' and are all digits after
    # stripping ',' and '.' (canara:326-342); commas removed in the output
    toks = F.split(F.coalesce(F.col("amt_line"), F.lit("")), r"\s+")
    numeric = F.transform(
        F.filter(
            toks,
            lambda t: t.contains(".")
            & F.regexp_replace(F.regexp_replace(t, ",", ""), r"\.", "").rlike(r"^\d+$"),
        ),
        lambda t: F.regexp_replace(t, ",", ""),
    )
    amount_str = F.when(F.size(numeric) >= 2, F.element_at(numeric, 1)).otherwise(F.lit("0.00"))
    balance_str = (
        F.when(F.size(numeric) >= 2, F.element_at(numeric, 2))
        .when(F.size(numeric) == 1, F.element_at(numeric, 1))
        .otherwise(F.lit("0.00"))
    )

    txn_type = F.when(text.contains("/DR/"), F.lit("Debit")).otherwise(F.lit("Credit"))
    particulars = py_strip(F.expr("substring(text, length(split(text, '\\\\s+')[0]) + 2)"))

    out = (
        segs.where(valid_date)
        .withColumn("Date", date)
        .withColumn("Remarks", particulars)
        .withColumn("Transaction_Type", txn_type)
        .withColumn("Debit", F.when(txn_type == "Debit", amount_str).otherwise(F.lit("")))
        .withColumn("Credit", F.when(txn_type == "Credit", amount_str).otherwise(F.lit("")))
        .withColumn("Balance", balance_str)
        .withColumn("Page_Number", F.col("page").cast("int"))
        .withColumn(
            "S_No",  # serial restarts per page (canara:221)
            F.row_number()
            .over(Window.partitionBy("doc_id", "page").orderBy("off"))
            .cast("string"),
        )
        .withColumn("order", F.row_number().over(doc_window()).cast("int"))
    )
    return out.select(
        "doc_id", "order", "S_No", "Date",
        F.lit(None).cast("string").alias("Transaction_ID"),
        "Remarks",
        F.lit(None).cast("string").alias("Amount"),
        "Debit", "Credit", "Balance",
        F.lit(None).cast("double").alias("Amount_Numeric"),
        F.lit(None).cast("double").alias("Balance_Numeric"),
        "Transaction_Type", "Page_Number",
    )


def metadata(head_lines: DataFrame) -> DataFrame:
    """Per-doc metadata from first-page lines (canara:100-184); ``head_lines``
    is the staged (doc_id, arr) from ``lines.head_lines_frame``."""
    arr = F.col("arr")
    idx = F.transform(arr, lambda l, i: F.struct(l.alias("l"), i.alias("i")))

    def last_extract(startswith: str | None, contains: str | None, pat: str) -> Column:
        def cond(l):
            c = F.regexp_extract(l, pat, 1) != ""
            if startswith is not None:
                c = c & l.startswith(startswith)
            if contains is not None:
                c = c & l.contains(contains)
            return c

        return F.regexp_extract(last_match(arr, cond), pat, 1)

    acc = last_extract("Statement for A/c", None, r"Statement for A/c\s+(\d+)")
    per_line = last_match(
        arr,
        lambda l: l.startswith("Statement for A/c")
        & l.rlike(r"between\s+\d{2}-[A-Za-z]{3}-\d{4}\s+and\s+\d{2}-[A-Za-z]{3}-\d{4}"),
    )
    per_re = r"between\s+(\d{2}-[A-Za-z]{3}-\d{4})\s+and\s+(\d{2}-[A-Za-z]{3}-\d{4})"
    period = F.when(
        F.regexp_extract(per_line, per_re, 1) != "",
        F.struct(
            F.regexp_extract(per_line, per_re, 1).alias("from_date"),
            F.regexp_extract(per_line, per_re, 2).alias("to_date"),
        ),
    ).otherwise(F.lit(None).cast("struct<from_date:string,to_date:string>"))

    # address: 'Address' line + up to 3 continuation lines, stopping at the
    # first empty line or one containing a boundary keyword (canara:145-164)
    addr = F.try_element_at(F.filter(idx, lambda x: x["l"].startswith("Address")), F.lit(-1))
    head = py_strip(F.regexp_replace(addr["l"], "Address", ""))
    win3 = F.slice(arr, addr["i"] + 2, 3)  # 0-based i ⇒ lines i+1..i+3
    bad = lambda l: (l == "") | (  # noqa: E731
        l.contains("Branch Code") | l.contains("Branch Name") | l.contains("IFSC") | l.contains("Date")
    )
    # take-while: keep elements strictly before the first failing one
    fail_pos = F.filter(
        F.transform(win3, lambda l, k: F.when(bad(l), k + 1).otherwise(F.lit(0))),
        lambda p: p > 0,
    )
    cut = F.coalesce(F.try_element_at(fail_pos, F.lit(1)) - 1, F.size(win3))
    cont = F.slice(win3, 1, cut)
    parts = F.when(head != "", F.concat(F.array(head), cont)).otherwise(cont)
    address = F.when(F.size(parts) > 0, F.array_join(parts, " "))

    meta = F.struct(
        F.lit(BANK_NAME).alias("bank_name"),
        F.lit("INR").alias("currency"),
        nz(py_strip(last_extract("Name", None, r"Name\s+(.+)"))).alias("customer_name"),
        nz(last_extract("Customer Id", None, r"Customer Id\s+(\d+)")).alias("customer_cif_id"),
        nz(acc).alias("account_number"),
        F.lit(None).cast("string").alias("account_type"),
        nz(last_extract(None, "IFSC Code", r"IFSC Code\s+([A-Z0-9]+)")).alias("ifsc_code"),
        F.lit(None).cast("string").alias("statement_date"),
        period.alias("statement_period"),
        nz(last_extract("Phone", None, r"Phone\s+(\+?\d+)")).alias("mobile_number"),
        nz(py_strip(last_extract(None, "Branch Name", r"Branch Name\s+(.+)"))).alias(
            "home_branch"
        ),
        nz(last_extract(None, "Branch Code", r"Branch Code\s+(\d+)")).alias("branch_code"),
        address.alias("address"),
        F.lit(None).cast("double").alias("opening_balance"),
    )
    return head_lines.select("doc_id", meta.alias("metadata"))


def summary(txns: DataFrame) -> DataFrame:
    """A1-A6 (canara:380-421). Sort by parsed date (stable ⇒ secondary key =
    input order); opening = balance of the LATEST-dated txn, closing =
    EARLIEST (inverted on purpose); totals from the Debit/Credit strings."""
    parsed_date = F.to_date("Date", "dd-MM-yyyy")
    key = F.struct(parsed_date.alias("d"), F.col("order").alias("o"))
    num = lambda c: F.coalesce(  # noqa: E731
        F.when(F.col(c) != "", F.regexp_replace(F.col(c), ",", "").cast("double")), F.lit(0.0)
    )
    bal = F.when(F.col("Balance") != "", F.regexp_replace(F.col("Balance"), ",", "")
                 .cast("double")).otherwise(F.lit(0.0))
    df = txns.withColumn("_k", key).withColumn("_bal", bal)
    return (
        df.groupBy("doc_id")
        .agg(
            F.max_by("_bal", "_k").alias("opening_balance"),
            F.min_by("_bal", "_k").alias("closing_balance"),
            F.sum(num("Debit")).alias("total_debits"),
            F.sum(num("Credit")).alias("total_credits"),
            F.count(F.lit(1)).alias("transaction_count"),
            F.min("Date").alias("from_date"),
            F.max("Date").alias("to_date"),
        )
        .withColumn("net_change", F.col("total_credits") - F.col("total_debits"))
    )
