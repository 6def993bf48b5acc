"""Union Bank parser — pure DataFrame re-expression of
``/root/reference/api/extractors/union_bank_extractor.py``.

The reference's imperative page/line loops decompose into the four window
patterns of SURVEY.md §2.10:

* start detection (P4, union:265-266) → ``rlike`` boolean column
* multi-line combine (P5, union:282-300) → ``lines.segments`` (segment id
  via running ``sum(is_start)``) + cumulative amount-pattern / empty-line
  counters from ``lines.earlier_in_seg``
* record extraction (P6-P8, union:306-353) → ``regexp_extract(_all)`` +
  ``locate``/``substring`` expressions on the combined segment text
* summary (A1-A6, union:361-389) → ``groupBy(doc_id).agg`` with
  ``min_by/max_by`` for the positional opening/closing quirk (union:366-368:
  opening = LAST listed transaction, closing = FIRST — statements list
  newest first; reproduced, not fixed)

Everything stays inside whole-stage codegen; the only shuffles are the
doc_id-hash exchange for the windows (reused) and the final per-doc agg.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .lines import doc_window, earlier_in_seg, last_match, nz, py_strip, segments

BANK_NAME = "Union Bank of India"

START_RE = r"^(\d+)\s+(\d{1,2}/\d{1,2}/\d{4})\s+([A-Z0-9]+)"  # union:265
NEXT_RE = r"^\d+\s+\d{1,2}/\d{1,2}/\d{4}"                      # union:294
AMT_RE = r"(\d+\.?\d*)\s*\((Dr|Cr)\)"                          # union:287,317


def transactions(lines: DataFrame) -> DataFrame:
    """(doc_id, page, off, line) → TRANSACTIONS_OUT rows for Union docs."""
    # r6: stage the per-line regex probes ONCE behind a projection — built
    # inline, rlike(START_RE) was re-matched three times per line (segment
    # sum, stopper test, include test) and the amount extract once more;
    # staged columns are matched once and the windows read booleans
    is_start = F.col("_is_start")
    staged = lines.select(
        "*",
        F.col("line").rlike(START_RE).alias("_is_start"),
        F.col("line").rlike(NEXT_RE).alias("_is_next"),
        F.size(F.regexp_extract_all(F.col("line"), F.lit(AMT_RE), 0)).alias(
            "_amt_cnt"
        ),
    )

    # combine loop (union:282-300): append following lines while the combined
    # text has <2 amount patterns, stopping at an empty line or the next
    # transaction start. All stop conditions are terminal, so cumulative
    # counters over the segment reproduce the loop exactly.
    # The combine-stop regex (NEXT_RE, union:294) is LOOSER than the start
    # regex: a digits+date line without a transaction id stops the combine
    # yet starts no segment — it and everything after it stay excluded
    is_stopper = ~is_start & F.col("_is_next")
    include = (
        (F.col("line") != "")
        & ~is_stopper
        & (earlier_in_seg(F.col("_amt_cnt")) < 2)
        & (earlier_in_seg(F.col("line") == "") == 0)
        & (earlier_in_seg(is_stopper) == 0)
    )
    segs = segments(staged, is_start, include)

    seg_text = F.col("text")
    vals = F.regexp_extract_all(seg_text, F.lit(AMT_RE), 1)
    typs = F.regexp_extract_all(seg_text, F.lit(AMT_RE), 2)
    parsed = (
        segs.where(F.size(vals) >= 2)  # union:320-321: need amount AND balance
        .withColumn("S_No", F.regexp_extract(seg_text, START_RE, 1))
        .withColumn("Date", F.regexp_extract(seg_text, START_RE, 2))
        .withColumn("Transaction_ID", F.regexp_extract(seg_text, START_RE, 3))
        .withColumn("amt_val", F.element_at(vals, 1))
        .withColumn("amt_typ", F.element_at(typs, 1))
        .withColumn("bal_val", F.element_at(vals, -1))
        .withColumn("bal_typ", F.element_at(typs, -1))
    )

    # remarks = line[find(txnid)+len(txnid) : find(f"{amt} ({typ})")] (union:327-330)
    # Python slice end is -1 (⇒ len-1) when the display string isn't found.
    remarks_start = (
        F.position(F.col("Transaction_ID"), seg_text) - 1 + F.length("Transaction_ID")
    )
    disp = F.concat(F.col("amt_val"), F.lit(" ("), F.col("amt_typ"), F.lit(")"))
    loc = F.position(disp, seg_text)
    remarks_end = F.when(loc > 0, loc - 1).otherwise(F.length(seg_text) - 1)
    remarks = py_strip(
        F.substring(
            seg_text, (remarks_start + 1).cast("int"), (remarks_end - remarks_start).cast("int")
        )
    )

    amt_num = F.col("amt_val").cast("double")
    bal_num = F.col("bal_val").cast("double")
    out = (
        parsed.withColumn("Remarks", remarks)
        .withColumn(
            "Amount_Numeric", F.when(F.col("amt_typ") == "Dr", -amt_num).otherwise(amt_num)
        )
        .withColumn(
            "Balance_Numeric", F.when(F.col("bal_typ") == "Dr", -bal_num).otherwise(bal_num)
        )
        .withColumn("Amount", F.concat("amt_val", F.lit(" ("), "amt_typ", F.lit(")")))
        .withColumn("Balance", F.concat("bal_val", F.lit(" ("), "bal_typ", F.lit(")")))
        .withColumn(
            "Transaction_Type",
            F.when(F.col("amt_typ") == "Cr", F.lit("Credit")).otherwise(F.lit("Debit")),
        )
        .withColumn("Page_Number", F.col("page").cast("int"))
        .withColumn("order", F.row_number().over(doc_window()).cast("int"))
    )
    return out.select(
        "doc_id", "order", "S_No", "Date", "Transaction_ID", "Remarks", "Amount",
        F.lit(None).cast("string").alias("Debit"),
        F.lit(None).cast("string").alias("Credit"),
        "Balance", "Amount_Numeric", "Balance_Numeric", "Transaction_Type", "Page_Number",
    )


def _last_extract(arr: Column, contains: str, pattern: str, group: int = 1) -> Column:
    """Last line that contains the keyword AND matches the pattern → captured
    group ('last match wins': the reference overwrites the dict per matching
    line, union:110-233)."""
    line = last_match(
        arr, lambda l: l.contains(contains) & (F.regexp_extract(l, pattern, group) != "")
    )
    return F.regexp_extract(line, pattern, group)


def metadata(head_lines: DataFrame) -> DataFrame:
    """Per-doc metadata struct from first-page lines (union:100-235).

    ``head_lines`` is (doc_id, arr) from ``lines.head_lines_frame`` — an
    array STAGED behind a Generate barrier, so the ~15 field probes traverse
    stored strings instead of re-deriving the page split per probe
    (CollapseProject would inline an expression-valued array into every
    consumer)."""
    arr = F.col("arr")
    idx = F.transform(arr, lambda l, i: F.struct(l.alias("l"), i.alias("i")))

    name_guard = lambda l: l.startswith("Name") & l.rlike(r"\S\s+\S")  # noqa: E731
    customer_name = py_strip(
        F.regexp_extract(
            last_match(
                arr,
                lambda l: name_guard(l)
                & (F.regexp_extract(l, r"Name\s+([A-Z\s]+)\s+Customer/CIF", 1) != ""),
            ),
            r"Name\s+([A-Z\s]+)\s+Customer/CIF",
            1,
        )
    )
    cif = F.regexp_extract(
        last_match(
            arr,
            lambda l: name_guard(l)
            & (F.regexp_extract(l, r"Customer/CIF ID\s+(\d+)", 1) != ""),
        ),
        r"Customer/CIF ID\s+(\d+)",
        1,
    )

    # statement period incl. the partial-year lookahead (union:149-203, M6)
    per = last_match(idx, lambda x: x["l"].contains("Statement Period"))
    pl, pi = per["l"], per["i"]
    full_re = r"(\d{2}/\d{2}/\d{4})\s+To\s+(\d{2}/\d{2}/\d{4})"
    part_re = r"(\d{2}/\d{2}/\d{4})\s+To\s+(\d{2}/\d{2})"
    full_from, full_to = F.regexp_extract(pl, full_re, 1), F.regexp_extract(pl, full_re, 2)
    part_from, part_to = F.regexp_extract(pl, part_re, 1), F.regexp_extract(pl, part_re, 2)
    # line[line.find(to_partial):] — first occurrence (union:168)
    to_section = F.when(
        part_to != "", F.substring(pl, F.position(part_to, pl), F.lit(10**6))
    )
    from_year = F.try_element_at(F.split(part_from, "/"), F.lit(-1)).try_cast("int")
    # year on the same line after the partial to-date (union:166-171)
    year_same = F.regexp_extract(to_section, r"/(\d{4})", 1)
    # else scan the next 3 lines for the first 4-digit year != from_year (union:173-186)
    win3 = F.slice(arr, pi + 2, 3)  # 1-based slice of 0-based index i ⇒ lines i+1..i+3
    years = F.flatten(
        F.transform(win3, lambda l: F.regexp_extract_all(l, F.lit(r"(?:/)?(\d{4})"), 1))
    )
    year_next = F.try_element_at(F.filter(years, lambda y: y.cast("int") != from_year), F.lit(1))
    to_year = F.when(year_same != "", year_same).otherwise(year_next)
    # Reference quirk (reproduced, not fixed): the `else` that assigns
    # metadata["statement_period"] at union:198-203 is attached to the
    # if/elif chain, so a FULL-date match only binds local variables and the
    # period is NEVER stored; only the partial-year path (union:188-194)
    # stores it. A 'Statement Period' line matching neither pattern would
    # NameError in the reference — outside the fidelity envelope.
    period = (
        F.when(
            (full_from == "") & (part_from != "") & to_year.isNotNull(),
            F.struct(
                part_from.alias("from_date"),
                F.concat(part_to, F.lit("/"), to_year).alias("to_date"),
            ),
        )
        .otherwise(F.lit(None).cast("struct<from_date:string,to_date:string>"))
    )

    # address: window of 5 lines from the last 'Address' line (union:217-233)
    addr = last_match(idx, lambda x: x["l"].contains("Address"))
    win5 = F.slice(arr, addr["i"] + 1, 5)  # 0-based i ⇒ lines i..i+4
    kept = F.filter(
        win5,
        lambda l: (l != "")
        & ~(
            l.contains("Account Type")
            | l.contains("Account Number")
            | l.contains("Currency")
            | l.contains("City")
        ),
    )
    parts = F.filter(
        F.transform(
            kept,
            lambda l: F.when(
                l.contains("Address"), py_strip(F.regexp_replace(l, "Address", ""))
            ).otherwise(l),
        ),
        lambda l: l != "",
    )
    address = F.when(F.size(parts) > 0, F.array_join(F.slice(parts, 1, 3), ", "))

    meta = F.struct(
        F.lit(BANK_NAME).alias("bank_name"),
        F.lit("INR").alias("currency"),
        F.when(customer_name != "", customer_name).alias("customer_name"),
        F.when(cif != "", cif).alias("customer_cif_id"),
        nz(_last_extract(arr, "Account Number", r"Account Number\s+(\d+)")).alias(
            "account_number"
        ),
        nz(py_strip(_last_extract(arr, "Account Type", r"Account Type\s+([A-Za-z\s]+)"))).alias(
            "account_type"
        ),
        nz(_last_extract(arr, "IFSC", r"IFSC\s+([A-Z0-9]+)")).alias("ifsc_code"),
        nz(_last_extract(arr, "Statement Date", r"Statement Date\s+(\d{2}/\d{2}/\d{4})")).alias(
            "statement_date"
        ),
        period.alias("statement_period"),
        nz(_last_extract(arr, "Mobile No", r"Mobile No\s+(\d+)")).alias("mobile_number"),
        nz(py_strip(_last_extract(arr, "Home branch", r"Home branch\s+([A-Z\s]+)"))).alias(
            "home_branch"
        ),
        F.lit(None).cast("string").alias("branch_code"),
        address.alias("address"),
        F.lit(None).cast("double").alias("opening_balance"),
    )
    return head_lines.select("doc_id", meta.alias("metadata"))


def summary(txns: DataFrame) -> DataFrame:
    """A1-A6 per-doc aggregate (union:361-389). Quirks reproduced:
    opening = balance of the LAST listed txn, closing = FIRST listed;
    date_range is lexicographic string min/max."""
    return txns.groupBy("doc_id").agg(
        F.max_by("Balance_Numeric", "order").alias("opening_balance"),
        F.min_by("Balance_Numeric", "order").alias("closing_balance"),
        F.coalesce(
            F.sum(F.when(F.col("Amount_Numeric") < 0, F.col("Amount_Numeric"))), F.lit(0.0)
        ).alias("total_debits"),
        F.coalesce(
            F.sum(F.when(F.col("Amount_Numeric") > 0, F.col("Amount_Numeric"))), F.lit(0.0)
        ).alias("total_credits"),
        F.count(F.lit(1)).alias("transaction_count"),
        F.min("Date").alias("from_date"),
        F.max("Date").alias("to_date"),
    ).withColumn("net_change", F.col("total_credits") + F.col("total_debits"))
