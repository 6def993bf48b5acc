"""Deterministic synthetic corpus of interleaved text+media documents.

Generates the canonical input table ``documents(doc_id, spans, bank_id,
password, encrypted, declared_size_mb)`` (FIXTURES.md §1) containing:

* the three bank statement line grammars (FIXTURES.md §2), derived from the
  reference regexes (union_bank_extractor.py:265,306-317;
  canara_bank_extractor.py:238,262-291; apgvb_extractor.py:717-728,865-892),
* the 8-class validator taxonomy (mirrors /root/reference/tests/
  test_pdf_validator.py:37-46).

Every document is a pure function of its integer index (seeded
``random.Random``), so generation is deterministic under any partitioning:
tests call :func:`gen_doc` driver-side, while bench/cluster runs build the
same corpus distributed via :func:`spark_corpus` (``mapInPandas`` over
``spark.range`` — vectorized, no per-row Python in the Spark sense of a
row-at-a-time udf; one Arrow batch per partition).
"""

from __future__ import annotations

import random
from typing import Iterator

from .schemas import DOCUMENTS, PAGE_BREAK

CORRECT_PASSWORD = "testpassword123"  # tests/README.md:40
GENERATOR_VERSION = 4  # bump on any grammar change (keys staged bench corpora)

_MERCHANTS = [
    "AMAZON", "FLIPKART", "SWIGGY", "ZOMATO", "IRCTC", "BIGBAZAAR",
    "RELIANCE", "PAYTM", "PHONEPE", "GPAY", "MYNTRA", "OLACABS",
]
_FIRST = ["KONALA", "RAVI", "SITA", "ARJUN", "LAKSHMI", "VENKATA", "PRIYA", "SURESH"]
_LAST = ["SURREDDY", "KUMAR", "DEVI", "RAO", "REDDY", "NAIDU", "SHARMA", "VARMA"]
_BRANCHES = ["POLAMURU EAST", "VIJAYAWADA MAIN", "GUNTUR CITY", "TENALI ROAD", "ONGOLE WEST"]
# Union remarks: must not contain digits adjacent to '(' patterns; kept alnum-ish
_UNION_REMARKS = [
    "UPI CREDIT SALARY", "NEFT TRANSFER HOUSE RENT", "ATM WITHDRAWAL CASH",
    "POS PURCHASE GROCERY", "IMPS RECEIVED REFUND", "CHEQUE DEPOSIT CLEARING",
]
# APGVB descriptions: must avoid the skip keywords (apgvb_extractor.py:704-715):
# GL., Date, Value, Instrmnt, Particulars, Transaction, Debit Amount,
# Credit Amount, Balance, Entry, Verified, User Id, Page, ...
_APGVB_DESC = [
    "BY CASH", "CHQ BOOK ISSUE CHARGES", "TO CASH WITHDRAWAL",
    "INT CREDIT QUARTERLY", "SMS CHARGES RECOVERY",
]


def _d2(rng: random.Random, lo: float, hi: float) -> float:
    """Two-decimal amount in [lo, hi]."""
    return round(rng.uniform(lo, hi), 2)


class _SpanBuilder:
    def __init__(self) -> None:
        self.spans: list[tuple[str, str, str, int]] = []

    def text(self, line: str) -> None:
        self.spans.append(("text", line, "", len(self.spans)))

    def page_break(self) -> None:
        self.text(PAGE_BREAK)

    def media(self, ref: str) -> None:
        self.spans.append(("media", "", ref, len(self.spans)))


def _union_doc(rng: random.Random, doc_id: str, hybrid: bool = False) -> list[tuple]:
    b = _SpanBuilder()
    name = f"{rng.choice(_FIRST)} {rng.choice(_LAST)}"
    acct = rng.randrange(10**11, 10**12)
    b.text(f"Name {name} Customer/CIF ID {rng.randrange(10**7, 10**8)}")
    b.text(f"Account Number {acct}")
    b.text("Account Type SAVINGS BANK")
    b.text(f"IFSC UBIN{rng.randrange(100000, 999999)}")
    b.text(f"Statement Date {rng.randrange(1, 29):02d}/{rng.randrange(1, 13):02d}/2024")
    if rng.random() < 0.3:
        # partial-year variant: year appears on one of the next 3 lines
        # (exercises the lookahead at union_bank_extractor.py:159-197)
        b.text("Statement Period 01/04/2024 To 31/03")
        b.text("Branch Report Section")
        b.text("Generated For Year 2025")
    else:
        b.text("Statement Period 01/04/2024 To 31/03/2025")
    b.text(f"Mobile No {rng.randrange(6_000_000_000, 9_999_999_999)}")
    b.text("Home branch VIJAYAWADA MAIN")
    b.text(f"Address H NO {rng.randrange(1, 99)} MAIN ROAD")
    b.text("GUNTUR DISTRICT")
    b.text("ANDHRA PRADESH")
    if hybrid:
        b.media(f"img://{doc_id}/1/logo")
    b.text("S.No Date Transaction Id Remarks Amount(Rs.) Balance(Rs.)")

    n_txn = rng.randrange(4, 22)
    # ~8% of docs carry crore-scale balances (>= 1e7): Java's
    # Double.toString goes scientific at 1e7 where Python str(float) stays
    # plain-decimal, so these exercise py_float_str's expansion END-TO-END
    # through parse → serialize → parity (VERDICT r2 #6)
    crore = rng.random() < 0.08
    balance = _d2(rng, 2e7, 9.9e8) if crore else _d2(rng, 10_000, 90_000)
    day, month = rng.randrange(1, 29), rng.randrange(1, 13)
    for n in range(1, n_txn + 1):
        amt = _d2(rng, 10, 9_000)
        if crore and n == 1:
            # sub-1e-3 amount (union regex \d+\.?\d* admits 4 decimals):
            # Python str keeps '0.0005', Java renders 5.0E-4 — the small
            # branch of py_float_str, end-to-end
            amt = round(rng.uniform(1.5e-4, 9e-4), 4)
        drcr = rng.choice(["Dr", "Cr"]) if balance > 9_100 else "Cr"
        txnid = f"TXN{rng.randrange(10**8, 10**9)}"
        remarks = rng.choice(_UNION_REMARKS)
        # occasionally single-digit day/month (regex allows \d{1,2})
        if rng.random() < 0.2:
            date = f"{rng.randrange(1, 10)}/{rng.randrange(1, 10)}/2024"
        else:
            date = f"{day:02d}/{month:02d}/2024"
        head = f"{n} {date} {txnid} {remarks}"
        amt_txt = f"{amt}" if amt < 1 else f"{amt:.2f}"
        tail = f"{amt_txt} ({drcr}) {balance:.2f} (Cr)"
        r = rng.random()
        if r < 0.25:
            # wrapped record: amounts on the following line
            # (exercises _combine_transaction_lines, union:282-300)
            b.text(head)
            b.text(tail)
        elif r < 0.30:
            # corrupted wrap: a digits+date footer line interrupts the
            # combine (matches the loose stop regex union:294 but not the
            # start regex union:265) — the whole record is discarded
            b.text(head)
            b.text(f"{n} {date}")
            b.text(tail)
        else:
            b.text(f"{head} {tail}")
        balance = round(balance + (amt if drcr == "Cr" else -amt), 2)
        if n % 10 == 0 and n < n_txn:
            b.page_break()
            if hybrid:
                b.media(f"img://{doc_id}/{n // 10 + 1}/scanstamp")
            b.text("S.No Date Transaction Id Remarks Amount(Rs.) Balance(Rs.)")
    if rng.random() < 0.08:
        b.page_break()  # empty trailing page (envelope case: '' page text)
    return b.spans


def _canara_doc(rng: random.Random, doc_id: str) -> list[tuple]:
    b = _SpanBuilder()
    b.text(f"Statement for A/c {rng.randrange(10**12, 10**13)} between 01-Apr-2024 and 31-Mar-2025")
    b.text(f"Customer Id {rng.randrange(10**7, 10**8)}")
    b.text(f"Name {rng.choice(_FIRST)} {rng.choice(_LAST)}")
    b.text(f"Phone +91{rng.randrange(6_000_000_000, 9_999_999_999)}")
    b.text(f"Address D NO {rng.randrange(1, 99)} TEMPLE STREET")
    b.text("NEAR BUS STAND")
    b.text(f"Branch Code {rng.randrange(1000, 9999)}")
    b.text(f"Branch Name {rng.choice(_BRANCHES)}")
    b.text(f"IFSC Code CNRB{rng.randrange(100000, 999999):07d}")
    b.text("Date Particulars Deposits Withdrawals Balance")
    opening = _d2(rng, 1_000, 20_000)
    b.text(f"Opening Balance {opening:,.2f}")

    n_txn = rng.randrange(3, 18)
    balance = opening
    month = rng.randrange(4, 13)
    for n in range(1, n_txn + 1):
        # keep the running balance positive: negative balances would print a
        # leading '-', which the reference's token/regex rules silently strip,
        # a behavior outside our fidelity envelope (SURVEY.md §7 risk register)
        is_debit = rng.random() < 0.5 and balance > 500
        amt = _d2(rng, 5, min(4_000, balance - 100)) if is_debit else _d2(rng, 5, 4_000)
        drcr = "DR" if is_debit else "CR"
        merch = rng.choice(_MERCHANTS)
        date = f"{min(n, 28):02d}-{month:02d}-2024"
        b.text(f"{date} UPI/{drcr}/{rng.randrange(10**9, 10**10)}/{merch}")
        b.text(f"Chq: {rng.randrange(100000, 999999) if rng.random() < 0.3 else ''}".rstrip())
        balance = round(balance + (-amt if is_debit else amt), 2)
        b.text(f"{amt:,.2f} {balance:,.2f}")
        if n % 8 == 0 and n < n_txn:
            b.page_break()
            b.text("Date Particulars Deposits Withdrawals Balance")
    if rng.random() < 0.08:
        b.page_break()  # empty trailing page (envelope case: '' page text)
    return b.spans


def _apgvb_doc(rng: random.Random, doc_id: str) -> list[tuple]:
    b = _SpanBuilder()
    name = f"{rng.choice(_FIRST)} {rng.choice(_LAST)}"
    opening = _d2(rng, 5_000, 50_000)
    b.text(f"Account No : {rng.randrange(10**10, 10**11)} INR {name}")
    b.text("Gl Sub Head Code : 12020 CURRENT DEPOSITS - OTHERS")
    b.text(f"Service OutLet : {rng.randrange(1000, 9999)} {rng.choice(_BRANCHES)}")
    b.text("Period : 01-04-2024 to 31-03-2025")
    b.text(f"Opening Balance : {opening:,.2f}")
    b.text("--------------------------------------------------------------")
    b.text("GL. Date Value Date Particulars Debit Amount Credit Amount Balance")
    b.text("--------------------------------------------------------------")

    if rng.random() < 0.1:
        # an EMPTY page 2 (envelope case): the reference's two-page metadata
        # assembly sees a '' page text; probes must behave identically
        b.page_break()
        b.page_break()
        b.text("GL. Date Value Date Particulars Debit Amount Credit Amount Balance")

    n_txn = rng.randrange(4, 20)
    # the reference classifier compares the first record's balance against
    # a previous balance of 0.0 (apgvb_extractor.py:856-859,894-907); keep
    # balances > 0 so the first record always classifies Credit, matching it
    balance = opening
    month = rng.randrange(4, 13)
    for n in range(1, n_txn + 1):
        is_debit = rng.random() < 0.5 and balance > 500
        amt = _d2(rng, 5, min(4_000, balance - 100)) if is_debit else _d2(rng, 5, 4_000)
        balance = round(balance + (-amt if is_debit else amt), 2)
        day = min(n, 28)
        date = f"{day:02d}-{month:02d}-2024"
        desc = rng.choice(_APGVB_DESC)
        if rng.random() < 0.4:
            desc = f"UPI/{'D' if is_debit else 'C'}/{rng.randrange(10**5, 10**6)}/{rng.choice(_MERCHANTS)}/APGB/{rng.randrange(100, 999)}/P"
        users = f"USER{rng.randrange(100, 999)} USER{rng.randrange(100, 999)}"
        la = rng.random()
        if la < 0.75:
            # amounts on the start line (offset 0 — the dominant layout)
            b.text(f"{date} {date} {desc}   {amt:,.2f}   {balance:,.2f}Cr {users}")
        else:
            # amounts on a LOOKAHEAD line (apgvb:836-852 scans up to 3 ahead;
            # apgvb:696 then consumes i += offset+1)
            b.text(f"{date} {date} {desc}")
            if la < 0.80:
                b.text("")      # skipped-but-counted filler (offset grows)
            elif la < 0.85:
                b.text("----------------")
            if la < 0.90:
                # adversarial: the amount line itself matches the START
                # regex — consumption must stop it parsing as its own txn
                b.text(f"{date} {date} CONT {amt:,.2f}   {balance:,.2f}Cr {users}")
            else:
                b.text(f"{amt:,.2f}   {balance:,.2f}Cr {users}")
        if n % 9 == 0 and n < n_txn:
            b.page_break()
            b.text("GL. Date Value Date Particulars Debit Amount Credit Amount Balance")
    if rng.random() < 0.08:
        b.page_break()  # empty trailing page (envelope case: '' page text)
    return b.spans


_TAXONOMY = [
    "corrupted", "scanned", "hybrid", "encrypted_ok",
    "encrypted_wrong_pw", "encrypted_no_pw", "large_file", "empty", "many_pages",
]

_PRODUCERS = ["iText 5.5.13", "wkhtmltopdf 0.12.6", "LibreOffice 7.4", "pdfgen 2.1"]


def _pdf_meta(rng: random.Random, doc_id: str, bank: str | None) -> dict | None:
    """Deterministic PDF document-info dict, keyed like ``PdfReader.metadata``
    (V7 input envelope, pdf_validator.py:252-282).  Exercises every branch of
    the reference's extractor: missing dict (``if pdf_reader.metadata``),
    missing keys (``.get`` → None), and empty-string values (the ``if value:``
    truthy drop)."""
    r = rng.random()
    if r < 0.10:
        return None  # reader exposes no metadata at all
    meta: dict = {"/Producer": rng.choice(_PRODUCERS)}
    if r < 0.25:
        return meta  # producer-only (scanner output style)
    meta["/Title"] = f"Account Statement {doc_id}" if rng.random() < 0.8 else ""
    if bank:
        meta["/Author"] = f"{bank.title()} Bank"
    if rng.random() < 0.5:
        meta["/Subject"] = "Statement of Account"
    if rng.random() < 0.7:
        meta["/Creator"] = "StatementService/1.0"
    meta["/CreationDate"] = (
        f"D:2024{rng.randrange(1, 13):02d}{rng.randrange(1, 29):02d}"
        f"{rng.randrange(24):02d}0000+05'30'"
    )
    if rng.random() < 0.4:
        meta["/ModDate"] = meta["/CreationDate"]
    return meta


def gen_doc(i: int) -> dict:
    """Deterministically generate document ``i`` of the corpus.

    Layout: indices with ``i % 4 == 3`` cycle through the validator taxonomy
    (FIXTURES.md §1.1); the rest round-robin the three bank grammars.
    """
    rng = random.Random(f"aide-spark-{i}")
    # separate stream so adding metadata never perturbs span content
    meta_rng = random.Random(f"aide-spark-meta-{i}")
    if i % 4 == 3:
        cls = _TAXONOMY[(i // 4) % len(_TAXONOMY)]
        doc_id = f"BAD-{cls.upper().replace('_', '')}-{i:06d}"
        row = dict(doc_id=doc_id, spans=None, bank_id=None, password=None,
                   encrypted=False, declared_size_mb=0.1,
                   pdf_meta=_pdf_meta(meta_rng, doc_id, None))
        if cls == "corrupted":
            return row
        if cls == "empty":
            row["spans"] = []
            return row
        if cls == "scanned":
            b = _SpanBuilder()
            b.media(f"img://{doc_id}/1/scan")
            b.text("Scan p1")  # < 100 chars of text total
            b.page_break()
            b.media(f"img://{doc_id}/2/scan")
            row["spans"] = b.spans
            return row
        if cls == "many_pages":
            b = _SpanBuilder()
            for p in range(250):
                b.text(f"filler page body line {p}")
                b.page_break()
            row["spans"] = b.spans
            return row
        if cls == "large_file":
            row.update(spans=_union_doc(rng, doc_id), bank_id="UNION",
                       declared_size_mb=30.0)
            return row
        if cls == "hybrid":
            row.update(spans=_union_doc(rng, doc_id, hybrid=True), bank_id="UNION")
            return row
        # encrypted variants carry valid Canara content
        row.update(spans=_canara_doc(rng, doc_id), bank_id="CANARA", encrypted=True)
        if cls == "encrypted_ok":
            row["password"] = CORRECT_PASSWORD
        elif cls == "encrypted_wrong_pw":
            row["password"] = "wrongpass"
        # encrypted_no_pw leaves password None
        return row

    bank = ("UNION", "CANARA", "APGVB")[i % 3]
    doc_id = f"{bank}-{i:06d}"
    spans = {"UNION": _union_doc, "CANARA": _canara_doc, "APGVB": _apgvb_doc}[bank](rng, doc_id)
    return dict(doc_id=doc_id, spans=spans, bank_id=bank, password=None,
                encrypted=False, declared_size_mb=round(len(spans) * 0.002, 3),
                pdf_meta=_pdf_meta(meta_rng, doc_id, bank))


def corpus(n: int) -> list[dict]:
    return [gen_doc(i) for i in range(n)]


def local_corpus_df(spark, n: int):
    """Small driver-side corpus as a DataFrame (tests)."""
    return spark.createDataFrame(
        [(d["doc_id"], d["spans"], d["bank_id"], d["password"], d["encrypted"],
          d["declared_size_mb"], d["pdf_meta"]) for d in corpus(n)],
        DOCUMENTS,
    )


def spark_corpus(spark, n: int, partitions: int = 32):
    """Distributed corpus: Arrow-batched generation, deterministic per index.

    Scale path for bench/cluster runs — each task generates only its index
    range, so the build is embarrassingly parallel and identical under any
    partition count (the per-doc RNG is seeded by the index alone).
    """
    import pandas as pd

    def gen_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [gen_doc(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(
                {
                    "doc_id": [r["doc_id"] for r in rows],
                    "spans": [
                        None if r["spans"] is None
                        else [
                            {"kind": k, "text": t, "media_ref": m, "offset": o}
                            for (k, t, m, o) in r["spans"]
                        ]
                        for r in rows
                    ],
                    "bank_id": [r["bank_id"] for r in rows],
                    "password": [r["password"] for r in rows],
                    "encrypted": [r["encrypted"] for r in rows],
                    "declared_size_mb": [r["declared_size_mb"] for r in rows],
                    "pdf_meta": [r["pdf_meta"] for r in rows],
                }
            )

    return (
        spark.range(0, n, numPartitions=partitions)
        .mapInPandas(gen_batches, schema=DOCUMENTS)
    )


def spans_to_pages(spans: list | None) -> list[str]:
    """Render spans to per-page text the way a PDF reader would (test oracle
    harness): text spans are lines joined by \\n; PAGE_BREAK spans split pages;
    media spans contribute no text."""
    if spans is None:
        return []
    pages: list[list[str]] = [[]]
    for kind, text, _media, _off in spans:
        if kind != "text":
            continue
        if text == PAGE_BREAK:
            pages.append([])
        else:
            pages[-1].append(text)
    return ["\n".join(p) for p in pages]
