"""P1/P2 — page text extraction + line tokenization (SURVEY.md §2.4), and
the one window skeleton the three bank parsers share.

The reference walks ``pdf_reader.pages[i].extract_text().split('\\n')``
(union_bank_extractor.py:237-257, canara_bank_extractor.py:186-226,
apgvb_extractor.py:553-614,666-671). Here the canonical input is already a
span table, and :func:`pages_col` is the one page split: the text spans
joined by '\\n', split on form-feed marker spans — a pure array expression
per doc, zero shuffle. Validation, the line table and the metadata head
lines all read it:

* lines = ``posexplode`` of the pages, then ``posexplode`` of each page's
  '\\n' split — two Generates, no window; a page with no text lines is the
  reference's ``''.split('\\n')``, one ``''`` line;
* head lines = the same split of page 1 (APGVB: of pages 1-2).

Parsers read the line table in ONE order, :func:`doc_window` (``doc_id``
by ``off``). The reference's per-page loops become that order plus a page
guard: :func:`page_lead` looks ahead without crossing a page end, and
:func:`segments` numbers records over the whole doc but groups them per
page. Every parser window and grouping is keyed by ``doc_id`` first, so the
hash exchange of the line table is the only shuffle of a parser branch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from ..schemas import PAGE_BREAK

# regex that eats the page-break marker line plus the newlines that joined it
_BREAK_RE = "\n?\f\n?"


def py_strip(c: Column) -> Column:
    """Python ``str.strip()`` semantics (all whitespace, not just spaces —
    ``F.trim`` strips spaces only)."""
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def pages_col(spans: Column) -> Column:
    """array<string> of per-page text, exactly as a PDF reader would yield it
    (media spans contribute no text; PAGE_BREAK spans delimit pages).

    r6: one ``zip_with`` pass over the codegen-extracted ``kind``/``text``
    field arrays instead of a struct-array filter + transform (two
    interpreted passes with per-element struct access). ``array_join``
    skips NULL elements, so NULLing the media entries joins identically to
    filtering them out."""
    texts = F.zip_with(
        spans.getField("kind"),
        spans.getField("text"),
        lambda k, t: F.when(k == F.lit("text"), t),
    )
    return F.split(F.array_join(texts, "\n"), _BREAK_RE)


def media_in_first_pages(spans: Column, n_pages: int = 5) -> Column:
    """V6 image probe: any media span within the first N pages
    (pdf_validator.py:209-232). Single array-fold, no shuffle.

    Kept as ONE fold on purpose (r6): this expression gets inlined into the
    valid-docs Filter by predicate pushdown, and any sub-expression (e.g. a
    precomputed break cut) embedded inside a lambda there is re-evaluated
    per array element — a cut-based variant measured O(spans²) per doc.
    The fold is one O(spans) pass wherever it lands."""
    return F.aggregate(
        spans,
        F.struct(F.lit(1).alias("page"), F.lit(False).alias("found")),
        lambda acc, s: F.struct(
            (
                acc["page"]
                + ((s["kind"] == "text") & (s["text"] == PAGE_BREAK)).cast("int")
            ).alias("page"),
            (
                acc["found"]
                | ((s["kind"] == "media") & (acc["page"] <= n_pages))
            ).alias("found"),
        ),
        lambda acc: acc["found"],
    )


def line_table(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Explode documents into ``(doc_id, page, off, line)`` (+ ``carry``
    columns, e.g. the routing dimension ``bank_id``).

    ``page`` is 1-based; ``off`` packs (page, line-in-page) into one long,
    the total line order within the doc. Each line is Python-stripped, the
    same stream the reference iterates.
    """
    pages = docs.select(
        "doc_id", *carry, F.posexplode(pages_col(F.col("spans"))).alias("p", "text")
    )
    lines = pages.select(
        "doc_id", *carry, "p", F.posexplode(F.split("text", "\n")).alias("i", "line")
    )
    return lines.select(
        "doc_id",
        *carry,
        (F.col("p") + 1).alias("page"),
        (F.shiftleft(F.col("p").cast("long"), 32) + F.col("i")).alias("off"),
        py_strip(F.col("line")).alias("line"),
    )


def head_lines_frame(docs: DataFrame, two_pages: bool = False) -> DataFrame:
    """(doc_id, arr) — the Python-stripped line ARRAY of page 1, or for
    ``two_pages`` of APGVB's ``page1 + '\\n' + page2 + '\\n'`` assembly, each
    split on '\\n' as the reference splits it. A narrow projection over the
    spans column, no shuffle.

    ``arr`` is staged behind a one-element ``explode`` — a Generate node
    projections cannot collapse through: the metadata lambdas reference it,
    and a Column inlined into a lambda body is re-evaluated per element.
    """
    pages = pages_col(F.col("spans"))
    if two_pages:
        head = F.concat(F.array_join(F.slice(pages, 1, 2), "\n"), F.lit("\n"))
    else:
        head = F.element_at(pages, 1)
    arr = F.transform(F.split(head, "\n"), py_strip)
    return docs.select("doc_id", F.explode(F.array(arr)).alias("arr"))


def doc_window() -> WindowSpec:
    """The one line order every parser window uses: a doc's lines by offset."""
    return Window.partitionBy("doc_id").orderBy("off")


def page_lead(col: str, n: int) -> Column:
    """``col`` of the line ``n`` ahead on the same page, NULL past the page end
    (the reference indexes its per-page ``lines`` list)."""
    w = doc_window()
    return F.when(F.lead("page", n).over(w) == F.col("page"), F.lead(col, n).over(w))


def earlier_in_seg(value: Column) -> Column:
    """Sum of ``value`` (a condition counts 1) over the earlier lines of the
    same segment; valid inside :func:`segments`' ``include`` and ``carry``."""
    w = Window.partitionBy("doc_id", "seg").orderBy("off")
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    return F.coalesce(F.sum(value.cast("int")).over(before), F.lit(0))


def segments(lines: DataFrame, is_start: Column, include: Column, **carry: Column) -> DataFrame:
    """Combine a page's lines into records: ``(doc_id, page, seg, text, off,
    *carry)``, one row per record start; ``off`` is the start line's offset,
    so :func:`doc_window` orders records as it orders lines.

    ``seg`` is the running count of starts in doc order; grouping by
    ``(doc_id, page, seg)`` cuts a record at its page end, and groups
    without their start line (the lines that open a page before its first
    start) are dropped. ``text`` joins the lines where ``is_start`` or
    ``include`` holds with ' ', in line order. Each ``carry`` column is set
    on at most one line of a record and is reduced with ``max``.
    """
    started = lines.withColumn("_start", is_start).withColumn(
        "seg",
        F.sum(F.col("_start").cast("int")).over(
            doc_window().rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).where(F.col("seg") >= 1)
    staged = started.select(
        "doc_id", "page", "seg", "off", "_start",
        F.when(F.col("_start") | include, F.struct("off", "line")).alias("_part"),
        *[c.alias(k) for k, c in carry.items()],
    )
    return (
        staged.groupBy("doc_id", "page", "seg")
        .agg(
            # nulls (excluded lines) are dropped by collect_list
            F.array_join(F.array_sort(F.collect_list("_part")).getField("line"), " ").alias("text"),
            F.min(F.when(F.col("_start"), F.col("off"))).alias("off"),
            *[F.max(k).alias(k) for k in carry],
        )
        .where(F.col("off").isNotNull())
    )


def last_match(arr: Column, cond) -> Column:
    """Last element of ``arr`` satisfying ``cond`` ('last match wins': the
    reference metadata loops overwrite a field per matching line)."""
    return F.try_element_at(F.filter(arr, cond), F.lit(-1))


def nz(c: Column) -> Column:
    """'' → NULL (an unmatched metadata probe)."""
    return F.when(c != "", c)
