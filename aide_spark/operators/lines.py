"""P1/P2 — page text extraction + line tokenization (SURVEY.md §2.4), and
the one window skeleton the three bank parsers share.

The reference walks ``pdf_reader.pages[i].extract_text().split('\\n')``
(union_bank_extractor.py:237-257, canara_bank_extractor.py:186-226,
apgvb_extractor.py:553-614,666-671). Here the canonical input is already a
span table, so:

* pages  = the text spans joined by '\\n', split on form-feed marker spans —
  a pure array expression per doc, zero shuffle;
* lines  = ``posexplode`` of text spans + one window over ``doc_id`` to
  assign page numbers (1 + number of page-break spans before the span).

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


def _nth_break_cut(spans: Column, n: int) -> Column:
    """Offset of the ``n``-th PAGE_BREAK span (NULL when there are fewer) —
    a span sits on page <= n iff its offset is below this cut (``offset`` is
    the total order within the doc, see :func:`line_table`)."""
    breaks = F.filter(
        spans, lambda s: (s["kind"] == "text") & (s["text"] == PAGE_BREAK)
    )
    return F.try_element_at(breaks, F.lit(n)).getField("offset")


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

    ``off`` is the global span offset (total order within the doc); ``page``
    is 1-based. Page-break markers and media spans are dropped — parsers see
    the same stripped line stream the reference iterates.
    """
    spans = docs.select("doc_id", *carry, F.posexplode("spans").alias("pos", "s"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    is_break = (F.col("s.kind") == "text") & (F.col("s.text") == PAGE_BREAK)
    return (
        spans.withColumn(
            "page",
            (
                F.lit(1)
                + F.coalesce(
                    F.sum(is_break.cast("int")).over(
                        w.rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                )
            ).cast("int"),
        )
        .where((F.col("s.kind") == "text") & ~is_break)
        .select(
            "doc_id",
            *carry,
            "page",
            F.col("s.offset").alias("off"),
            py_strip(F.col("s.text")).alias("line"),
        )
    )


def head_lines_frame(docs: DataFrame, two_pages: bool = False) -> DataFrame:
    """(doc_id, arr) — the first-page (or two-page) trimmed line ARRAY as a
    zero-shuffle chain of array expressions over the spans column (r6). It
    replaced a per-doc ``collect_list`` over the exploded line table plus a
    left join back to the branch docs, and is row-for-row identical to it.

    Equivalences with the join path:
    * lines of pages <= N = text spans (breaks excluded) before the N-th
      PAGE_BREAK, in offset order = array order (offset is the total order);
    * each line is Python-stripped, exactly as ``line_table`` emits it;
    * a doc with NO qualifying lines maps to the join-miss default the
      pipeline coalesced in ([''] for one page, ['', ''] for two);
    * ``two_pages`` appends the trailing '' of APGVB's page1+page2+'\\n'
      assembly to non-empty arrays. An empty page among the first two
      contributes one extra '' line in the reference's split that the
      array cannot see — inert, since every metadata probe requires
      non-empty content (the generator emits such docs; span parity holds).

    Motivation (guide §2.4 — remove shuffles outright): the metadata branch
    previously exploded every span of every page, ran the page-number
    window, shuffled the head lines into a per-doc collect_list and joined
    them back to the branch docs. All of that existed to build this array;
    building it in place makes the metadata input a narrow projection with
    zero shuffles.

    Staging discipline: every intermediate that a later lambda references
    (``_cut``, ``_kept``) is materialized behind a one-element ``explode``
    — a Generate node projections cannot collapse through. A Column
    embedded inside a lambda is re-evaluated PER ARRAY ELEMENT, so an
    unstaged ``_cut`` turns the break scan into O(spans²) per doc, and
    CollapseProject inlines plain aliases into lambda bodies (the
    non-cheap-duplication guard does not see lambda-nested references).
    """
    pages = 2 if two_pages else 1
    staged = docs.select(
        "doc_id",
        "spans",
        F.explode(F.array(_nth_break_cut(F.col("spans"), pages))).alias("_cut"),
    )
    cut = F.col("_cut")
    kept = F.filter(
        F.col("spans"),
        lambda s: (s["kind"] == "text")
        & (s["text"] != PAGE_BREAK)
        & (cut.isNull() | (s["offset"] < cut)),
    )
    staged = staged.select("doc_id", F.explode(F.array(kept)).alias("_kept"))
    arr = F.transform(F.col("_kept"), lambda s: py_strip(s["text"]))
    if two_pages:
        filled = F.concat(arr, F.array(F.lit("")))
        default = F.array(F.lit(""), F.lit(""))
    else:
        filled = arr
        default = F.array(F.lit(""))
    final = F.when(F.size("_kept") > 0, filled).otherwise(default)
    return staged.select("doc_id", F.explode(F.array(final)).alias("arr"))


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
