"""End-to-end extraction pipeline (the Spark restatement of lifecycle E1,
SURVEY.md §3).

documents scan → columnar validation (quarantine split) → bank routing (J1:
the 3-row config dimension collapses to a filter-per-branch dispatch; no
reflection) → per-bank parse (line explode → doc-ordered line window →
records → record expressions) → per-doc metadata + summary aggregates →
ordered span emission.

Scale notes (100 TB, 1000 executors):
* validation + metadata are per-row projections on the docs table — narrow,
  no shuffle, whole-stage codegen;
* each parser branch reads its lines once and shuffles once, on hash(doc_id)
  for the line table; every parser window (``lines.doc_window`` and the
  segment counters) and the per-page record grouping are keyed by doc_id
  first, so they all reuse that exchange;
* per-doc work ∝ span count ⇒ page-count skew; call
  :func:`aide_spark.operators.skew.repartition_by_span_count` before parsing
  when the corpus has heavy-tailed docs (SURVEY.md §4.1);
* the final assembly joins are all on doc_id — co-partitioned equi-joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import apgvb_parser, canara_parser, union_parser, validation
from ..operators.lines import head_lines_frame, line_table
from ..serialize import meta_texts_col, summary_text_col, txn_text_col

SUMMARY_COLS = [
    "doc_id", "opening_balance", "closing_balance", "total_debits",
    "total_credits", "net_change", "transaction_count", "from_date", "to_date",
]


def split_valid(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """→ (validation, valid_docs, quarantine). Quarantine is the DLQ analogue
    (SURVEY.md §2.11): invalid docs carry their error_code, never poison the
    parse stage. The split is a narrow FILTER on a computed validation struct
    — never a join back to the (wide, spans-carrying) docs table."""
    tagged = validation.with_validation(docs)
    val = tagged.select("doc_id", *validation.VALIDATION_COLS)
    valid = tagged.where(F.col("is_valid")).select(*docs.columns)
    quarantine = tagged.where(~F.col("is_valid")).select(
        "doc_id", "bank_id", "error_code", "pdf_type"
    )
    return val, valid, quarantine


def parse_all(valid_docs: DataFrame, persist: bool = False) -> dict[str, DataFrame]:
    """Dispatch valid docs to the three bank parsers; union the results.

    Returns {'transactions', 'metadata', 'summaries'} DataFrames. With
    ``persist=True`` the transactions + metadata unions are cached BEFORE the
    summaries are derived from them, so the parser subtrees execute once even
    though three downstream outputs consume them.
    """
    lines = line_table(valid_docs, carry=("bank_id",))
    u_lines = lines.where(F.col("bank_id") == "UNION").drop("bank_id")
    c_lines = lines.where(F.col("bank_id") == "CANARA").drop("bank_id")
    a_lines = lines.where(F.col("bank_id") == "APGVB").drop("bank_id")

    u_docs = valid_docs.where(F.col("bank_id") == "UNION")
    c_docs = valid_docs.where(F.col("bank_id") == "CANARA")
    a_docs = valid_docs.where(F.col("bank_id") == "APGVB")

    transactions = (
        union_parser.transactions(u_lines).withColumn("bank_id", F.lit("UNION"))
        .unionByName(
            canara_parser.transactions(c_lines).withColumn("bank_id", F.lit("CANARA"))
        )
        .unionByName(
            apgvb_parser.transactions(a_lines).withColumn("bank_id", F.lit("APGVB"))
        )
    )
    # metadata inputs: the first-page line ARRAY, built in place by
    # lines.head_lines_frame (r6) — zero-shuffle, staged behind Generate
    # barriers so nothing is re-evaluated per probe or per element. Docs
    # whose head pages have no text lines still get a metadata row
    # (reference: metadata extracted from '' text ⇒ constants only).
    metadata = (
        union_parser.metadata(head_lines_frame(u_docs))
        .unionByName(canara_parser.metadata(head_lines_frame(c_docs)))
        .unionByName(apgvb_parser.metadata(head_lines_frame(a_docs, two_pages=True)))
    )
    if persist:
        # r6: lazy localCheckpoint instead of .persist(). Both make the
        # parser subtrees execute once for the multi-output fan-out, but
        # the checkpoint stores raw partitions (no columnar cache encode)
        # AND truncates the logical plan to a leaf, so every downstream
        # consumer (spans_out assembly, summaries, results envelope) plans
        # and runs against a small plan — measured 3.8-4.0 s → 2.3-2.5 s
        # for the spans_out pass at 20k docs. Lazy: partitions materialize
        # on first use and lineage is kept for the rest, so partial
        # consumption stays correct; blocks are released by the
        # ContextCleaner when the frames are garbage collected.
        #
        # The three-branch union concatenates each branch's shuffle-width
        # partitions, so the checkpointed frames (and every downstream
        # stage over them) carried 3x the session's parallelism in tasks —
        # pure per-task scheduling/deserialization overhead at any scale.
        # coalesce back to the session shuffle width (the cluster-sized
        # bound; a narrow dependency, no extra shuffle: each task computes
        # its three branch partitions back to back).
        spark = transactions.sparkSession
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
        transactions = transactions.coalesce(width).localCheckpoint(eager=False)
        metadata = metadata.coalesce(width).localCheckpoint(eager=False)

    summaries = (
        union_parser.summary(transactions.where(F.col("bank_id") == "UNION"))
        .select(*SUMMARY_COLS)
        .unionByName(
            canara_parser.summary(
                transactions.where(F.col("bank_id") == "CANARA")
            ).select(*SUMMARY_COLS)
        )
        .unionByName(
            apgvb_parser.summary(
                transactions.where(F.col("bank_id") == "APGVB"),
                metadata.where(
                    F.col("metadata.bank_name") == apgvb_parser.BANK_NAME
                ),
            ).select(*SUMMARY_COLS)
        )
    )
    return {"transactions": transactions, "metadata": metadata, "summaries": summaries}


def media_spans(docs: DataFrame) -> DataFrame:
    """Pass-through media spans (doc_id, offset-ordered media_ref array).

    r6: one zip_with pass over the codegen-extracted kind/media_ref field
    arrays + array_compact, instead of a struct filter + two transforms +
    an array_sort. The sort was re-deriving what the spans contract already
    guarantees (offset IS the total order, and the array is stored in that
    order — the same invariant head_lines_frame relies on)."""
    refs = F.array_compact(
        F.zip_with(
            F.col("spans").getField("kind"),
            F.col("spans").getField("media_ref"),
            lambda k, m: F.when(k == F.lit("media"), m),
        )
    )
    return docs.select("doc_id", refs.alias("media_refs"))


def spans_out(docs: DataFrame, parsed: dict[str, DataFrame]) -> DataFrame:
    """Assemble the ordered output span sequence per doc:
    meta spans → media pass-through → txn spans → summary span.

    ``docs`` may be the RAW documents table (r6): the media refs join in via
    a left join keyed on the metadata side, which carries only validated
    docs — rows of invalid docs on the media side never match, so skipping
    the validation filter here yields identical output while removing a full
    re-execution of the validation expression tree (the is_valid filter
    forced the page-split + media-fold columns to be computed again on this
    branch; measured as its own ~7 s-tasksum scan stage per timed run)."""
    meta_arr = parsed["metadata"].select(
        "doc_id", meta_texts_col(F.col("metadata")).alias("meta_texts")
    )
    txn_arr = (
        parsed["transactions"]
        .withColumn("txn_text", txn_text_col())
        .groupBy("doc_id")
        .agg(
            # field extraction from the sorted struct array via
            # GetArrayStructFields (codegen) instead of a per-element
            # interpreted transform lambda (r6, guide §4.1)
            F.array_sort(F.collect_list(F.struct("order", "txn_text")))
            .getField("txn_text")
            .alias("txn_texts")
        )
    )
    sum_arr = parsed["summaries"].select(
        "doc_id", F.array(summary_text_col()).alias("summary_texts")
    )
    assembled = (
        meta_arr.join(media_spans(docs), "doc_id", "left")
        .join(txn_arr, "doc_id", "left")
        .join(sum_arr, "doc_id", "left")
        .select(
            "doc_id",
            F.concat(
                F.transform(
                    F.col("meta_texts"),
                    lambda t: F.struct(F.lit("meta").alias("kind"), t.alias("text"),
                                       F.lit("").alias("media_ref")),
                ),
                F.transform(
                    F.coalesce(F.col("media_refs"), F.array()),
                    lambda m: F.struct(F.lit("media").alias("kind"),
                                       F.lit("").alias("text"), m.alias("media_ref")),
                ),
                F.transform(
                    F.coalesce(F.col("txn_texts"), F.array().cast("array<string>")),
                    lambda t: F.struct(F.lit("txn").alias("kind"), t.alias("text"),
                                       F.lit("").alias("media_ref")),
                ),
                F.transform(
                    F.coalesce(F.col("summary_texts"), F.array().cast("array<string>")),
                    lambda t: F.struct(F.lit("summary").alias("kind"), t.alias("text"),
                                       F.lit("").alias("media_ref")),
                ),
            ).alias("all_spans"),
        )
    )
    return assembled.select(
        "doc_id", F.posexplode("all_spans").alias("seq", "s")
    ).select(
        "doc_id",
        F.col("seq").cast("int").alias("seq"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


def results_envelope(parsed: dict[str, DataFrame]) -> DataFrame:
    """The STANDARD_RESPONSE_SCHEMA analogue (base_extractor.py:138-159):
    one row per doc with metadata struct, summary struct, transactions array
    and total_transactions (processed_at excluded — nondeterministic id/time
    fields are outside the equality surface, SURVEY.md §2.9)."""
    txns = (
        parsed["transactions"]
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("order", F.struct("*").alias("t"))))
            .getField("t")
            .alias("transactions")
        )
    )
    summary_struct = F.struct(
        *[F.col(c) for c in SUMMARY_COLS if c != "doc_id"]
    ).alias("financial_summary")
    return (
        parsed["metadata"]
        .join(txns, "doc_id", "left")
        .join(parsed["summaries"].select("doc_id", summary_struct), "doc_id", "left")
        .withColumn(
            "total_transactions",
            F.coalesce(F.size("transactions"), F.lit(0)).cast("long"),
        )
    )


def release(out: dict[str, DataFrame]) -> None:
    """Free the materialization blocks of a ``run(persist=True)`` result.

    The parsed transactions/metadata frames are backed by a lazy
    ``localCheckpoint`` (see :func:`parse_all`); ``DataFrame.unpersist()``
    does not release checkpoint blocks, so long-lived drivers looping over
    batches call this once every staged output is on disk (the r4
    cache-ownership rule). Safe on non-persisted results (no-op). Frames
    never released are still freed by the ContextCleaner when garbage
    collected — this makes the release deterministic, not merely eventual.
    """
    for key in ("transactions", "metadata"):
        df = out.get(key)
        if df is None:
            continue
        df.unpersist()
        try:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:  # non-checkpointed frame (persist=False path)
            pass


def run(docs: DataFrame, persist: bool = False) -> dict[str, DataFrame]:
    """Full pipeline: returns every output table of the engine.

    ``persist=True`` materializes the parsed transactions + metadata (the
    REDUCED data — spans stripped down to parsed rows) before the multi-
    output fan-out: spans_out, summaries and the results envelope all reuse
    them, otherwise each output re-executes the parser subtrees (Spark does
    not share common subplans across actions). This is the standard
    write-or-cache point of a production multi-output job; at 100 TB the
    equivalent is writing the transactions table and deriving the rest from
    it."""
    val, valid, quarantine = split_valid(docs)
    parsed = parse_all(valid, persist=persist)
    return {
        "validation": val,
        "quarantine": quarantine,
        **parsed,
        # raw docs: the media side of the assembly join does not need the
        # validation filter (left join on the validated metadata side drops
        # invalid docs' rows) — see spans_out docstring
        "spans_out": spans_out(docs, parsed),
        "results": results_envelope(parsed),
    }
