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
  for the line table; the line table has no window, so the bank filter
  reaches the scan and a branch shuffles only its own bank's lines; every
  parser window (``lines.doc_window`` and the segment counters) and the
  per-page record grouping are keyed by doc_id first, so they all reuse
  that exchange;
* per-doc work ∝ span count ⇒ page-count skew; call
  :func:`aide_spark.operators.skew.repartition_by_span_count` before parsing
  when the corpus has heavy-tailed docs (SURVEY.md §4.1);
* span assembly is a tagged union of the four span sources numbered by one
  doc_id window — one shuffle above the parse checkpoints, no joins.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import release_checkpoint
from ..operators import apgvb_parser, canara_parser, union_parser, validation
from ..operators.lines import head_lines_frame, line_table
from ..schemas import SUMMARY
from ..serialize import meta_texts_col, summary_text_col, txn_text_col

SUMMARY_COLS = SUMMARY.fieldNames()

# bank_id → parser module; every loop over the banks goes in this order,
# which is the order of the transactions/metadata/summaries unions
PARSERS = {"UNION": union_parser, "CANARA": canara_parser, "APGVB": apgvb_parser}


def split_valid(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """→ (validation, valid_docs, quarantine). Quarantine is the DLQ analogue
    (SURVEY.md §2.11): invalid docs carry their error_code, never poison the
    parse stage. The split is a narrow FILTER on a computed validation struct
    — never a join back to the (wide, spans-carrying) docs table.

    Each of the three frames re-runs ``docs``' plan and the validation
    projections when executed; :func:`run` splits one checkpointed
    validated frame instead."""
    return _split(validation.with_validation(docs), docs.columns)


def _split(tagged: DataFrame, doc_cols: list[str]) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The (validation, valid_docs, quarantine) filters over ``tagged`` —
    docs + :data:`validation.VALIDATION_COLS`, as ``with_validation`` builds
    it; ``doc_cols`` are the input columns the valid side keeps."""
    val = tagged.select("doc_id", *validation.VALIDATION_COLS)
    valid = tagged.where(F.col("is_valid")).select(*doc_cols)
    quarantine = tagged.where(~F.col("is_valid")).select(
        "doc_id", "bank_id", "error_code", "pdf_type"
    )
    return val, valid, quarantine


def parse_all(valid_docs: DataFrame) -> dict[str, DataFrame]:
    """Dispatch valid docs to the bank parsers of :data:`PARSERS`; union the
    results in that order.

    Returns {'transactions', 'metadata', 'summaries'} DataFrames. The
    transactions and metadata unions are lazy ``localCheckpoint``s taken
    BEFORE the summaries are derived from them, so the parser subtrees
    execute once even though three downstream outputs consume them; free
    their blocks with :func:`release`.
    """
    lines = line_table(valid_docs, carry=("bank_id",))
    txns, meta = [], []
    for bank, parser in PARSERS.items():
        bank_lines = lines.where(F.col("bank_id") == bank).drop("bank_id")
        txns.append(parser.transactions(bank_lines).withColumn("bank_id", F.lit(bank)))
        # metadata inputs: the first-page line ARRAY (APGVB: two pages),
        # split from lines.pages_col by lines.head_lines_frame — zero-shuffle,
        # staged behind one Generate barrier so it is not re-evaluated per
        # probe or per element. Docs whose head pages have no text lines
        # still get a metadata row (reference: metadata extracted from ''
        # text ⇒ constants only).
        bank_docs = valid_docs.where(F.col("bank_id") == bank)
        meta.append(parser.metadata(head_lines_frame(bank_docs, two_pages=bank == "APGVB")))

    # r6: lazy localCheckpoint instead of .persist(). Both make the parser
    # subtrees execute once for the multi-output fan-out, but the checkpoint
    # stores raw partitions (no columnar cache encode) AND truncates the
    # logical plan to a leaf, so every downstream consumer (spans_out
    # assembly, summaries, results envelope) plans and runs against a small
    # plan — measured 3.8-4.0 s → 2.3-2.5 s for the spans_out pass at 20k
    # docs. Lazy: partitions materialize on first use and lineage is kept
    # for the rest, so partial consumption stays correct; blocks are freed
    # by release(), or by the ContextCleaner once the frames are collected.
    #
    # The three-branch union concatenates each branch's shuffle-width
    # partitions, so the checkpointed frames (and every downstream stage
    # over them) carried 3x the session's parallelism in tasks — pure
    # per-task scheduling/deserialization overhead at any scale. coalesce
    # back to the session shuffle width (the cluster-sized bound; a narrow
    # dependency, no extra shuffle: each task computes its three branch
    # partitions back to back).
    width = int(valid_docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    transactions = reduce(DataFrame.unionByName, txns).coalesce(width).localCheckpoint(eager=False)
    metadata = reduce(DataFrame.unionByName, meta).coalesce(width).localCheckpoint(eager=False)

    summaries = []
    for bank, parser in PARSERS.items():
        args = [transactions.where(F.col("bank_id") == bank)]
        if bank == "APGVB":  # its opening balance comes from the metadata
            args.append(metadata.where(F.col("metadata.bank_name") == parser.BANK_NAME))
        summaries.append(parser.summary(*args).select(*SUMMARY_COLS))
    return {
        "transactions": transactions,
        "metadata": metadata,
        "summaries": reduce(DataFrame.unionByName, summaries),
    }


def media_spans(docs: DataFrame) -> DataFrame:
    """Pass-through media spans (doc_id, offset-ordered media_ref array).

    r6: one zip_with pass over the codegen-extracted kind/media_ref field
    arrays + array_compact, instead of a struct filter + two transforms +
    an array_sort. The sort was re-deriving what the spans contract already
    guarantees (offset IS the total order, and the array is stored in that
    order — the same invariant lines.pages_col relies on)."""
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

    One tagged union of four narrow sources, each row
    ``(doc_id, part, order, kind, text, media_ref)``, numbered by ONE
    ``doc_id`` window: ``seq`` is the row's rank by (part, order, text) —
    ``text`` breaks ties between transactions sharing an ``order``. The
    same window keeps only docs whose first row is a meta span (part 0):
    only parsed docs have a metadata row, and every metadata row yields at
    least one meta span (``bank_name`` and ``currency`` are parser
    literals), so media rows of invalid docs never surface and no
    validation filter is needed here.

    ``docs`` is any frame with ``doc_id`` and ``spans`` covering the parsed
    docs: :func:`run` passes its checkpointed validated frame, and the RAW
    documents table works too (r6)."""

    def part(n: int, df: DataFrame, kind: str, text: Column, media_ref: Column) -> DataFrame:
        return df.select(
            "doc_id", F.lit(n).alias("part"), "order",
            F.lit(kind).alias("kind"), text.alias("text"), media_ref.alias("media_ref"),
        )

    meta = parsed["metadata"].select(
        "doc_id", F.posexplode(meta_texts_col(F.col("metadata"))).alias("order", "text")
    )
    media = media_spans(docs).select(
        "doc_id", F.posexplode("media_refs").alias("order", "media_ref")
    )
    summary = parsed["summaries"].withColumn("order", F.lit(0))
    tagged = reduce(DataFrame.unionByName, [
        part(0, meta, "meta", F.col("text"), F.lit("")),
        part(1, media, "media", F.lit(""), F.col("media_ref")),
        part(2, parsed["transactions"], "txn", txn_text_col(), F.lit("")),
        part(3, summary, "summary", summary_text_col(), F.lit("")),
    ])
    w = Window.partitionBy("doc_id").orderBy("part", "order", "text")
    return (
        tagged.select(
            "doc_id", "kind", "text", "media_ref",
            (F.row_number().over(w) - 1).alias("seq"),
            F.first("part").over(w).alias("first_part"),
        )
        .where(F.col("first_part") == 0)
        .select("doc_id", "seq", "kind", "text", "media_ref")
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
    """Free the checkpoint blocks behind a :func:`run` result: the validated
    input and the parsed transactions and metadata (see :func:`parse_all`).
    Long-lived drivers looping over batches call this once every staged
    output is on disk (the r4 cache-ownership rule). Frames never released
    are still freed by the ContextCleaner when garbage collected — this
    makes the release deterministic, not merely eventual.
    """
    for key in ("validated", "transactions", "metadata"):
        release_checkpoint(out[key])


def run(docs: DataFrame) -> dict[str, DataFrame]:
    """Full pipeline: returns every output table of the engine.

    The validated input (``docs`` + the validation columns) is a lazy
    ``localCheckpoint``: the validation rows, the quarantine, the parser
    inputs and the media side of ``spans_out`` all read it, so the input
    plan — scan, decode, validation projections — runs once per doc per job
    instead of once per consumer. Under AQE
    ``parse_all``'s checkpoints run the line-table shuffle when they are
    created, which fills this one; later readers read its blocks. No
    coalesce: the frame keeps the input's partitions.

    The parsed transactions + metadata (the REDUCED data — spans stripped
    down to parsed rows) are checkpointed before the multi-output fan-out:
    spans_out, summaries and the results envelope all reuse them, otherwise
    each output would re-execute the parser subtrees (Spark does not share
    common subplans across actions). This is the standard write-or-cache
    point of a production multi-output job; at 100 TB the equivalent is
    writing the transactions table and deriving the rest from it. Call
    :func:`release` when done with the result."""
    validated = validation.with_validation(docs).localCheckpoint(eager=False)
    val, valid, quarantine = _split(validated, docs.columns)
    parsed = parse_all(valid)
    return {
        "validated": validated,
        "validation": val,
        "quarantine": quarantine,
        **parsed,
        "spans_out": spans_out(validated, parsed),
        "results": results_envelope(parsed),
    }
