"""Each layer's public function, timed in isolation.

A layer runs on a ``localCheckpoint(eager=True)`` of its input, under its
own span and job group, and its output is drained into a checkpoint that
becomes the next layer's input. Building inputs and counting rows happen
under ``trace.*`` spans, outside the layers' own time.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aide_spark.operators import apgvb_parser, canara_parser, union_parser
from aide_spark.operators.lines import head_lines_frame, line_table
from aide_spark.plans import pipeline
from aide_spark.plans.checkpoint import SnapshotStore

from .tracing import Tracer

PARSERS = {"UNION": union_parser, "CANARA": canara_parser, "APGVB": apgvb_parser}


class Layers:
    def __init__(self, tracer: Tracer):
        self.tr = tracer
        self.rows: dict[str, int] = {}

    def prep(self, df: DataFrame) -> DataFrame:
        """Untimed input checkpoint."""
        with self.tr.span("trace.prep"):
            return df.localCheckpoint(eager=True)

    def run(self, name: str, build) -> list[DataFrame]:
        """Time ``build()`` plus the drain of the frames it returns; add the
        first frame's row count to the layer's rows_out."""
        with self.tr.span(name, group=True):
            outs = [df.localCheckpoint(eager=True) for df in build()]
        self.count(name, outs[0])
        return outs

    def count(self, key: str, df: DataFrame) -> None:
        with self.tr.span("trace.count"):
            self.rows[key] = self.rows.get(key, 0) + df.count()

    # -- layers in front of the pipeline -------------------------------------

    def binary_ingest(self, raw: DataFrame) -> None:
        from aide_spark.sources.binary_ingest import ingest_binary_pdf

        raw = self.prep(raw)
        self.run(
            "binary_ingest",
            lambda: [ingest_binary_pdf(raw, password_col="password",
                                       passthrough=["declared_size_mb"], with_metadata=True)],
        )

    def resume(self, spark, store_base: str, docs: DataFrame) -> None:
        """The two reads run_with_resume makes before extracting: committed
        lineage, then the anti-join that leaves the pending docs."""
        docs = self.prep(docs)
        store = SnapshotStore(store_base)
        (committed,) = self.run(
            "checkpoint.read_lineage",
            lambda: [
                store.read(spark, "lineage")
                .where(F.col("status").isin("committed", "quarantined"))
                .select("doc_id").distinct()
            ],
        )
        self.run("checkpoint.resume_antijoin", lambda: [docs.join(committed, "doc_id", "left_anti")])

    # -- the pipeline --------------------------------------------------------

    def extraction(self, docs: DataFrame) -> None:
        """pipeline.split_valid, then pipeline.parse_all's dispatch to the
        three parsers one call at a time, then pipeline.spans_out. Unlike
        parse_all, which builds one plan and checkpoints its unions lazily,
        each call's output here is drained into its own checkpoint; the
        unions are coalesced to the shuffle width as parse_all does."""
        docs = self.prep(docs)
        valid, quarantine = self.run("validation", lambda: list(pipeline.split_valid(docs)[1:]))
        self.count("validation.quarantined", quarantine)
        (lines,) = self.run("lines.line_table", lambda: [line_table(valid, carry=("bank_id",))])

        bank_lines, bank_docs, head, txns, meta, summaries = {}, {}, {}, {}, {}, {}
        for bank in PARSERS:
            bank_lines[bank] = self.prep(lines.where(F.col("bank_id") == bank).drop("bank_id"))
            bank_docs[bank] = valid.where(F.col("bank_id") == bank)
        for bank in PARSERS:
            (head[bank],) = self.run(
                "lines.head_lines_frame",
                lambda: [head_lines_frame(bank_docs[bank], two_pages=bank == "APGVB")],
            )
        for bank, mod in PARSERS.items():
            name = mod.__name__.rsplit(".", 1)[-1]
            (txns[bank],) = self.run(f"{name}.transactions", lambda: [mod.transactions(bank_lines[bank])])
            txns[bank] = txns[bank].withColumn("bank_id", F.lit(bank))
            (meta[bank],) = self.run(f"{name}.metadata", lambda: [mod.metadata(head[bank])])
        for bank, mod in PARSERS.items():
            name = mod.__name__.rsplit(".", 1)[-1]
            args = [txns[bank]]
            if bank == "APGVB":
                args.append(meta[bank].where(F.col("metadata.bank_name") == mod.BANK_NAME))
            (summaries[bank],) = self.run(f"{name}.summary", lambda: [mod.summary(*args)])

        width = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        parsed = {
            "transactions": reduce(DataFrame.unionByName, txns.values()).coalesce(width),
            "metadata": reduce(DataFrame.unionByName, meta.values()).coalesce(width),
            "summaries": reduce(DataFrame.unionByName, (s.select(*pipeline.SUMMARY_COLS) for s in summaries.values())),
        }
        self.run("pipeline.spans_out", lambda: [pipeline.spans_out(docs, parsed)])
