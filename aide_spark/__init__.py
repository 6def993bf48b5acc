"""aide_spark — a PySpark-native document-extraction analytics engine.

A from-scratch, Spark-first re-expression of the computation performed by the
reference system (ALabs-coder/aide, a serverless PDF bank-statement extractor):
per-document content extraction over a table of interleaved text+media
documents ``(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``.

Everything is declared with the DataFrame API so Catalyst/Tungsten pick the
physical strategy; per-row Python is never used (vectorized pandas/Arrow UDFs
only at the two genuinely non-relational boundaries, see SURVEY.md §2.12).

Layout:
    schemas      - explicit StructTypes for every stage boundary
    generator    - deterministic synthetic corpus (bank line grammars + validator taxonomy)
    sources      - table readers/writers (parquet; Iceberg-compatible API)
    functions    - reusable column expression builders (text, hashing, vectors, textstats)
    operators    - the operator inventory of SURVEY.md §2 (validation, lines,
                   segmentation, the three bank parsers, summary, dedup, similarity)
    plans        - end-to-end pipeline assembly + checkpoint/lineage/resume
    streaming    - Structured Streaming variants

Importing the package starts no Spark job and sets no conf. Sessions that
run the pipeline pass :data:`SESSION_CONF` to their builder
(``SparkSession.builder.config(map=aide_spark.SESSION_CONF)``) and may call
:func:`warm`, one codegen warm-up query, once after ``getOrCreate()``.
:func:`release_checkpoint` frees the blocks of a ``localCheckpoint`` frame.
"""

__version__ = "0.1.0"

import logging
import warnings

_log = logging.getLogger(__name__)

# Builder config for sessions that run the extraction pipeline, applied
# with ``SparkSession.builder.config(map=SESSION_CONF)``. Both keys must be
# set before the session exists: the first is a static conf, and PySpark
# reads the second once per process, at its first Column call.
#
# spark.sql.codegen.cache.maxEntries: one run generates ~245 codegen
# classes; Spark's compiled-class cache holds 100 by default, so every run
# evicts and re-compiles them (~2.4 s of a 7.6 s pipeline run in r6). A
# 300-doc run repeated in one local[4] session compiled 249 classes again
# at 100 entries and 0 at 2000 (Spark 4.1.2).
#
# spark.python.sql.dataFrameDebugging.enabled: PySpark 4.1 wraps every
# Column method and ``F.col``/``F.when``/... in call-site capture, about 10
# extra py4j round trips per call (``F.col`` 13 → 3, ``Column.alias``
# 11 → 1). Building one pipeline plan makes thousands of such calls; with
# capture off a 12-doc ``pipeline.run`` makes under half the round trips.
# The cost: a runtime error's message loses its "DataFrame ... was called
# from file:line" fragment; the Python traceback still names the call.
SESSION_CONF = {
    "spark.sql.codegen.cache.maxEntries": "2000",
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def warm(spark) -> None:
    """Run one 4-row in-memory query on ``spark`` before the first job:
    aggregate, broadcast join, ``row_number`` window, sort and a ``noop``
    write. It pays the session's first-job cost and loads Janino and those
    operators' codegen classes, which the extraction job would otherwise pay
    inside its first stage. Reads no data and caches nothing. A failed warm
    is logged and not raised; a session without it is only slower on first
    use.

    There is no ICU (``lower``) or Python-worker warm: the extraction job
    calls no ICU-routed function, and pre-forking the workers cost set-up
    more than it saved the first ``mapInPandas`` job."""
    try:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        base = spark.range(0, 4, 1, 2).select((F.col("id") % 2).alias("k"), F.col("id").alias("v"))
        agg = base.groupBy("k").agg(F.sum("v").alias("sv"))
        out = (
            base.join(F.broadcast(agg), "k")
            .withColumn("rn", F.row_number().over(Window.partitionBy("k").orderBy("v")))
            .orderBy("k", "rn")
        )
        out.write.format("noop").mode("overwrite").save()
    except Exception:
        _log.warning("aide_spark.warm failed", exc_info=True)


def release_checkpoint(df) -> None:
    """Free the blocks behind a ``localCheckpoint`` frame through its
    LogicalRDD's backing rdd: ``DataFrame.unpersist()`` does not release
    checkpoint blocks, and unpersisting a frame derived from one is a silent
    no-op. A failed release leaves the blocks to the ContextCleaner, so it
    warns rather than raises."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception as e:
        warnings.warn(f"could not release a localCheckpoint frame: {e!r}", RuntimeWarning)
