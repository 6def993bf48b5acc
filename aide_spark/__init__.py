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
run the pipeline add :data:`CODEGEN_CACHE` to their builder and may call
:func:`warm` once after ``getOrCreate()``. :func:`release_checkpoint` frees
the blocks of a ``localCheckpoint`` frame.
"""

__version__ = "0.1.0"

import logging
import warnings

_log = logging.getLogger(__name__)

# Builder config for sessions that run the extraction pipeline. One run
# generates ~245 codegen classes; Spark's compiled-class cache holds 100 by
# default, so every run evicts and re-compiles them (~2.4 s of a 7.6 s
# pipeline run in r6). A 300-doc run repeated in one local[4] session
# compiled 249 classes again at 100 entries and 0 at 2000 (Spark 4.1.2).
# The conf is static: set it on the builder, before the session exists.
CODEGEN_CACHE = ("spark.sql.codegen.cache.maxEntries", "2000")


def _warm_collation(spark) -> None:
    """Spark 4 routes lower/upper/initcap through ICU; the first call in a
    JVM pays its case-table init (~2 s on an idle core, 7-11 s inside a busy
    stage, OPTIMIZATION_r06.md). A constant-folded 1-row query pays it on
    the driver, which is the executor JVM in local mode."""
    spark.sql("SELECT lower('Σ') AS w").collect()


def _warm_codegen(spark) -> None:
    """The first whole-stage compilation loads Janino and the aggregate,
    broadcast-join, window and sort operator classes (~0.5-1 s). A 4-row
    in-memory query exercises each of them once."""
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


def _worker_warm_pass(it):
    """Identity pass for the worker warm; module-level so executors pickle
    it by reference and perform the package import."""
    import aide_spark.queries  # noqa: F401 — the cost being prewarmed

    yield from it


def _warm_python_workers(spark) -> None:
    """The first Arrow-batched query forks one Python worker per core and
    imports this package in each (~2-3 s on 32 cores): the fixed boundary
    cost, apart from any UDF body. Workers are reused, so one mapInPandas
    job over ``defaultParallelism`` partitions pays it once per session."""
    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, n, 1, n).mapInPandas(_worker_warm_pass, "id long")
    df.write.format("noop").mode("overwrite").save()


def warm(spark) -> None:
    """Pay the per-JVM and per-worker start-up costs of ``spark`` up front:
    ICU case mapping, the codegen/operator classes and the Python worker
    pool. Reads no data and caches nothing. A failed warm is logged and the
    rest still run; a session without them is only slower on first use."""
    for warm_one in (_warm_collation, _warm_codegen, _warm_python_workers):
        try:
            warm_one(spark)
        except Exception:
            _log.warning("aide_spark.warm: %s failed", warm_one.__name__, exc_info=True)


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
