"""Sources & sinks (SURVEY.md §2.1).

The reference's I/O surface (S1-S12) collapses onto table reads/writes:

* S1 document fetch      → :func:`read_documents` (spans table scan); raw
                           PDFs: ``scripts/run_extraction.build_raw_docs``
* S4 date-partitioned S3 keys (uploads/YYYY/MM/DD/…, upload/handler.py:383-391)
                         → :func:`write_date_partitioned`
* S5 JSON results sink   → :func:`write_results` + :func:`results_json_view`
* S7 job-state table     → plans/checkpoint.py (SnapshotStore)
* S9/S10 read-backs      → plain snapshot reads
* S11 retention cleanup  → :func:`expire_before`
* S12 DLQ re-drive       → quarantine table + checkpoint re-run
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import DOCUMENTS


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """Scan the canonical interleaved-documents table. Explicit schema: never
    infer on a 10^12-row table (footer sampling alone costs a cluster-hour)."""
    return spark.read.schema(DOCUMENTS).parquet(path)


def write_date_partitioned(df: DataFrame, path: str, ts_col: str = "ingest_ts") -> None:
    """S4: the reference partitions uploads by date for 'efficient lifecycle
    management and organization' (upload/handler.py:383-390) — same rationale,
    expressed as a partitioned table write."""
    (
        df.withColumn("ingest_date", F.to_date(F.col(ts_col)))
        .write.mode("append")
        .partitionBy("ingest_date")
        .parquet(path)
    )


def write_results(results: DataFrame, path: str) -> None:
    """S5: the per-doc results envelope, appended as parquet (Iceberg
    ``writeTo(...).append()`` in production)."""
    results.write.mode("append").parquet(path)


def results_json_view(results: DataFrame) -> DataFrame:
    """Per-doc JSON rendering of the envelope — the reference's
    one-JSON-per-job S3 object (processor/handler.py:428-440) as a view."""
    return results.select(
        "doc_id", F.to_json(F.struct(*[c for c in results.columns])).alias("json")
    )


def expire_before(spark: SparkSession, path: str, cutoff_date: str) -> DataFrame:
    """S11 retention: at scale this is a partition-pruned DELETE on the
    Iceberg table (``DELETE WHERE ingest_date < cutoff``) + snapshot expiry;
    the parquet fallback returns the retained view for compact-rewrite."""
    df = spark.read.parquet(path)
    return df.where(F.col("ingest_date") >= F.lit(cutoff_date))


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    path: str | None = None,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed (and optionally sort-within-bucket) table write — the
    co-located-join layout for the corpus's stable keys.

    At 100 TB the tables that join repeatedly on ``doc_id`` (spans ↔
    metadata ↔ dedup labels ↔ quality scores) should be written
    ``bucketBy(N, doc_id)`` once so every later equi-join is
    exchange-free: Spark's scan reports the bucketing as its output
    partitioning and the join planner skips both shuffles (pinned by
    tests/test_plans.py::test_bucketed_join_is_shuffle_free). ``sortBy``
    additionally pre-orders within buckets so sort-merge joins skip the
    sort. Bucket counts must match across tables to co-locate — pick one
    corpus-wide N (a power of two: AQE can coalesce, never split).

    ``path`` makes it an external table (parquet files at that location);
    bucketing metadata lives in the session catalog either way —
    production would register the same layout in the lakehouse catalog.
    """
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name)
