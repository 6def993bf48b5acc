"""Idempotent resume semantics (north rule: resumable from checkpoint with
per-partition lineage + metrics)."""

from __future__ import annotations

import glob
import os
import re

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from aide_spark.generator import local_corpus_df
from aide_spark.plans import pipeline
from aide_spark.plans.checkpoint import TABLES, SnapshotStore, run_with_resume


@pytest.fixture()
def store(tmp_path):
    return SnapshotStore(str(tmp_path / "ckpt"))


def test_incremental_resume_matches_single_shot(spark, store):
    docs = local_corpus_df(spark, 36)
    half = docs.where("doc_id RLIKE '00000[0-9]$' OR doc_id RLIKE '0001[0-7]$'")

    r1 = run_with_resume(spark, half, store, batch_id="b1")
    assert r1["skipped_committed"] == 0

    r2 = run_with_resume(spark, docs, store, batch_id="b2")
    assert r2["skipped_committed"] == half.count()
    assert r2["docs_processed"] == 36 - half.count()

    resumed = {
        (r.doc_id, r.seq, r.kind, r.text, r.media_ref)
        for r in store.read(spark, "spans").collect()
    }
    single = {
        (r.doc_id, r.seq, r.kind, r.text, r.media_ref)
        for r in pipeline.run(docs)["spans_out"].collect()
    }
    assert resumed == single


def test_rerun_is_noop(spark, store):
    docs = local_corpus_df(spark, 12)
    run_with_resume(spark, docs, store, batch_id="b1")
    r = run_with_resume(spark, docs, store, batch_id="b2")
    assert r["docs_processed"] == 0 and r["spans"] == 0


def test_uncommitted_stage_is_invisible_and_reprocessed(spark, store):
    """Crash simulation: staged-but-uncommitted data must not be readable,
    and its docs must be reprocessed on the next run."""
    docs = local_corpus_df(spark, 12)
    out = pipeline.run(docs)
    store.stage(out["spans_out"], "spans", "crashed")  # no commit
    assert store.read(spark, "spans") is None

    r = run_with_resume(spark, docs, store, batch_id="b1")
    assert r["docs_processed"] == 12
    assert store.read(spark, "spans").count() == out["spans_out"].count()


def test_lineage_and_metrics_written(spark, store):
    docs = local_corpus_df(spark, 24)
    run_with_resume(spark, docs, store, batch_id="b1")
    lineage = store.read(spark, "lineage")
    assert lineage.count() == 24
    statuses = {r.status for r in lineage.collect()}
    assert statuses == {"committed", "quarantined"}
    metrics = store.read(spark, "metrics")
    rows = metrics.collect()
    spans = store.read(spark, "spans")
    assert sum(r.spans for r in rows) == spans.count()
    assert sum(r.docs for r in rows) == spans.select("doc_id").distinct().count()
    assert rows and all(0 < r.docs <= r.spans for r in rows), rows
    quarantine = store.read(spark, "quarantine")
    assert quarantine.count() == lineage.where("status = 'quarantined'").count()


def _part_files(store, table, batch_id):
    """part number → path of the files staged for ``table`` in ``batch_id``."""
    files = glob.glob(os.path.join(store.base, table, f"batch={batch_id}", "part-*.parquet"))
    return {int(re.match(r"part-(\d+)", os.path.basename(f)).group(1)): f for f in files}


def test_metrics_count_the_committed_spans_files(spark, store):
    """The metrics rows of a batch are the per-file counts of its committed
    spans: one row per non-empty part-NNNNN file, numbered by the file's
    part number, docs = its seq-0 rows, spans = its rows."""
    run_with_resume(spark, local_corpus_df(spark, 24), store, batch_id="b1")
    want = {}
    for part, path in _part_files(store, "spans", "b1").items():
        seq = pq.read_table(path, columns=["seq"]).column("seq").to_pylist()
        if seq:
            want[part] = (seq.count(0), len(seq))
    got = {
        r.partition_id: (r.docs, r.spans)
        for r in store.read(spark, "metrics").where(F.col("batch_id") == "b1").collect()
    }
    assert want and got == want


def test_all_quarantined_batch_commits_empty_metrics(spark, store):
    docs = local_corpus_df(spark, 36).where(F.col("doc_id").rlike("^BAD-(CORRUPTED|EMPTY)-"))
    r = run_with_resume(spark, docs, store, batch_id="b1")
    assert r["docs_processed"] == docs.count() > 0
    assert r["spans"] == 0
    assert store.read(spark, "metrics").count() == 0
    assert store.read(spark, "lineage").where("status != 'quarantined'").count() == 0


_ARROW_TO_SPARK = {"string": "string", "int32": "int", "int64": "bigint"}


def test_staged_tables_have_declared_schemas(spark, store):
    """Every staged table is written with its declared schema (names and
    types, read with pyarrow), and a snapshot read starts no Spark job:
    it takes the declared schema instead of inferring one from footers."""
    docs = local_corpus_df(spark, 24)
    run_with_resume(spark, docs.where("doc_id RLIKE '[02468]$'"), store, batch_id="b1")
    run_with_resume(spark, docs, store, batch_id="b2")  # lineage with skipped rows
    for table, declared in TABLES.items():
        for path in _part_files(store, table, "b2").values():
            on_disk = pq.read_schema(path)
            got = [(f.name, _ARROW_TO_SPARK[str(f.type)]) for f in on_disk]
            assert got == [(f.name, f.dataType.simpleString()) for f in declared], table

    sc = spark.sparkContext
    sc.setJobGroup("snapshot-read", "lineage read")
    try:
        lineage = store.read(spark, "lineage")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("snapshot-read") == []
    assert lineage.schema.simpleString() == TABLES["lineage"].simpleString()


def test_declared_documents_read_starts_no_job(spark, tmp_path):
    """The job's span-table read, ``tables.read_documents``, takes the
    declared DOCUMENTS schema: on a bank_id-partitioned span table it starts
    no Spark job, where an inferring read starts one for the footers, and
    it gives the same columns and types."""
    from perfbench import inputs

    from aide_spark.sources.tables import read_documents

    path = inputs.span_table(str(tmp_path), 1, 36)
    sc = spark.sparkContext

    def jobs(group, read):
        sc.setJobGroup(group, group)
        try:
            df = read()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return df, sc.statusTracker().getJobIdsForGroup(group)

    declared, declared_jobs = jobs("declared-read", lambda: read_documents(spark, path))
    inferred, inferred_jobs = jobs("inferred-read", lambda: spark.read.parquet(path))
    assert declared_jobs == [] and inferred_jobs
    assert declared.dtypes == inferred.dtypes


def test_dlq_redrive_flags_critical_after_retries(spark, store):
    from aide_spark.plans.checkpoint import redrive_quarantined

    docs = local_corpus_df(spark, 16)  # includes deterministically-bad docs
    run_with_resume(spark, docs, store, batch_id="b1")
    n_quarantined = store.read(spark, "quarantine").count()
    assert n_quarantined > 0

    critical = None
    for _ in range(3):
        critical = redrive_quarantined(spark, docs, store, max_retries=3)
    crit_rows = critical.collect()
    # deterministically-invalid docs exhaust all 3 retries and get flagged
    assert {r.doc_id for r in crit_rows} == {
        r.doc_id for r in store.read(spark, "quarantine").select("doc_id").distinct().collect()
    }
    assert all(r.retries >= 3 for r in crit_rows)


def test_snapshot_time_travel(spark, store):
    docs = local_corpus_df(spark, 24)
    half = docs.where("doc_id RLIKE '00000[0-9]$'")
    run_with_resume(spark, half, store, batch_id="b1")
    run_with_resume(spark, docs, store, batch_id="b2")
    full = store.read(spark, "spans").count()
    at_b1 = store.read(spark, "spans", as_of="b1").count()
    assert 0 < at_b1 < full
    assert store.read(spark, "lineage", as_of="b1").count() == half.count()


def test_time_travel_with_mixed_batch_id_styles(spark, store, tmp_path):
    """as_of must order by commit TIME: 'stream-<n>' ids sort lexicographically
    after timestamp-prefixed ids, so string comparison would wrongly include a
    LATER timestamped batch in an as_of='stream-0' snapshot."""
    import pytest

    from aide_spark.plans.checkpoint import SnapshotStore

    s = SnapshotStore(str(tmp_path / "mixed"))
    docs = local_corpus_df(spark, 16)
    a = docs.where("doc_id RLIKE '0$'")
    b = docs.where("doc_id RLIKE '1$'")
    run_with_resume(spark, a, s, batch_id="stream-0")       # committed FIRST
    run_with_resume(spark, b, s, batch_id="20991231000000-zzz")  # later wall time
    at_stream0 = s.read(spark, "lineage", as_of="stream-0")
    assert {r.batch_id for r in at_stream0.select("batch_id").distinct().collect()} == {
        "stream-0"
    }
    with pytest.raises(KeyError):
        s.read(spark, "lineage", as_of="nonexistent")


def test_list_statements_orders_by_commit_time(spark, tmp_path):
    """S9 — newest-first must be COMMIT-TIME order: with mixed 'stream-<n>'
    and timestamp-prefixed batch ids, lexicographic batch_id ordering would
    put the OLDER 'stream-0' batch first (r2 advisory)."""
    from aide_spark.plans.checkpoint import SnapshotStore, list_statements

    s = SnapshotStore(str(tmp_path / "order"))
    docs = local_corpus_df(spark, 16)
    run_with_resume(spark, docs.where("doc_id RLIKE '0$'"), s, batch_id="stream-0")
    run_with_resume(
        spark, docs.where("doc_id RLIKE '1$'"), s, batch_id="20991231000000-zzz"
    )
    rows = list_statements(spark, s, limit=1000).select("batch_id").collect()
    batches = [r.batch_id for r in rows]
    # the later-committed timestamped batch leads; stream-0 rows follow
    assert batches[0] == "20991231000000-zzz"
    assert batches[-1] == "stream-0"
    first_stream = batches.index("stream-0")
    assert all(b == "stream-0" for b in batches[first_stream:])


def test_resume_run_triggers_no_extra_jobs(spark, store):
    """r3 VERDICT nit #1 — run_with_resume issues no Spark action of its
    own: no pending.count(), no semi-join skipped count, no collect of a
    read-back aggregate. Its commit stats are observed on the staged writes,
    whose jobs carry the writer's JVM call site, and the metrics write reads
    the staged spans files as a staged write, with no Python action.
    Verified by job-group audit: no job of the run may have a stage whose
    call site is checkpoint.py. (Raw job totals are NOT asserted: parquet
    reader/writer and broadcast-exchange sub-jobs are Spark internals that
    vary by plan.)"""
    docs = local_corpus_df(spark, 12)
    run_with_resume(spark, docs.where("doc_id RLIKE '[02468]$'"), store, batch_id="b1")

    sc = spark.sparkContext
    sc.setJobGroup("resume-audit", "run_with_resume job-count audit")
    try:
        r = run_with_resume(spark, docs, store, batch_id="b2")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    assert r["skipped_committed"] > 0  # the resume path actually exercised
    jobs = sc.statusTracker().getJobIdsForGroup("resume-audit")
    assert jobs, "audit saw no jobs at all"
    jsc = sc._jsc.sc().statusTracker()
    actions = set()
    for j in jobs:
        opt = jsc.getJobInfo(j)
        if not opt.isDefined():
            continue
        for sid in list(opt.get().stageIds()):
            so = jsc.getStageInfo(sid)
            if so.isDefined() and "checkpoint.py" in so.get().name():
                actions.add(so.get().name().split("\n")[0])
    assert not actions, sorted(actions)


def test_resume_run_decodes_each_doc_once(spark, store):
    """One fresh-store run evaluates the input plan once per doc: the
    validated input is checkpointed in pipeline.run, so the line table, the
    per-bank metadata, the quarantine and lineage writes and both reads of
    spans_out (spans and metrics writes) share it. A counting producer
    stands in for a decode UDF (binary_ingest); without the checkpoint it
    ran 8 rows per doc."""
    sc = spark.sparkContext
    seen = sc.accumulator(0)
    docs = local_corpus_df(spark, 36)

    def produce(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    r = run_with_resume(spark, docs.mapInPandas(produce, docs.schema), store, batch_id="b1")
    assert r["docs_processed"] == 36
    assert seen.value == 36


def _store_counts(spark, store, batch_id):
    """Commit stats of ``batch_id`` counted from what the store holds."""
    lineage = store.read(spark, "lineage").where(F.col("batch_id") == batch_id)
    spans = spark.read.parquet(os.path.join(store.base, "spans", f"batch={batch_id}"))
    return {
        "docs_processed": lineage.where("status != 'skipped'").count(),
        "skipped_committed": lineage.where("status = 'skipped'").count(),
        "spans": spans.count(),
    }


def test_commit_stats_match_store(spark, store):
    """The returned and committed stats (observed on the staged writes)
    equal independent counts over the committed tables: a fresh run, a
    resume, and a no-op rerun whose observed inputs are empty."""
    docs = local_corpus_df(spark, 24)
    half = docs.where("doc_id RLIKE '[02468]$'")
    n_half = half.count()
    runs = {"fresh": ("b1", half), "resume": ("b2", docs), "noop": ("b3", docs)}
    got = {}
    for name, (batch_id, batch) in runs.items():
        r = run_with_resume(spark, batch, store, batch_id=batch_id)
        want = _store_counts(spark, store, batch_id)
        assert {k: r[k] for k in want} == want, name
        (commit,) = [c for c in store.committed() if c["batch_id"] == batch_id]
        assert (commit["docs"], commit["spans"]) == (want["docs_processed"], want["spans"])
        got[name] = want
    assert got["fresh"]["docs_processed"] == n_half and got["fresh"]["spans"] > 0
    assert got["fresh"]["skipped_committed"] == 0
    assert got["resume"]["skipped_committed"] == n_half
    assert got["resume"]["docs_processed"] == 24 - n_half and got["resume"]["spans"] > 0
    assert got["noop"] == {"docs_processed": 0, "skipped_committed": 24, "spans": 0}


def test_redrive_no_quarantine_returns_empty_frame(spark, store):
    """No quarantine table yet → an EMPTY frame with the declared schema,
    never None (callers chain .where(...) onto the result — r4 VERDICT #4)."""
    from aide_spark.plans.checkpoint import redrive_quarantined

    docs = local_corpus_df(spark, 4)
    out = redrive_quarantined(spark, docs, store)
    assert out.columns == ["doc_id", "error_code", "retries"]
    assert out.where("retries >= 0").count() == 0


def test_redrive_and_components_leave_no_new_caches(spark, store, persistent_rdd_ids):
    """Cache-ownership hygiene (r4 VERDICT #4): a batch run, a DLQ redrive
    and a connected-components round-trip (caller honouring the unpersist
    contract) leave no RDD registered that was not registered before —
    nothing accumulates in a long-lived driver loop. Compares ids, not
    counts: frames of earlier tests that were never released may be freed
    by the ContextCleaner mid-test, which moves the count both ways."""
    from aide_spark.operators.dedup import connected_components
    from aide_spark.plans.checkpoint import redrive_quarantined

    baseline = persistent_rdd_ids()
    docs = local_corpus_df(spark, 12)
    run_with_resume(spark, docs, store, batch_id="b1")
    critical = redrive_quarantined(spark, docs, store, max_retries=1)
    critical.count()
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "d1 long, d2 long")
    nodes = spark.createDataFrame([(n,) for n in range(1, 5)], "doc_id long")
    labels = connected_components(pairs, nodes)
    labels.count()
    labels.unpersist()
    assert not persistent_rdd_ids() - baseline
