#!/usr/bin/env python3
"""Job-level benchmark of the extraction engine.

    python3 perfbench/run.py --workload resume_tail --seed 1 --seconds 30 --trace 0

Run from the repository root. One run is one fresh driver process on
``local[<cpus>]`` with ``bench.build_spark``'s settings and a pinned driver
heap, in a closed loop: one client, one job at a time. The run

1. times set-up: session start plus ``import aide_spark`` and its warms;
2. stages the seeded inputs, untimed (cached under ``.perfbench/inputs``);
3. times exactly one job, the first of the process (input read +
   ``run_with_resume`` into a fresh store): the job one spark-submit of
   ``scripts/run_extraction.py`` pays for. It lasts longer than
   ``--seconds``, which is accepted for the common benchmark interface;
4. reads the measured batch back from its store and checks it.

With ``--trace 1`` the event log is on and the run makes its first job under
spans and a Spark job group, then calls each layer in isolation; the
per-layer table and the spans go to ``.perfbench/traces``.
The last line of stdout is the result JSON; its metrics are the
``end_to_end`` (trace 0) or ``per_layer`` (trace 1) entries of
BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import sys
import time

ROOT = os.getcwd()
INPUTS = os.path.join(ROOT, ".perfbench", "inputs")
DRIVER_MEMORY = "4g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- workloads ---------------------------------------------------------------


class Workload:
    """Staged inputs, one job, the expected outcome per doc and the
    isolated layers of one workload; ``docs`` input docs per job."""

    docs: int

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed

    def fresh_store(self, tag: str) -> str:
        path = os.path.join(self.work, f"store-{tag}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def doc_ids(self) -> list[str]:
        from aide_spark.generator import gen_doc
        from perfbench import inputs

        return [gen_doc(i)["doc_id"] for i in inputs.doc_indices(self.seed, self.docs)]


class ResumeTail(Workload):
    """Span-table docs against a store that already committed the first 9/10
    of them in 9 batches; the job anti-joins and extracts the last tenth."""

    docs, batches = 2160, 9
    head = docs // 10 * batches

    def stage(self) -> None:
        from perfbench import inputs

        self.docs_path = inputs.span_table(INPUTS, self.seed, self.docs)
        self.template = inputs.resume_store(INPUTS, self.seed, self.docs, self.head, self.batches)

    def fresh_store(self, tag: str) -> str:
        path = super().fresh_store(tag)
        shutil.copytree(self.template, path, ignore=shutil.ignore_patterns("_READY"))
        return path

    def job(self, store) -> None:
        from aide_spark.plans.checkpoint import run_with_resume

        run_with_resume(self.spark, self.spark.read.parquet(self.docs_path), store, batch_id="measured")

    def expected(self) -> dict[str, str]:
        return {d: "skipped" if k < self.head else "span_table" for k, d in enumerate(self.doc_ids())}

    def layers(self, lay) -> None:
        # the extraction layers are traced on raw_pdf
        lay.resume(self.spark, self.fresh_store("layers"), self.spark.read.parquet(self.docs_path))


class RawPdf(Workload):
    """Real .pdf files through run_extraction.build_raw_docs into an empty
    store: the only path across the Python/Arrow boundary."""

    docs = 108

    def stage(self) -> None:
        from perfbench import inputs

        sys.path.insert(0, os.path.join(ROOT, "scripts"))
        self.pdf_dir, self.passwords = inputs.raw_pdfs(INPUTS, self.seed, self.docs)

    def raw_docs(self):
        from run_extraction import build_raw_docs

        return build_raw_docs(self.spark, self.pdf_dir, self.passwords)

    def job(self, store) -> None:
        from aide_spark.plans.checkpoint import run_with_resume

        run_with_resume(self.spark, self.raw_docs(), store, batch_id="measured")

    def expected(self) -> dict[str, str]:
        return {d: "raw_pdf" for d in self.doc_ids()}

    def layers(self, lay) -> None:
        from pyspark.sql import functions as F

        # mirrors scripts/run_extraction.build_raw_docs up to its
        # ingest_binary_pdf call, whose input this is
        raw = (
            self.spark.read.format("binaryFile").option("pathGlobFilter", "*.pdf").load(self.pdf_dir)
            .select(
                F.regexp_extract(F.col("path"), r"([^/]+)\.pdf$", 1).alias("doc_id"),
                "content",
                (F.col("length") / F.lit(1048576.0)).alias("declared_size_mb"),
            )
            .join(F.broadcast(self.spark.read.parquet(self.passwords)), "doc_id", "left")
        )
        lay.binary_ingest(raw)
        lay.extraction(self.raw_docs())


WORKLOADS = {"resume_tail": ResumeTail, "raw_pdf": RawPdf}


# -- session -----------------------------------------------------------------


def configure_env(run_dir: str, trace: bool) -> None:
    """Keep every file Spark writes inside the run directory; pin the heap."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # python workers import aide_spark (and nothing from perfbench)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = args + " pyspark-shell"


class Jvm:
    """Driver JVM readings over JMX, and Spark's codegen metrics."""

    def __init__(self, spark):
        self.jvm = spark._jvm
        mf = self.jvm.java.lang.management.ManagementFactory
        self.memory = mf.getMemoryMXBean()
        self.collectors = mf.getGarbageCollectorMXBeans()

    def heap_after_gc_mb(self, rounds: int = 3) -> float:
        """Heap in use after a full GC: the least of a few GC rounds. Python
        drops its references to JVM objects first, and each later round
        collects what Spark's cleaner freed after the one before."""
        used = []
        for _ in range(rounds):
            gc.collect()
            self.memory.gc()
            time.sleep(0.2)
            used.append(self.memory.getHeapMemoryUsage().getUsed() / 1e6)
        return min(used)

    def session(self) -> dict[str, float]:
        hist = self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        gc_ms = sum(self.collectors.get(i).getCollectionTime() for i in range(self.collectors.size()))
        return {
            "session.codegen_compiles": hist.getCount(),
            "session.codegen_ms": hist.getCount() * hist.getSnapshot().getMean(),
            "session.gc_s": gc_ms / 1e3,
        }


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


# -- runs --------------------------------------------------------------------


def measure(wl: Workload, jvm: Jvm) -> tuple[dict, str]:
    """The process's first job, timed alone. Heap after GC is read after
    set-up and after the job."""
    from aide_spark.plans.checkpoint import SnapshotStore

    heap = jvm.heap_after_gc_mb()
    store = wl.fresh_store("measured")
    t = time.perf_counter()
    wl.job(SnapshotStore(store))
    seconds = time.perf_counter() - t
    log(f"job: {seconds:.3f}s")
    return {"docs_per_s": wl.docs / seconds, "peak_heap_mb": max(heap, jvm.heap_after_gc_mb())}, store


def traced(wl: Workload, jvm: Jvm, run_dir: str):
    """The process's first job under spans, as in a timed run, then the
    isolated layers, warm. Returns the metrics known before Spark stops,
    the store to check, and a finisher that reads the event log once Spark
    has closed it."""
    from perfbench.layers import Layers
    from perfbench.tracing import EventLog, Tracer, TracedStore

    sc = wl.spark.sparkContext
    tr = Tracer(sc)
    store = wl.fresh_store("traced")
    with tr.span("run_with_resume", group=True):
        wl.job(TracedStore(store, tr))
    metrics = {
        "session.first_job_s": tr.seconds("run_with_resume"),
        "run_with_resume.spark_jobs": len(sc.statusTracker().getJobIdsForGroup("run_with_resume")),
        **jvm.session(),
    }
    lay = Layers(tr)
    wl.layers(lay)

    def finish() -> dict:
        with tr.span("trace.event_log"):
            (name,) = os.listdir(os.path.join(run_dir, "events"))
            ev = EventLog(os.path.join(run_dir, "events", name))
        metrics.update(layer_metrics(wl, tr, lay, ev))
        return {"spans": tr.spans, "rows": lay.rows}

    return metrics, store, finish


LAYER_FIELDS = {
    "binary_ingest": ("wall_s", "task_s", "rows_out"),
    "validation": ("wall_s", "task_s", "rows_out"),
    "lines.line_table": ("wall_s", "task_s", "shuffle_mb", "rows_out"),
    "lines.head_lines_frame": ("wall_s", "task_s", "shuffle_mb", "rows_out"),
    **{
        f"{p}_parser.transactions": ("wall_s", "task_s", "shuffle_mb", "rows_out", "scans", "exchanges", "sorts")
        for p in ("union", "canara", "apgvb")
    },
    **{f"{p}_parser.{fn}": ("wall_s", "rows_out") for p in ("union", "canara", "apgvb") for fn in ("metadata", "summary")},
    "pipeline.spans_out": ("wall_s", "task_s", "shuffle_mb", "rows_out", "exchanges", "sorts"),
    "checkpoint.read_lineage": ("wall_s",),
    "checkpoint.resume_antijoin": ("wall_s",),
}


def layer_metrics(wl: Workload, tr, lay, ev) -> dict[str, float]:
    out = {}
    for layer, fields in LAYER_FIELDS.items():
        totals = {**ev.group(layer), "wall_s": tr.seconds(layer), "rows_out": lay.rows.get(layer, 0)}
        out.update({f"{layer}.{f}": totals[f] for f in fields})
    out["layers.isolated_sum_s"] = sum(out[f"{layer}.wall_s"] for layer in LAYER_FIELDS)
    out["checkpoint.read_lineage_s"] = out.pop("checkpoint.read_lineage.wall_s")
    out["checkpoint.resume_antijoin_s"] = out.pop("checkpoint.resume_antijoin.wall_s")
    out["validation.quarantined"] = lay.rows.get("validation.quarantined", 0)
    mip = "MapInPandas"
    out["binary_ingest.arrow_in_mb"] = ev.sql_metric("binary_ingest", mip, "data sent to Python workers") / 1e6
    out["binary_ingest.arrow_out_mb"] = ev.sql_metric("binary_ingest", mip, "data returned from Python workers") / 1e6
    # in the whole job: rows the decode produced per input document
    out["binary_ingest.decode_rows_per_doc"] = ev.sql_metric("run_with_resume", mip, "number of output rows") / wl.docs

    job = ev.group("run_with_resume")
    for table in ("spans", "quarantine", "lineage", "metrics"):
        out[f"checkpoint.stage.{table}_s"] = tr.seconds(f"checkpoint.stage.{table}")
    out["checkpoint.bytes_written_mb"] = job["written_mb"]
    # after the last staged write: the stats read-back, release and commit
    last_stage = max(s["end"] for s in tr.spans if s["name"].startswith("checkpoint.stage."))
    out["checkpoint.commit_s"] = tr.last("checkpoint.commit")["end"] - last_stage
    out["run_with_resume.input_scans"] = job["input_stages"]
    out["trace.overhead_s"] = sum(s["end"] - s["start"] for s in tr.spans if s["name"].startswith("trace."))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted for the common interface; a run times exactly one job")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-goldens", action="store_true",
                    help="store this seed's per-doc digests as goldens instead of checking them")
    args = ap.parse_args()
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    missing = [p for p in ("bench.py", "aide_spark", "scripts/run_extraction.py", "BENCHMARK.json")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"run from the repository root; missing: {', '.join(missing)}")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    configure_env(run_dir, bool(args.trace))
    sys.path.insert(0, ROOT)
    spark = finish = None
    try:
        t0 = time.perf_counter()
        import bench

        spark = bench.build_spark(len(os.sched_getaffinity(0)))
        spark.sparkContext.setLogLevel("ERROR")
        import aide_spark  # noqa: F401 — its import-time warms are part of set-up

        setup_s = time.perf_counter() - t0
        log(f"setup {setup_s:.2f}s")
        from perfbench import check

        wl = WORKLOADS[args.workload](spark, run_dir, args.seed)
        t = time.perf_counter()
        wl.stage()
        log(f"inputs staged in {time.perf_counter() - t:.2f}s")
        jvm = Jvm(spark)
        if args.trace:
            metrics, store, finish = traced(wl, jvm, run_dir)
        else:
            metrics, store = measure(wl, jvm)
            metrics["setup_s"] = setup_s

        golden = None if args.record_goldens else check.load_goldens(args.workload).get(str(args.seed))
        expected = wl.expected()
        failures, digests = check.check_batch(store, "measured", expected, golden)
        attempted, failed = len(expected), len(failures)
        for line in failures[:5]:
            log(f"FAILED {line}")
        if args.record_goldens and failed == 0:
            check.record_goldens(args.workload, args.seed, digests)
        log(f"checked {attempted} docs against {'goldens' if golden else 'invariants only'}: {failed} failed")
    finally:
        if spark is not None:
            t = time.perf_counter()
            stop_spark(spark)
            log(f"spark stopped in {time.perf_counter() - t:.2f}s")
    if finish is not None:
        trace = finish()
        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        out = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
        with open(out, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "layers": metrics, **trace}, fh, indent=1)
        log(f"trace written to {os.path.relpath(out, ROOT)}")
        for name in sorted(metrics):
            log(f"  {name:45s} {metrics[name]:.4f}")
    shutil.rmtree(run_dir, ignore_errors=True)
    log(f"run took {time.perf_counter() - t0:.1f}s")

    result = {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
