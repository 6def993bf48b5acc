"""The engine leaves the caller's session alone: importing it runs no Spark
job and changes no conf, start-up warming happens only through an explicit
``aide_spark.warm(spark)``, one warm-up query that logs rather than raises
a failure, and the components loop sizes its shuffles without writing the
session's shuffle width. A session built with ``aide_spark.SESSION_CONF``
builds the pipeline plan in under half the py4j round trips, and the query
board's reader memo is dropped by ``queries.clear_table_cache``."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from tests.conftest import spark  # noqa: F401  (shared session fixture)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_IMPORT_PROBE = """
import json
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "512m")
    .getOrCreate()
)
sc, conf = spark.sparkContext, spark._jsparkSession.sessionState().conf()


def state():
    return {
        "jobs": sorted(sc.statusTracker().getJobIdsForGroup()),
        "codegen_cache": conf.codegenCacheMaxEntries(),
        "conf": spark.conf.getAll,
    }


before = state()
import aide_spark  # noqa: E402,F401
import aide_spark.plans.pipeline  # noqa: E402,F401
import aide_spark.queries  # noqa: E402,F401

print(json.dumps({"before": before, "after": state()}))
spark.stop()
"""


def _run_probe(code: str, *args: str):
    """Run ``code`` in a fresh interpreter; → its last stdout line as JSON."""
    env = dict(os.environ, PYTHONPATH=REPO + os.pathsep + os.environ.get("PYTHONPATH", ""))
    out = subprocess.run(
        [sys.executable, "-c", code, *args],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def test_import_runs_no_jobs_and_sets_no_conf():
    """A fresh interpreter with a live session imports the package, the
    operator board and the pipeline: no job runs and no conf changes."""
    probe = _run_probe(_IMPORT_PROBE)
    assert probe["after"] == probe["before"]
    assert probe["after"]["jobs"] == []


_CALLS_PROBE = """
import json, sys
import py4j.java_gateway as jg
from pyspark.sql import SparkSession
import aide_spark
from aide_spark.generator import local_corpus_df
from aide_spark.plans import pipeline

builder = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "512m")
)
if sys.argv[1] == "session_conf":
    builder = builder.config(map=aide_spark.SESSION_CONF)
spark = builder.getOrCreate()
docs = local_corpus_df(spark, 12)
calls, send = [0], jg.GatewayClient.send_command


def counting(self, *args, **kwargs):
    calls[0] += 1
    return send(self, *args, **kwargs)


jg.GatewayClient.send_command = counting
pipeline.run(docs)
jg.GatewayClient.send_command = send
print(json.dumps(calls[0]))
spark.stop()
"""


def test_session_conf_halves_plan_round_trips():
    """``pipeline.run`` on 12 docs, counted in ``GatewayClient.send_command``,
    in a session built with ``SESSION_CONF`` and in one built without it.
    Each runs in a fresh interpreter, because PySpark reads the DataFrame
    debugging flag once per process. Measured ratio: 0.46–0.47."""
    with_conf = _run_probe(_CALLS_PROBE, "session_conf")
    default = _run_probe(_CALLS_PROBE, "default")
    assert with_conf <= 0.6 * default, (with_conf, default)


def test_clear_table_cache_sees_a_rewritten_table(spark, tmp_path):
    from aide_spark import queries

    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "t.parquet")
    spark.range(1).write.parquet(path)
    assert queries._t(spark, sf_dir, "t").count() == 1
    assert queries._t(spark, sf_dir, "t") is queries._t(spark, sf_dir, "t")
    spark.range(3).write.mode("overwrite").parquet(path)
    queries.clear_table_cache()
    assert queries._t(spark, sf_dir, "t").count() == 3


def test_warm_runs_jobs_and_raises_nothing(spark, caplog):
    import aide_spark

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    with caplog.at_level("WARNING", logger="aide_spark"):
        aide_spark.warm(spark)
    assert set(tracker.getJobIdsForGroup()) - before
    assert not caplog.records


def test_warm_logs_a_failure_and_raises_nothing(caplog):
    import aide_spark

    class BrokenSession:
        def range(self, *args):
            raise RuntimeError("boom")

    with caplog.at_level("WARNING", logger="aide_spark"):
        aide_spark.warm(BrokenSession())
    assert [r.getMessage() for r in caplog.records] == ["aide_spark.warm failed"]


def test_connected_components_sets_no_session_conf(spark, monkeypatch):
    from pyspark.sql.conf import RuntimeConfig

    from aide_spark.operators.dedup import connected_components

    calls = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        calls.append((key, value))
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")], "d1 string, d2 string"
    )
    nodes = spark.createDataFrame([(n,) for n in "abcdxyz"], "doc_id string")
    labels = connected_components(pairs, nodes)
    got = {r.doc_id: r.component for r in labels.collect()}
    labels.unpersist()
    assert calls == []
    assert got == {**dict.fromkeys("abcd", "a"), "x": "x", "y": "x", "z": "z"}


def test_release_checkpoint_warns_when_release_fails(spark):
    """A frame that is not a checkpoint has no backing rdd to release."""
    from aide_spark import release_checkpoint

    with pytest.warns(RuntimeWarning, match="could not release"):
        release_checkpoint(spark.range(1))
