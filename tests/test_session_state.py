"""The engine leaves the caller's session alone: importing it runs no Spark
job and changes no conf, start-up warming happens only through an explicit
``aide_spark.warm(spark)``, one warm-up query that logs rather than raises
a failure, and the components loop sizes its shuffles without writing the
session's shuffle width."""

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


def test_import_runs_no_jobs_and_sets_no_conf():
    """A fresh interpreter with a live session imports the package, the
    operator board and the pipeline: no job runs and no conf changes."""
    env = dict(os.environ, PYTHONPATH=REPO + os.pathsep + os.environ.get("PYTHONPATH", ""))
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_PROBE],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    probe = json.loads(out.strip().splitlines()[-1])
    assert probe["after"] == probe["before"]
    assert probe["after"]["jobs"] == []


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
