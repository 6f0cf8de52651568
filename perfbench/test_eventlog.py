"""Tests for the event-log reader against a small recorded log.

The log (data/eventlog_sample.jsonl) is Spark 4.1's uncompressed event
log of one job labelled ``probe.udf``: a pandas UDF over
``spark.range(2000)`` at local[2], grouped into 7 keys, with the
environment-update event dropped.  Run with::

    python3 -m pytest perfbench/test_eventlog.py -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.eventlog import spark_layer_metrics, summarize  # noqa: E402

SAMPLE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                      "eventlog_sample.jsonl")


def test_task_totals_per_description():
    t = summarize(SAMPLE)["by_description"]
    assert set(t) == {"probe.udf"}
    job = t["probe.udf"]
    assert job["tasks"] == 3 and job["task_failures"] == 0
    assert job["task_run_ms"] == 4970
    assert job["shuffle_write_bytes"] == 766
    assert job["python_ms"] == 4209 and job["python_bytes_in"] == 16544


def test_operator_sums_follow_the_adaptive_plan():
    ops = {o["node"]: o for o in summarize(SAMPLE)["operators"]}
    # the Python node saw every input row once, however AQE re-planned
    assert ops["ArrowEvalPython"]["rows"] == 2000
    assert ops["ArrowEvalPython"]["bytes_to_python"] == 16544
    assert ops["ArrowEvalPython"]["python_ms"] > 0
    assert ops["Exchange"]["shuffle_bytes"] == 766
    assert ops["Range"]["rows"] == 2000


def test_layer_metrics_filter_by_prefix():
    s = summarize(SAMPLE)
    m = spark_layer_metrics(s, "probe.")
    assert m["spark.tasks"] == 3
    assert m["spark.python_s"] == 4.209
    assert spark_layer_metrics(s, "trace:")["spark.tasks"] == 0
