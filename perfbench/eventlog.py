"""Reader for Spark's uncompressed JSON-lines event log.

``summarize(path)`` walks the SQL plan events (``SQLExecutionStart`` and
every ``SQLAdaptiveExecutionUpdate``) to map each SQL metric accumulator
to its plan node, then sums the ``TaskEnd`` accumulable updates per
operator, keyed by the job description that was set when the job ran.
It also totals the task-level metrics (run time, scheduler delay, GC,
shuffle and spill) per job description.

Run it on a log to print the summary as JSON::

    python3 perfbench/eventlog.py <event-log-file>
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict

# SQL metric name -> key in the per-operator summary
_NODE_METRICS = {
    "number of output rows": "rows",
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
    "shuffle bytes written": "shuffle_bytes",
    "spill size": "spill_bytes",
}

_TASK_TOTALS = (
    "tasks", "task_failures", "task_run_ms", "scheduler_delay_ms", "gc_ms",
    "shuffle_write_bytes", "shuffle_fetch_wait_ms", "spill_bytes",
    "python_ms", "python_bytes_in",
)


def _walk(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"])
    for child in plan.get("children", ()):
        _walk(child, out)


def _scheduler_delay(info: dict, metrics: dict) -> int:
    """The Spark UI's formula: wall time not spent deserialising,
    running, serialising the result or fetching it."""
    wall = info["Finish Time"] - info["Launch Time"]
    busy = (metrics.get("Executor Run Time", 0)
            + metrics.get("Executor Deserialize Time", 0)
            + metrics.get("Result Serialization Time", 0)
            + info.get("Getting Result Time", 0))
    return max(0, wall - busy)


def summarize(path: str) -> dict:
    """{"by_description": {desc: {totals}}, "operators": [{desc, node, ...}]}"""
    accum: dict[int, tuple[str, str]] = {}
    exec_desc: dict[int, str] = {}
    accum_exec: dict[int, int] = {}
    stage_desc: dict[int, str] = {}
    totals: dict[str, dict] = defaultdict(lambda: dict.fromkeys(_TASK_TOTALS, 0))
    ops: dict[tuple, dict] = defaultdict(lambda: dict.fromkeys(_NODE_METRICS.values(), 0))
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"].rsplit(".", 1)[-1]
            if kind in ("SparkListenerSQLExecutionStart",
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                eid = ev["executionId"]
                if "description" in ev:
                    exec_desc[eid] = ev["description"]
                found: dict = {}
                _walk(ev["sparkPlanInfo"], found)
                accum.update(found)
                accum_exec.update(dict.fromkeys(found, eid))
            elif kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                for sid in ev.get("Stage IDs", ()):
                    stage_desc[sid] = desc
            elif kind == "SparkListenerTaskEnd":
                desc = stage_desc.get(ev["Stage ID"], "")
                info = ev["Task Info"]
                tm = ev.get("Task Metrics") or {}
                t = totals[desc]
                t["tasks"] += 1
                ok = ev["Task End Reason"]["Reason"] == "Success" and not info["Failed"]
                t["task_failures"] += 0 if ok else 1
                t["task_run_ms"] += tm.get("Executor Run Time", 0)
                t["scheduler_delay_ms"] += _scheduler_delay(info, tm)
                t["gc_ms"] += tm.get("JVM GC Time", 0)
                t["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                t["shuffle_fetch_wait_ms"] += (tm.get("Shuffle Read Metrics") or {}).get(
                    "Fetch Wait Time", 0)
                t["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                     + tm.get("Disk Bytes Spilled", 0))
                for acc in info.get("Accumulables", ()):
                    node = accum.get(acc["ID"])
                    if node is None or node[1] not in _NODE_METRICS:
                        continue
                    key = _NODE_METRICS[node[1]]
                    value = int(acc.get("Update", 0))
                    ops[exec_desc.get(accum_exec[acc["ID"]], desc), node[0]][key] += value
                    if key == "python_ms":
                        t["python_ms"] += value
                    elif key == "bytes_to_python":
                        t["python_bytes_in"] += value
    operators = [{"description": d, "node": n, **v} for (d, n), v in sorted(ops.items())]
    return {"by_description": dict(totals), "operators": operators}


def spark_layer_metrics(summary: dict, prefix: str) -> dict:
    """Sum the task totals of every job description starting with
    ``prefix`` into the benchmark's ``spark.*`` per-layer metrics."""
    t = dict.fromkeys(_TASK_TOTALS, 0)
    for desc, v in summary["by_description"].items():
        if desc.startswith(prefix):
            for k in t:
                t[k] += v[k]
    return {
        "spark.python_s": t["python_ms"] / 1e3,
        "spark.python_bytes_in": t["python_bytes_in"],
        "spark.shuffle_write_bytes": t["shuffle_write_bytes"],
        "spark.shuffle_fetch_wait_s": t["shuffle_fetch_wait_ms"] / 1e3,
        "spark.spill_bytes": t["spill_bytes"],
        "spark.gc_s": t["gc_ms"] / 1e3,
        "spark.task_run_s": t["task_run_ms"] / 1e3,
        "spark.scheduler_delay_s": t["scheduler_delay_ms"] / 1e3,
        "spark.tasks": t["tasks"],
        "spark.task_failures": t["task_failures"],
    }


if __name__ == "__main__":
    json.dump(summarize(sys.argv[1]), sys.stdout, indent=1)
    print()
