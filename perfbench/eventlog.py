"""Per-job-group metrics from Spark's built-in JSON event log.

The traced run gives every phase of every op execution its own job group
(``load:`` / ``build:`` / ``exec:`` + op + pass), so jobs, stages, tasks,
task metrics and the Python UDF SQL metrics can be attributed after the
session stops. The plan digest is taken from the last adaptive plan of each
SQL execution started in an ``exec:`` group, i.e. the plan that ran.

The Python UDF accumulables are scaled by the ``metricType`` their plan node
declares (``timing`` in ms, ``nsTiming`` in ns, ``size`` in bytes). Spark's
"time to initialize Python workers" runs from the moment a worker is ready
for its next task, so for a reused worker it also counts the idle time since
its previous task: it is summed only over tasks that started a fresh worker,
i.e. that report a "time to start Python workers".
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

#: Spark 4.1 ``PythonSQLMetrics`` accumulable names -> field (s or bytes)
PYTHON_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "python_sent_b",
    "data returned from Python workers": "python_recv_b",
}

#: SQL metric type -> factor to seconds (timings) or bytes (sizes)
SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0}

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "input_rows",
    "shuffle_read_b",
    "shuffle_write_b",
    "spill_b",
    "run_ms",
    "cpu_ns",
    "gc_ms",
    *PYTHON_METRICS.values(),
    "scans",
    "exchanges",
    "reused_exchanges",
    "bnl_joins",
)


def _files(log_dir: str) -> list[str]:
    out = []
    for root, _dirs, names in os.walk(log_dir):
        for n in names:
            if not n.startswith(".") and not n.startswith("appstatus"):
                out.append(os.path.join(root, n))
    # rolled logs are events_<index>_<app>; order by index
    return sorted(out, key=lambda p: [int(x) if x.isdigit() else x for x in re.split(r"(\d+)", os.path.basename(p))])


def plan_counts(info: dict) -> dict[str, int]:
    """Scan / Exchange / ReusedExchange / BroadcastNestedLoopJoin nodes in a
    ``sparkPlanInfo`` tree."""
    counts = dict.fromkeys(("scans", "exchanges", "reused_exchanges", "bnl_joins"), 0)
    todo = [info]
    while todo:
        node = todo.pop()
        name = node.get("nodeName", "")
        if name.startswith("Scan ") or name.startswith("BatchScan"):
            counts["scans"] += 1
        elif name == "ReusedExchange":
            counts["reused_exchanges"] += 1
        elif name.endswith("Exchange"):
            counts["exchanges"] += 1
        elif name == "BroadcastNestedLoopJoin":
            counts["bnl_joins"] += 1
        todo.extend(node.get("children", ()))
    return counts


def metric_types(nodes) -> dict[int, str]:
    """accumulator id -> ``metricType`` over ``sparkPlanInfo`` trees or
    ``sqlPlanMetrics`` lists."""
    out: dict[int, str] = {}
    todo = list(nodes)
    while todo:
        node = todo.pop()
        if "accumulatorId" in node:
            out[node["accumulatorId"]] = node["metricType"]
        todo.extend(node.get("metrics", ()))
        todo.extend(node.get("children", ()))
    return out


def _num(v) -> int:
    return int(float(v)) if v not in (None, "") else 0


def parse(log_dir: str) -> dict[str, dict[str, float]]:
    """job group -> counters (see ``COUNTERS``)."""
    groups: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    types: dict[int, str] = {}
    python: list[tuple[str, dict[str, tuple[int, int]]]] = []  # (group, field -> (accumulator, update)) per task
    stage_group: dict[int, str] = {}
    sql_group: dict[int, str] = {}
    sql_plan: dict[int, dict] = {}
    for path in _files(log_dir):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"].rsplit(".", 1)[-1]
                if "sparkPlanInfo" in e:
                    types.update(metric_types([e["sparkPlanInfo"]]))
                if "sqlPlanMetrics" in e:
                    types.update(metric_types(e["sqlPlanMetrics"]))
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        groups[g]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        stage_group[e["Stage Info"]["Stage ID"]] = g
                elif kind == "SparkListenerStageCompleted":
                    g = stage_group.get(e["Stage Info"]["Stage ID"])
                    if g:
                        groups[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(e["Stage ID"])
                    if g:
                        _add_task(groups[g], e)
                        accs = (e.get("Task Info") or {}).get("Accumulables") or ()
                        py = {
                            PYTHON_METRICS[a["Name"]]: (a["ID"], _num(a.get("Update")))
                            for a in accs
                            if a.get("Name") in PYTHON_METRICS
                        }
                        if py:
                            python.append((g, py))
                elif kind == "SparkListenerSQLExecutionStart":
                    g = e.get("jobGroupId")
                    if g and g.startswith("exec:"):
                        sql_group[e["executionId"]] = g
                        sql_plan[e["executionId"]] = e["sparkPlanInfo"]
                elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
                    if e["executionId"] in sql_group:
                        sql_plan[e["executionId"]] = e["sparkPlanInfo"]
    for g, py in python:
        if "python_boot_s" not in py:  # a reused worker: its init time includes idle time
            py.pop("python_init_s", None)
        for field, (acc, update) in py.items():
            groups[g][field] += update * SCALE[types[acc]]
    for eid, g in sql_group.items():
        for k, v in plan_counts(sql_plan[eid]).items():
            groups[g][k] += v
    return dict(groups)


def _add_task(c: dict[str, int], e: dict) -> None:
    c["tasks"] += 1
    m = e.get("Task Metrics") or {}
    c["run_ms"] += _num(m.get("Executor Run Time"))
    c["cpu_ns"] += _num(m.get("Executor CPU Time"))
    c["gc_ms"] += _num(m.get("JVM GC Time"))
    c["spill_b"] += _num(m.get("Disk Bytes Spilled"))
    c["input_rows"] += _num((m.get("Input Metrics") or {}).get("Records Read"))
    sr = m.get("Shuffle Read Metrics") or {}
    c["shuffle_read_b"] += _num(sr.get("Local Bytes Read")) + _num(sr.get("Remote Bytes Read"))
    c["shuffle_write_b"] += _num((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
