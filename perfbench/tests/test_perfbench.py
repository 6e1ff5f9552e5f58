"""Tests for the benchmark itself: statistics, event-log parsing and smoke
runs at sf0.001.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import re
import statistics
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

from __spark_entry__ import SMOKE_SF_DIR  # noqa: E402
import eventlog  # noqa: E402
from measure import tail  # noqa: E402
from run import PROBE_REF_S, UNGATED, end_to_end, load_spec, pass_count  # noqa: E402
from workloads import OPS  # noqa: E402

SMOKE_SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SMOKE_SF_DIR)
needs_fixtures = pytest.mark.skipif(
    not os.path.isfile(os.path.join(SMOKE_SF, "documents.parquet")), reason="sf0.001 fixtures absent"
)
METRIC_LINE = re.compile(r"^metric (\S+) = (\S+) (\S+)")
SPEC = load_spec()
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


@pytest.mark.parametrize("n", [1, 2, 3, 9, 19, 20, 21, 40, 55, 200])
def test_op_tail_is_at_least_the_pooled_median(n):
    rng = random.Random(n)
    for _ in range(50):
        xs = [rng.lognormvariate(0, 1) for _ in range(n)]
        value, pct, above = tail(xs)
        assert value >= statistics.median(xs)
        assert 50 <= pct <= 100
        assert above == sum(x > value for x in xs)
        if n >= 21:
            assert above == 10


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_workload_has_a_tail_above_the_median(workload):
    n = pass_count(len(OPS[workload])) * len(OPS[workload])
    value, pct, above = tail(range(n))
    assert above == 10 and pct > 55


def test_adjusted_timings_scale_the_raw_ones_by_the_median_probe():
    passes = [{"wall": w, "cpu": 1.0, "latencies": {"a": w / 4, "b": 3 * w / 4}} for w in (2.0, 3.0, 5.0)]
    probes = [2 * PROBE_REF_S] * 3 + [PROBE_REF_S]  # the host ran at half the reference speed
    metrics, _ = end_to_end(10.0, passes, 100.0, probes)
    assert metrics["wall_s"] == 3.0
    for k in ("wall", "op_gmean", "op_tail"):
        assert metrics[f"{k}_adj_s"] == pytest.approx(metrics[f"{k}_s"] / 2)


def _event(kind: str, **fields) -> str:
    return json.dumps({"Event": kind, **fields})


def _task(stage: int, run_ms: int, python: dict[int, tuple[str, int]]) -> str:
    accs = [{"ID": acc, "Name": name, "Update": str(update)} for acc, (name, update) in python.items()]
    return _event("SparkListenerTaskEnd", **{"Stage ID": stage, "Task Metrics": {"Executor Run Time": run_ms},
                                            "Task Info": {"Accumulables": accs}})


def test_python_metrics_are_scaled_by_their_metric_type(tmp_path):
    node = {"nodeName": "ArrowEvalPython", "children": [], "metrics": [
        {"name": "time to run Python workers", "accumulatorId": 1, "metricType": "nsTiming"},
        {"name": "time to start Python workers", "accumulatorId": 2, "metricType": "timing"},
        {"name": "time to initialize Python workers", "accumulatorId": 3, "metricType": "timing"},
        {"name": "data sent to Python workers", "accumulatorId": 4, "metricType": "size"},
    ]}
    group = {"spark.jobGroup.id": "exec:q:t0"}
    fresh = {1: ("time to run Python workers", 2_000_000_000), 2: ("time to start Python workers", 30),
             3: ("time to initialize Python workers", 400), 4: ("data sent to Python workers", 5_000_000)}
    # a reused worker reports no start time; its init time includes the idle time before the task
    reused = {1: ("time to run Python workers", 1_000_000_000), 3: ("time to initialize Python workers", 60_000)}
    (tmp_path / "events_1_app").write_text("\n".join([
        _event("SparkListenerSQLExecutionStart", executionId=0, jobGroupId="exec:q:t0", sparkPlanInfo=node),
        _event("SparkListenerJobStart", Properties=group),
        _event("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 0}, "Properties": group}),
        _task(0, 2500, fresh),
        _task(0, 1200, reused),
        _event("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}}),
    ]) + "\n")
    g = eventlog.parse(str(tmp_path))["exec:q:t0"]
    assert (g["tasks"], g["run_ms"]) == (2, 3700)
    assert g["python_run_s"] == pytest.approx(3.0)
    assert g["python_boot_s"] == pytest.approx(0.03)
    assert g["python_init_s"] == pytest.approx(0.4)
    assert g["python_sent_b"] == 5_000_000


def _run(workload: str, trace: int) -> tuple[dict, dict[str, tuple[float, str]], str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--sf-dir", SMOKE_SF],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    printed = {m[1]: (float(m[2]), m[3]) for m in map(METRIC_LINE.match, lines) if m}
    return json.loads(lines[-1]), printed, proc.stdout


@pytest.fixture(scope="module")
def untraced():
    return _run("metadata_planning", trace=0)


@pytest.fixture(scope="module")
def traced():
    result = _run("corpus_ingest", trace=1)
    with open(os.path.join(BENCH, "out", "corpus_ingest-seed7-trace.json")) as f:
        return result, json.load(f)


@needs_fixtures
def test_smoke_prints_every_end_to_end_metric_with_its_unit(untraced):
    result, printed, _ = untraced
    assert result["correct"] and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == END_TO_END
    for name, unit in END_TO_END.items():
        assert printed[name][1] == unit
        assert result["metrics"][name]["value"] > 0
    assert printed["error_rate"][1] == "ratio"
    for name, unit in UNGATED.items():
        assert printed[name][1] == unit and printed[name][0] > 0


@needs_fixtures
def test_error_rate_lies_in_the_unit_interval(untraced):
    result, printed, _ = untraced
    assert 0 <= printed["error_rate"][0] <= 1
    assert printed["error_rate"][0] == pytest.approx(result["failed"] / result["attempted"], rel=1e-5)


@needs_fixtures
def test_traced_run_prints_every_per_layer_metric_with_its_unit(traced):
    (result, printed, _), _rows = traced
    assert result["correct"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == PER_LAYER
    for name, unit in PER_LAYER.items():
        assert printed[name][1] == unit


@needs_fixtures
def test_python_worker_times_fit_in_executor_run_time(traced):
    (result, _, _), _rows = traced
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["python.run_s"] > 0
    assert m["python.init_s"] <= m["exec.executor_run_s"]
    assert m["python.run_s"] <= m["exec.executor_run_s"]


@needs_fixtures
def test_per_op_job_counts_repeat_exactly_across_passes(traced):
    _, record = traced
    counts: dict[str, set] = {}
    for row in record["ops"]:
        if row["pass"].startswith("t"):
            key = tuple(row[k] for k in ("jobs_load", "jobs_build", "jobs_exec", "scans", "exchanges"))
            counts.setdefault(row["op"], set()).add(key)
    assert set(counts) == set(OPS["corpus_ingest"])
    assert all(len(v) == 1 for v in counts.values()), counts
