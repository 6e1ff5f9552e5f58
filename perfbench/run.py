"""spark-graft benchmark: one workload of registered queries in a closed loop.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One driver thread runs every op of the
workload once per pass (order shuffled by the seed) on ``local[nproc]`` over
the read-only sf0.1 fixtures; an op is ``fn(spark, sf_dir)`` (build) followed
by a ``noop`` write of the returned DataFrame (execute).

A run is: session up; a first pass that collects every answer (checked
against the DuckDB oracle outside the timed passes); ``WARMUP_PASSES``
untimed passes; the timed passes; teardown. The number of timed passes is
fixed per workload (``pass_count``), so every run pools the same number of
op latencies and ``op_tail_s`` is always the same percentile; ``--seconds``
is accepted for the harness interface and does not change it.
``--trace 0`` prints the end-to-end metrics; its gated timings are
host-adjusted (``*_adj_s``): scaled by a fixed CPU job, timed before the
JVM starts, between passes and after the JVM exits, that runs none of the
program's code. ``--trace 1`` runs half the
timed passes untraced, restarts the SparkContext in the same JVM with the
event log on and job groups per op phase, runs as many traced, adds the
operator micro-timings and prints the per-layer metrics; it also writes
per-op rows to ``perfbench/out/``. Workload names and metric names and units
come from ``BENCHMARK.json``. The last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

from measure import (
    descendants,
    gmean,
    host_probe_s,
    median,
    rss_mb,
    seconds_since_process_start,
    tail,
    tree_cpu_s,
    tree_peak_rss_mb,
)
from workloads import OPS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MB = 1e6
#: noop passes after the collecting first pass and before timing, the same
#: number on every run: the first pass runs 1.5-3x the settled wall while
#: the JIT and codegen caches fill, the next one still 1.1-1.3x. Pass walls
#: keep falling for about four passes more (5.2 to 4.1 s on
#: metadata_planning) while the JIT compiles; one is what the run budget holds
WARMUP_PASSES = 1
#: timed passes of a run, unless the workload has too few ops for the tail
TIMED_PASSES = 3
#: pooled op latencies a run needs at least, so that ``op_tail_s`` (10
#: samples above it) is p56 or higher rather than the median
MIN_TAIL_SAMPLES = 24
#: seconds after the last timed op before the live heap is read: some
#: blocks are freed only 1-2 s after an op returns (about 270 MB after
#: q_dv_payload_roundtrip)
LIVE_HEAP_WAIT_S = 3.0
#: host probes (``measure.host_probe_s``) before the JVM starts and after it
#: stops, and after the GC before every warm-up and timed pass
PROBES_OUTSIDE, PROBES_PER_GAP = 8, 4
#: probe wall (s) that defines the adjusted timings: ``*_adj_s`` is the
#: measured time times ``PROBE_REF_S`` / the run's median probe wall, i.e.
#: the time on a host where the probe takes 50 ms, about what it takes on
#: the 4-core host of the baseline in README.md
PROBE_REF_S = 0.05


def pass_count(n_ops: int) -> int:
    return max(TIMED_PASSES, math.ceil(MIN_TAIL_SAMPLES / n_ops))


def load_spec() -> dict:
    """``BENCHMARK.json``: workload names and metric names and units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


class LoadTracer:
    """Times every ``core.io.load_table`` call, at every module that binds
    the name, and runs it under its own ``load:`` job group."""

    def __init__(self, sc):
        self.sc = sc
        self.group = None  # the build group to restore after a load
        self.calls = 0
        self.seconds = 0.0
        self._depth = 0
        self._patched: list[tuple[object, object]] = []

    def install(self) -> None:
        from iceberg_benchmark_poc_spark.core import io

        original = io.load_table

        def load_table(spark, sf_dir, name):
            if self._depth or self.group is None:
                return original(spark, sf_dir, name)
            self._depth += 1
            self.sc.setJobGroup("load:" + self.group.split(":", 1)[1], name)
            t0 = time.perf_counter()
            try:
                return original(spark, sf_dir, name)
            finally:
                self.seconds += time.perf_counter() - t0
                self.calls += 1
                self._depth -= 1
                self.sc.setJobGroup(self.group, "")

        for mod in list(sys.modules.values()):
            if (mod.__name__ or "").startswith("iceberg_benchmark_poc_spark") and getattr(
                mod, "load_table", None
            ) is original:
                self._patched.append((mod, original))
                mod.load_table = load_table

    def uninstall(self) -> None:
        for mod, original in self._patched:
            mod.load_table = original
        self._patched.clear()


class Runner:
    def __init__(self, ops: tuple[str, ...], sf_dir: str, seed: int, run_dir: str):
        from iceberg_benchmark_poc_spark.core.registry import all_queries

        self.ops = ops
        self.sf_dir = sf_dir
        self.seed = seed
        self.run_dir = run_dir
        registry = all_queries()
        self.fns = {op: registry[op].fn for op in ops}
        self.oracles = {op: registry[op].oracle for op in ops}
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.errors: dict[str, str] = {}  # op -> first failure
        self.answers = {}
        self.rows: list[dict] = []  # per op execution
        self.probes: list[float] = []  # host_probe_s() walls

    # --- session -------------------------------------------------------
    def start(self, event_log: str | None = None) -> float:
        from iceberg_benchmark_poc_spark.core.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(self.run_dir, "tmp"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + event_log,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(extra_conf=conf)
        started = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return started

    def gc(self) -> float:
        """Full Python and JVM GC; returns the JVM heap in use after it (MB)."""
        gc.collect()
        jvm = self.spark.sparkContext._jvm
        jvm.System.gc()
        return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / MB

    def live_heap_mb(self, meanwhile) -> float:
        """JVM heap in use after a full GC once asynchronous cleanup is done.

        ``meanwhile`` (the answer check) runs first, while the cleanup goes
        on; then the heap is collected every 0.5 s, at least twice and until
        ``LIVE_HEAP_WAIT_S`` have passed since the last op, and the lowest
        reading is taken."""
        deadline = time.monotonic() + LIVE_HEAP_WAIT_S
        self.gc()
        meanwhile()
        heap = self.gc()
        while True:
            time.sleep(0.5)
            heap = min(heap, self.gc())
            if time.monotonic() >= deadline:
                return heap

    def probe(self, n: int) -> None:
        self.probes += [host_probe_s() for _ in range(n)]

    def release(self) -> int:
        """Unpersist every RDD an op left pinned; returns how many."""
        rdds = self.spark.sparkContext._jsc.getPersistentRDDs()
        left = rdds.size()
        for rdd in list(rdds.values()):
            rdd.unpersist(True)
        self.spark.catalog.clearCache()
        return left

    def stop_context(self) -> None:
        self.spark.stop()
        self.spark = None

    # --- passes --------------------------------------------------------
    def order(self, tag: str) -> list[str]:
        ops = list(self.ops)
        random.Random(f"{self.seed}:{tag}").shuffle(ops)
        return ops

    def run_pass(self, tag: str, collect: bool = False) -> dict:
        """One pass over every op; returns its wall, CPU and op latencies.
        Wall and latencies exclude the release of leaked RDDs between ops."""
        sc = self.spark.sparkContext
        traced = self.tracer is not None
        wall, latencies = 0.0, {}
        cpu0 = tree_cpu_s()
        for op in self.order(tag):
            self.attempted += 1
            row = {"op": op, "pass": tag}
            if traced:
                self.tracer.group = f"build:{op}:{tag}"
                sc.setJobGroup(self.tracer.group, op)
                calls0, load0 = self.tracer.calls, self.tracer.seconds
            t0 = time.perf_counter()
            try:
                df = self.fns[op](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                if traced:
                    self.tracer.group = None
                    sc.setJobGroup(f"exec:{op}:{tag}", op)
                if collect:
                    self.answers[op] = df.toArrow()
                else:
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception as e:  # an op failure is a measured outcome, not a crash
                wall += time.perf_counter() - t0
                self.fail(op, f"{tag}: {type(e).__name__}: {str(e)[:300]}")
                self.release()
                continue
            finally:
                if traced:
                    self.tracer.group = None
            wall += t2 - t0
            latencies[op] = t2 - t0
            row.update(build_s=t1 - t0, exec_s=t2 - t1)
            if traced:
                row.update(load_calls=self.tracer.calls - calls0, load_s=self.tracer.seconds - load0)
            row["rdds_left"] = self.release()
            self.rows.append(row)
        return {"wall": wall, "cpu": tree_cpu_s() - cpu0, "latencies": latencies}

    def timed_passes(self, n: int, prefix: str) -> list[dict]:
        out = []
        for i in range(n):
            self.gc()
            self.probe(PROBES_PER_GAP)
            out.append(self.run_pass(f"{prefix}{i}"))
        return out

    # --- correctness ---------------------------------------------------
    def fail(self, op: str, why: str) -> None:
        self.failed += 1
        self.errors.setdefault(op, why)

    def check(self) -> None:
        """Compare every collected answer with its DuckDB oracle."""
        from oracle import Oracle, digest, mismatch

        oracle = Oracle(self.sf_dir, threads=os.cpu_count() or 4)
        try:
            for op, table in self.answers.items():
                if self.oracles[op] is None:
                    self.fail(op, "no DuckDB oracle registered")
                    continue
                diff = mismatch(digest(table), oracle.digest(self.oracles[op]))
                if diff:
                    self.fail(op, "oracle mismatch: " + diff)
        finally:
            oracle.close()
        self.answers.clear()


#: timings an untraced run prints beside the JSON line's metrics but leaves
#: ungated: the raw ones move with the host's speed, and the tail of
#: corpus_ingest is one op's order statistic (see README)
UNGATED = {"wall_s": "s", "op_gmean_s": "s", "op_tail_s": "s", "op_tail_adj_s": "s", "cpu_s": "s"}


def end_to_end(setup_s: float, passes: list[dict], heap: float, probes: list[float]) -> tuple[dict, list[str]]:
    """Every timing the run reports, raw and host-adjusted (``*_adj_s``)."""
    pooled = [s for p in passes for s in p["latencies"].values()]
    per_op: dict[str, list[float]] = {}
    for p in passes:
        for op, s in p["latencies"].items():
            per_op.setdefault(op, []).append(s)
    tail_s, pct, above = tail(pooled)
    rss = rss_mb()
    host = median(probes)
    metrics = {
        "setup_s": setup_s,
        "wall_s": median(p["wall"] for p in passes),
        "op_gmean_s": gmean(median(v) for v in per_op.values()),
        "op_tail_s": tail_s,
        "cpu_s": median(p["cpu"] for p in passes),
        "mem_live_mb": heap + rss,
    }
    for k in ("wall", "op_gmean", "op_tail"):
        metrics[f"{k}_adj_s"] = metrics[f"{k}_s"] * PROBE_REF_S / host
    notes = [
        f"op_tail_s is p{pct:.1f} of {len(pooled)} op latencies ({above} above it)",
        f"mem_live_mb = JVM heap {heap:.1f} MB + driver RSS {rss:.1f} MB",
        f"host probe median {host * 1e3:.2f} ms over {len(probes)} probes (quartiles "
        + ", ".join(f"{q * 1e3:.2f}" for q in statistics.quantiles(probes, n=4))
        + f" ms); *_adj_s = raw x {PROBE_REF_S * 1e3:.0f} ms / median",
    ]
    notes += [f"pass {i} wall {p['wall']:.4f} s cpu {p['cpu']:.2f} s" for i, p in enumerate(passes)]
    notes += [f"op {op} median {median(v):.4f} s over {len(v)} passes" for op, v in sorted(per_op.items())]
    return metrics, notes


PHASES = ("load", "build", "exec")
PLAN = ("scans", "exchanges", "reused_exchanges", "bnl_joins")


def per_layer(runner: Runner, traced: list[dict], untraced: list[dict], groups: dict, extra: dict) -> dict:
    """Per-layer metrics: each is the median over the traced timed passes of
    the pass total. Task-side ``exec.*`` figures cover every Spark job an op
    ran (load, build and execute phases); ``exec.jobs`` counts the execute
    phase only, next to ``io.load_table_jobs`` and ``queries.build_jobs``.
    ``queries.build_s`` is build self time: ``fn()`` minus its table loads."""
    totals: dict[str, dict[str, float]] = {}
    for r in runner.rows:
        if not r["pass"].startswith("t"):
            continue
        g = {ph: groups.get(f"{ph}:{r['op']}:{r['pass']}", {}) for ph in PHASES}

        def spark(key):
            return sum(g[ph].get(key, 0) for ph in PHASES)

        r.update({f"jobs_{ph}": g[ph].get("jobs", 0) for ph in PHASES})
        r.update(stages=spark("stages"), tasks=spark("tasks"), **{k: g["exec"].get(k, 0) for k in PLAN})
        values = {
            "io.load_table_calls": r["load_calls"],
            "io.load_table_s": r["load_s"],
            "io.load_table_jobs": r["jobs_load"],
            "queries.build_s": r["build_s"] - r["load_s"],
            "queries.build_jobs": r["jobs_build"],
            "exec.exec_s": r["exec_s"],
            "exec.jobs": r["jobs_exec"],
            "exec.stages": r["stages"],
            "exec.tasks": r["tasks"],
            "exec.input_rows": spark("input_rows"),
            "exec.shuffle_read_mb": spark("shuffle_read_b") / MB,
            "exec.shuffle_write_mb": spark("shuffle_write_b") / MB,
            "exec.spill_mb": spark("spill_b") / MB,
            "exec.executor_run_s": spark("run_ms") / 1e3,
            "exec.executor_cpu_s": spark("cpu_ns") / 1e9,
            "exec.jvm_gc_s": spark("gc_ms") / 1e3,
            **{f"plan.{k}": r[k] for k in PLAN},
            "python.run_s": spark("python_run_s"),
            "python.boot_s": spark("python_boot_s"),
            "python.init_s": spark("python_init_s"),
            "python.data_sent_mb": spark("python_sent_b") / MB,
            "python.data_received_mb": spark("python_recv_b") / MB,
            "session.persisted_rdds_left": r["rdds_left"],
        }
        total = totals.setdefault(r["pass"], {})
        for k, v in values.items():
            total[k] = total.get(k, 0) + v
    out = {k: median(t.get(k, 0) for t in totals.values()) for k in next(iter(totals.values()))}
    out.update(extra)
    out["proc.cpu_s"] = median(p["cpu"] for p in traced)
    out["trace.overhead_x"] = median(p["wall"] for p in traced) / median(p["wall"] for p in untraced)
    return out


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait for every process this run started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    spec = load_spec()
    p.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="accepted; the timed pass count is fixed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR"),
        help="fixture directory (default: $SPARK_GRAFT_SF_DIR, else sf0.1 beside the driver contract's smoke fixtures)",
    )
    args = p.parse_args(argv)

    if args.workload not in OPS:
        return _fail(f"workload {args.workload} has no op list in workloads.py")
    ops = OPS[args.workload]
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "iceberg_benchmark_poc_spark")):
        return _fail(f"the program (iceberg_benchmark_poc_spark) is not under {ROOT}")
    sys.path[:0] = [ROOT]
    if args.sf_dir is None:
        from __spark_entry__ import SMOKE_SF_DIR

        args.sf_dir = os.path.join(os.path.dirname(SMOKE_SF_DIR), "sf0.1")
    if not os.path.isfile(os.path.join(args.sf_dir, "documents.parquet")):
        return _fail(f"fixture directory {args.sf_dir} is missing")

    run_dir = os.path.join(HERE, "_run", f"{os.getpid()}")
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    cpus = str(os.cpu_count() or 4)
    os.environ.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, HERE, os.environ.get("PYTHONPATH")])),
    )
    n_passes = pass_count(len(ops))
    if args.trace:
        # the untraced and traced halves share the timed budget
        n_passes = max(2, n_passes // 2)

    try:
        runner = Runner(ops, args.sf_dir, args.seed, run_dir)
        shown: dict[str, str] = {}  # metrics printed beside the JSON ones
        # (phase, seconds since process start at its end), printed as one line
        marks = [("imports", seconds_since_process_start())]
        runner.probe(PROBES_OUTSIDE)
        session_s = runner.start()
        marks.append(("session", seconds_since_process_start()))
        runner.run_pass("check", collect=True)
        marks.append(("collecting pass", seconds_since_process_start()))
        warm = []
        for i in range(WARMUP_PASSES):
            runner.gc()
            runner.probe(PROBES_PER_GAP)
            warm.append(runner.run_pass(f"warm{i}"))
        runner.gc()
        setup_s = seconds_since_process_start()
        marks.append(("warm-up", setup_s))
        if not args.trace:
            passes = runner.timed_passes(n_passes, "u")
            marks.append(("timed passes", seconds_since_process_start()))
            heap = runner.live_heap_mb(meanwhile=runner.check)
            marks.append(("answer check and live heap", seconds_since_process_start()))
            runner.stop_context()
        else:
            untraced = runner.timed_passes(n_passes, "u")
            runner.stop_context()
            log_dir = os.path.join(run_dir, "eventlog")
            runner.start(event_log=log_dir)
            runner.tracer = LoadTracer(runner.spark.sparkContext)
            runner.tracer.install()
            runner.run_pass("w1")
            traced = runner.timed_passes(n_passes, "t")
            runner.tracer.uninstall()
            import micro

            extra = {"session.start_s": session_s}
            extra.update(micro.spark_metrics(runner.spark, args.seed, runner.release))
            extra.update(micro.codec_metrics(args.seed, run_dir))
            extra["proc.peak_rss_mb"] = tree_peak_rss_mb()
            runner.stop_context()
        shutdown_jvm()
        if args.trace:
            runner.check()
            import eventlog

            metrics = per_layer(runner, traced, untraced, eventlog.parse(log_dir), extra)
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            out_dir = os.path.join(HERE, "out")
            os.makedirs(out_dir, exist_ok=True)
            out_path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json")
            with open(out_path, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed, "metrics": metrics, "ops": runner.rows}, f, indent=1)
            notes = [f"per-op rows: {os.path.relpath(out_path, ROOT)}"]
        else:
            marks.append(("teardown", seconds_since_process_start()))
            runner.probe(PROBES_OUTSIDE)  # the JVM and its workers have exited
            metrics, notes = end_to_end(setup_s, passes, heap, runner.probes)
            notes += [f"warm-up pass {i} wall {p['wall']:.4f} s cpu {p['cpu']:.2f} s" for i, p in enumerate(warm)]
            notes.append("phases: " + ", ".join(f"{k} {t - t0:.1f} s" for (k, t), (_, t0) in zip(marks, [("", 0.0), *marks])))
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            shown.update(UNGATED)
    finally:
        shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))  # kept while another run uses it
        except OSError:
            pass

    failed = runner.failed
    error_rate = failed / runner.attempted
    for op, err in sorted(runner.errors.items()):
        print(f"error {op}: {err}")
    for k, unit in {**units, **shown}.items():
        print(f"metric {k} = {metrics[k]:.6g} {unit}")
    print(f"metric error_rate = {error_rate:.6g} ratio ({failed} of {runner.attempted} op executions)")
    for n in notes:
        print(n)
    print(
        f"workload {args.workload}: {len(ops)} ops, cpus={os.environ['SPARK_GRAFT_CPUS']}, "
        f"sf_dir={args.sf_dir}, timed passes={n_passes}" + (" untraced + as many traced" if args.trace else "")
    )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": runner.attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
