"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root. A run calibrates the host, starts Spark,
builds the seeded inputs (cached under .perfbench_cache/), loads them
several times, runs the workload's warm-up jobs, then runs jobs one after
another until ``--seconds`` of job time have passed and at least the
workload's ``min_jobs`` have run. Every job's output, the warm-up jobs'
too, is checked after its timer stops.
With ``--trace 1`` untraced and traced jobs alternate after the warm-up
jobs, and the per-layer counters of the traced jobs are reported.

stdout ends with a report line ({"report": ...}) and then the result line
{"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LOADS = 3  # input loads per run; setup_s counts their median
MAX_LOOP_S = 120  # no new job starts after this much loop time
# traced job wall outside every layer span and its counter read, as a
# share of that wall
TRACE_TOLERANCE = 0.05


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _calibrate() -> dict:
    import bench

    n = _cores()
    return {
        "effective_cores": bench._effective_cores(n, secs=0.15),
        "bandwidth_gbs": bench._effective_bandwidth(n, secs=0.15),
    }


def _hwm_mb(pid="self") -> float:
    """Peak resident set size of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


def _reset_hwm() -> None:
    """Restart this process's peak RSS from its current RSS, so a job's
    peak excludes the benchmark's own input generation and checks."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def _stop_jvm(spark) -> None:
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Jobs:
    """Runs and checks jobs, and keeps what they took and gave."""

    def __init__(self, wl, spark, state):
        self.wl, self.spark, self.state = wl, spark, state
        self.expected = wl.expected(state)
        self.outputs: list[dict] = []
        self.failures: list[str] = []
        self.failed = 0
        self.attempted = 0
        self.work_rows = None
        self.peak_rss_mb = None  # the driver's, during the last job

    def run(self, tracer):
        """-> (job wall, the layer records if traced). The check runs
        after the timer stops."""
        self.attempted += 1
        self.peak_rss_mb = None
        _reset_hwm()
        t0 = time.perf_counter()
        try:
            out = self.wl.job(self.spark, self.state, tracer)
            dt = time.perf_counter() - t0
            self.peak_rss_mb = _hwm_mb()
            got = self.wl.check(self.spark, self.state, out)
            self.wl.release(out)
        except Exception:
            self.failed += 1
            self.failures.append(traceback.format_exc(limit=6))
            return time.perf_counter() - t0, None
        self.outputs.append({"traced": tracer.enabled, "job_s": dt, "output": got})
        wrong = {k: [v, got.get(k)] for k, v in self.expected.items()
                 if got.get(k) != v}
        if wrong:
            self.failed += 1
            self.failures.append(f"output (expected, got): {wrong}")
        if self.work_rows is None:
            self.work_rows = self.wl.work_rows(self.state, out, got)
        return dt, [r.as_dict() for r in tracer.records]


def run(workload: str, seed: int, seconds: int, trace: bool, report: dict) -> dict:
    cache = os.path.join(ROOT, ".perfbench_cache")
    scratch = os.path.join(cache, "tmp")
    os.makedirs(scratch, exist_ok=True)
    # Spark's python workers import the engine from the checkout root;
    # temporary and shuffle files stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(scratch, "spark-local")

    from rdfrules_spark.session import get_spark

    from perfbench.trace import Tracer
    from perfbench.workloads import ALL_LAYERS, WORKLOADS, MissingInput

    wl = WORKLOADS[workload]
    master = f"local[{_cores()}]"
    report.update(workload=workload, seed=seed, seconds=seconds, trace=trace,
                  master=master, skipped=[])
    report["host_before"] = _calibrate()

    # One Spark context per process: PySpark binds the engine's
    # module-level pandas UDFs to the first context that runs them, so a
    # restarted context would run them against a dead accumulator server.
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=master)
    report["session_start_s"] = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        try:
            inputs = wl.prepare(spark, seed, cache)
        except MissingInput as e:
            report["skipped"] = list(e.args[0])
            raise
        report["input_gen_s"] = time.perf_counter() - t0

        loads, state = [], None
        for _ in range(LOADS):
            if state is not None:
                wl.unload(state)
            t0 = time.perf_counter()
            state = wl.load(spark, inputs)
            loads.append(time.perf_counter() - t0)
        report["load_samples_s"] = loads

        jobs = Jobs(wl, spark, state)
        # warm-up jobs: full jobs whose time counts as set-up
        warm = [jobs.run(Tracer(spark, enabled=False))[0] for _ in range(wl.warmups)]
        report["warmup_job_s"] = warm
        setup_s = report["session_start_s"] + statistics.median(loads) + sum(warm)

        plain, traced, layer_runs, peaks = [], [], [], []
        min_plain = 1 if trace else wl.min_jobs
        loop_t0 = time.perf_counter()
        while time.perf_counter() - loop_t0 < MAX_LOOP_S:
            if (sum(plain) + sum(traced) >= seconds and len(plain) >= min_plain
                    and (traced or not trace)):
                break
            # in a traced run traced and untraced jobs alternate, traced
            # first: jobs still speed up a little as the JVM warms, so the
            # measured overhead errs high
            with_trace = trace and len(traced) <= len(plain)
            dt, records = jobs.run(Tracer(spark, enabled=with_trace))
            (traced if with_trace else plain).append(dt)
            if with_trace and records is not None:
                layer_runs.append((dt, records))
            if not with_trace and jobs.peak_rss_mb is not None:
                peaks.append(jobs.peak_rss_mb)
        # every job gives the same output, traced or not
        if len({json.dumps(o["output"], sort_keys=True) for o in jobs.outputs}) > 1:
            jobs.failures.append("jobs disagree on their output")
        report.update(job_samples_s=plain, traced_job_samples_s=traced,
                      driver_peak_rss_mb=peaks, outputs=jobs.outputs,
                      failures=jobs.failures)
        if not trace:
            metrics = _end_to_end(plain, jobs.work_rows, setup_s, peaks)
        else:
            metrics = _per_layer(plain, traced, layer_runs, ALL_LAYERS, report)
            jvm_pid = spark.sparkContext._gateway.proc.pid
            metrics["jvm_peak_rss_mb"] = (_hwm_mb(jvm_pid), "MB")
            gap, lost = report["trace_unattributed_frac"], report["lost_stages"]
            if gap > TRACE_TOLERANCE or lost:
                jobs.failures.append(
                    f"layer spans leave {gap:.3f} of a traced job unattributed "
                    f"(tolerance {TRACE_TOLERANCE}); {lost} stages lost"
                )
    finally:
        _stop_jvm(spark)
    report["host_after"] = _calibrate()
    return {
        "correct": not jobs.failures,
        "attempted": jobs.attempted,
        # a run-level check that failed counts against one job
        "failed": max(jobs.failed, 1 if jobs.failures else 0),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _end_to_end(plain: list, work_rows: int, setup_s: float, peaks: list) -> dict:
    job_s = statistics.median(plain)
    return {
        "job_s": (job_s, "s"),
        "triples_per_s": (work_rows / job_s, "1/s"),
        "setup_s": (setup_s, "s"),
        "driver_peak_rss_mb": (max(peaks), "MB"),
    }


def _per_layer(plain, traced, layer_runs, layers, report) -> dict:
    """Median of each layer counter over the traced jobs; a layer the
    workload does not run reports 0."""
    from perfbench.trace import COUNTERS

    by_layer: dict = {}
    for _, recs in layer_runs:
        for r in recs:
            by_layer.setdefault(r["name"], []).append(r)
    metrics = {}
    for layer in layers:
        recs = by_layer.get(layer, [])
        for c in COUNTERS:
            v = statistics.median(r[c] for r in recs) if recs else 0
            metrics[f"{layer}.{c}"] = (v, _unit(c))
    # a traced job's wall is its spans plus the reads of their counters
    gaps = [
        1 - sum(r["wall_s"] + r["read_s"] for r in recs) / dt
        for dt, recs in layer_runs
    ]
    report["layers"] = layer_runs
    report["lost_stages"] = sum(
        r["lost_stages"] for _, recs in layer_runs for r in recs
    )
    report["trace_unattributed_frac"] = max(gaps)
    metrics["trace_overhead_frac"] = (
        statistics.median(traced) / statistics.median(plain) - 1, "frac"
    )
    metrics["trace_unattributed_frac"] = (max(gaps), "frac")
    return metrics


def _unit(counter: str) -> str:
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_mb"):
        return "MB"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401  (host calibration)
        import rdfrules_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: no engine next to perfbench/: {e}", file=sys.stderr)
        return 2
    report: dict = {}
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), report)
    finally:
        # the report also names inputs that were missing (skipped)
        print(json.dumps({"report": report}, default=str), flush=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
