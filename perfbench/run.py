#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload batch-suite --seed 1 --seconds 10 --trace 0

Run it from the repository root.  It builds its inputs from --seed under
`.perfbench/` in the working directory, starts one Spark session on
local[N] (N = the CPUs this process may use) with one client thread, sets
the workload up SETUP_REPS times (the first includes the JVM start) and
reports the median set-up time, warms up, measures (batch passes for at
least --seconds seconds; a fixed stream drain, then API requests for
--seconds seconds), checks every output against an independent reference,
and prints a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`failed` counts operations that raised or returned wrong output; the report
prints it over `attempted` as failed_ratio, by operation.  --trace 0 reports
the end-to-end metrics (setup_s, latency_p50_s, throughput_per_s); --trace 1
reports the per-layer metrics instead, taken by shims around the program's
public entry points, Spark job groups and streaming progress events
(tracing.py), plus the tracing overhead measured against untraced operations
of the same run.  Layers a workload does not exercise read 0.

Workloads (workloads.py; BENCHMARK.json says why each exists):
- batch-suite: a fixed panel of registered queries in seeded orders, each
  forced by collecting its result, which is then compared with its DuckDB
  oracle.  latency = one query; throughput = queries/s (median pass).
- stream-serve: the reference topology (`run_topology`, main + DLQ
  branches) draining seeded JSON-lines files, checked against a pure-Python
  model of the validator, dedup and watermark; then one closed-loop client
  sends a seeded mix of `ServingLayer` reads over the drained table and the
  events table.  latency = one API request; throughput = the main branch's
  input rows per second of micro-batch time, after its first batch.

Python workers: the repository root is put on PYTHONPATH before the JVM
starts, as running bench.py from the root does.  Without it, queries whose
pandas UDFs are module-level functions (q_misra_gries) fail on the workers
with ModuleNotFoundError when the process runs from another directory, a
program bug this benchmark does not work around anywhere else.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SETUP_REPS = 3
SPARK_CONF = {
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}
_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def fingerprint(spark) -> dict:
    """Host and code identity recorded with every result."""
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip()
    except OSError:
        commit = ""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "real_time_iot_data_engineering_pipeline_spark")
    for base, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for n in sorted(files):
            if n.endswith(".py"):
                with open(os.path.join(base, n), "rb") as f:
                    h.update(n.encode() + f.read())
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    jvm = spark.sparkContext._jvm.java.lang.System
    # bench.py's calibration probe: a fixed pure-JVM job.
    t0 = time.perf_counter()
    spark.range(0, 200_000_000, 1, 32).selectExpr("sum(id * 3 + 1) AS s").write.format(
        "noop"
    ).mode("overwrite").save()
    calib = time.perf_counter() - t0
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gib": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "java": jvm.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": commit or None,
        "package_sha256": h.hexdigest()[:16],
        "calib_s": round(calib, 3),
    }


class Run:
    """What a workload needs: its seed and budget, directories, inputs and
    the session (rebuilt by each set-up repetition), and the tracer of a
    traced run."""

    def __init__(self, args, work: str, build):
        self.seed = args.seed
        self.seconds = args.seconds
        self.work_dir = work
        self.data_dir = os.path.join(work, "data")
        self._build = build
        self.spark = None
        self.tracer = None
        self.events_rows: list[dict] = []
        self.stream_files: list = []

    log = staticmethod(log)

    def fresh_session(self):
        if self.spark is not None:
            self.spark.stop()
        self.spark = self._build()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in (it exits when its stdin
    closes), and wait until that process has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def stop_children(timeout: float = 30.0) -> None:
    """Terminate any process this run started that is still alive (a JVM
    whose launch a termination interrupted) and wait until each has ended."""
    me = os.getpid()
    kids = []
    for entry in os.listdir("/proc"):
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            kids.append(int(entry))
    deadline = time.monotonic() + timeout
    for pid in kids:
        try:
            os.kill(pid, signal.SIGTERM)
            while os.waitpid(pid, os.WNOHANG) == (0, 0):
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                    os.waitpid(pid, 0)
                    break
                time.sleep(0.1)
        except (ProcessLookupError, ChildProcessError):
            pass


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return measure_and_report(args, work)
    finally:
        stop_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass


def measure_and_report(args, work: str) -> int:
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Spark's scratch space, the JVM's and Python's temp files stay inside
    # the working directory (and the JVM writes no perf-counter file).
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    spark_conf = dict(SPARK_CONF, **{"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"})
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path[:0] = [HERE, ROOT]

    bench = spec()
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        log(f"unknown workload {args.workload!r}; choose from {names}")
        return 2

    # The program under test; absent (a checkout without it) -> exit 1.
    from real_time_iot_data_engineering_pipeline_spark.session import build_session

    import fixtures
    import workloads
    from stats import median, result_line, tail_percentile
    from tracing import Tracer

    run = Run(args, work, lambda: build_session(app_name=f"perfbench-{args.workload}", extra_conf=spark_conf))
    try:
        tables = fixtures.make_tables(args.seed)
        fixtures.write_tables(tables, run.data_dir)
        run.events_rows = tables["events"].to_pylist()
        run.stream_files = fixtures.make_stream(
            args.seed, tables["events"], workloads.STREAM_FILES, workloads.ROWS_PER_FILE
        )
        setup, measure = workloads.WORKLOADS[args.workload]
        setups = []
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            setup(run)
            setups.append(time.perf_counter() - t0)
            log(f"setup {i}: {setups[-1]:.3f} s")
        if args.trace:
            run.tracer = Tracer(run.spark)
        log(f"measuring {args.workload} for {args.seconds:g} s")
        res = measure(run)
        log("measured; checking done, fingerprinting")
        if run.tracer is not None:
            run.tracer.unwrap_all()
        fp = fingerprint(run.spark)
    finally:
        stop_spark(run.spark)

    failed = sum(res.failures.values())
    attempted = max(res.attempted, 1)
    e2e = {
        "setup_s": median(setups),
        "latency_p50_s": median(res.latencies) if res.latencies else 0.0,
        "throughput_per_s": median(res.rates) if res.rates else 0.0,
    }
    print(f"# fingerprint {json.dumps(fp)}")
    print(f"# workload {args.workload} seed {args.seed} seconds {args.seconds:g} trace {args.trace}")
    for note in res.notes:
        print(f"# {note}")
    print(f"# setup_s samples: {[round(s, 3) for s in setups]}")
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    for k, v in e2e.items():
        print(f"# {k} = {v:.6g} {units[k]}")
    tail = tail_percentile(res.latencies)
    if tail is not None:
        print(f"# latency p{round(tail[0] * 100)} = {tail[1]:.6g} s over {len(res.latencies)} samples")
    print(f"# failed_ratio = {failed}/{attempted} = {failed / attempted:.4g}")
    for op, n in sorted(res.failures.items()):
        print(f"#   failed {op}: {n}")

    if args.trace:
        per_layer = bench["per_layer"]
        metrics = {m["name"]: (res.layers.get(m["name"], 0.0), m["unit"]) for m in per_layer}
        for k, (v, u) in metrics.items():
            print(f"# {k} = {v:.6g} {u}")
    else:
        metrics = {m["name"]: (e2e[m["name"]], m["unit"]) for m in bench["end_to_end"]}
    print(result_line(failed == 0, attempted, failed, metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
