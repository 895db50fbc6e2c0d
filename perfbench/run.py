"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload on `local[<cores>]`, checks every output against a
reference computation, prints a readable report and, as the last line of
standard output, one JSON object {correct, attempted, failed, metrics}.
With --trace 0 the metrics are the `end_to_end` list of BENCHMARK.json;
with --trace 1 they are the `per_layer` list, and the spans are written to
.perfbench/traces/. Exits non-zero on any failed or mismatched operation.

Everything the run writes stays under .perfbench/ in the working directory
(Spark's local dirs, the JVM's and Python's temp files included).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("absa_stream", "window_stream", "query_mix")


class Run:
    """State of one benchmark invocation: arguments, the session, the
    samplers, and the metrics and failures the workload records."""

    def __init__(self, args: argparse.Namespace, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.report: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        from probe import Tracer

        self.tracer = Tracer(self.trace)
        self.spark = None
        self.session_s = 0.0

    def start_session(self, cores: int | None = None):
        """(Re)start the engine's own session. Bench-only settings keep every
        file Spark writes inside the run's directory."""
        from bigdata_streaming_absa_vehicle_spark.session import get_spark

        if cores is not None:
            os.environ["SPARK_GRAFT_CPUS"] = str(cores)
        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf={
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        return self.spark

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def note(self, line: str) -> None:
        self.report.append(line)

    def mismatch(self, what: str, n_failed: int) -> None:
        self.failed += n_failed
        self.mismatches.append(what)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def stop_processes(run: Run) -> None:
    """Stop the session and the JVM, and wait until every process this run
    started has ended: the JVM, Spark's Python daemon and workers, and the
    load generator. Left to itself the JVM outlives this process by a few
    hundred milliseconds, since it only exits on seeing its stdin close."""
    import probe
    from pyspark import SparkContext

    me = os.getpid()
    started = probe.process_tree(me)
    try:
        if run.spark is not None:
            run.spark.stop()
    finally:
        # the Python daemon is gone once the context has stopped; workers
        # forked since the first look are caught by the second
        started |= probe.process_tree(me)
        gateway = SparkContext._gateway
        if gateway is not None:
            SparkContext._gateway = SparkContext._jvm = None
            with contextlib.suppress(Exception):
                gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
        probe.end_processes(started | probe.process_tree(me))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    spec = _spec()
    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # before anything imports tempfile or starts the JVM; the JVM's
    # perf-data file ignores TMPDIR, so it is switched off
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData")))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, ROOT)
    try:
        import bigdata_streaming_absa_vehicle_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    import batch
    import streams

    run = Run(args, work)
    # a termination request unwinds through the `finally` below, so the
    # processes the run started are stopped on that path too
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGHUP, _terminate)
    try:
        if args.workload in ("absa_stream", "window_stream"):
            streams.run(run, args.workload.split("_")[0])
        else:
            batch.run(run)
    finally:
        stop_processes(run)
        if run.trace:
            run.tracer.dump(os.path.join(
                base, "traces", f"{args.workload}-seed{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)

    section = "per_layer" if run.trace else "end_to_end"
    values = run.layers if run.trace else run.e2e
    metrics = {}
    for m in spec[section]:
        if run.trace:
            # a layer this workload does not exercise reads 0
            value = values.get(m["name"], 0.0)
        else:
            value = values[m["name"]]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    for line in run.report:
        print(line)
    if run.trace:
        for m in spec["per_layer"]:
            v = metrics[m["name"]]["value"]
            print(f"  layer {m['name']:44s} {v:14.6g} {m['unit']}")
    for what in run.mismatches:
        print(f"MISMATCH {what}")
    correct = not run.mismatches
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if correct and run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
