"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Runs one workload against the package at the root of this checkout and
prints, as the last line of standard output, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics. See README.md.

Everything the run writes goes under ``.perfbench_runs/`` in the
checkout. The Spark session is stopped and its JVM waited for before
the result is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import math
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100)."""
    xs = sorted(xs)
    return float(xs[max(0, math.ceil(q / 100.0 * len(xs)) - 1)]) if xs else 0.0


def cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) CPU ticks of the host so far, from ``/proc/stat``;
    None where there is no such file."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return ticks[7], sum(ticks)


class Run:
    """What a workload needs from the harness: its arguments, a private
    directory, the Spark session, the tracer and the operation counts."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tiny = args.tiny
        self.inject_wrong = args.inject_wrong
        self.dir = os.path.join(
            ROOT, ".perfbench_runs",
            f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}",
        )
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        self.spark = None
        self.tracer = None
        self.state = None  # the workload's own object, for layers()

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def start_spark(self):
        """Start the session through the package's own factory, with
        every scratch location inside the run directory and, in a traced
        run, an uncompressed event log."""
        from cloud_based_bi_etl_automation_for_real_estate_company_spark.session import (
            get_spark,
        )

        local = self.path("spark-local")
        os.makedirs(local, exist_ok=True)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        }
        if self.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.path("eventlog"),
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def op(self, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1

    def check(self, name: str, ok: bool) -> None:
        self.checks[name] = bool(ok)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("dashboard", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # test-only: tiny inputs, and one deliberately corrupted result
    p.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--inject-wrong", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(SPEC) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    if args.workload == "dashboard":
        import dashboard as workload
    else:
        import ingest as workload

    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    run = Run(args)
    if os.path.exists(run.dir):
        shutil.rmtree(run.dir)
    os.makedirs(run.dir)
    tmp = run.path("tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = run.path("spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = run.path("warehouse")
    # no JVM perf-data file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp

    from spans import Tracer

    ticks0 = cpu_ticks()
    try:
        run.tracer = Tracer(f"{args.workload}-s{args.seed}", run.trace)
        metrics = workload.run(run)
        run.stop_spark()
        if run.trace:
            metrics = workload.layers(run, metrics)
            # a layer this workload does not exercise did no work
            for m in spec["per_layer"]:
                if not m["name"].startswith(workload.LAYER_PREFIXES + ("trace.",)):
                    metrics.setdefault(m["name"], 0.0)
            run.tracer.dump(
                os.path.join(
                    ROOT, ".perfbench_runs", "traces",
                    f"{args.workload}-s{args.seed}.json",
                )
            )
    finally:
        run.stop_spark()
        shutil.rmtree(run.dir, ignore_errors=True)

    wanted = spec["per_layer"] if run.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        raise RuntimeError(f"workload did not measure {missing}")
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # time the hypervisor gave the host's CPUs to other machines: a
        # run with a large share here measured a slowed-down host
        steal = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
        print(f"# host cpu steal during the run: {100 * steal:.1f}%", file=sys.stderr)
    for name, ok in run.checks.items():
        print(f"# check {name}: {'ok' if ok else 'FAILED'}", file=sys.stderr)
    result = {
        "correct": all(run.checks.values()) and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
            for m in wanted
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
