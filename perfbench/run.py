"""Benchmark runner for the streaming consumer and the batch catalog.

    python3 perfbench/run.py --workload catchup --seed 1 --seconds 8 --trace 0

Run from the repository root.  ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` is the separate traced run that reports the
per-layer metrics.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Metric names and units come from ``BENCHMARK.json``.  See
``perfbench/README.md`` for the workloads and what each metric means.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager  # noqa: E402

WORKLOADS = ("catchup", "catalog")
#: share of physical memory given to the Spark JVM heap
HEAP_SHARE = 0.5


class SetupClock:
    """Set-up time from process start to the first timed operation, with
    the time of each named phase."""

    def __init__(self, t0: float):
        self.t0 = t0
        self.phases: dict[str, float] = {}
        self.setup_end: float | None = None

    @contextmanager
    def phase(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t

    def mark_setup_end(self) -> float:
        self.setup_end = time.perf_counter()
        return self.setup_end

    def set_setup_end(self, t: float) -> None:
        """Set-up ended at ``t`` on the ``perf_counter`` clock (for an
        operation whose start is known only afterwards)."""
        self.setup_end = t

    @property
    def setup_s(self) -> float:
        return self.setup_end - self.t0


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def size_session(root: str, work: str) -> None:
    """Session settings from this machine, set in the process environment
    before the JVM starts: cores from the CPU affinity mask, heap from
    physical memory, scratch and temp dirs inside the work dir, and the
    repository on the Python workers' import path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = f"{int(_mem_total_kb() * HEAP_SHARE / 1024)}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it its Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def result(bench: dict, rec: dict, mod, clock: SetupClock, spark_rss: float,
           traced: bool) -> dict:
    attempted, failed = mod.attempted_failed(rec)
    if traced:
        names = bench["per_layer"]
        values = {name: 0.0 for name in [m["name"] for m in names]}
        values.update(mod.layer_metrics(rec))
        n_ops = max(attempted, 1)
        values.update({
            "session.start_s": clock.phases.get("session", 0.0),
            "setup.generate_s": clock.phases.get("generate", 0.0),
            "setup.warmup_s": clock.phases.get("warmup", 0.0),
            "jvm.peak_rss_mb": spark_rss,
            "trace.overhead_ms": rec["tracer"].bookkeeping_s * 1000 / n_ops,
            "store.hardlinks": rec["tracer"].calls.get("os.link", 0),
        })
    else:
        names = bench["end_to_end"]
        values = mod.metrics(rec)
        values["setup_s"] = clock.setup_s
    unknown = set(values) - {m["name"] for m in names}
    missing = {m["name"] for m in names} - set(values)
    if unknown or missing:
        raise RuntimeError(f"metrics differ from BENCHMARK.json: extra {unknown}, missing {missing}")
    return {
        "correct": not rec["problems"] and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                    for m in names},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    needed = ["BENCHMARK.json", "blockchain_postgres_sync_spark", "tests/waves_fixtures.py"]
    absent = [p for p in needed if not os.path.exists(os.path.join(root, p))]
    if absent:
        print(f"run from the repository root; missing: {', '.join(absent)}", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)

    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    size_session(root, work)
    # import from the repository root, not from this script's directory
    sys.path[0] = root

    from perfbench import catalog, catchup, measure
    from blockchain_postgres_sync_spark.session import get_spark

    mod = {"catchup": catchup, "catalog": catalog}[args.workload]
    clock = SetupClock(T_START)
    spark = None
    try:
        with clock.phase("session"):
            spark = get_spark(
                app_name=f"perfbench-{args.workload}",
                extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
            )
        rec = mod.run(spark, work, args.seed, args.seconds, bool(args.trace), clock)
        t_checked = time.perf_counter()
        rss = measure.jvm_peak_rss_mb(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
    t_stopped = time.perf_counter()
    if args.trace:
        rec["tracer"].dump(os.path.join(root, ".bench_work", "traces",
                                        f"{args.workload}-seed{args.seed}.json"))
    out = result(bench, rec, mod, clock, rss, bool(args.trace))
    shutil.rmtree(work, ignore_errors=True)

    for p in rec["problems"]:
        print(f"check failed: {p}", file=sys.stderr)
    for name, values in mod.samples(rec).items():
        t = measure.tail(values)
        info = f"p{t[0]} = {t[1]:.1f} ms" if t else "no percentile has 10 samples beyond it"
        print(f"# tail {name}: {info} ({len(values)} samples)")
    print(f"# wall: set-up {clock.setup_s:.1f} s, measured and checked "
          f"{t_checked - clock.setup_end:.1f} s, stop {t_stopped - t_checked:.1f} s")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
