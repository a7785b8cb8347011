"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload pu_gradual_lr --seed 1 --seconds 4 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  Every op's output is checked; any failed check makes
``correct`` false and the exit code 1.  All scratch files (Spark local
dirs, temp dirs, tables) live under ``.perfbench_work/`` in the
repository and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metrics (``--trace 0``), name → unit
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}

SPARK_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_wall_s": "s",
    "spark.driver_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.attributed_frac": "fraction",
}

COMMON_LAYER = {
    "session.start_s": "s",
    "setup.datagen_s": "s",
    "setup.expected_s": "s",
    "setup.warmup_s": "s",
    "trace.op_p50_s": "s",
    **SPARK_LAYER,
}

WORKLOADS = ("pu_gradual_lr", "lake_mixed", "registry_mix")

#: how many times the repeatable set-up phases (data generation and
#: expected results) run; set-up time reports their median
SETUP_REPEATS = 3


def workload_class(name: str):
    if name == "pu_gradual_lr":
        from pu_gradual import PUGradual

        return PUGradual
    if name == "lake_mixed":
        from lake_mixed import LakeMixed

        return LakeMixed
    from registry_mix import RegistryMix

    return RegistryMix


def per_layer_units() -> dict:
    """Every per-layer metric, name → unit, in output order."""
    from lake_mixed import LAYER as LAKE
    from pu_gradual import LAYER as PU
    from registry_mix import LAYER as REG

    return {**COMMON_LAYER, **PU, **LAKE, **REG}


class Context:
    def __init__(self, spark, tracer, seed: int, scale: str, work: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.scale = scale
        self.work = work


def _setup_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the
    package importable by Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f"pyspark-shell"
    )
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _stop_jvm() -> None:
    """End the driver JVM and wait for it, instead of leaving it to exit
    after this process does: it quits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def run(args, work: str) -> dict:
    from spans import Tracer, median, peak_rss_mb

    cls = workload_class(args.workload)
    os.sync()  # start with no other run's writes still being flushed
    t0 = time.perf_counter()
    from pu4spark_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{args.workload}", master="local[4]",
        shuffle_partitions=4,
    )
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(spark, bool(args.trace))
        ctx = Context(spark, tracer, args.seed, args.scale, work)
        wl = cls(ctx)

        datagen, expected = [], []
        for rep in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.generate(rep)
            datagen.append(time.perf_counter() - t)
            t = time.perf_counter()
            wl.expect(rep)
            expected.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t
        tracer.take()
        wl.spark_ops.per_op.clear()

        walls, failed = [], 0
        loop_t0 = time.perf_counter()
        deadline = loop_t0 + args.seconds
        i = 0
        while time.perf_counter() < deadline or not wl.enough(i):
            try:
                wall, reason = wl.op(i)
            except Exception:  # one op failing must not stop the run
                traceback.print_exc()
                wall, reason = None, "raised"
            if wall is not None:
                walls.append(wall)
                print(f"op {i} {wl.label} {wall:.3f}s", file=sys.stderr)
            if reason is not None:
                failed += 1
                print(f"op {i} {wl.label} failed: {reason}", file=sys.stderr)
            i += 1
            if time.perf_counter() - loop_t0 > 4 * args.seconds + 60:
                break  # runaway guard: stay inside the run's time limit
        failed += wl.setup_failures
        attempted = i + wl.setup_failures

        if args.trace:
            metrics = {
                "session.start_s": session_s,
                "setup.datagen_s": median(datagen),
                "setup.expected_s": median(expected),
                "setup.warmup_s": warmup_s,
                "trace.op_p50_s": median(walls),
            }
            metrics.update(wl.spark_ops.metrics())
            metrics.update(wl.layer_metrics())
            units = per_layer_units()
            metrics = {k: metrics.get(k, 0.0) for k in units}
        else:
            units = END_TO_END
            metrics = {
                "setup_s": session_s + median(datagen) + median(expected)
                + warmup_s,
                "op_p50_s": median(walls),
                "ops_per_s": len(walls) / sum(walls) if walls else 0.0,
                "peak_rss_mb": peak_rss_mb(spark),
            }
    finally:
        spark.stop()
        _stop_jvm()
    return {
        "correct": failed == 0 and bool(walls),
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: minimal inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "pu4spark_spark", "__init__.py")):
        print(f"perfbench: no pu4spark_spark package under {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(work)
    try:
        _setup_env(work)
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is still using it
        os.sync()
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
