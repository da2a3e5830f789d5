"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Runs one workload against the repository's `vfs_spark` package on
local[<cores>] and prints, as its last stdout line, one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
The line before it is a `detail` object: inputs, per-op figures by
name with each tail's percentile and sample count, and any failures.
Exits 1 when an answer was wrong or an op failed, 2 when the
repository's package is missing."""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS, Run  # noqa: E402


def _stop(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def _clean(values: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "vfs_spark")):
        print(f"no vfs_spark package under {ROOT}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # every scratch file of Spark, the JVM and Python stays in the work dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path.insert(0, ROOT)
    cwd = os.getcwd()
    try:
        from vfs_spark.session import get_spark

        # Spark drops spark-warehouse/ and the like in its working dir
        os.chdir(work)
        result = _run(args, get_spark, work, cpus)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it
    detail, out = result
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(out))
    return 0 if out["correct"] else 1


def _run(args, get_spark, work: str, cpus: int):
    tracer = None
    extra_conf = None
    events = os.path.join(work, "events")
    if args.trace:
        import layers
        from tracing import Tracer

        tracer = Tracer()
        layers.install(tracer)
        os.makedirs(events)
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
        }
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=extra_conf)
    start_s = time.perf_counter() - t0
    try:
        run = Run(spark, args.seed, args.seconds, work, tracer)
        run.session_start_s = start_s
        t_run = time.perf_counter()
        WORKLOADS[args.workload](run)
        if tracer is not None:
            layer_extra = layers.collect(run, tracer)
        else:
            metrics = run.end_to_end()
        run.detail["run_wall_s"] = time.perf_counter() - t_run
    finally:
        _stop(spark)
        if tracer is not None:
            tracer.close()
    if tracer is not None:
        from tracing import read_event_log, spark_by_group

        metrics = layers.assemble(run, tracer, spark_by_group(read_event_log(events)),
                                  layer_extra)
    bad = [k for k, (v, _u) in metrics.items() if not math.isfinite(v)]
    detail = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
              "trace": args.trace, **run.detail, "problems": run.problems[:10]}
    if bad:
        run.problems.append(f"no measurement for {bad}")
        detail["problems"] = run.problems[:10]
    correct = run.failed == 0 and not bad
    return detail, {"correct": correct, "attempted": run.attempted,
                    "failed": run.failed, "metrics": _clean(metrics)}


if __name__ == "__main__":
    sys.exit(main())
