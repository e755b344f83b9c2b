"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_routed --seed 1 --seconds 10 --trace 0

Builds the workload's inputs from the seed inside ``perfbench/.work``,
drives the engine (``mongo_olap_spark``, from the checkout this file
sits in) through its public API, checks its outputs, and prints one
JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics named in
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics.
The line before it carries run context (Spark config, CPU weather,
check counts). Spans and the full record go to ``perfbench/.work/results``.
Workloads, metrics and the layer-to-metric map are described in
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def _environment(work: str) -> None:
    """Size Spark from this machine and keep every file it writes
    inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell"])


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its parent's pipe closes
        proc.wait(timeout=60)


def _metric_table(trace: bool) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    missing = [m for m in ("mongo_olap_spark", "__spark_entry__")
               if importlib.util.find_spec(m) is None]
    if missing:
        print(f"perfbench: the engine is not in {ROOT} (missing {missing})",
              file=sys.stderr)
        return 2

    trace = bool(args.trace)
    units = _metric_table(trace)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(WORK, tag)
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    _environment(work)

    from workloads import Run

    run = Run(args.workload, args.seed, args.seconds, trace, work)
    try:
        timed = WORKLOADS[args.workload](run)
        if run.tracer is not None:
            run.tracer.write(os.path.join(results, f"{tag}.spans.jsonl"))
    finally:
        _stop(run.spark)
        shutil.rmtree(work, ignore_errors=True)

    base = timed[False]
    if trace:
        from tracer import setup_metrics

        t = timed[True]
        values = dict(run.per_layer)
        values.update(setup_metrics(run.tracer, *run.setup_window))
        values["host.steal_pct"] = t["weather"]["steal_pct"]
        values["host.busy_pct"] = t["weather"]["busy_pct"]
        values["trace.overhead_pct"] = timed["trace_overhead_pct"]
    else:
        values = dict(base, setup_s=run.setup_s)
    correct = run.checked > 0 and run.failed == 0
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, **run.info,
        "session_s": run.session_s, "setup_reps_s": run.setup_reps,
        "warmup_s": run.warmup_s,
        "timed": {{False: "untraced", True: "traced"}.get(k, k): v
                  for k, v in timed.items()},
        "answers_checked": run.checked,
        "error_ratio": run.failed / max(run.attempted, 1),
        "mismatches": run.mismatches[:20],
    }
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump({"info": info, "values": values, "samples": run.samples}, f,
                  default=str)
    print(json.dumps({"info": info}, default=str))
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": run.failed,
        "metrics": {name: {"value": float(values.get(name, 0.0)), "unit": unit}
                    for name, unit in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
