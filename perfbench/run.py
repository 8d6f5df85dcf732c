#!/usr/bin/env python3
"""Benchmark of the eynollah_spark extraction engine and its queries.

    python3 perfbench/run.py --workload extract_bucketed --seed 42 \
        --seconds 15 --trace 0

Run from the root of a checkout. One process runs one workload on a Spark
``local[nproc]`` session: set-up (session, package shipping, seeded
inputs, one untimed pass), timed passes for up to ``--seconds``, then an
output check. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark UI, tags every layer call with a job group and reports the
per-layer metrics instead (see README.md). Everything the run writes
goes under ``.perfbench_work/`` in the checkout and is removed at exit,
except the span dump of a traced run.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "cpu_ms_per_op": "ms"}


def _per_layer_names() -> dict[str, str]:
    from tracing import KERNEL_PHASES
    from workloads import HEADLINE_QUERIES

    names = {"session.start_s": "s", "packaging.ship_s": "s",
             "corpus.generate_s": "s", "session.peak_rss_mb": "MB",
             "host.steal_frac": "ratio", "kernels.ms_per_doc": "ms"}
    for _, phase in KERNEL_PHASES:
        names[f"kernels.{phase}.self_s"] = "s"
        names[f"kernels.{phase}.calls"] = "count"
    names.update({
        "pipeline.scan_s": "s", "pipeline.wrapper_self_s": "s",
        "pipeline.write_s": "s", "pipeline.executor_run_s": "s",
        "pipeline.executor_cpu_s": "s", "pipeline.jvm_gc_s": "s",
        "pipeline.task_skew": "ratio", "pipeline.slot_util": "ratio",
        "pipeline.shuffle_write_mb": "MB", "pipeline.shuffle_read_mb": "MB",
        "pipeline.explained_frac": "ratio",
        "manifest.run_extraction_s": "s", "manifest.spark_jobs_s": "s",
        "manifest.driver_self_s": "s", "manifest.commits": "count",
        "manifest.stats_jobs_s": "s", "manifest.read_as_of_s": "s",
        "manifest.resume_s": "s",
    })
    for q in HEADLINE_QUERIES:
        names.update({f"queries.{q}.warm_s": "s", f"queries.{q}.cold_s": "s",
                      f"queries.{q}.executor_cpu_s": "s",
                      f"queries.{q}.shuffle_mb": "MB"})
    names["trace.overhead_frac"] = "ratio"
    return names


def _pin_environment(work: str) -> None:
    """Keep every file Spark and Python write inside the work directory,
    and size the driver for a box shared with other processes."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    os.environ.pop("SPARK_GRAFT_CPUS", None)


def _stop(spark) -> None:
    """Stop the session and wait for its JVM (and with it the Python
    workers) to exit. The dead gateway is unset, so a later session in
    the same process starts a JVM of its own."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    if not (os.path.isfile(os.path.join(ROOT, "eynollah_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no eynollah_spark source tree at {ROOT}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import workloads
    from tracing import PeakRss, Tracer, cpu_ticks

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    _pin_environment(work)
    cpus = len(os.sched_getaffinity(0))  # what `nproc` reports
    host = {"nproc": cpus, "loadavg_start": os.getloadavg()}
    steal0, total0 = cpu_ticks()
    tracer = Tracer(active=bool(args.trace))
    wl = workloads.WORKLOADS[args.workload]()

    from eynollah_spark.packaging import ensure_distributed
    from eynollah_spark.session import build_session

    rss = PeakRss()
    spark = None
    try:
        with rss if args.trace else contextlib.nullcontext():
            with tracer.span("session.start") as s_start:
                spark = build_session(app=f"perfbench-{args.workload}", cpus=cpus,
                                      ui=bool(args.trace))
            run = workloads.Run(spark, cpus, args.seed, args.seconds, work, tracer)
            with tracer.span("packaging.ship", spark) as s_ship:
                ensure_distributed(spark)
            with tracer.span("corpus.generate", spark) as s_gen:
                wl.generate(run)
            with tracer.span("warm_up", spark):
                wl.warm_up(run)
            setup_s = time.perf_counter() - t_start
            wl.measure(run)
        wl.check(run)
        layers = {}
        if args.trace:
            sm = workloads.StageMetrics(spark).load()
            wl.trace_layers(run, sm)
            layers = run.layers
            layers.update({
                "session.start_s": s_start.duration,
                "packaging.ship_s": s_ship.duration,
                "corpus.generate_s": s_gen.duration,
                "session.peak_rss_mb": rss.peak_mb,
                "trace.overhead_frac": run.trace_overhead(),
            })
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = cpu_ticks()
    host.update({"loadavg_end": os.getloadavg(),
                 "steal_frac": (steal1 - steal0) / max(total1 - total0, 1)})

    if args.trace:
        layers["host.steal_frac"] = host["steal_frac"]
        names = _per_layer_names()
        # a layer the workload never calls did no work on it
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in names.items()}
        os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
        tracer.dump(os.path.join(work_root, "traces",
                                 f"{args.workload}-{args.seed}.json"))
    else:
        values = {"setup_s": setup_s,
                  "ops_per_s": run.ops_per_pass / run.pass_s(),
                  "cpu_ms_per_op": 1e3 * run.pass_cpu_s() / run.ops_per_pass}
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}

    print(json.dumps({"host": host, "passes": run.passes,
                      "pass_s": run.pass_s(),
                      "failed_frac": run.failed / max(run.attempted, 1),
                      "failures": run.failures}))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
