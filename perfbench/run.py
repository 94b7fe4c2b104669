"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload cv_arrivals --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The run starts a fresh Spark session
on ``local[nproc]``, builds its inputs from ``--seed`` under its own
temporary root (removed at exit), warms up, runs the timed closed loop
(whole rounds, as many as ``--seconds`` holds at the workload's nominal
pace), checks the outputs apart from the timed phase, and prints one
JSON object as the last line of standard output:

    {"correct": true, "attempted": 8, "failed": 0,
     "metrics": {"op_cpu_ms": {"value": 3820.0, "unit": "ms"}, ...}}

The end-to-end figures are CPU time of the engine's processes
(``proc_cpu.py``); the wall-clock figures go to standard error and,
in a traced run, to the layer breakdown.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones; a traced run also writes its spans (JSON lines) and
its per-stage / per-query / per-epoch layer breakdown under
``.bench_traces/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the program under test comes from the checkout; without it the
    # run must fail before printing anything
    sys.path.insert(0, CHECKOUT)
    sys.path.insert(0, HERE)
    import bigdata_jobmatching_spark  # noqa: F401

    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    root = os.path.join(CHECKOUT, ".bench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(root)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the session's 16g default would not fit a small shared box; the
    # inputs here need a fraction of this
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    spark = None
    try:
        from bigdata_jobmatching_spark.session import get_spark
        from tracing import Tracer

        spark = get_spark("perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(root, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={root}",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        })
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark, bool(args.trace))
        w = WORKLOADS[args.workload](spark, root, args.seed, tracer, args.seconds)
        w.setup()
        setup_s = time.perf_counter() - T_START
        w.run()
        correct = w.check()
        metrics, detail = w.metrics(bool(args.trace))
        if not args.trace:
            metrics["setup_s"] = (setup_s, "s")
        else:
            # the end-to-end figures of the traced run too, so the
            # tracing overhead can be read off against untraced runs
            detail["setup_s"] = (setup_s, "s")
            # the per-query / per-epoch breakdown behind the per-layer
            # metrics, beside the spans
            trace_dir = os.path.join(CHECKOUT, ".bench_traces")
            os.makedirs(trace_dir, exist_ok=True)
            base = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}")
            tracer.write(base + ".spans.jsonl")
            with open(base + ".layers.json", "w") as f:
                json.dump({k: {"value": v, "unit": u} for k, (v, u) in detail.items()},
                          f, indent=1)
    finally:
        if spark is not None:
            # stop the JVM too, and wait for it: closing its stdin is
            # what ends PySpark's gateway process
            gateway = spark.sparkContext._gateway
            spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({
        "correct": bool(correct),
        "attempted": w.attempted,
        "failed": w.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
