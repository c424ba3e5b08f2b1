"""Benchmark entry point.

    python3 perfbench/run.py --workload etl|queries
                             --seed N --seconds S --trace 0|1

Run from the repository root. The workload's inputs are generated from
the seed under `.perfbench_work/`, the engine is driven through its public
entry points for S seconds (a closed loop with one client on local[nproc]),
the outputs are checked, and the last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics; `--trace 1` the per-layer metrics of perfbench/layers.json
and writes the spans (with self time) to `.perfbench_work/traces/`. The line
before it holds the metrics that apply to this workload only, with their
units, the failed-call ratio, each unit's duration and the problems found.
The exit code is non-zero when any output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spark_conf(work: str) -> dict[str, str]:
    """Session settings of the benchmark: everything Spark writes stays in
    the work dir, and the status store keeps every job and execution of a
    run so the traced run can attribute them."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    sys.path[:0] = [ROOT]
    from perfbench.trace import process_age_s
    from perfbench.workloads import WORKLOADS

    age0, t0 = process_age_s(), time.perf_counter()
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    try:
        from etl_poc_spark import registry
        from etl_poc_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # a small driver heap keeps resident memory steady and the host shared
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    cores = len(os.sched_getaffinity(0))
    from perfbench import metrics as M
    from perfbench.trace import SparkLedger, Tracer, tree_peak_rss_bytes
    from perfbench.workloads import Client

    tracer = Tracer(spark=None, enabled=False)
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench", cpus=cores, extra_conf=_spark_conf(work))
    with tracer.span("registry.load_all"):
        registry.load_all()
    setup_s = age0 + (time.perf_counter() - t0)
    spark.sparkContext.setLogLevel("ERROR")
    tracer.spark, tracer.enabled = spark, bool(args.trace)

    try:
        run_marks = [tracer.marks()]
        client = Client(spark=spark, tracer=tracer, work=work, seed=args.seed, cores=cores,
                        deadline=time.perf_counter() + args.seconds)
        res = WORKLOADS[args.workload](client)
        peak_rss = tree_peak_rss_bytes(spark.sparkContext._gateway.proc.pid)
        run_marks.append(tracer.marks())
        if not res.units:
            raise RuntimeError(f"no unit of {args.workload} completed: {res.problems[:3]}")
        e2e = M.end_to_end(res, setup_s, peak_rss)
        ledger = SparkLedger(spark) if args.trace or args.workload == "etl" else None
        own = M.workload_specific(res, ledger, run_marks)
        own["failed_ratio"] = (res.failed / res.attempted, "ratio")
        print(json.dumps({
            "workload": args.workload, "seed": args.seed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in own.items()},
            "units": [[k, round(sp.dur, 3)] for k, sp in res.units],
            "batch_latency_samples": len(M.batch_latencies(res)),
            "problems": res.problems[:20],
        }))
        if args.trace:
            with open(os.path.join(HERE, "layers.json"), encoding="utf-8") as f:
                spec = json.load(f)["per_layer"]
            layer = M.per_layer(args.workload, res, tracer, ledger, run_marks, cores, client)
            out = {s["name"]: {"value": float(layer[s["name"]]), "unit": s["unit"]} for s in spec}
            traces = os.path.join(ROOT, ".perfbench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{args.workload}-s{args.seed}.json"), "w") as f:
                json.dump(tracer.dump(), f)
        else:
            out = {k: {"value": float(v), "unit": u} for k, (v, u) in e2e.items()}
    finally:
        _stop(spark)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": out}))
    return 0 if res.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
