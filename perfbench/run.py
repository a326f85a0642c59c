"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: ``stream_tail``, ``batch_iterative``, ``batch_relational``
(see perfbench/README.md).  Run from the repository root.  The last line of
stdout is one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
with ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones.  All temporary files live under ``perfbench/.work`` and a
run removes its own directory when it ends.
"""

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
WORKLOADS = ("stream_tail", "batch_iterative", "batch_relational")


def metric_units() -> tuple[dict, dict]:
    """Units of the end-to-end and of the per-layer metrics, by name, as
    BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def process_start_time() -> float:
    """Epoch seconds at which this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def pin_environment(work: str) -> None:
    """Pin everything the engine reads from the environment, before pyspark
    is imported: Python workers must import the package from this checkout,
    the engine sizes itself to this host, and every temporary file lands in
    the run's own directory.

    Spark gets one CPU less than this process may use: this Python process
    (foreachBatch callbacks), the stream's generator and the JVM's compiler
    and GC threads need a CPU of their own, or the timings measure the
    scheduler."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    with open("/proc/meminfo") as f:
        mem_mb = next(int(line.split()[1]) // 1024 for line in f if line.startswith("MemTotal"))
    tmp = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) - 1))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1024, min(4096, mem_mb // 4))}m"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    os.environ.pop("SPARK_GRAFT_NO_SCHEMA_CACHE", None)


def main(argv=None) -> int:
    t_proc = process_start_time()
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kcl_akka_stream_spark", "session.py")):
        print(f"kcl_akka_stream_spark not found under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}-{int(time.time() * 1e3)}")
    pin_environment(work)
    try:
        result = run_workload(args, work, t_proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run_workload(args, work: str, t_proc: float) -> dict:
    from perfbench.common import Tracer

    tracer = Tracer(run_id=f"{args.workload}-{args.seed}", enabled=bool(args.trace))
    sp = tracer.start("session.start")
    t0 = time.time()
    from kcl_akka_stream_spark.session import get_session

    if args.workload != "stream_tail":
        import kcl_akka_stream_spark.queries  # noqa: F401  (registry import is part of set-up)
    spark = get_session(f"perfbench-{args.workload}")
    t_session = time.time()
    tracer.end(sp)
    try:
        if args.workload == "stream_tail":
            from perfbench.stream import run_stream

            res = run_stream(spark, work, args, tracer, t_proc, t_session, ROOT)
        else:
            from perfbench.batch import run_batch

            res = run_batch(spark, work, args, tracer, t_proc, t_session)
        res["layers"] = res.get("layers", {})
        res["layers"]["session.start_s"] = t_session - t0
    finally:
        stop_spark(spark)
    return format_result(res, args.trace, tracer)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM that pyspark launched to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def format_result(res: dict, trace: int, tracer) -> dict:
    e2e = res["metrics"]
    bad = [k for k, v in e2e.items() if not math.isfinite(v) or v <= 0]
    if bad:
        raise ValueError(f"no valid measurement for {bad}: {e2e}")
    end_to_end, per_layer = metric_units()
    if trace:
        values = dict(res["layers"])
        values.update({f"trace.{k}": v for k, v in e2e.items()})
        values["trace.spans"] = len(tracer.spans)
        spans_path = os.path.join(HERE, ".work", f"spans-{tracer.run_id}.json")
        with open(spans_path, "w") as f:
            json.dump(tracer.as_dicts(), f)
        units = per_layer
    else:
        values, units = e2e, end_to_end
    unlisted = set(values) - set(units)
    if unlisted:
        raise ValueError(f"metrics missing from BENCHMARK.json: {sorted(unlisted)}")
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in units.items()}
    return {
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }


if __name__ == "__main__":
    raise SystemExit(main())
