"""Batch workloads: a fixed set of registry queries over the generated tables.

``batch_iterative``: queries whose wall time is mostly DataFrame construction
(eager jobs and driver loops in operators.graph/dedup/similarity/clustering).
``batch_relational``: executor-bound relational queries with no construction
jobs, the control for changes to the iterative operators.

One timed call is ``QUERIES[name](spark, data)`` (construction) followed by a
noop write of the result (execution).  The first pass over the set, in the
run's fresh JVM and in the set's listed order, is the cold pass; passes
then repeat in an order drawn from the seed for as long as another pass of
the last pass's length still fits in ``--seconds``: the first
``WARMUP_PASSES`` untimed, the rest (at least ``MIN_PASSES``) steady.  Each
query's result is compared once with its DuckDB oracle, outside every timer.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import sys
import time

from perfbench.common import SparkCounters, aggregate_stages, idle_seconds, median, stage_intervals
from perfbench.datagen import ensure_dataset

QUERY_SETS = {
    "batch_iterative": [
        "dedup_semantic_auto",
        "graph_pagerank_topk",
    ],
    "batch_relational": [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q9_product_type_profit",
        "q18_large_volume_customers",
        "q21_suppliers_kept_waiting",
        "j_broadcast_star",
        "j_asof",
        "j_salted_skew",
        "agg_group_by_key",
        "w_topk_per_group",
    ],
}

#: Passes after the cold one that are run but not timed: each query keeps
#: getting faster over its first several executions in a JVM, so a fixed
#: count (not a time) of them puts every run's steady passes at the same
#: point of that curve, on a slow host as on a fast one.
WARMUP_PASSES = 2

#: Steady passes run at least this often, so each query's median has
#: more than one sample.
MIN_PASSES = 3

#: The tables each set reads, registered during set-up.
TABLES = {
    "batch_iterative": ["embeddings", "orders", "lineitem"],
    "batch_relational": ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"],
}


# ---------------------------------------------------------------------------
# oracle comparison (normalized like tools/check_correctness.py)
# ---------------------------------------------------------------------------
def norm_cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    if v is None:
        return "NULL"
    return str(v)


def norm_result(cols, rows) -> dict:
    """Column names (lower-cased, sorted) and the order-insensitive rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return {
        "cols": [cols[i].lower() for i in order],
        "rows": sorted([norm_cell(r[i]) for i in order] for r in rows),
    }


def oracle_results(data_dir: str, names) -> dict:
    """Normalized DuckDB oracle result per query, cached next to the data
    under the hash of the oracle's SQL."""
    import duckdb

    from kcl_akka_stream_spark.queries import ORACLES
    from kcl_akka_stream_spark.sources.batch import TABLE_NAMES

    cache_dir = os.path.join(data_dir, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for name in names:
        sql = ORACLES[name]
        path = os.path.join(cache_dir, f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.json")
        if os.path.exists(path):
            with open(path) as f:
                out[name] = json.load(f)
            continue
        if con is None:
            con = duckdb.connect()
            for t in TABLE_NAMES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        res = con.execute(sql)
        out[name] = norm_result([d[0] for d in res.description], res.fetchall())
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(out[name], f)
        os.replace(tmp, path)
    if con is not None:
        con.close()
    return out


# ---------------------------------------------------------------------------
# the timed call
# ---------------------------------------------------------------------------
class QueryRunner:
    def __init__(self, spark, data_dir: str, tracer):
        from kcl_akka_stream_spark.queries import QUERIES

        self.spark = spark
        self.data_dir = data_dir
        self.tracer = tracer
        self.queries = QUERIES
        self.counters = SparkCounters(spark) if tracer.enabled else None
        self.trace_s = 0.0  # time the traced run spends reading counters

    def run(self, name: str):
        """One timed execution: (DataFrame, construct seconds, execution
        seconds, layer numbers or None)."""
        c = self.counters
        if c is not None:
            t_tr = time.perf_counter()
            c.new_stages()
            c.new_python_metrics()
            j0 = c.next_job_id()
            self.trace_s += time.perf_counter() - t_tr
        w0 = time.time()
        sp = self.tracer.start(f"queries.construct:{name}")
        t0 = time.perf_counter()
        df = self.queries[name](self.spark, self.data_dir)
        t1 = time.perf_counter()
        self.tracer.end(sp)
        layers = None
        if c is not None:
            t_tr = time.perf_counter()
            j1 = c.next_job_id()
            cstages = c.new_stages()
            tp = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            plan_s = time.perf_counter() - tp
            self.trace_s += time.perf_counter() - t_tr
        sp = self.tracer.start(f"exec.run:{name}")
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        self.tracer.end(sp)
        w1 = time.time()
        if c is not None:
            t_tr = time.perf_counter()
            j2 = c.next_job_id()
            estages = c.new_stages()
            py_s, py_init, py_b = c.new_python_metrics()
            agg = aggregate_stages(estages)
            layers = {
                "queries.construct_s": t1 - t0,
                "queries.construct_jobs": j1 - j0,
                "exec.run_s": t3 - t2,
                "exec.jobs": j2 - j1,
                "exec.plan_s": plan_s,
                "exec.idle_s": idle_seconds(stage_intervals(cstages + estages), w0, w1),
                "exec.python_s": py_s,
                "exec.python_init_s": py_init,
                "exec.python_bytes": py_b,
                **{f"exec.{k}": v for k, v in agg.items()},
            }
            self.trace_s += time.perf_counter() - t_tr
        return df, t1 - t0, t3 - t2, layers


def run_batch(spark, work: str, args, tracer, t_proc: float, t_session: float) -> dict:
    names = list(QUERY_SETS[args.workload])
    order = list(names)
    random.Random(args.seed).shuffle(order)

    # harness work, outside set-up: the input tables and the oracle results
    data_dir = ensure_dataset(os.path.join(os.path.dirname(work), "cache"))
    expected = oracle_results(data_dir, names)

    from kcl_akka_stream_spark.sources.batch import load_table

    t_reg = time.time()
    sp = tracer.start("sources.batch.load_table")
    for table in TABLES[args.workload]:
        load_table(spark, data_dir, table)
    tracer.end(sp)
    t_ready = time.time()
    setup_s = (t_session - t_proc) + (t_ready - t_reg)

    runner = QueryRunner(spark, data_dir, tracer)
    failed: dict[str, str] = {}  # a wrong result still counts in the timings
    cold: dict[str, float] = {}
    for name in names:
        try:
            df, c_s, e_s, _ = runner.run(name)
        except Exception as exc:  # noqa: BLE001 -- a failing query is counted, not fatal
            failed[name] = f"raised {type(exc).__name__}: {exc}"
            continue
        cold[name] = c_s + e_s
        got = norm_result(df.columns, [tuple(r) for r in df.collect()])
        if got != expected[name]:
            failed[name] = "result differs from the oracle"

    steady: dict[str, list[float]] = {n: [] for n in order if n in cold}
    layers: dict[str, list[dict]] = {n: [] for n in steady}
    t_steady = time.perf_counter()
    passes, last = 0, 0.0
    while steady and (passes < WARMUP_PASSES + MIN_PASSES
                      or time.perf_counter() - t_steady + last <= args.seconds):
        t_pass = time.perf_counter()
        for name in list(steady):
            try:
                _, c_s, e_s, lay = runner.run(name)
            except Exception as exc:  # noqa: BLE001
                failed[name] = f"raised {type(exc).__name__}: {exc}"
                del steady[name], layers[name]
                continue
            if passes < WARMUP_PASSES:
                continue
            steady[name].append(c_s + e_s)
            if lay is not None:
                layers[name].append(lay)
        passes += 1
        last = time.perf_counter() - t_pass

    per_query = {n: median(v) for n, v in steady.items()}
    med = list(per_query.values()) or [float("nan")]
    metrics = {
        "setup_s": setup_s,
        "cold_s": sum(cold.values()),
        "steady_s": sum(med),
        "latency_p50_ms": median(med) * 1e3,
        "latency_tail_ms": max(med) * 1e3,
    }
    out_layers = {}
    if tracer.enabled:
        # each layer number is a steady pass: per-query medians, summed
        keys = next((lay.keys() for v in layers.values() for lay in v), [])
        for k in keys:
            out_layers[k] = sum(median([lay[k] for lay in v]) for v in layers.values() if v)
        out_layers["session.live_heap_mb"] = runner.counters.live_heap_mb()
        out_layers["trace.overhead_s"] = runner.trace_s
    timeline = {"session": t_session - t_proc, "harness": t_reg - t_session, "register": t_ready - t_reg,
                "cold": sum(cold.values()), "total": time.time() - t_proc}
    print(json.dumps({"timeline": timeline, "order": order, "passes": passes - WARMUP_PASSES, "failed": failed,
                      "cold_s": cold, "steady_s": steady}), file=sys.stderr)
    return {"attempted": len(names), "failed": len(failed), "metrics": metrics, "layers": out_layers}
