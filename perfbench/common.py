"""Helpers shared by the benchmark's workloads: percentiles, spans, and the
reading of Spark's status stores.

Everything that needs a JVM takes the SparkSession as an argument; the pure
functions (percentiles, interval arithmetic, aggregation of stage records)
are what ``perfbench/tests`` checks.
"""

from __future__ import annotations

import math
import re
import threading
import time
from dataclasses import dataclass, field

#: A tail percentile is reported only if at least this many samples lie
#: beyond it (see ``tail_percentile``).
MIN_BEYOND = 10


# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------
def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the ceil(q*n)-th smallest sample (q in (0, 1])."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0.0 < q <= 1.0:
        raise ValueError(f"q must be in (0, 1], got {q}")
    ordered = sorted(values)
    rank = max(1, math.ceil(q * len(ordered)))
    return float(ordered[rank - 1])


def samples_beyond(n: int, q: float) -> int:
    """How many of n samples lie above the nearest-rank q-percentile."""
    return n - max(1, math.ceil(q * n))


def tail_percentile(values, q: float) -> float:
    """The q-percentile, refusing a tail the sample cannot support: at least
    ``MIN_BEYOND`` samples must lie beyond it."""
    beyond = samples_beyond(len(values), q)
    if beyond < MIN_BEYOND:
        raise ValueError(
            f"p{q * 100:g} of {len(values)} samples leaves {beyond} beyond it; "
            f"need at least {MIN_BEYOND}"
        )
    return percentile(values, q)


def median(values) -> float:
    """Middle value (mean of the two middle ones for an even count)."""
    if not values:
        raise ValueError("median of an empty sample")
    s = sorted(values)
    n = len(s)
    return float(s[n // 2]) if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


@dataclass
class Tracer:
    """In-memory spans around calls into the program's modules.  A disabled
    tracer records nothing; ``spans`` are written out once, at run end."""

    run_id: str
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)  # open spans of the main thread
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def _add(self, span: Span) -> int:
        with self._lock:
            self.spans.append(span)
            return len(self.spans) - 1

    def start(self, name: str) -> int | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        idx = self._add(Span(name, time.perf_counter(), math.nan, parent, self.run_id))
        self._stack.append(idx)
        return idx

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx].end = time.perf_counter()
        self._stack.remove(idx)

    def wrap(self, name: str, fn):
        """``fn`` recording one span per call; for calls made on other
        threads (Spark's foreachBatch callbacks), so no parent is kept."""
        if not self.enabled:
            return fn

        def traced(*args):
            t0 = time.perf_counter()
            try:
                return fn(*args)
            finally:
                self._add(Span(name, t0, time.perf_counter(), None, self.run_id))

        return traced

    def durations_ms(self, name: str, since: float = -math.inf) -> list[float]:
        return [(s.end - s.start) * 1e3 for s in self.spans if s.name == name and s.start >= since]

    def as_dicts(self) -> list[dict]:
        return [s.__dict__.copy() for s in self.spans]


# ---------------------------------------------------------------------------
# status-store aggregation (pure part)
# ---------------------------------------------------------------------------
def busy_seconds(intervals, t0: float, t1: float) -> float:
    """Length of the union of [start, end] intervals clipped to [t0, t1]."""
    clipped = sorted((max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1)
    busy = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                busy += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        busy += cur_b - cur_a
    return busy


def idle_seconds(intervals, t0: float, t1: float) -> float:
    """Wall time in [t0, t1] during which no interval (stage) was running."""
    return max(0.0, (t1 - t0) - busy_seconds(intervals, t0, t1))


STAGE_FIELDS = ("tasks", "run_ms", "cpu_ns", "shuffle_read", "shuffle_write", "spill_mem", "spill_disk")


def aggregate_stages(stages) -> dict:
    """Sum per-stage records (dicts with ``STAGE_FIELDS`` plus ``submitted``
    and ``completed`` epoch seconds) into the exec.* layer numbers."""
    tot = {k: 0 for k in STAGE_FIELDS}
    for s in stages:
        for k in STAGE_FIELDS:
            tot[k] += s[k]
    return {
        "stages": len(stages),
        "tasks": tot["tasks"],
        "task_run_s": tot["run_ms"] / 1e3,
        "task_cpu_s": tot["cpu_ns"] / 1e9,
        "shuffle_bytes": tot["shuffle_read"] + tot["shuffle_write"],
        "spill_bytes": tot["spill_mem"] + tot["spill_disk"],
    }


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_METRIC_RE = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric value, in bytes or seconds.

    The SQL status store renders a summed metric either as ``"12.3 KiB"`` or
    as ``"total (min, med, max (...))\\n12.3 KiB (...)"``; the total is the
    first figure after the header line."""
    lines = text.strip().splitlines()
    body = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = _METRIC_RE.match(body)
    if not m:
        raise ValueError(f"unparseable SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    return value


# ---------------------------------------------------------------------------
# status-store readers (JVM side)
# ---------------------------------------------------------------------------
class SparkCounters:
    """Deltas of Spark's own counters between two points of a run, read from
    the status stores after the timer around the measured call has stopped."""

    PY_TIME = "time to run Python workers"
    PY_INIT = "time to initialize Python workers"
    PY_BYTES = ("data sent to Python workers", "data returned from Python workers")

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.dag = self._jsc.dagScheduler()
        self.store = self._jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._seen_stage = -1
        self._seen_exec = -1

    def next_job_id(self) -> int:
        return int(self.dag.nextJobId())

    def settle(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def new_stages(self) -> list[dict]:
        """Completed stages not returned by an earlier call."""
        self.settle()
        jvm = self.sc._jvm
        statuses = jvm.java.util.ArrayList()
        statuses.add(jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE)
        seq = self.store.stageList(
            statuses, False, False, self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()
        )
        out = []
        top = self._seen_stage
        for i in range(seq.size()):
            st = seq.apply(i)
            sid = int(st.stageId())
            if sid <= self._seen_stage:
                continue
            top = max(top, sid)
            sub, comp = st.submissionTime(), st.completionTime()
            out.append(
                {
                    "tasks": int(st.numCompleteTasks()),
                    "run_ms": int(st.executorRunTime()),
                    "cpu_ns": int(st.executorCpuTime()),
                    "shuffle_read": int(st.shuffleReadBytes()),
                    "shuffle_write": int(st.shuffleWriteBytes()),
                    "spill_mem": int(st.memoryBytesSpilled()),
                    "spill_disk": int(st.diskBytesSpilled()),
                    "submitted": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                    "completed": comp.get().getTime() / 1e3 if comp.isDefined() else None,
                }
            )
        self._seen_stage = top
        return out

    def new_python_metrics(self) -> tuple[float, float]:
        """(seconds running Python workers, seconds initializing them, bytes
        to and from them) summed over SQL executions not returned by an
        earlier call."""
        self.settle()
        execs = self.sql_store.executionsList()
        py_s = py_init = py_b = 0.0
        top = self._seen_exec
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = int(ex.executionId())
            if eid <= self._seen_exec:
                continue
            top = max(top, eid)
            names = {}
            metrics = ex.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                if m.name() in (self.PY_TIME, self.PY_INIT) or m.name() in self.PY_BYTES:
                    names[m.accumulatorId()] = m.name()
            if not names:
                continue
            values = self.sql_store.executionMetrics(ex.executionId())
            for acc, name in names.items():
                opt = values.get(acc)
                if not opt.isDefined():
                    continue
                v = parse_sql_metric(str(opt.get()))
                if name == self.PY_TIME:
                    py_s += v
                elif name == self.PY_INIT:
                    py_init += v
                else:
                    py_b += v
        self._seen_exec = top
        return py_s, py_init, py_b

    def live_heap_mb(self) -> float:
        """JVM heap in use after a forced GC."""
        rt = self.sc._jvm.java.lang.Runtime.getRuntime()
        self.sc._jvm.System.gc()
        return (rt.totalMemory() - rt.freeMemory()) / (1 << 20)


def stage_intervals(stages) -> list[tuple[float, float]]:
    return [(s["submitted"], s["completed"]) for s in stages if s["submitted"] and s["completed"]]
