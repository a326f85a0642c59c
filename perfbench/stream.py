"""``stream_tail``: a consumer resumes from a stopped consumer's checkpoint
with a backlog waiting, catches up, then follows an open-loop tail.

Query 1, the data path: ``envelope_file_stream`` -> ``dedup_within_watermark``
-> ``committing_foreach_batch`` around a sink that writes each epoch's rows
to ``sink/epoch=N``.  Query 2, the checkpoint path:
``streaming_checkpoint_frontier`` over the generator's tracker rows, whose
per-shard frontiers are recorded with the time they became visible.

Timeline (tick = 100 ms, 200 new records per tick):
prefix ticks  -> consumed by a first consumer (``availableNow``), stopped;
backlog ticks -> written in one burst while no consumer runs;
go ticks      -> paced from the resumed consumer's start for ``seconds``.
The first ``CATCHUP_WINDOW_S`` of go ticks overlap the catch-up; the rest
form the paced phase whose latencies are reported.  The resumed consumer
triggers every ``TRIGGER_INTERVAL`` (back to back while it is behind).
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import threading
import time
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.common import SparkCounters, aggregate_stages, idle_seconds, median, stage_intervals, tail_percentile
from perfbench.generator import StreamShape, make_schedule, write_atomic

PREFIX_TICKS = 5
BACKLOG_TICKS = 100  # 20k records
CATCHUP_WINDOW_S = 12.0
TAIL_Q = 0.90
MAX_FILES_PER_TRIGGER = 100

#: The resumed consumer's trigger interval, the same for both queries.  Spark
#: starts processing-time triggers on a grid of this interval, so the two
#: queries' triggers always start together and share the executor the same
#: way in every run.  With triggers run back to back instead, the median
#: paced trigger of five runs on 4 CPUs ranged from 0.88 to 1.21 s while
#: their set-up times differed by at most 13 %.  The interval is above a paced
#: trigger's duration, so a record waits at most one interval for its
#: trigger to start.
TRIGGER_INTERVAL = "2 seconds"


class StreamRun:
    def __init__(self, spark, work: str, seed: int, seconds: int, tracer, root: str):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.root = root
        self.shape = StreamShape()
        self.paced_from = int(round(CATCHUP_WINDOW_S / self.shape.tick_s))
        self.go_ticks = self.paced_from + int(round(seconds / self.shape.tick_s))
        self.n_ticks = PREFIX_TICKS + BACKLOG_TICKS + self.go_ticks
        self.gen_dir = os.path.join(work, "input")
        self.sink_dir = os.path.join(work, "sink")
        self.commit_dir = os.path.join(work, "commits")
        self.ckpt = os.path.join(work, "checkpoints")
        self.frontiers: list[tuple[float, int, int]] = []  # (visible at, shard, frontier)
        self._frontier_lock = threading.Lock()
        self.gen = None

    # -- generator process ------------------------------------------------
    def start_generator(self) -> None:
        self.gen = subprocess.Popen(
            [sys.executable, os.path.join(self.root, "perfbench", "generator.py"),
             "--out", self.gen_dir, "--seed", str(self.seed), "--ticks", str(self.n_ticks)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self._gen_reply()

    def _gen(self, cmd: str) -> dict:
        self.gen.stdin.write(cmd + "\n")
        self.gen.stdin.flush()
        return self._gen_reply()

    def _gen_reply(self) -> dict:
        line = self.gen.stdout.readline()
        if not line:
            raise RuntimeError(f"generator exited with code {self.gen.wait()}")
        return json.loads(line)

    def stop_generator(self) -> None:
        if self.gen is None:
            return
        if self.gen.poll() is None:
            try:
                self.gen.stdin.write("quit\n")
                self.gen.stdin.close()
            except BrokenPipeError:
                pass
            try:
                self.gen.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.gen.kill()
                self.gen.wait()
        self.gen.stdout.close()
        self.gen = None

    # -- queries ------------------------------------------------------------
    def _process(self, batch_df, epoch_id: int) -> None:
        # one file per epoch, rewritten whole if the epoch re-runs
        rows = batch_df.select("partitionKey", "sequenceNumber").collect()
        table = pa.table({"partitionKey": [r[0] for r in rows], "sequenceNumber": [r[1] for r in rows]})
        write_atomic(table, self.sink_dir, f"epoch={epoch_id:08d}.parquet")

    def _record_frontiers(self, batch_df, epoch_id: int) -> None:
        rows = batch_df.select("shard_id", "frontier_seq").collect()
        now = time.time()
        with self._frontier_lock:
            for r in rows:
                if r.frontier_seq is not None:
                    self.frontiers.append((now, int(r.shard_id), int(r.frontier_seq)))

    def start_queries(self, *, available_now: bool):
        from kcl_akka_stream_spark.config import ShardCheckpointConfig
        from kcl_akka_stream_spark.streaming.commit import CommitTracker, committing_foreach_batch
        from kcl_akka_stream_spark.streaming.pipeline import dedup_within_watermark, envelope_file_stream
        from kcl_akka_stream_spark.streaming.tracker import streaming_checkpoint_frontier

        tr = self.tracer
        sp = tr.start("streaming.pipeline.envelope_file_stream")
        records = envelope_file_stream(
            self.spark, os.path.join(self.gen_dir, "data"), max_files_per_trigger=MAX_FILES_PER_TRIGGER
        )
        tr.end(sp)
        sp = tr.start("streaming.pipeline.dedup_within_watermark")
        deduped = dedup_within_watermark(records)
        tr.end(sp)
        sp = tr.start("streaming.commit.committing_foreach_batch")
        # every non-empty epoch commits, so the commit log times each epoch
        tracker = CommitTracker(ShardCheckpointConfig(checkpoint_after_processing_nr_of_records=1))
        process = tr.wrap("stream.sink_write", self._process)
        callback = tr.wrap("streaming.commit.callback", committing_foreach_batch(process, tracker, self.commit_dir))
        tr.end(sp)
        sp = tr.start("streaming.tracker.streaming_checkpoint_frontier")
        acks = (self.spark.readStream.schema("shard_id long, seq long, processed boolean")
                .option("maxFilesPerTrigger", str(MAX_FILES_PER_TRIGGER))
                .parquet(os.path.join(self.gen_dir, "tracker")))
        frontier = streaming_checkpoint_frontier(acks)
        tr.end(sp)

        sp = tr.start("streaming.start")
        w1 = (deduped.writeStream.queryName("data_path").foreachBatch(callback)
              .option("checkpointLocation", os.path.join(self.ckpt, "data_path")))
        w2 = (frontier.writeStream.queryName("checkpoint_path").outputMode("update")
              .foreachBatch(self._record_frontiers)
              .option("checkpointLocation", os.path.join(self.ckpt, "checkpoint_path")))
        if available_now:
            w1, w2 = w1.trigger(availableNow=True), w2.trigger(availableNow=True)
        else:
            w1, w2 = w1.trigger(processingTime=TRIGGER_INTERVAL), w2.trigger(processingTime=TRIGGER_INTERVAL)
        q1, q2 = w1.start(), w2.start()
        tr.end(sp)
        return q1, q2

    # -- the run --------------------------------------------------------------
    def prepare(self) -> None:
        """Harness work before the timed part: the generator, the first
        consumer over the prefix, and the backlog burst."""
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        os.makedirs(self.sink_dir, exist_ok=True)
        self.start_generator()
        self._gen(f"burst 0 {PREFIX_TICKS}")
        q1, q2 = self.start_queries(available_now=True)
        q1.awaitTermination()
        q2.awaitTermination()
        for q in (q1, q2):
            if q.exception() is not None:
                raise RuntimeError(f"first consumer failed: {q.exception()}")
        self._gen(f"burst {PREFIX_TICKS} {PREFIX_TICKS + BACKLOG_TICKS}")

    def start(self) -> None:
        self.trace_s = 0.0  # time the traced run spends reading counters
        self.counters = SparkCounters(self.spark) if self.tracer.enabled else None
        if self.counters is not None:
            t0 = time.perf_counter()
            self.counters.new_stages()
            self.counters.new_python_metrics()
            self.trace_s += time.perf_counter() - t0
        self.perf_start = time.perf_counter()
        self.q1, self.q2 = self.start_queries(available_now=False)

    def measure(self, t_go: float) -> None:
        i0 = PREFIX_TICKS + BACKLOG_TICKS
        self.t_go = t_go
        reply = self._gen(f"pace {t_go!r} {i0} {self.n_ticks}")
        self.lateness_s = reply["lateness_s"]
        for q in (self.q1, self.q2):
            if q.exception() is None:
                q.processAllAvailable()
        self.t_end = time.time()
        self.exceptions = [str(q.exception()) for q in (self.q1, self.q2) if q.exception() is not None]
        self.progress = [list(self.q1.recentProgress), list(self.q2.recentProgress)]
        for q in (self.q1, self.q2):
            q.stop()
        self.stop_generator()

    # -- results ------------------------------------------------------------
    def results(self) -> dict:
        from kcl_akka_stream_spark.operators.checkpoint import checkpoint_frontier
        from kcl_akka_stream_spark.streaming.commit import read_commits
        from pyspark.sql import functions as F

        ticks = make_schedule(self.seed, self.n_ticks, self.shape)
        sink = read_sink(self.sink_dir)
        commits = {c["epoch_id"]: c["at"] for c in read_commits(self.commit_dir)}
        expected = expected_records(ticks)
        check = check_exactly_once(expected, sink)
        regressions = frontier_regressions(self.frontiers)
        final_gen = shard_tops(ticks)
        # a later row for the same seq is its ack: fold the flags per seq, as
        # the streaming tracker does, before the batch frontier
        acks = (self.spark.read.parquet(os.path.join(self.gen_dir, "tracker"))
                .groupBy("shard_id", "seq").agg(F.max("processed").alias("processed")))
        oracle = {int(r.shard_id): r.frontier_seq for r in checkpoint_frontier(acks).collect()}
        final_seen = final_frontiers(self.frontiers)
        frontier_mismatch = sum(
            1 for s in set(oracle) | set(final_seen) | set(final_gen)
            if not (oracle.get(s) == final_seen.get(s) == final_gen.get(s))
        )
        if frontier_mismatch:
            print(json.dumps({"oracle": oracle, "seen": final_seen, "generated": final_gen}), file=sys.stderr)
        failed = check["lost"] + check["duplicated"] + check["unexpected"] + regressions + frontier_mismatch
        if self.exceptions:
            failed = len(expected)

        i_go = PREFIX_TICKS + BACKLOG_TICKS
        epoch_of = sink["first_epoch"]
        tick_s = self.shape.tick_s
        # catch-up: from the resumed consumer's start until its backlog is
        # both committed by the data path and covered by every shard's
        # checkpoint frontier.  The two queries share the executor, and
        # which of their first triggers gets it first varies from run to
        # run; the time until both are through does not.
        backlog_keys = [(k, q) for i in range(PREFIX_TICKS, i_go) for k, q in tick_records(ticks[i])]
        done = [commits.get(epoch_of.get(r)) for r in backlog_keys]
        backlog_done = math.nan if None in done else max(done)
        backlog_covered = covered_at(frontier_cover(self.frontiers), shard_tops(ticks[PREFIX_TICKS:i_go]))
        if backlog_covered is None:
            backlog_covered = math.nan
        cold_s = float(np.maximum(backlog_done, backlog_covered)) - self.t_go  # nan if either is
        paced = range(i_go + self.paced_from, self.n_ticks)
        due = {i: self.t_go + (i - i_go) * tick_s for i in paced}
        latency_ms = tick_latencies_ms(ticks, paced, due, epoch_of, commits)
        lag_ms = frontier_lags_ms(ticks, paced, due, self.frontiers)
        out = {
            "attempted": len(expected),
            "failed": int(failed),
            "exceptions": self.exceptions,
            "checks": {**check, "frontier_regressions": regressions, "frontier_mismatch_shards": frontier_mismatch},
            "cold_s": cold_s,
            "catchup_rps": len(backlog_keys) / cold_s,
            "latency_ms": latency_ms,
            "frontier_lag_ms": lag_ms,
            "backlog_records": len(backlog_keys),
            "paced_ticks": len(paced),
        }
        p1 = paced_progress(self.progress[0], due[paced[0]], self.t_end)
        out["paced_trigger_ms"] = [p.durationMs["triggerExecution"] for p in p1]
        out["catchup"] = {"committed_s": backlog_done - self.t_go, "covered_s": backlog_covered - self.t_go}
        out["steady_s"] = median(out["paced_trigger_ms"]) / 1e3 if p1 else float("nan")
        if self.tracer.enabled:
            out["layers"] = self.layers(ticks, commits, sink, due[paced[0]])
        return out

    def layers(self, ticks, commits, sink, t_paced) -> dict:
        p1 = paced_progress(self.progress[0], t_paced, self.t_end)
        p2 = paced_progress(self.progress[1], t_paced, self.t_end)
        all1 = [p for p in self.progress[0] if p.numInputRows > 0]
        all2 = [p for p in self.progress[1] if p.numInputRows > 0]

        def dur(ps, key):
            vals = [p.durationMs.get(key, 0) for p in ps]
            return median(vals) if vals else 0.0

        def state(ps, attr, last=False):
            vals = [getattr(p.stateOperators[0], attr) for p in ps if p.stateOperators]
            if not vals:
                return 0.0
            return float(vals[-1]) if last else median(vals)

        t_tr = time.perf_counter()
        stages = self.counters.new_stages()
        py_s, py_init, py_b = self.counters.new_python_metrics()
        agg = aggregate_stages(stages)
        heap_mb = self.counters.live_heap_mb()
        self.trace_s += time.perf_counter() - t_tr
        callback_ms = self.tracer.durations_ms("streaming.commit.callback", self.perf_start)
        sink_ms = self.tracer.durations_ms("stream.sink_write", self.perf_start)
        overhead = [c - s for c, s in zip(callback_ms, sink_ms)]
        lay = {
            "sources.latest_offset_ms": dur(p1, "latestOffset"),
            "sources.get_batch_ms": dur(p1, "getBatch"),
            "sources.backlog_records": max_backlog(ticks, commits, sink, self.t_go, t_paced, self.t_end,
                                                   self.shape.tick_s, PREFIX_TICKS + BACKLOG_TICKS),
            "streaming.trigger_ms": dur(p1, "triggerExecution"),
            "streaming.triggers": len(all1),
            "streaming.rows_per_trigger": median([p.numInputRows for p in p1]) if p1 else 0.0,
            "streaming.plan_ms": dur(p1, "queryPlanning"),
            "streaming.wal_commit_ms": dur(p1, "walCommit"),
            "streaming.commit_offsets_ms": dur(p1, "commitOffsets"),
            "streaming.dedup.state_rows": state(all1, "numRowsTotal", last=True),
            "streaming.dedup.update_ms": state(all1, "allUpdatesTimeMs"),
            "streaming.commit.callback_ms": median(callback_ms) if callback_ms else 0.0,
            "streaming.commit.sink_write_ms": median(sink_ms) if sink_ms else 0.0,
            "streaming.commit.overhead_ms": median(overhead) if overhead else 0.0,
            "streaming.tracker.trigger_ms": dur(p2, "triggerExecution"),
            "streaming.tracker.triggers": len(all2),
            "streaming.tracker.update_ms": state(all2, "allUpdatesTimeMs"),
            "streaming.tracker.state_rows": state(all2, "numRowsTotal", last=True),
            "gen.lag_p90_ms": tail_percentile(self.lateness_s, TAIL_Q) * 1e3,
            "exec.run_s": sum(p.durationMs.get("addBatch", 0) for p in all1 + all2) / 1e3,
            "exec.plan_s": sum(p.durationMs.get("queryPlanning", 0) for p in all1 + all2) / 1e3,
            "exec.idle_s": idle_seconds(stage_intervals(stages), self.t_go, self.t_end),
            "exec.python_s": py_s,
            "exec.python_init_s": py_init,
            "exec.python_bytes": py_b,
            "session.live_heap_mb": heap_mb,
            "trace.overhead_s": self.trace_s,
        }
        for k, v in agg.items():
            lay[f"exec.{k}"] = v
        return lay


# ---------------------------------------------------------------------------
# pure helpers (tested in perfbench/tests)
# ---------------------------------------------------------------------------
def tick_records(tick) -> list[tuple[str, str]]:
    """(partitionKey, sequenceNumber) of a tick's new records, as the sink
    stores them."""
    return [(f"k{k:03d}", str(q)) for k, q in zip(tick.key, tick.seq)]


def expected_records(ticks) -> set:
    return {r for t in ticks for r in tick_records(t)}


def read_sink(sink_dir: str) -> dict:
    """Rows of every committed epoch: counts per record and the first epoch
    each record was written in."""
    counts: Counter = Counter()
    first_epoch: dict = {}
    if os.path.isdir(sink_dir):
        for name in sorted(os.listdir(sink_dir)):
            if not name.startswith("epoch="):
                continue
            epoch = int(name.split("=", 1)[1].split(".", 1)[0])
            t = pq.read_table(os.path.join(sink_dir, name), columns=["partitionKey", "sequenceNumber"])
            for k, q in zip(t.column(0).to_pylist(), t.column(1).to_pylist()):
                counts[(k, q)] += 1
                first_epoch.setdefault((k, q), epoch)
    return {"counts": counts, "first_epoch": first_epoch}


def check_exactly_once(expected: set, sink: dict) -> dict:
    counts = sink["counts"]
    return {
        "lost": sum(1 for r in expected if counts.get(r, 0) == 0),
        "duplicated": sum(1 for r in expected if counts.get(r, 0) > 1),
        "unexpected": sum(1 for r in counts if r not in expected),
    }


def frontier_regressions(observations) -> int:
    """Observations (time, shard, frontier) whose frontier is below an
    earlier one of the same shard."""
    best: dict = {}
    bad = 0
    for _, shard, f in sorted(observations, key=lambda o: o[0]):
        if f < best.get(shard, f):
            bad += 1
        best[shard] = max(best.get(shard, f), f)
    return bad


def final_frontiers(observations) -> dict:
    out: dict = {}
    for _, shard, f in sorted(observations, key=lambda o: o[0]):
        out[shard] = f
    return out


def tick_latencies_ms(ticks, tick_ids, due, epoch_of, commits) -> list[float]:
    """Per tick: due time until the commit of the last epoch holding one of
    its records.  A tick with a record never committed is left out (it is
    counted as lost)."""
    out = []
    for i in tick_ids:
        try:
            done = max(commits[epoch_of[r]] for r in tick_records(ticks[i]))
        except KeyError:
            continue
        out.append((done - due[i]) * 1e3)
    return out


def frontier_cover(observations) -> dict:
    """Per shard: the observation times, in order, and the highest frontier
    seen by each of them."""
    per_shard = defaultdict(list)
    for t, shard, f in sorted(observations, key=lambda o: o[0]):
        per_shard[shard].append((t, f))
    return {shard: (np.array([o[0] for o in obs]), np.maximum.accumulate(np.array([o[1] for o in obs])))
            for shard, obs in per_shard.items()}


def covered_at(cover, targets) -> float | None:
    """Time by which every shard's frontier had reached its target sequence
    number (``targets``: shard -> seq); None if one never did."""
    worst = -math.inf
    for shard, top in targets.items():
        times, reach = cover.get(int(shard), (np.array([]), np.array([])))
        j = int(np.searchsorted(reach, top, side="left"))
        if j >= len(times):
            return None
        worst = max(worst, float(times[j]))
    return worst


def shard_tops(ticks) -> dict:
    """Highest new sequence number per shard over ``ticks``."""
    top: dict = {}
    for t in ticks:
        for s, q in zip(t.shard, t.seq):
            top[int(s)] = max(top.get(int(s), -1), int(q))
    return top


def frontier_lags_ms(ticks, tick_ids, due, observations) -> list[float]:
    """Per tick: due time until every shard's frontier covers the tick's
    records on that shard.  A tick never covered is left out."""
    cover = frontier_cover(observations)
    out = []
    for i in tick_ids:
        at = covered_at(cover, shard_tops([ticks[i]]))
        if at is not None:
            out.append((at - due[i]) * 1e3)
    return out


def paced_progress(progress, t0: float, t1: float) -> list:
    """Progress entries of non-empty triggers that started in [t0, t1]."""
    from datetime import datetime

    out = []
    for p in progress:
        if p.numInputRows <= 0:
            continue
        ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        if t0 <= ts <= t1:
            out.append(p)
    return out


def max_backlog(ticks, commits, sink, t_go, t0, t1, tick_s, i_go) -> float:
    """Largest count of generated but uncommitted records seen at a commit
    of the paced phase."""
    per_epoch = Counter(sink["first_epoch"].values())
    committed_by = sorted((at, per_epoch.get(e, 0)) for e, at in commits.items())
    gen_times = []
    for i, t in enumerate(ticks):
        at = t_go + (i - i_go) * tick_s if i >= i_go else -np.inf
        gen_times.append((at, len(t.seq)))
    gen_times.sort()
    worst = 0
    done = 0
    gi = 0
    generated = 0
    for at, n in committed_by:
        done += n
        while gi < len(gen_times) and gen_times[gi][0] <= at:
            generated += gen_times[gi][1]
            gi += 1
        if t0 <= at <= t1:
            worst = max(worst, generated - done)
    return float(worst)


def run_stream(spark, work: str, args, tracer, t_proc: float, t_session: float, root: str) -> dict:
    run = StreamRun(spark, os.path.join(work, "stream"), args.seed, args.seconds, tracer, root)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    try:
        t_prep = time.time()
        run.prepare()
        jobs0 = dag.nextJobId()
        t_build = time.time()
        run.start()
        t_started = time.time()
        jobs1 = dag.nextJobId()
        run.measure(t_started)
        jobs2 = dag.nextJobId()
        res = run.results()
    finally:
        for q in spark.streams.active:
            q.stop()
        run.stop_generator()
    lat = res["latency_ms"]
    metrics = {
        "setup_s": (t_session - t_proc) + (t_started - t_build),
        "cold_s": res["cold_s"],
        "steady_s": res["steady_s"],
        "latency_p50_ms": median(lat),
        "latency_tail_ms": tail_percentile(lat, TAIL_Q),
    }
    layers = res.get("layers", {})
    if tracer.enabled:
        lag = res["frontier_lag_ms"]
        layers.update({
            "queries.construct_s": t_started - t_build,
            "queries.construct_jobs": jobs1 - jobs0,
            "exec.jobs": jobs2 - jobs1,
            "sources.catchup_rps": res["catchup_rps"],
            "streaming.tracker.frontier_lag_p50_ms": median(lag) if lag else 0,
            "streaming.tracker.frontier_lag_p90_ms": tail_percentile(lag, TAIL_Q) if lag else 0,
        })
    timeline = {"session": t_session - t_proc, "prepare": t_build - t_prep, "start": t_started - t_build,
                "go": run.t_end - t_started, "results": time.time() - run.t_end, "total": time.time() - t_proc}
    print(json.dumps({"timeline": timeline, "stream_checks": res["checks"], "exceptions": res["exceptions"],
                      "paced_ticks": res["paced_ticks"], "latency_ticks": len(lat),
                      "paced_trigger_ms": res["paced_trigger_ms"], "catchup": res["catchup"],
                      "catchup_rps": res["catchup_rps"]}), file=sys.stderr)
    return {"attempted": res["attempted"], "failed": res["failed"], "metrics": metrics, "layers": layers}
