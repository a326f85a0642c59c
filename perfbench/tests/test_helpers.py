"""Tests of the benchmark's own helpers; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import os
from collections import Counter

import numpy as np
import pytest

from perfbench.batch import norm_result
from perfbench.common import (
    Tracer,
    aggregate_stages,
    busy_seconds,
    idle_seconds,
    median,
    parse_sql_metric,
    percentile,
    samples_beyond,
    tail_percentile,
)
from perfbench.generator import StreamShape, Writer, make_schedule
from perfbench.stream import (
    check_exactly_once,
    covered_at,
    expected_records,
    frontier_cover,
    frontier_lags_ms,
    frontier_regressions,
    max_backlog,
    read_sink,
    shard_tops,
    tick_latencies_ms,
    tick_records,
)

# -- percentiles ------------------------------------------------------------


def test_nearest_rank_percentile():
    vals = list(range(1, 101))
    assert percentile(vals, 0.5) == 50
    assert percentile(vals, 0.9) == 90
    assert percentile(vals, 1.0) == 100
    assert percentile([7.0], 0.9) == 7.0


def test_tail_needs_ten_samples_beyond():
    assert samples_beyond(100, 0.9) == 10
    assert samples_beyond(99, 0.9) == 9
    assert tail_percentile(list(range(100)), 0.9) == 89
    with pytest.raises(ValueError, match="need at least 10"):
        tail_percentile(list(range(99)), 0.9)
    with pytest.raises(ValueError):
        tail_percentile(list(range(999)), 0.99)
    assert tail_percentile(list(range(1000)), 0.99) == 989


def test_median_even_and_odd():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        median([])


# -- spans ------------------------------------------------------------------


def test_tracer_records_nested_spans_and_callback_threads():
    import threading

    off = Tracer(run_id="r")
    fn = lambda x: x  # noqa: E731
    assert off.wrap("w", fn) is fn and off.start("a") is None and off.spans == []

    tr = Tracer(run_id="r", enabled=True)
    outer = tr.start("outer")
    inner = tr.start("inner")
    tr.end(inner)
    tr.end(outer)
    wrapped = tr.wrap("callback", lambda x: x * 2)
    threads = [threading.Thread(target=lambda: [wrapped(i) for i in range(200)]) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    assert [s.parent for s in tr.spans[:2]] == [None, 0]
    assert len(tr.durations_ms("callback")) == 1600
    assert all(d >= 0 for d in tr.durations_ms("callback"))
    assert tr.durations_ms("callback", since=math.inf) == []


# -- status-store aggregation -------------------------------------------------


def _stage(tasks, run_ms, cpu_ns, sr=0, sw=0, sm=0, sd=0, sub=None, comp=None):
    return {"tasks": tasks, "run_ms": run_ms, "cpu_ns": cpu_ns, "shuffle_read": sr, "shuffle_write": sw,
            "spill_mem": sm, "spill_disk": sd, "submitted": sub, "completed": comp}


def test_aggregate_stages_sums_and_converts_units():
    agg = aggregate_stages([_stage(4, 1500, 2_000_000_000, sr=10, sw=20, sm=1), _stage(1, 500, 500_000_000, sd=2)])
    assert agg == {"stages": 2, "tasks": 5, "task_run_s": 2.0, "task_cpu_s": 2.5, "shuffle_bytes": 30,
                   "spill_bytes": 3}
    assert aggregate_stages([])["stages"] == 0


def test_idle_time_is_the_window_minus_the_union_of_stages():
    stages = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.5, 12.0)]
    assert busy_seconds(stages, 0.0, 10.0) == pytest.approx(4.5)
    assert idle_seconds(stages, 0.0, 10.0) == pytest.approx(5.5)
    assert idle_seconds([], 0.0, 2.0) == 2.0
    assert idle_seconds([(0.0, 5.0)], 1.0, 2.0) == 0.0


def test_parse_sql_metric_reads_the_total():
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n1.7 s (393 ms, 456 ms, 459 ms (stage 25.0: task 86))") == 1.7
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n7.2 KiB (1488.0 B, 1.8 KiB)") == 7.2 * 1024
    assert parse_sql_metric("22 ms") == pytest.approx(0.022)
    assert parse_sql_metric("100,000") == 100000
    assert parse_sql_metric("0.0 B") == 0.0


# -- generator ----------------------------------------------------------------

SHAPE = StreamShape(rate=200, tick_s=0.1)


def test_schedule_is_a_function_of_the_seed():
    a, b, c = make_schedule(5, 30, SHAPE), make_schedule(5, 30, SHAPE), make_schedule(6, 30, SHAPE)
    assert all(np.array_equal(x.key, y.key) and np.array_equal(x.ack_seq, y.ack_seq) for x, y in zip(a, b))
    assert any(not np.array_equal(x.key, y.key) for x, y in zip(a, c))


def test_schedule_acks_every_record_once_and_replays_contiguous_runs():
    ticks = make_schedule(3, 60, StreamShape(rate=200, tick_s=0.1, replay_share=0.5, late_share=0.2))
    new = Counter((int(s), int(q)) for t in ticks for s, q in zip(t.shard, t.seq))
    acks = Counter((int(s), int(q)) for t in ticks for s, q in zip(t.ack_shard, t.ack_seq))
    assert new == acks and max(new.values()) == 1
    late = sum(1 for i, t in enumerate(ticks) for s, q in zip(t.ack_shard, t.ack_seq)
               if (int(s), int(q)) not in {(int(a), int(b)) for a, b in zip(t.shard, t.seq)})
    assert late > 0
    seen: set = set()
    replays = 0
    for t in ticks:
        seen |= {(int(s), int(q)) for s, q in zip(t.shard, t.seq)}
        if len(t.replay_seq):
            replays += 1
            assert len(set(t.replay_shard)) == 1
            assert np.array_equal(np.diff(t.replay_seq), np.ones(len(t.replay_seq) - 1))
            assert {(int(s), int(q)) for s, q in zip(t.replay_shard, t.replay_seq)} <= seen
    assert replays > 0


def test_generator_reports_lateness_against_its_schedule(tmp_path):
    import time

    writer = Writer(str(tmp_path), make_schedule(1, 4, SHAPE))
    t_go = time.time() + 0.05
    reply = writer.pace(t_go, 0, 4, 0.02)
    lateness = reply["lateness_s"]
    assert len(lateness) == 4
    assert all(0.0 <= x < 1.0 for x in lateness)
    assert time.time() >= t_go + 3 * 0.02
    assert sorted(os.listdir(tmp_path / "data")) == [f"tick-{i:07d}.parquet" for i in range(4)]
    assert not [n for n in os.listdir(tmp_path / "tracker") if n.startswith(".")]


# -- stream acceptance and latency attribution --------------------------------


def _sink(tmp_path, epochs):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "sink"
    d.mkdir()
    for e, rows in epochs.items():
        pq.write_table(pa.table({"partitionKey": [r[0] for r in rows], "sequenceNumber": [r[1] for r in rows]}),
                       d / f"epoch={e:08d}.parquet")
    return read_sink(str(d))


def test_latency_is_attributed_from_sink_epochs_and_the_commit_log(tmp_path):
    ticks = make_schedule(2, 3, SHAPE)
    r0, r1, r2 = (tick_records(t) for t in ticks)
    # tick 1 straddles epochs 1 and 2: its latency runs to the later commit
    sink = _sink(tmp_path, {0: r0, 1: r1[:5], 2: r1[5:] + r2})
    commits = {0: 10.5, 1: 11.0, 2: 12.25}
    due = {0: 10.0, 1: 10.1, 2: 10.2}
    lat = tick_latencies_ms(ticks, [0, 1, 2], due, sink["first_epoch"], commits)
    assert lat == pytest.approx([500.0, 2150.0, 2050.0])
    # an epoch missing from the commit log leaves its ticks out
    assert tick_latencies_ms(ticks, [0, 1], due, sink["first_epoch"], {0: 10.5}) == pytest.approx([500.0])


def test_exactly_once_counts_lost_duplicated_and_unexpected(tmp_path):
    ticks = make_schedule(2, 2, SHAPE)
    expected = expected_records(ticks)
    r0, r1 = tick_records(ticks[0]), tick_records(ticks[1])
    sink = _sink(tmp_path, {0: r0, 1: r0[:3] + r1[2:] + [("k999", "1")]})
    assert check_exactly_once(expected, sink) == {"lost": 2, "duplicated": 3, "unexpected": 1}


def test_frontier_regressions_and_lag():
    obs = [(1.0, 0, 5), (2.0, 0, 9), (3.0, 0, 7), (2.5, 1, 3), (4.0, 1, 3)]
    assert frontier_regressions(obs) == 1
    ticks = make_schedule(4, 2, StreamShape(rate=40, tick_s=0.1, shards=2, keys=2))
    top = shard_tops(ticks)
    full = [(5.0, s, q) for s, q in top.items()]
    lags = frontier_lags_ms(ticks, [0, 1], {0: 4.0, 1: 4.5}, full)
    assert lags == pytest.approx([1000.0, 500.0])
    # a tick the frontier never covers is left out
    assert frontier_lags_ms(ticks, [1], {1: 4.5}, [(5.0, s, -1) for s in top]) == []
    # the whole set is covered once the slowest shard's frontier reaches its
    # target; a frontier that goes back does not uncover it
    cover = frontier_cover([(1.0, 0, 5), (2.0, 0, 9), (3.0, 0, 7), (2.5, 1, 3), (4.0, 1, 4)])
    assert covered_at(cover, {0: 8, 1: 3}) == 2.5
    assert covered_at(cover, {0: 9, 1: 4}) == 4.0
    assert covered_at(cover, {0: 7}) == 2.0
    assert covered_at(cover, {0: 10}) is None
    assert covered_at(cover, {2: 0}) is None


def test_max_backlog_counts_generated_minus_committed():
    ticks = make_schedule(2, 4, SHAPE)  # 20 records per tick
    sink = {"first_epoch": {**{r: 0 for r in tick_records(ticks[0]) + tick_records(ticks[1])},
                            **{r: 1 for r in tick_records(ticks[2]) + tick_records(ticks[3])}}}
    # ticks 0-1 are backlog, 2-3 are paced from t_go = 100.0 at 0.1 s
    commits = {0: 100.15, 1: 100.5}
    assert max_backlog(ticks, commits, sink, 100.0, 100.0, 101.0, 0.1, 2) == 40
    assert max_backlog(ticks, commits, sink, 100.0, 100.3, 101.0, 0.1, 2) == 0


# -- batch oracle comparison ---------------------------------------------------


def test_norm_result_is_order_insensitive_and_rounds_floats():
    a = norm_result(["b", "A"], [(1.00000000001, "x"), (None, "y")])
    b = norm_result(["A", "b"], [("y", None), ("x", 1.0)])
    assert a == b
    assert a["cols"] == ["a", "b"]
    assert norm_result(["v"], [(float("nan"),)])["rows"] == [["NaN"]]
