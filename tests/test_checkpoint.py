"""Checkpoint-frontier tests -- scenarios from the reference's
T/ShardCheckpointTrackerTest.scala (SURVEY §5.1), esp. the gap case
:70-81 (acks {0,1,3} of 4 => frontier 1)."""

from __future__ import annotations

from kcl_akka_stream_spark.operators.checkpoint import checkpoint_frontier, should_checkpoint


def _frontier(spark, rows):
    df = spark.createDataFrame(rows, "shard_id string, seq long, processed boolean")
    return {r.shard_id: r for r in checkpoint_frontier(df).collect()}


def test_gap_blocks_frontier(spark):
    # ShardCheckpointTrackerTest.scala:70-81: processed {0,1,3}, gap at 2.
    out = _frontier(spark, [("s", 0, True), ("s", 1, True), ("s", 2, False), ("s", 3, True)])
    r = out["s"]
    assert r.frontier_seq == 1
    assert r.processed_uncheckpointed_count == 1  # seq 3, above the gap
    assert r.in_flight_count == 1  # seq 2


def test_contiguous_prefix(spark):
    # :57-68 -- frontier is last of the contiguous processed prefix.
    out = _frontier(spark, [("s", 0, True), ("s", 1, True), ("s", 2, True), ("s", 3, False)])
    r = out["s"]
    assert r.frontier_seq == 2
    assert r.processed_uncheckpointed_count == 0
    assert r.in_flight_count == 1


def test_nothing_processed(spark):
    # :45-55 -- no-op when nothing is processed.
    out = _frontier(spark, [("s", 0, False), ("s", 1, False)])
    r = out["s"]
    assert r.frontier_seq is None
    assert r.in_flight_count == 2


def test_all_processed(spark):
    out = _frontier(spark, [("s", 0, True), ("s", 1, True)])
    r = out["s"]
    assert r.frontier_seq == 1
    assert r.in_flight_count == 0


def test_per_shard_independence(spark):
    out = _frontier(
        spark,
        [("a", 0, True), ("a", 1, False), ("b", 0, False), ("c", 0, True), ("c", 1, True)],
    )
    assert out["a"].frontier_seq == 0
    assert out["b"].frontier_seq is None
    assert out["c"].frontier_seq == 1


def test_count_trigger_gap_free_backlog_fires(spark):
    # :26-33 -- the count trigger fires on the CHECKPOINTABLE contiguous
    # prefix (processedButNotCheckpointedCount via popProcessedRecords,
    # RecordProcessorImpl.scala:73-77): a fully-processed gap-free backlog
    # of 11 records fires at threshold 10.
    rows = [("s", i, True) for i in range(11)]
    df = spark.createDataFrame(rows, "shard_id string, seq long, processed boolean")
    out = should_checkpoint(checkpoint_frontier(df), record_threshold=10).collect()[0]
    assert out.checkpointable_count == 11
    assert bool(out.should_checkpoint)

    out2 = should_checkpoint(checkpoint_frontier(df), record_threshold=100).collect()[0]
    assert not bool(out2.should_checkpoint)


def test_count_trigger_gap_blocked_backlog_does_not_fire(spark):
    # The inverse case (r2 "What's wrong" #3): 11 processed records stuck
    # BEHIND an unprocessed head cannot be checkpointed, so the trigger must
    # NOT fire on them -- the population is the prefix, not the gap-blocked
    # pile-up.
    rows = [("s", 0, False)] + [("s", i, True) for i in range(1, 12)]
    df = spark.createDataFrame(rows, "shard_id string, seq long, processed boolean")
    out = should_checkpoint(checkpoint_frontier(df), record_threshold=10).collect()[0]
    assert out.checkpointable_count == 0
    assert out.processed_uncheckpointed_count == 11
    assert not bool(out.should_checkpoint)


def test_window_query_matches_tracker_scan_randomized(spark):
    # Cross-implementation invariant: the batch window-SQL frontier
    # (operators/checkpoint.py) and the stateful tracker's kernel step
    # (streaming/tracker.py::_advance, what _track runs per micro-batch)
    # implement the SAME semantics.  200 random (shard, seq, processed)
    # rows, fixed seed.
    import random

    from kcl_akka_stream_spark.operators.checkpoint import checkpoint_frontier
    from kcl_akka_stream_spark.streaming.tracker import _NO_FRONTIER, _advance

    def scan(seqs, procs):
        frontier, _, _, behind, in_flight = _advance(_NO_FRONTIER, seqs, procs)
        return (None if frontier == _NO_FRONTIER else frontier, behind, in_flight)

    rng = random.Random(42)
    rows = []
    used = set()
    for _ in range(200):
        shard = rng.randint(0, 7)
        seq = rng.randint(0, 60)
        if (shard, seq) in used:
            continue
        used.add((shard, seq))
        rows.append((shard, seq, rng.random() < 0.7))
    df = spark.createDataFrame(rows, "shard_id long, seq long, processed boolean")
    got = {
        r.shard_id: (r.frontier_seq, r.processed_uncheckpointed_count, r.in_flight_count)
        for r in checkpoint_frontier(df, "shard_id", "seq", "processed").collect()
    }
    per_shard: dict[int, tuple[list, list]] = {}
    for shard, seq, proc in rows:
        per_shard.setdefault(shard, ([], []))
        per_shard[shard][0].append(seq)
        per_shard[shard][1].append(proc)
    want = {s: scan(seqs, procs) for s, (seqs, procs) in per_shard.items()}
    assert got == want


def test_tracker_rejects_max_pending_toggle_on_existing_state():
    # A checkpoint written by the 4-field default tracker cannot resume
    # with max_pending enabled (5-field state) -- the kernel must raise
    # an actionable error, not an opaque unpack failure.
    import pandas as pd
    import pytest

    from kcl_akka_stream_spark.streaming.tracker import _make_track

    class FakeState:
        exists = True
        get = (0, [], [], 1)  # 4-field default-tracker state

        def update(self, v):
            pass

    track = _make_track(3)
    batch = pd.DataFrame({"seq": [1], "processed": [True]})
    with pytest.raises(ValueError, match="max_pending"):
        list(track((1,), iter([batch]), FakeState()))
