"""Open-loop input generator for the ``stream_tail`` workload.

The schedule is a pure function of the seed (``make_schedule``), so the
harness rebuilds the expected records and due times without reading the
files back.  Run as a separate single-threaded process; it reads commands
from stdin and answers each with one JSON line on stdout:

- ``burst i0 i1``: write ticks [i0, i1) now, due times spread over the
  ``i1 - i0`` tick periods that end now (input that piled up while no
  consumer ran);
- ``pace t_go i0 i1``: write tick i at its due time ``t_go + (i - i0) * tick``
  regardless of how the consumer keeps up; the answer carries each tick's
  lateness against its schedule;
- ``quit``.

Each tick writes two files by tmp+rename: an envelope file (replays
included) under ``<out>/data`` and a tracker file of ``(shard_id, seq,
processed)`` rows under ``<out>/tracker``.  Usage::

    python3 perfbench/generator.py --out DIR --seed N --ticks T
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class StreamShape:
    rate: int = 2000  # records per second, new records only
    tick_s: float = 0.1
    shards: int = 8
    keys: int = 64
    zipf_s: float = 1.1  # key skew; a key maps to shard key % shards
    replay_share: float = 0.05  # share of ticks that re-deliver a run
    replay_run: tuple[int, int] = (5, 40)  # contiguous run length range
    late_share: float = 0.02  # share of records whose ack comes late
    late_ticks: tuple[int, int] = (1, 8)  # how many ticks late

    @property
    def per_tick(self) -> int:
        return int(round(self.rate * self.tick_s))


@dataclass
class Tick:
    shard: np.ndarray  # new records
    seq: np.ndarray
    key: np.ndarray
    replay_shard: np.ndarray  # re-delivered records (contiguous per run)
    replay_seq: np.ndarray
    replay_key: np.ndarray
    ack_shard: np.ndarray  # acks delivered in this tick
    ack_seq: np.ndarray


def make_schedule(seed: int, n_ticks: int, shape: StreamShape = StreamShape()) -> list[Tick]:
    """Deterministic tick contents for ``n_ticks`` ticks.  Every ack comes at
    most ``late_ticks[1]`` ticks late, and the last tick delivers all acks
    still pending, so each shard's final frontier is its last sequence."""
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, shape.keys + 1) ** shape.zipf_s
    weights /= weights.sum()
    next_seq = np.zeros(shape.shards, dtype=np.int64)
    key_of: list[list[int]] = [[] for _ in range(shape.shards)]
    pending: dict[int, list[tuple[int, int]]] = {}
    ticks = []
    for i in range(n_ticks):
        key = rng.choice(shape.keys, size=shape.per_tick, p=weights).astype(np.int64)
        shard = key % shape.shards
        seq = np.empty_like(key)
        for j in range(len(key)):  # per-shard sequence numbers, in arrival order
            s = shard[j]
            seq[j] = next_seq[s]
            next_seq[s] += 1
            key_of[s].append(int(key[j]))
        r_shard, r_seq = [], []
        if rng.random() < shape.replay_share:
            s = int(rng.choice(shard))
            run = int(rng.integers(shape.replay_run[0], shape.replay_run[1] + 1))
            hi = int(next_seq[s])
            lo = max(0, hi - run)
            r_shard = [s] * (hi - lo)
            r_seq = list(range(lo, hi))
        late = rng.random(len(key)) < shape.late_share
        delay = rng.integers(shape.late_ticks[0], shape.late_ticks[1] + 1, size=len(key))
        acks = [(int(s), int(q)) for s, q, lt in zip(shard, seq, late) if not lt]
        for s, q, lt, d in zip(shard, seq, late, delay):
            if lt:
                pending.setdefault(i + int(d), []).append((int(s), int(q)))
        acks += pending.pop(i, [])
        if i == n_ticks - 1:
            for due in sorted(pending):
                acks += pending[due]
            pending.clear()
        ticks.append(
            Tick(
                shard=shard,
                seq=seq,
                key=key,
                replay_shard=np.array(r_shard, dtype=np.int64),
                replay_seq=np.array(r_seq, dtype=np.int64),
                replay_key=np.array([key_of[s][q] for s, q in zip(r_shard, r_seq)], dtype=np.int64),
                ack_shard=np.array([a[0] for a in acks], dtype=np.int64),
                ack_seq=np.array([a[1] for a in acks], dtype=np.int64),
            )
        )
    return ticks


ENVELOPE_ARROW = pa.schema(
    [
        pa.field("data", pa.binary(), False),
        pa.field("partitionKey", pa.string(), False),
        pa.field("explicitHashKey", pa.string()),
        pa.field("sequenceNumber", pa.string(), False),
        pa.field("subSequenceNumber", pa.int64()),
        pa.field("approximateArrivalTimestamp", pa.timestamp("us", tz="UTC"), False),
        pa.field("encryptionType", pa.string()),
    ]
)
TRACKER_ARROW = pa.schema(
    [pa.field("shard_id", pa.int64()), pa.field("seq", pa.int64()), pa.field("processed", pa.bool_())]
)


def envelope_table(tick: Tick, due: float) -> pa.Table:
    key = np.concatenate([tick.key, tick.replay_key])
    seq = np.concatenate([tick.seq, tick.replay_seq])
    n = len(key)
    pkey = [f"k{k:03d}" for k in key]
    data = [f"{p}:{q}:payload-{q * 7919 % 100003:06d}".encode() for p, q in zip(pkey, seq)]
    return pa.table(
        [
            pa.array(data, pa.binary()),
            pa.array(pkey, pa.string()),
            pa.nulls(n, pa.string()),
            pa.array([str(q) for q in seq], pa.string()),
            pa.array(np.zeros(n, dtype=np.int64)),
            pa.array(np.full(n, int(due * 1e6), dtype=np.int64)).cast(pa.timestamp("us", tz="UTC")),
            pa.array(["NONE"] * n, pa.string()),
        ],
        schema=ENVELOPE_ARROW,
    )


def tracker_table(tick: Tick) -> pa.Table:
    n_new, n_ack = len(tick.seq), len(tick.ack_seq)
    return pa.table(
        [
            pa.array(np.concatenate([tick.shard, tick.ack_shard])),
            pa.array(np.concatenate([tick.seq, tick.ack_seq])),
            pa.array(np.concatenate([np.zeros(n_new, bool), np.ones(n_ack, bool)])),
        ],
        schema=TRACKER_ARROW,
    )


def write_atomic(table: pa.Table, directory: str, name: str) -> None:
    """Write then rename, so a reader never lists a half-written file (the
    file source skips names that start with a dot)."""
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.rename(tmp, os.path.join(directory, name))


class Writer:
    def __init__(self, out: str, ticks: list[Tick]):
        self.data_dir = os.path.join(out, "data")
        self.tracker_dir = os.path.join(out, "tracker")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.tracker_dir, exist_ok=True)
        self.ticks = ticks

    def write(self, i: int, due: float) -> None:
        name = f"tick-{i:07d}.parquet"
        write_atomic(envelope_table(self.ticks[i], due), self.data_dir, name)
        write_atomic(tracker_table(self.ticks[i]), self.tracker_dir, name)

    def burst(self, i0: int, i1: int, tick_s: float) -> dict:
        now = time.time()
        for i in range(i0, i1):
            self.write(i, now - (i1 - i) * tick_s)
        return {"done": "burst", "i0": i0, "i1": i1}

    def pace(self, t_go: float, i0: int, i1: int, tick_s: float) -> dict:
        lateness = []
        for i in range(i0, i1):
            due = t_go + (i - i0) * tick_s
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            self.write(i, due)
            lateness.append(time.time() - due)
        return {"done": "pace", "i0": i0, "i1": i1, "lateness_s": lateness}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--ticks", type=int, required=True)
    args = ap.parse_args(argv)
    shape = StreamShape()
    writer = Writer(args.out, make_schedule(args.seed, args.ticks, shape))
    print(json.dumps({"done": "ready"}), flush=True)
    for line in sys.stdin:
        cmd = line.split()
        if not cmd:
            continue
        if cmd[0] == "burst":
            reply = writer.burst(int(cmd[1]), int(cmd[2]), shape.tick_s)
        elif cmd[0] == "pace":
            reply = writer.pace(float(cmd[1]), int(cmd[2]), int(cmd[3]), shape.tick_s)
        elif cmd[0] == "quit":
            return 0
        else:
            raise ValueError(f"unknown command {line!r}")
        print(json.dumps(reply), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
