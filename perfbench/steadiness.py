"""Run the benchmark on several seeds and report each end-to-end metric's
spread: the distance between the first and third quartile of its values, as
a share of their median.

    python3 perfbench/steadiness.py --workload stream_tail --seeds 1-10 [--out FILE]

Runs are sequential, from the repository root, with BENCHMARK.json's
``run_seconds``.  With ``--out`` the values and spreads are appended to
FILE (JSON: per workload, a list of run sets).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    started = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    runs = []
    for seed in args.seeds:
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
        wall_s = time.time() - t0
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            raise SystemExit(f"seed {seed}: exit code {proc.returncode}")
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        # the run's own diagnostics: the last JSON line it wrote to stderr
        diag = next((json.loads(line) for line in reversed(proc.stderr.splitlines()) if line.startswith("{")), None)
        runs.append({"seed": seed, "wall_s": wall_s, **result, "diagnostics": diag})
        print(json.dumps(runs[-1]), flush=True)
    names = [m["name"] for m in bench["end_to_end"]]
    summary = {}
    for name in names:
        values = [r["metrics"][name]["value"] for r in runs]
        summary[name] = {"median": statistics.median(values), "spread": spread(values), "values": values}
    entry = {"started": started, "seeds": args.seeds, "correct": all(r["correct"] for r in runs),
             "wall_s": [round(r["wall_s"], 1) for r in runs], "metrics": summary}
    print(json.dumps({k: round(v["spread"], 4) for k, v in summary.items()}))
    if args.out:
        existing = {}
        if os.path.exists(args.out):
            with open(args.out) as f:
                existing = json.load(f)
        existing.setdefault(args.workload, []).append(entry)
        with open(args.out, "w") as f:
            json.dump(existing, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
