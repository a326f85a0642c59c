"""Time named registry queries through the benchmark's own timed call, with
their layer numbers, at 1x or on a scale ladder.

Usage: python tools/query_probe.py [--sf-dir D] [--reps N] [--scale N] name...

Every execution is ``perfbench.batch.QueryRunner.run`` (construction, then a
noop write, with Spark's job, stage, shuffle and Python counters read after
the timer stops), so a number quoted from this tool comes from the same code
as a benchmark number.  Per query: ``clearCache`` + ``System.gc``, one
warm-up run, then ``--reps`` timed runs.  Prints one JSON line per query: the
median total seconds (``total_s``) and the median of every layer number
(``queries.construct_jobs``, ``exec.jobs``, ``exec.shuffle_bytes``, ...).

``--scale N`` writes an N-times replica of the sf dir into a temporary
directory (removed on exit) and runs each query at 1x and Nx in alternating
order (1x, Nx, Nx, 1x, ...), so JVM warm-up and host drift fall on both sides
alike; the line then holds both sets of medians and the Nx/1x ratios.

The default sf dir and Spark's core count are the package's own deployment
settings (``sources.batch.DEFAULT_SF_DIR``, ``SPARK_GRAFT_CPUS``).  To compare two versions of the code, run this tool alternately
from two checkouts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from functools import reduce

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from perfbench.batch import QueryRunner  # noqa: E402
from perfbench.common import Tracer, median  # noqa: E402

#: Replica i offsets every id/key column by i * KEY_OFFSET, above any key
#: the fixtures hold, so replicas never share a key.
KEY_OFFSET = 10_000_000

#: Keys shared by every replica, so joins to region/nation (symlinked, not
#: replicated) stay whole and joins between replicated tables stay within
#: one replica.
SHARED_KEYS = ("nationkey", "regionkey")
SHARED_TABLES = ("region", "nation")

VOWELS = "aeiou"
CONSONANTS = "bcdfghjklmnpqrstvwxz"


def _replica(df: DataFrame, i: int, **replace) -> DataFrame:
    """Replica ``i`` of ``df``: id/key columns offset by ``i * KEY_OFFSET``
    (except nation/region keys), the columns named in ``replace`` swapped
    for the given expressions; every column keeps its type."""
    cols = []
    for c in df.columns:
        if c in replace:
            expr = replace[c]
        elif c.endswith(("key", "_id")) and not c.endswith(SHARED_KEYS):
            expr = F.col(c) + F.lit(i * KEY_OFFSET)
        else:
            cols.append(F.col(c))
            continue
        cols.append(expr.cast(df.schema[c].dataType).alias(c))
    return df.select(*cols)


def replicate_keys(df: DataFrame, n: int) -> DataFrame:
    return reduce(DataFrame.unionByName, [_replica(df, i) for i in range(n)])


def replicate_docs(docs: DataFrame, n: int) -> DataFrame:
    # Perturbation must be INJECTIVE per replica: the first version
    # rotated vowels by i % 5 only, so with n=10 replica i and i+5 were
    # byte-identical -- the "10x distinct content" claim was false and
    # the 10x corpus carried 25k built-in exact-dup pairs, inflating
    # every candidate-verify probe (~100x more candidate work read as a
    # 19x wall "regression" in dedup_edit_verified).  Rotating
    # consonants by i // 5 as well makes all (i%5, i//5) pairs distinct
    # for n <= 100, so every replica differs from every other in most
    # shingles.  Both rotations map one character to one character, so
    # every text keeps its length.
    parts = []
    for i in range(n):
        rot = VOWELS[i % 5 :] + VOWELS[: i % 5]
        crot_n = (i // 5) % len(CONSONANTS)
        crot = CONSONANTS[crot_n:] + CONSONANTS[:crot_n]
        text = F.translate(F.translate(F.col("text"), VOWELS, rot), CONSONANTS, crot)
        parts.append(_replica(docs, i, text=text))
    return reduce(DataFrame.unionByName, parts)


def replicate_embeddings(emb: DataFrame, n: int) -> DataFrame:
    parts = [
        _replica(emb, i, embedding=F.transform("embedding", lambda x: x + F.lit(float(i)) * F.lit(1e-4)))
        for i in range(n)
    ]
    return reduce(DataFrame.unionByName, parts)


REPLICATE = {"documents": replicate_docs, "embeddings": replicate_embeddings}


def write_replica(spark, sf_dir: str, out_dir: str, n: int) -> None:
    """Write every fixture table of ``sf_dir``, replicated ``n`` times, as
    one ``<table>.parquet`` file each under ``out_dir``."""
    from kcl_akka_stream_spark.sources.batch import TABLE_NAMES, load_table

    for name in TABLE_NAMES:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if name in SHARED_TABLES:
            os.symlink(os.path.abspath(os.path.join(sf_dir, f"{name}.parquet")), dst)
            continue
        rep = REPLICATE.get(name, replicate_keys)(load_table(spark, sf_dir, name), n)
        parts = os.path.join(out_dir, f"{name}.parts")
        rep.coalesce(1).write.parquet(parts)
        [part] = [f for f in os.listdir(parts) if f.endswith(".parquet")]
        os.rename(os.path.join(parts, part), dst)
        shutil.rmtree(parts)


def measure(runners, name: str, reps: int) -> list[dict]:
    """``clearCache`` + ``System.gc``, one warm-up run per runner, then
    ``reps`` timed runs per runner, the runners' order reversed on every
    other round; per runner, the median of ``total_s`` and of each layer."""
    spark = runners[0].spark
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    for r in runners:
        r.run(name)
    samples = [[] for _ in runners]
    for rep in range(reps):
        order = range(len(runners)) if rep % 2 == 0 else reversed(range(len(runners)))
        for k in order:
            _, c_s, e_s, layers = runners[k].run(name)
            samples[k].append({"total_s": c_s + e_s, **layers})
    return [{key: median([s[key] for s in runs]) for key in runs[0]} for runs in samples]


def probe(spark, sf_dir: str, names, reps: int, scale: int = 1):
    """One result dict per query name (see the module docstring)."""
    tracer = Tracer("probe", enabled=True)
    base = QueryRunner(spark, sf_dir, tracer)
    if scale == 1:
        for name in names:
            [res] = measure([base], name, reps)
            yield {"query": name, "reps": reps, **res}
        return
    tmp = tempfile.mkdtemp(prefix=f"query_probe_x{scale}_")
    try:
        write_replica(spark, sf_dir, tmp, scale)
        scaled = QueryRunner(spark, tmp, tracer)
        for name in names:
            one, many = measure([base, scaled], name, reps)
            yield {"query": name, "reps": reps, "scale": scale, "ratio": many["total_s"] / one["total_s"],
                   "1x": one, f"{scale}x": many, "layer_ratio": {k: many[k] / one[k] for k in one if one[k]}}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main(argv=None) -> int:
    from kcl_akka_stream_spark.sources.batch import DEFAULT_SF_DIR

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--scale", type=int, default=1)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args(argv)
    if args.reps < 1 or args.scale < 1:
        ap.error("--reps and --scale must be at least 1")

    from kcl_akka_stream_spark.queries import QUERIES
    from kcl_akka_stream_spark.session import get_session

    unknown = [n for n in args.names if n not in QUERIES]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    spark = get_session("query_probe")
    for res in probe(spark, args.sf_dir, args.names, args.reps, args.scale):
        print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
