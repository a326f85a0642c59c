"""Embedding clustering: distributed Lloyd's k-means on DataFrames.

Beyond-reference extension (no counterpart in /root/reference).
Large-scale training-data-pipeline surface: corpus clustering for
diversity sampling / semantic dedup / IVF coarse quantizers
(operators/similarity.py ``ivf_topk`` consumes exactly this shape).

Scale shape per iteration:
- assignment: centroids (k rows) broadcast; each partition scores its
  vectors against all k map-side — the corpus never shuffles;
- update: posexplode to (cluster, dim, value) then one map-side
  combinable avg keyed by (cluster, dim) — shuffle rows are k × d after
  partial aggregation, not N × d.

The distance fold is float64 left-to-right (operators/similarity.py
convention) so the DuckDB oracle reproduces assignment exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kcl_akka_stream_spark.operators.similarity import dot
from kcl_akka_stream_spark.plans.hygiene import spread


def _dist2(a, b):
    """Squared L2 distance, sequential float64 fold."""
    diff = F.zip_with(a, b, lambda x, y: x.cast("double") - y.cast("double"))
    return dot(diff, diff)


def kmeans_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cluster_id",
    centroid_vec_col: str = "centroid",
    keep_distance: bool = False,
    keep_vector: bool = False,
) -> DataFrame:
    """Assign each vector to its nearest centroid (squared L2, ties broken on
    the lower cluster id).  Centroids broadcast; one agg keyed by vector.

    ``keep_distance`` adds the RAW (unrounded) squared distance as ``d2``
    next to the 6-dp ``dist2`` -- the inertia report freezes it to
    integer micro-units and needs the exact IEEE value, not the decimal
    rounding (double-rounding can flip the micro-unit on .5 boundaries).

    ``keep_vector`` (r16, guide §1.2 remove whole passes) carries the
    input vector through the arg-min as a ``vec_col`` output column, so
    consumers that need (id, cluster, vector) -- the IVF index build,
    ``kmeans_update``, semantic dedup's cluster attach -- read it
    straight off the assignment instead of re-scanning the corpus and
    joining the assignment back on id.  The vector rides the existing
    per-id partial aggregation (every row of an id's group holds the
    identical array, ``first`` picks it), adding no join and no extra
    exchange; results of all previous columns are unchanged."""
    from kcl_akka_stream_spark.plans.hygiene import spread

    c = centroids.select(
        F.col(centroid_id_col).alias("__cid"), F.col(centroid_vec_col).alias("__cvec")
    )
    scored = spread(vectors.select(id_col, vec_col)).crossJoin(F.broadcast(c)).select(
        id_col,
        *([F.col(vec_col)] if keep_vector else []),
        F.col("__cid"),
        _dist2(F.col(vec_col), F.col("__cvec")).alias("__d2"),
    )
    aggs = [F.min(F.struct(F.col("__d2"), F.col("__cid"))).alias("__best")]
    if keep_vector:
        aggs.append(F.first(F.col(vec_col)).alias(vec_col))
    best = scored.groupBy(id_col).agg(*aggs)
    out = best.select(
        id_col,
        F.col("__best.__cid").alias("cluster_id"),
        F.round(F.col("__best.__d2"), 6).alias("dist2"),
        F.col("__best.__d2").alias("d2"),
        *([F.col(vec_col)] if keep_vector else []),
    )
    return out if keep_distance else out.drop("d2")


def kmeans_update(
    vectors: DataFrame | None,
    assignment: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recompute centroids as the element-wise mean of each cluster's
    vectors.  posexplode → avg keyed by (cluster, dim) combines map-side;
    the rebuilt centroid arrays are k × d rows total.

    ``vectors`` is joined to the assignment on ``id_col``.  Pass ``None``
    when the assignment itself carries ``vec_col``
    (``kmeans_assign(keep_vector=True)``): the join is skipped (r16,
    guide §1.2), since the assignment has exactly one row per vector id
    with the identical array -- same rows in, same means out.  ``None``
    with an assignment lacking ``vec_col`` raises ``ValueError``."""
    if vectors is None:
        if vec_col not in assignment.columns:
            raise ValueError(
                f"kmeans_update(None, ...) needs the assignment to carry {vec_col!r}; "
                f"it has {assignment.columns}"
            )
        joined = assignment.select("cluster_id", vec_col)
    else:
        joined = vectors.join(assignment.select(id_col, "cluster_id"), id_col)
    # NO spread (r10 measured): 2.4x regression -- the k*d posexplode over
    # the tiny vectors relation is cheaper than an extra shuffle + 32-task
    # stage (sf0.1 minibench); see SPREAD_AUDIT_ALLOW.
    dims = joined.select(
        "cluster_id", F.posexplode(vec_col).alias("dim", "val")
    )
    means = dims.groupBy("cluster_id", "dim").agg(
        F.avg(F.col("val").cast("double")).alias("mval")
    )
    return (
        means.groupBy("cluster_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mval"))),
                lambda s: s.getField("mval"),
            ).alias("centroid")
        )
    )


def kmeans(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Deterministic Lloyd's k-means: init = the k lowest-id vectors
    (reproducible across engines/runs — swap in k-means|| off this
    skeleton when seeding quality matters).  Returns (assignment,
    centroids).  Each iteration is one broadcast-assign + one combinable
    update; centroids are localCheckpointed so the lineage stays flat
    across iterations (the connected-components discipline,
    operators/dedup.py)."""
    w = vectors.orderBy(id_col).limit(k)
    centroids = w.select(
        F.col(id_col).cast("long").alias("cluster_id"),
        F.col(vec_col).alias("centroid"),
    ).localCheckpoint(eager=True)
    assignment = kmeans_assign(vectors, centroids, id_col, vec_col)
    for _ in range(iters - 1):
        centroids = kmeans_update(vectors, assignment, id_col, vec_col).localCheckpoint(
            eager=True
        )
        assignment = kmeans_assign(vectors, centroids, id_col, vec_col)
    return assignment, centroids


def _pq_quantize(col):
    """Micro-unit integer rendering of a float vector: ``floor(x * 1e6 +
    0.5)`` per element, as int64 -- the PQ family's shared convention.
    Integer squared distances are order-independent and EXACT, so the
    Arrow kernel, the relational twin, and the SQL oracle all agree
    bit-for-bit (the ``random_sign_projection`` discipline)."""
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * 1e6 + F.lit(0.5)).cast("long")
    )


def _pq_idist2(a, b):
    """Exact integer squared L2 between two micro-unit int64 arrays."""
    d = F.zip_with(a, b, lambda x, y: x - y)
    return F.aggregate(
        F.zip_with(d, d, lambda x, y: x * y), F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def pq_assign(
    vectors: DataFrame,
    codebook_vectors: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encoding (Jegou et al. 2011, public),
    RELATIONAL form: split each vector into ``m`` contiguous subvectors
    and assign each to its nearest code in that subspace's codebook --
    the compression step of IVF-PQ, the index family serving
    billion-vector ANN in production.  An encoded vector is m small
    integers instead of d floats; distance evaluation against the codes
    happens per-subspace via lookup tables.

    All arithmetic is EXACT int64 micro-units (``_pq_quantize``):
    distances are order-independent integer sums, ties break on the
    lower code -- bit-reproducible by any engine.  ``codebook_vectors``
    supplies the codebooks: its rows' slices are the per-subspace codes
    keyed by ``id_col`` (deterministic here; a k-means-trained codebook
    drops into the same shape).  Codebooks broadcast; the corpus pays
    one vector-keyed argmin agg per subspace.  ``pq_encode`` is the
    map-only Arrow twin (zero exchanges), pytest-pinned identical.

    Output: (id, sub_id, code, d2_micro2) -- one row per
    (vector, subspace); d2_micro2 = exact integer squared L2 in
    micro^2 units.  Ragged vectors raise.
    """
    from functools import reduce

    probe = vectors.select(F.size(vec_col).alias("d")).first()
    dims = probe["d"] if probe is not None else 0
    if dims % m != 0:
        raise ValueError(
            f"pq_assign: vector length {dims} not divisible by m={m}"
        )
    sub = dims // m
    from kcl_akka_stream_spark.plans.hygiene import spread

    outs = []
    for s in range(m):
        sl = _pq_quantize(F.slice(F.col(vec_col), s * sub + 1, sub))
        vs = spread(vectors.select(id_col, vec_col)).select(
            F.col(id_col), sl.alias("__subvec")
        )
        cs = codebook_vectors.select(
            F.col(id_col).cast("long").alias("__code"), sl.alias("__subcode")
        )
        scored = vs.crossJoin(F.broadcast(cs)).select(
            id_col,
            "__code",
            _pq_idist2(F.col("__subvec"), F.col("__subcode")).alias("__d2"),
        )
        best = scored.groupBy(id_col).agg(
            F.min(F.struct(F.col("__d2"), F.col("__code"))).alias("__best")
        )
        outs.append(
            best.select(
                F.col(id_col),
                F.lit(s).cast("long").alias("sub_id"),
                F.col("__best.__code").cast("long").alias("code"),
                F.col("__best.__d2").cast("long").alias("d2_micro2"),
            )
        )
    return reduce(DataFrame.unionByName, outs)


def pq_encode(
    vectors: DataFrame,
    codebook_vectors: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_codebook_rows: int = 4096,
    dims: int | None = None,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """MAP-ONLY Arrow product-quantization encode: the production twin
    of ``pq_assign``.  PQ codebooks are tiny BY CONSTRUCTION (m x k x
    sub values -- that is the whole point of the method), so the
    codebook is collected once driver-side, quantized to int64
    micro-units, and closure-shipped into ONE ``mapInPandas`` pass that
    computes all m argmins per vector with vectorized int64 numpy --
    ZERO exchanges, where the compositional ``pq_assign`` pays m
    vector-keyed agg shuffles.  At 100 TB encoding is a pure map over
    the corpus, exactly how PQ indexes are built in production.

    Integer arithmetic is order-independent, so the result is
    bit-identical to ``pq_assign`` and to the SQL oracle (pytest-pinned;
    ties break on the lower code -- numpy argmin picks the first
    occurrence of the min, codebook rows sorted by code).

    ``max_codebook_rows`` guards the collect (a codebook that large
    stopped being a codebook); empty codebooks and ragged vectors
    raise.  Output: (id, sub_id, code, d2_micro2), same as
    ``pq_assign``.

    ``dims`` (r16, guide §1.2): callers that already probed the vector
    length pass it in to skip this function's own dims-probe job.
    ``passthrough`` names extra ``vectors`` columns to carry verbatim
    onto every output row (e.g. a cluster id), so consumers stop paying
    a join to re-attach them.
    """
    import numpy as np
    import pandas as pd

    if dims is None:
        probe = vectors.select(F.size(vec_col).alias("d")).first()
        dims = probe["d"] if probe is not None else 0
    if dims % m != 0:
        raise ValueError(f"pq_encode: vector length {dims} not divisible by m={m}")
    sub = dims // m
    passthrough = list(passthrough or [])
    rows = (
        codebook_vectors.select(
            F.col(id_col).cast("long").alias("code"), F.col(vec_col).alias("v")
        )
        .limit(max_codebook_rows + 1)
        .collect()
    )
    if len(rows) > max_codebook_rows:
        raise ValueError(
            f"pq_encode: codebook exceeds max_codebook_rows={max_codebook_rows}"
        )
    if not rows:
        raise ValueError("pq_encode: empty codebook")
    rows = sorted(rows, key=lambda r: r["code"])
    code_ids = np.array([r["code"] for r in rows], dtype=np.int64)
    cb = np.floor(
        np.array([r["v"] for r in rows], dtype=np.float64) * 1e6 + 0.5
    ).astype(np.int64)  # (k, dims)

    pt_fields = ""
    if passthrough:
        dtypes = dict(vectors.dtypes)
        pt_fields = "".join(f", {c} {dtypes[c]}" for c in passthrough)
    out_schema = (
        f"{id_col} long, sub_id long, code long, d2_micro2 long{pt_fields}"
    )

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            V = np.floor(
                np.stack(pdf[vec_col].to_numpy()).astype(np.float64) * 1e6 + 0.5
            ).astype(np.int64)  # (n, dims)
            if V.shape[1] != dims:
                raise ValueError("pq_encode: ragged vector batch")
            n = len(ids)
            for s in range(m):
                vs = V[:, s * sub : (s + 1) * sub]  # (n, sub)
                cs = cb[:, s * sub : (s + 1) * sub]  # (k, sub)
                diff = vs[:, None, :] - cs[None, :, :]  # (n, k, sub)
                d2 = (diff * diff).sum(axis=2)  # exact int64
                idx = d2.argmin(axis=1)  # first min = lowest code
                out = {
                    id_col: ids,
                    "sub_id": np.full(n, s, dtype=np.int64),
                    "code": code_ids[idx],
                    "d2_micro2": d2[np.arange(n), idx],
                }
                for c in passthrough:
                    out[c] = pdf[c].to_numpy()
                yield pd.DataFrame(out)

    # NO spread (r10 measured): 1.8x regression on the tiny embeddings
    # input (sf0.1 minibench); see SPREAD_AUDIT_ALLOW.
    return vectors.select(id_col, vec_col, *passthrough).mapInPandas(
        encode, schema=out_schema
    )
