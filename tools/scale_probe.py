"""Scale probe: time the heavy operator families at 1x and Nx the sf0.1
documents/embeddings tables and report the runtime ratio.

Replicas are deterministically perturbed (vowel rotation per replica) so
the Nx corpus has Nx distinct content -- shingle/bucket group sizes stay
realistic instead of degenerating into N-way duplicate cliques.

Usage: python tools/scale_probe.py [sf_dir] [replication]
Prints one line per (operator, scale) plus the Nx/1x ratio; a ratio near
the replication factor = linear scaling, the 100 TB prerequisite.
"""

from __future__ import annotations

import os
import sys
import time
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from kcl_akka_stream_spark.operators import clustering as CL
from kcl_akka_stream_spark.operators import corpus as C
from kcl_akka_stream_spark.operators import dedup as D
from kcl_akka_stream_spark.operators import quality as Q
from kcl_akka_stream_spark.operators import similarity as S
from kcl_akka_stream_spark.operators import text as X
from kcl_akka_stream_spark.session import get_session
from kcl_akka_stream_spark.sources.batch import load_table

VOWELS = "aeiou"


CONSONANTS = "bcdfghjklmnpqrstvwxz"


def replicate_docs(docs: DataFrame, n: int) -> DataFrame:
    # Perturbation must be INJECTIVE per replica: the first version
    # rotated vowels by i % 5 only, so with n=10 replica i and i+5 were
    # byte-identical -- the "10x distinct content" claim was false and
    # the 10x corpus carried 25k built-in exact-dup pairs, inflating
    # every candidate-verify probe (~100x more candidate work read as a
    # 19x wall "regression" in dedup_edit_verified).  Rotating
    # consonants by i // 5 as well makes all (i%5, i//5) pairs distinct
    # for n <= 100, so every replica differs from every other in most
    # shingles.
    parts = []
    for i in range(n):
        rot = VOWELS[i % 5 :] + VOWELS[: i % 5]
        crot_n = (i // 5) % len(CONSONANTS)
        crot = CONSONANTS[crot_n:] + CONSONANTS[:crot_n]
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                F.translate(
                    F.translate(F.col("text"), VOWELS, rot), CONSONANTS, crot
                ).alias("text"),
            )
        )
    return reduce(DataFrame.unionByName, parts)


def replicate_embeddings(emb: DataFrame, n: int) -> DataFrame:
    parts = []
    for i in range(n):
        parts.append(
            emb.select(
                (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                F.transform(
                    "embedding", lambda x: x + F.lit(float(i)) * F.lit(1e-4)
                ).alias("embedding"),
                F.col("label"),
            )
        )
    return reduce(DataFrame.unionByName, parts)


def timed(fn, warm: bool = True) -> float:
    if warm:
        fn().write.format("noop").mode("overwrite").save()
    best = None
    for _ in range(2):
        t0 = time.time()
        fn().write.format("noop").mode("overwrite").save()
        e = time.time() - t0
        best = e if best is None else min(best, e)
    return best


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    repl = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_session("scale_probe")
    docs1 = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb1 = load_table(spark, sf_dir, "embeddings")
    docs_n = replicate_docs(docs1, repl).localCheckpoint()
    emb_n = replicate_embeddings(emb1, repl).localCheckpoint()
    print(f"# corpus: {docs1.count()} docs (1x) vs {docs_n.count()} docs ({repl}x)")

    from kcl_akka_stream_spark.operators import multimodal as MM
    from kcl_akka_stream_spark.operators import sampling as SA2
    from kcl_akka_stream_spark.queries.pipeline import (
        _jpeg_media,
        _mp3_media,
        _mp4_media,
        _wav_media,
    )

    def _wav_census(d):
        parsed = MM.parse_wav_header(_wav_media(d))
        return parsed.groupBy("sample_rate", "channels").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("duration_us").alias("tot_us"),
        )

    def _mp4_census(d):
        parsed = MM.parse_mp4_header(_mp4_media(d))
        return parsed.groupBy("brand", "timescale").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("duration_ms").alias("tot_ms"),
        )

    def _jpeg_census(d):
        parsed = MM.parse_jpeg_header(_jpeg_media(d))
        return parsed.groupBy("sof_kind", "n_components").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_pixels").alias("tot_px"),
        )

    def _mp3_census(d):
        parsed = MM.parse_mp3_header(_mp3_media(d))
        return parsed.groupBy("sample_rate", "bitrate_kbps").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("duration_ms").alias("tot_ms"),
        )

    def _kneser_pairs(d):
        # the data-sized portion of text_kneser_ney: the bigram pair agg
        # plus the model relations derived from it
        from kcl_akka_stream_spark.operators.text import tokens as _toks
        from kcl_akka_stream_spark.plans.hygiene import spread as _spread

        t = _toks(F.col("text"))
        pair_struct = F.zip_with(
            F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
            F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        )
        pairs = (
            _spread(d.select("text"))
            .select(F.explode(pair_struct).alias("p"))
            .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        )
        pc = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_ab"))
        return pc.groupBy("a").agg(
            F.sum("n_ab").alias("c1"), F.count(F.lit(1)).alias("n1w1")
        )

    def _dirichlet_scores(d):
        # tf agg + per-doc scoring join against a FIXED 5-term query
        from kcl_akka_stream_spark.operators.text import tokens as _toks
        from kcl_akka_stream_spark.plans.hygiene import spread as _spread

        tf = (
            _spread(d.select("doc_id", "text"))
            .select("doc_id", F.explode(_toks(F.col("text"))).alias("tok"))
            .groupBy("doc_id", "tok")
            .agg(F.count(F.lit(1)).alias("c_td"))
        )
        dl = tf.groupBy("doc_id").agg(F.sum("c_td").alias("dlen"))
        cf = tf.groupBy("tok").agg(F.sum("c_td").alias("cf"))
        q = cf.orderBy(F.col("cf").desc(), "tok").limit(5)
        return (
            dl.crossJoin(F.broadcast(q))
            .join(tf, ["doc_id", "tok"], "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("nq"))
        )

    def _prefix_candidates(d):
        # the candidate-generation portion of dedup_prefix_filter_pairs
        from pyspark.sql import Window as _W

        sh = D._exploded_shingles(d, "text", "doc_id", 3)
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        w = _W.partitionBy("doc_id").orderBy("df", "shingle")
        pref = (
            sh.join(freq, "shingle")
            .join(sizes, "doc_id")
            .select(
                "doc_id", "shingle", "n_sh",
                F.row_number().over(w).alias("rn"),
            )
            .filter(F.expr("rn <= n_sh - (8 * n_sh + 9) div 10 + 1"))
            .select("doc_id", "shingle")
        )
        a = pref.select(F.col("doc_id").alias("id_a"), "shingle")
        b = pref.select(F.col("doc_id").alias("id_b"), "shingle")
        return (
            a.join(b, "shingle")
            .filter("id_a < id_b")
            .select("id_a", "id_b")
            .distinct()
        )

    def _qmodel_score(d):
        from kcl_akka_stream_spark.operators.quality import (
            hashed_logodds_fit_score,
        )
        from kcl_akka_stream_spark.queries.pipeline import _qmodel_fixture

        return hashed_logodds_fit_score(_qmodel_fixture(d)).groupBy(
            "label", "pred"
        ).agg(F.count(F.lit(1)).alias("n"))

    def _heaps_prefix_vocab(d):
        # the data-sized portion of text_heaps_law AFTER the r15 rewrite
        # (VERDICT r14 #2): 3-gram explode -> doc-length agg -> TWO-PASS
        # bucketed rank (per-bucket windows + broadcast prefix offsets,
        # no unpartitioned global window) -> first-seen agg -> 10-row
        # threshold join.  The 10-row LS fit is excluded (constant).
        from pyspark.sql import Window as _W

        from kcl_akka_stream_spark.operators.dedup import positional_windows
        from kcl_akka_stream_spark.plans.hygiene import spread as _spread

        tk = (
            _spread(d.select("doc_id", "text"))
            .select(
                "doc_id",
                F.explode(positional_windows(F.col("text"), 3)).alias("tok"),
            )
            .localCheckpoint(eager=True)
        )
        dl = tk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_toks"))
        P = 32
        bounds = dl.agg(
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
            F.count(F.lit(1)).alias("nd"),
        )
        bw = dl.crossJoin(F.broadcast(bounds)).select(
            "doc_id", "n_toks", "nd",
            F.expr(f"(doc_id - lo) div (((hi - lo) div {P}) + 1)").alias("bkt"),
        )
        wloc = _W.partitionBy("bkt").orderBy("doc_id")
        loc = bw.select(
            "doc_id", "nd", "bkt",
            F.row_number().over(wloc).alias("lrn"),
            F.sum("n_toks")
            .over(wloc.rowsBetween(_W.unboundedPreceding, 0))
            .alias("lcum"),
        )
        tot = loc.groupBy("bkt").agg(
            F.max("lrn").alias("bn"), F.max("lcum").alias("bt")
        )
        wb = _W.orderBy("bkt")  # bounded: <= P+1 rows
        off = tot.select(
            "bkt",
            (F.sum("bn").over(wb.rowsBetween(_W.unboundedPreceding, 0)) - F.col("bn")).alias("rn_off"),
            (F.sum("bt").over(wb.rowsBetween(_W.unboundedPreceding, 0)) - F.col("bt")).alias("tok_off"),
        )
        rk = loc.join(F.broadcast(off), "bkt").select(
            "doc_id",
            (F.col("lrn") + F.col("rn_off")).alias("rn"),
            (F.col("lcum") + F.col("tok_off")).alias("cum_toks"),
            "nd",
        )
        ks = d.sparkSession.range(1, 11).select(F.col("id").alias("decile"))
        th = (
            rk.crossJoin(F.broadcast(ks))
            .filter(F.expr("rn = (decile * nd) div 10"))
            .select(
                "decile",
                F.col("doc_id").alias("cut_doc"),
                F.col("cum_toks").alias("prefix_tokens"),
            )
        )
        fst = tk.groupBy("tok").agg(F.min("doc_id").alias("fd"))
        return (
            fst.crossJoin(F.broadcast(th))
            .filter(F.col("fd") <= F.col("cut_doc"))
            .groupBy("decile", "prefix_tokens")
            .agg(F.count(F.lit(1)).alias("vocab"))
        )

    def _with_lang(d):
        # replicas carry (doc_id, text) only; the round-15 census ops
        # group by lang -- derive a deterministic 5-way lang from doc_id
        return d.withColumn(
            "lang", F.expr("CAST(doc_id % 5 AS STRING)")
        )

    def _pii_census(d):
        from kcl_akka_stream_spark.queries.pipeline import (
            _PII_PATTERNS,
            _pii_fixture,
        )

        proj = _pii_fixture(_with_lang(d)).select(
            "lang",
            *[
                F.expr(f"regexp_extract_all(text2, '{p}', 0)").alias(k)
                for k, p in _PII_PATTERNS.items()
            ],
        )
        return proj.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.expr(f"size({k})")).alias(f"n_{k}") for k in _PII_PATTERNS],
        )

    def _repetition_census(d):
        from kcl_akka_stream_spark.operators.dedup import positional_windows

        per = _with_lang(d).select(
            "lang",
            F.size(positional_windows(F.col("text"), 3)).alias("n3"),
            F.size(
                F.array_distinct(positional_windows(F.col("text"), 3))
            ).alias("d3"),
        ).filter(F.col("n3") > 0)
        return per.groupBy("lang").agg(
            F.sum(F.expr("1000000 * (n3 - d3) div n3")).alias("s")
        )

    def _chao1_spectrum(d):
        from kcl_akka_stream_spark.operators.dedup import positional_windows

        gc = (
            _with_lang(d)
            .select(
                "lang",
                F.explode(positional_windows(F.col("text"), 3)).alias("g"),
            )
            .groupBy("lang", "g")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return gc.groupBy("lang").agg(
            F.count(F.lit(1)).alias("v"),
            F.sum(F.expr("CASE WHEN c = 1 THEN 1 ELSE 0 END")).alias("f1"),
            F.sum(F.expr("CASE WHEN c = 2 THEN 1 ELSE 0 END")).alias("f2"),
        )

    def _mattr_census(d):
        from kcl_akka_stream_spark.operators.text import TOKEN_PATTERN

        w = 20
        per = _with_lang(d).select(
            "lang",
            F.expr(f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}', 0)").alias("t"),
        ).filter(F.expr("size(t) > 0")).select(
            "lang",
            F.expr(
                f"CASE WHEN size(t) >= {w} THEN"
                f" aggregate(transform(sequence(1, size(t) - {w - 1}),"
                f"   i -> 1000000 * size(array_distinct(slice(t, i, {w})))),"
                "   0L, (a, x) -> a + x)"
                f"   div (size(t) - {w - 1}) div {w}"
                " ELSE 1000000 * size(array_distinct(t)) div size(t) END"
            ).alias("m"),
        )
        return per.groupBy("lang").agg(F.sum("m").alias("s"))

    def _pps_picks(d):
        from kcl_akka_stream_spark.operators.text import TOKEN_PATTERN
        from kcl_akka_stream_spark.operators.windows import (
            distributed_cumsum,
        )

        k = 100
        wdoc = d.select(
            "doc_id",
            F.expr(
                f"CAST(size(regexp_extract_all(lower(text),"
                f" '{TOKEN_PATTERN}', 0)) AS BIGINT)"
            ).alias("w"),
        )
        cum = distributed_cumsum(wdoc, "doc_id", "w", cum_col="c_hi")
        tot = wdoc.agg(
            F.expr(f"greatest(CAST(sum(w) AS BIGINT) div {k}, 1)").alias("step"),
            F.expr(
                f"greatest(CAST(sum(w) AS BIGINT) div {k}, 1) div 2"
            ).alias("strt"),
        )
        return (
            cum.crossJoin(F.broadcast(tot))
            .select(
                "doc_id",
                F.expr(
                    f"least((c_hi - strt + step - 1) div step, {k})"
                    f" - least((c_hi - w - strt + step - 1) div step, {k})"
                ).alias("picks"),
            )
            .filter(F.col("picks") > 0)
        )

    ops = {
        "dedup_exact": lambda d: D.exact_dedup(d),
        "dedup_simhash": lambda d: D.simhash(d),
        "dedup_minhash_lsh": lambda d: D.minhash_candidate_pairs(D.minhash_lsh_buckets(d)),
        "dedup_minhash_capped": lambda d: D.minhash_candidate_pairs(
            D.minhash_lsh_buckets(d), max_bucket_size=3
        ),
        "dedup_ngram_jaccard": lambda d: D.ngram_jaccard_pairs(d, threshold=0.5),
        "dedup_jaccard_capped": lambda d: D.ngram_jaccard_pairs(
            d, threshold=0.5, max_doc_freq=3
        ),
        "text_rolling_fp": lambda d: X.rolling_fingerprint(d),
        "quality_flags": lambda d: Q.gopher_quality_flags(d),
        "dedup_segments": lambda d: C.dedup_segments(d, seg_tokens=3, max_doc_freq=3),
        # round-12 wave 43/44: container-header census (map-only byte
        # ops) and the MinHash decontamination twin (eval side FIXED at
        # 1x while the corpus scales -- the realistic posture: the
        # benchmark suite does not grow with the crawl)
        "multimodal_wav_census": lambda d: _wav_census(d),
        "multimodal_mp4_census": lambda d: _mp4_census(d),
        # round-13 wave 57: JPEG SOF walk + MP3 frame census (map-only)
        "multimodal_jpeg_census": lambda d: _jpeg_census(d),
        "multimodal_mp3_census": lambda d: _mp3_census(d),
        # round-13 wave 58: hashed-NB quality model (fit + held-out score)
        "quality_model_score": lambda d: _qmodel_score(d),
        "decontam_fuzzy": lambda d: C.decontaminate_fuzzy(
            d, docs1.filter(F.col("doc_id") % 97 == 0)
        ),
        # round-12 wave 45/46: DSIR selection (target FIXED at 1x, the
        # benchmark-suite posture), CC chaining audit over verified
        # pairs, exact-substring span coverage
        "sample_dsir": lambda d: SA2.dsir_select(
            d, docs1.filter(F.col("doc_id") % 97 == 0), k=100
        ),
        "dedup_chain_audit": lambda d: D.chain_audit(
            D.verify_candidate_jaccard(
                d,
                D.minhash_candidate_pairs(D.minhash_lsh_buckets(d)),
                threshold=0.5,
            )
        ),
        "dedup_span_coverage": lambda d: D.duplicate_span_coverage(d, k=8),
        # round-14 waves 76/77/79/80: KN bigram model, CDC chunking,
        # Dirichlet QL scoring, prefix-filter candidate generation --
        # each probe replicates the query's data-sized portion
        "dedup_cdc_chunks": lambda d: D.cdc_chunks(d, k=8, mod=64)
        .groupBy("chunk_hash")
        .agg(F.count(F.lit(1)).alias("n")),
        "text_kneser_ney": lambda d: _kneser_pairs(d),
        "text_dirichlet_ql": lambda d: _dirichlet_scores(d),
        "dedup_prefix_filter": lambda d: _prefix_candidates(d),
        # round-15: Heaps'-law prefix-vocab after the two-pass bucketed
        # rank rewrite (VERDICT r14 #2)
        "text_heaps_rank": lambda d: _heaps_prefix_vocab(d),
        # round-15 waves 85-92: PII census, repetition flags, Chao1
        # spectrum, MATTR diversity, PPS systematic sampling -- each
        # replicates the query's data-sized portion over (doc_id, text)
        "text_pii_scan": lambda d: _pii_census(d),
        "text_repetition": lambda d: _repetition_census(d),
        "agg_chao1": lambda d: _chao1_spectrum(d),
        "text_mattr": lambda d: _mattr_census(d),
        "sample_pps": lambda d: _pps_picks(d),
    }
    only = os.environ.get("SCALE_PROBE_ONLY")
    if only:
        # doc-shaped subset re-measure (new-wave rows): run just the
        # named ops, then stop before the embeddings/storage sections
        ops = {k: v for k, v in ops.items() if k in only.split(",")}
        for name, op in ops.items():
            t1 = timed(lambda: op(docs1))
            tn = timed(lambda: op(docs_n))
            print(
                f"{name:22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s"
                f"  ratio={tn / t1:5.2f}"
            )
        return
    for name, op in ops.items():
        t1 = timed(lambda: op(docs1))
        tn = timed(lambda: op(docs_n))
        print(f"{name:22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    def knn(e):
        return S.brute_force_topk_vectorized(e, e.filter(F.col("vec_id") < 5), k=5)

    def near_dup_lsh(e):
        return S.embedding_near_dup_pairs(e, threshold=0.35, lsh_dims=4)

    def near_dup_lsh_capped(e):
        # the production path (emb_near_dup_lsh_capped): dims derived from
        # the corpus count so blocks stay ~target-sized at any scale, cap
        # as the skewed-tail guard, Arrow per-block pair scoring
        return S.embedding_near_dup_pairs(
            e, threshold=0.35, target_block_size=32, max_block_size=200
        )

    def near_dup_lsh8(e):
        # fixed-dims comparison point (16 -> 256 blocks regardless of n)
        return S.embedding_near_dup_pairs(e, threshold=0.35, lsh_dims=8)

    def kmeans_assign(e):
        centroids = e.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").cast("long").alias("cluster_id"),
            F.col("embedding").alias("centroid"),
        )
        return CL.kmeans_assign(e, centroids)

    def semantic_frozen(e):
        # frozen k=8: the quadratic-per-cluster anti-pattern, kept for
        # contrast (the operator docstring points here)
        return S.semantic_dedup(e, threshold=0.4, n_clusters=8)

    def semantic_auto(e):
        # production shape: cluster count derived from the corpus
        return S.semantic_dedup(e, threshold=0.4, target_cluster_size=64)

    for name, op, frames in (
        ("sim_topk_vectorized", knn, (emb1, emb_n)),
        ("emb_near_dup_lsh", near_dup_lsh, (emb1, emb_n)),
        ("emb_near_dup_capped", near_dup_lsh_capped, (emb1, emb_n)),
        ("emb_near_dup_lsh8", near_dup_lsh8, (emb1, emb_n)),
        ("kmeans_assign", kmeans_assign, (emb1, emb_n)),
        ("emb_quantize_int8", lambda e: S.quantize_int8(e), (emb1, emb_n)),
        ("dedup_semantic (k=8)", semantic_frozen, (emb1, emb_n)),
        ("dedup_semantic_auto", semantic_auto, (emb1, emb_n)),
    ):
        t1 = timed(lambda: op(frames[0]))
        tn = timed(lambda: op(frames[1]))
        print(f"{name:22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # --- round-5 storage / skew / sampling operators (VERDICT r5 #5) ----
    import shutil
    import tempfile
    import uuid

    from kcl_akka_stream_spark.operators import sampling as SA
    from kcl_akka_stream_spark.operators.skew import null_bypass_left_join
    from kcl_akka_stream_spark.sources.bucketed import drop_table, write_bucketed

    def timed_action(fn) -> float:
        fn()  # warm
        best = None
        for _ in range(2):
            t0 = time.time()
            fn()
            e = time.time() - t0
            best = e if best is None else min(best, e)
        return best

    def weighted(d: DataFrame) -> DataFrame:
        return SA.weighted_sample_topk(
            d, weight_col=F.length("text") % 8 + 1, k=100
        )

    for name, op, frames in (
        ("sample_weighted", weighted, (docs1, docs_n)),
    ):
        t1 = timed(lambda: op(frames[0]))
        tn = timed(lambda: op(frames[1]))
        print(f"{name:22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # round-12: SCD2 build + consistency audit -- replication adds KEYS
    # (user offset per replica), the dimension a keyed window op scales
    # in; per-key depth is unchanged, so linear ratio = the window and
    # both audit aggs ride the user hash partitioning.
    from kcl_akka_stream_spark.operators import cdc as CDC

    ev1 = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    ev_parts2 = [ev1] + [
        ev1.select(
            (F.col("user_id") + F.lit(1_000_000 * i)).alias("user_id"),
            (F.col("event_id") + F.lit(100_000_000 * i)).alias("event_id"),
            "event_type",
            "ts",
        )
        for i in range(1, repl)
    ]
    ev_n2 = reduce(DataFrame.unionByName, ev_parts2).localCheckpoint()

    def scd2_audit(e: DataFrame) -> DataFrame:
        return CDC.scd2_consistency(CDC.scd2_compact(e))

    t1 = timed(lambda: scd2_audit(ev1))
    tn = timed(lambda: scd2_audit(ev_n2))
    print(f"{'scd2_consistency':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # bucketed co-located join: the write is the amortized offline cost,
    # so only the join is timed -- the lever's whole point is paying the
    # shuffle once at write time.
    def bucketed_join_time(d: DataFrame, tag: str) -> float:
        base = tempfile.mkdtemp(prefix="kcl_probe_bkt_")
        ta, tb = f"sp_a_{tag}", f"sp_b_{tag}"
        try:
            write_bucketed(
                d.select(F.col("doc_id").alias("k"), F.length("text").alias("va")),
                ta, f"{base}/a", "k",
            )
            write_bucketed(
                d.select(F.col("doc_id").alias("k"), (F.length("text") * 2).alias("vb")),
                tb, f"{base}/b", "k",
            )
            return timed(
                lambda: spark.table(ta)
                .hint("merge")
                .join(spark.table(tb), "k")
                .groupBy(F.pmod(F.col("k"), F.lit(16)).alias("g"))
                .agg(F.sum("va").alias("sa"), F.sum("vb").alias("sb"))
            )
        finally:
            drop_table(spark, ta)
            drop_table(spark, tb)
            shutil.rmtree(base, ignore_errors=True)

    tag = uuid.uuid4().hex[:8]
    t1 = bucketed_join_time(docs1, f"one_{tag}")
    tn = bucketed_join_time(docs_n, f"ten_{tag}")
    print(f"{'bucketed_join':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # null-skew bypass join: 30% null FK; broadcast disabled so the probe
    # exercises the shuffled-join shape the operator exists for.
    dim = spark.range(0, 1000).select(
        F.col("id").alias("fk"), (F.col("id") * 7).alias("dim_payload")
    ).localCheckpoint()

    def null_skew(d: DataFrame) -> DataFrame:
        fact = d.select(
            "doc_id",
            F.when(F.col("doc_id") % 10 < 3, F.lit(None))
            .otherwise(F.col("doc_id") % 1000)
            .alias("fk"),
        )
        return null_bypass_left_join(fact, dim, "fk")

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t1 = timed(lambda: null_skew(docs1))
        tn = timed(lambda: null_skew(docs_n))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    print(f"{'j_null_skew_bypass':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # shard compaction: timed end-to-end (fragmented write + compacting
    # rewrite) -- the op IS the write path.
    def compact(d: DataFrame) -> None:
        base = tempfile.mkdtemp(prefix="kcl_probe_compact_")
        try:
            n_rows = d.count()
            d.repartition(min(64, max(n_rows, 1))).write.mode("overwrite").parquet(
                f"{base}/small"
            )
            frag = spark.read.parquet(f"{base}/small")
            frag.repartition(-(-n_rows // 300)).write.mode("overwrite").parquet(
                f"{base}/compacted"
            )
        finally:
            shutil.rmtree(base, ignore_errors=True)

    t1 = timed_action(lambda: compact(docs1))
    tn = timed_action(lambda: compact(docs_n))
    print(f"{'pipeline_compact_shards':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # --- round-6 additions: TF-IDF top-k and z-order layout ------------
    from kcl_akka_stream_spark.operators import layout as LO

    def tfidf(d: DataFrame) -> DataFrame:
        return X.tfidf_topk(d, k=5)

    t1 = timed(lambda: tfidf(docs1))
    tn = timed(lambda: tfidf(docs_n))
    print(f"{'pipeline_tfidf_topk':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # z-order layout: timed end-to-end (key computation + range-partition
    # + sorted write) -- like compact_shards, the op IS the write path, so
    # the Nx run writes Nx the bytes.
    def zorder(d: DataFrame) -> None:
        base = tempfile.mkdtemp(prefix="kcl_probe_zorder_")
        try:
            keyed = d.select(
                "doc_id",
                (F.col("doc_id") % 256).alias("a"),
                (F.length("text") % 256).alias("b"),
            )
            z = keyed.withColumn(
                "zval", LO.interleave_bits([F.col("a"), F.col("b")], 8)
            )
            LO.zorder_write(z, f"{base}/z", "zval", n_files=8)
        finally:
            shutil.rmtree(base, ignore_errors=True)

    t1 = timed_action(lambda: zorder(docs1))
    tn = timed_action(lambda: zorder(docs_n))
    print(f"{'sink_zorder_write':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # --- round-6 wave: LM scoring / BPE stats / extension seams / graph ---
    from kcl_akka_stream_spark.functions.udtfs import register_udtfs
    from kcl_akka_stream_spark.operators.arrow_ops import doc_stats_arrow
    from kcl_akka_stream_spark.operators.graph import pagerank
    from kcl_akka_stream_spark.operators.tokenizer import pair_counts

    register_udtfs(spark)

    def unigram(d: DataFrame) -> DataFrame:
        return X.unigram_logprob(d)

    def bpe_pairs(d: DataFrame) -> DataFrame:
        return pair_counts(d, k=20)

    def token_runs(d: DataFrame) -> DataFrame:
        d.createOrReplaceTempView("probe_docs_runs")
        return spark.sql(
            "SELECT doc_id, r.run_idx, r.token, r.run_len "
            "FROM probe_docs_runs, LATERAL token_runs(text) r"
        )

    for name, op, frames in (
        ("text_unigram_lp", unigram, (docs1, docs_n)),
        ("bpe_pair_counts", bpe_pairs, (docs1, docs_n)),
        ("udtf_token_runs", token_runs, (docs1, docs_n)),
        ("arrow_doc_stats", doc_stats_arrow, (docs1, docs_n)),
    ):
        t1 = timed(lambda: op(frames[0]))
        tn = timed(lambda: op(frames[1]))
        print(f"{name:22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # PageRank: scale the GRAPH (nodes and edges together) by replicating
    # the doc->source bipartite relation under id offsets -- each replica
    # is a disjoint component, so ranks stay comparable while edge count
    # grows by the factor.
    def doc_edges(d: DataFrame) -> DataFrame:
        p = d.select(
            F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("src"),
            F.concat(
                F.lit("s"), ((F.col("doc_id") % 37) + (F.col("doc_id") / 10000).cast("long") * 37).cast("string")
            ).alias("dst"),
            F.lit(1).cast("long").alias("w"),
        )
        return p.unionByName(
            p.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )

    def pr(d: DataFrame) -> DataFrame:
        # pagerank() eagerly checkpoints its own edge base (round 8):
        # no caller-side cache to manage or leak.
        return pagerank(doc_edges(d), iterations=3, broadcast_ranks=True)

    t1 = timed(lambda: pr(docs1))
    tn = timed(lambda: pr(docs_n))
    print(f"{'graph_pagerank_3it':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # Personalized PageRank (VERDICT r7 #6): same disjoint-replica graph;
    # seeds live in replica 0, so seed-reachable work stays constant while
    # the graph grows by the factor -- the iteration machinery (edge base
    # checkpoint + node-sized rank joins) still touches every edge.
    from kcl_akka_stream_spark.operators.graph import personalized_pagerank

    def ppr(d: DataFrame) -> DataFrame:
        return personalized_pagerank(
            doc_edges(d), ["d1", "d2", "d3"], iterations=3,
            broadcast_ranks=True,
        )

    t1 = timed(lambda: ppr(docs1))
    tn = timed(lambda: ppr(docs_n))
    print(f"{'graph_ppr_3it':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # --- round-7 additions (VERDICT r6 #4): the remaining third-wave ops ---
    from kcl_akka_stream_spark.operators.arrow_ops import lang_stats_arrow
    from kcl_akka_stream_spark.operators.joins import cogrouped_interval_counts

    # arrow_lang_stats groups by language; derive a stable 8-way lang key
    # from doc_id so both scales carry the same group count (the grouped
    # applyInArrow seam's cost is per-group kernel invocations + one
    # hash shuffle).
    def with_lang(d: DataFrame) -> DataFrame:
        return d.select(
            "doc_id",
            "text",
            F.concat(F.lit("l"), (F.col("doc_id") % 8).cast("string")).alias(
                "lang"
            ),
        )

    def lang_stats(d: DataFrame) -> DataFrame:
        return lang_stats_arrow(with_lang(d))

    def edit_verified(d: DataFrame) -> DataFrame:
        b = D.minhash_lsh_buckets(d, num_hashes=8, bands=4, k=3)
        return D.verify_candidate_edit_distance(
            d, D.minhash_candidate_pairs(b), prefix_len=200
        )

    def bigram_lp(d: DataFrame) -> DataFrame:
        return X.bigram_logprob(d)

    for name, op, frames in (
        ("arrow_lang_stats", lang_stats, (docs1, docs_n)),
        ("dedup_edit_verified", edit_verified, (docs1, docs_n)),
        ("emb_random_proj", lambda e: S.random_sign_projection(e, out_dims=4), (emb1, emb_n)),
        ("text_bigram_lp", bigram_lp, (docs1, docs_n)),
    ):
        t1 = timed(lambda: op(frames[0]))
        tn = timed(lambda: op(frames[1]))
        print(f"{name:22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # cogroup interval counts: scale BOTH sides (events and intervals)
    # by replicating under user-id offsets -- each replica is a disjoint
    # key space, so per-key kernel work stays constant while total keys
    # grow by the factor (the property a cogroup must have at 100 TB).
    ev1 = load_table(spark, sf_dir, "events").select("user_id", "ts")
    o1 = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 150)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )

    def repl_keyed(d: DataFrame, key: str, ids: list) -> DataFrame:
        parts = []
        for i in range(repl):
            sel = [
                (F.col(c) + F.lit(i * 10_000_000)).alias(c) if c in ids else F.col(c)
                for c in d.columns
            ]
            parts.append(d.select(*sel))
        return reduce(DataFrame.unionByName, parts)

    ev_n = repl_keyed(ev1, "user_id", ["user_id"]).localCheckpoint()
    o_n = repl_keyed(o1, "o_custkey", ["o_custkey", "o_orderkey"]).localCheckpoint()

    def cogroup_counts(frames) -> DataFrame:
        e, o = frames
        return cogrouped_interval_counts(
            e, o,
            event_key="user_id", interval_key="o_custkey",
            event_ts="ts", interval_ts="o_orderdate",
            interval_id="o_orderkey",
        )

    t1 = timed(lambda: cogroup_counts((ev1, o1)))
    tn = timed(lambda: cogroup_counts((ev_n, o_n)))
    print(f"{'j_cogroup_intervals':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # triangle count: scale the GRAPH via disjoint replicas of the
    # quantity-filtered supplier co-purchase edges (id offsets keep
    # components disjoint -> triangle count scales exactly linearly,
    # wedge work per component constant).
    from kcl_akka_stream_spark.operators.graph import triangle_count

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 48)
        .select("l_orderkey", "l_suppkey")
    )
    ea = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("src"))
    eb = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("dst"))
    edges1 = (
        ea.join(eb, "k")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint()
    )
    edges_n = reduce(
        DataFrame.unionByName,
        [
            edges1.select(
                (F.col("src") + F.lit(i * 10_000_000)).alias("src"),
                (F.col("dst") + F.lit(i * 10_000_000)).alias("dst"),
            )
            for i in range(repl)
        ],
    ).localCheckpoint()
    t1 = timed(lambda: triangle_count(edges1))
    tn = timed(lambda: triangle_count(edges_n))
    print(f"{'graph_triangles':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # --- round-8 additions (VERDICT r7 #6): the remaining second-wave ops ---
    from kcl_akka_stream_spark.operators.dedup import bloom_prune_known
    from kcl_akka_stream_spark.operators.sketches import kmv_set_estimates

    # KMV set algebra: both input sets scale with the events replication
    # (disjoint user-id spaces per replica, so distinct counts really grow
    # by the factor); the sketch math itself stays k-sized.
    def kmv_sets(frames) -> DataFrame:
        ev = frames
        a = ev.filter(F.col("user_id") % 3 != 0).select("user_id")
        b = ev.filter(F.col("user_id") % 2 == 0).select("user_id")
        return kmv_set_estimates(a, b, "user_id", k=64)

    t1 = timed(lambda: kmv_sets(ev1))
    tn = timed(lambda: kmv_sets(ev_n))
    print(f"{'agg_kmv_set_ops':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # Bloom-pruned membership: history = even docs, batch = odd docs, both
    # sides scale together (the daily-ingest shape where history is the
    # data-sized input compressed to <= m_bits broadcast rows).
    def bloom(d: DataFrame) -> DataFrame:
        hist = d.filter(F.col("doc_id") % 2 == 0).select(
            F.md5("text").alias("digest")
        )
        inc = d.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", F.md5("text").alias("digest")
        )
        return bloom_prune_known(inc, hist, m_bits=1 << 20, k_hashes=4)

    t1 = timed(lambda: bloom(docs1))
    tn = timed(lambda: bloom(docs_n))
    print(f"{'pipeline_bloom_dedup':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # ORC roundtrip: writes + reads Nx the bytes end-to-end (byte-bound
    # like compact_shards -- the row tracks IO parallelism, not plan
    # quality).
    def orc_rt(d: DataFrame) -> None:
        out = tempfile.mkdtemp(prefix="kcl_probe_orc_")
        try:
            d.write.mode("overwrite").option("compression", "zlib").orc(out)
            spark.read.schema(d.schema).orc(out).selectExpr(
                "count(*) AS n", "sum(length(text)) AS b"
            ).collect()
        finally:
            shutil.rmtree(out, ignore_errors=True)

    t1 = timed_action(lambda: orc_rt(docs1))
    tn = timed_action(lambda: orc_rt(docs_n))
    print(f"{'sink_orc_roundtrip':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}  (writes {repl}x the bytes end-to-end)")

    # IVF recall report: runs BOTH ANN branches (exact brute force + IVF
    # nprobe=1) by definition; corpus side scales, query side fixed.
    def recall(e: DataFrame) -> DataFrame:
        qs = e.filter(F.col("vec_id") < 5)
        exact = S.brute_force_topk(e, qs, k=5).select("q_id", "n_id")
        approx = S.ivf_topk(e, qs, k=5, nprobe=1).select(
            F.col("q_id").alias("a_q"), F.col("n_id").alias("a_n")
        )
        return (
            exact.join(
                approx,
                (F.col("q_id") == F.col("a_q"))
                & (F.col("n_id") == F.col("a_n")),
                "left",
            )
            .groupBy("q_id")
            .agg(F.count(F.lit(1)).alias("n_exact"), F.count("a_n").alias("n_hits"))
        )

    t1 = timed(lambda: recall(emb1))
    tn = timed(lambda: recall(emb_n))
    print(f"{'sim_ivf_recall_report':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # EWMA: one user-keyed window + agg riding the same partitioning;
    # replicated events carry disjoint user spaces, so windows stay the
    # same depth while user count grows by the factor.
    ev_full1 = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    ev_full_n = repl_keyed(
        ev_full1, "user_id", ["user_id", "event_id"]
    ).localCheckpoint()

    def ewma(d: DataFrame) -> DataFrame:
        from pyspark.sql import Window as W

        w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        weights = F.array(*[F.lit(x) for x in (100, 80, 64, 51, 41)])
        ranked = (
            d.select(
                "user_id", "ts", "event_id",
                F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5)
            .withColumn("w", F.element_at(weights, F.col("rn")).cast("long"))
        )
        return ranked.groupBy("user_id").agg(
            F.sum(F.col("v") * F.col("w")).alias("num"),
            F.sum("w").alias("den"),
        )

    t1 = timed(lambda: ewma(ev_full1))
    tn = timed(lambda: ewma(ev_full_n))
    print(f"{'w_ewma_time_decay':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # --- round-8 wave-1/2 additions: probe every new-this-round query ----
    from kcl_akka_stream_spark.operators.joins import interval_overlap_join

    # MinHash calibration: one checkpointed signature pass shared by
    # banding and both agreement joins; candidate-pair volume is the
    # scaling driver (replicas are near-disjoint shingle spaces).
    t1 = timed(lambda: D.minhash_estimate_vs_exact(docs1))
    tn = timed(lambda: D.minhash_estimate_vs_exact(docs_n))
    print(f"{'dedup_minhash_calib':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # Incremental rollup merge: fixed group count (event_type), 10x raw
    # rows -- the partial-state fold is combinable so the merge itself
    # stays states-sized while the scan scales.
    ev_t1 = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", "ts", "value"
    )
    ev_t_n = repl_keyed(ev_t1, "user_id", ["user_id", "event_id"]).localCheckpoint()

    def rollup_merge(d: DataFrame) -> DataFrame:
        v = d.select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
        )

        def partial(x: DataFrame) -> DataFrame:
            return x.groupBy("event_type").agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("v").cast("long").alias("sum_cents"),
                F.min("v").cast("long").alias("min_cents"),
                F.max("v").cast("long").alias("max_cents"),
            )

        hist = partial(v.filter(F.col("event_id") % 4 != 0))
        batch = partial(v.filter(F.col("event_id") % 4 == 0))
        return (
            hist.unionByName(batch)
            .groupBy("event_type")
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum_cents").alias("sum_cents"),
                F.min("min_cents").alias("min_cents"),
                F.max("max_cents").alias("max_cents"),
            )
        )

    t1 = timed(lambda: rollup_merge(ev_t1))
    tn = timed(lambda: rollup_merge(ev_t_n))
    print(f"{'pipeline_rollup_incr':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # Dataset card: one combinable pass + one digest distinct over the
    # (doc_id, text) projection -- the exact plan shape of the query.
    def card(d: DataFrame) -> DataFrame:
        t = d.select(
            "doc_id",
            F.length("text").alias("n_chars"),
            F.md5("text").alias("digest"),
        )
        return t.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("digest").alias("n_distinct"),
            F.sum((F.col("n_chars") < 100).cast("long")).alias("n_short"),
        )

    t1 = timed(lambda: card(docs1))
    tn = timed(lambda: card(docs_n))
    print(f"{'pipeline_dataset_card':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # Running distinct: two stacked user-keyed windows (second rides the
    # first's partitioning); replicas carry disjoint user spaces so
    # window depth stays constant while user count grows.
    def cum_distinct(d: DataFrame) -> DataFrame:
        from pyspark.sql import Window as W

        w1 = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
        firsts = (
            d.select("user_id", "event_type", "ts", "event_id")
            .withColumn("rn", F.row_number().over(w1))
            .filter(F.col("rn") == 1)
        )
        w2 = W.partitionBy("user_id").orderBy("ts", "event_id")
        return firsts.select(
            "user_id", "event_type", F.row_number().over(w2).alias("running_distinct")
        )

    t1 = timed(lambda: cum_distinct(ev_t1))
    tn = timed(lambda: cum_distinct(ev_t_n))
    print(f"{'w_cumulative_distinct':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # Winsorized stats: the cumulative window runs over the DISTINCT
    # (group, cents) relation, which is VALUE-bounded -- replicating rows
    # 10x grows the hist pass but not the window input (the property the
    # histogram-CDF decomposition exists for).
    def winsorize(d: DataFrame) -> DataFrame:
        from pyspark.sql import Window as W

        v = d.select(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
        )
        hist = v.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("c"))
        wc = (
            W.partitionBy("event_type")
            .orderBy("v")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        cdf = hist.withColumn("cum", F.sum("c").over(wc)).withColumn(
            "n", F.sum("c").over(W.partitionBy("event_type"))
        )
        thr = cdf.groupBy("event_type").agg(
            F.min(F.when(F.col("cum") >= F.expr("(n + 19) div 20"), F.col("v"))).alias("p05"),
            F.min(F.when(F.col("cum") >= F.expr("(19 * n + 19) div 20"), F.col("v"))).alias("p95"),
        )
        clamped = v.join(F.broadcast(thr), "event_type").withColumn(
            "w",
            F.when(F.col("v") < F.col("p05"), F.col("p05"))
            .when(F.col("v") > F.col("p95"), F.col("p95"))
            .otherwise(F.col("v")),
        )
        return clamped.groupBy("event_type", "p05", "p95").agg(
            F.count(F.lit(1)).alias("n"), F.sum("w").alias("wsum")
        )

    t1 = timed(lambda: winsorize(ev_t1))
    tn = timed(lambda: winsorize(ev_t_n))
    print(f"{'agg_winsorized_stats':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # Interval-overlap join: replicas are shifted 20,000*i days so the
    # time ranges are DISJOINT -- concurrency per bucket (and thus the
    # output) grows linearly, isolating plan cost from pair-count
    # growth.  (Replicating into the SAME range would quadratically grow
    # the true answer -- real work, not a plan property.)
    iv1 = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 450000)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderdate").alias("s"),
            F.date_add(F.col("o_orderdate"), 14).alias("e"),
        )
    )
    iv_parts = []
    for i in range(repl):
        iv_parts.append(
            iv1.select(
                (F.col("k") + F.lit(i * 10_000_000)).alias("k"),
                F.date_add(F.col("s"), i * 20_000).alias("s"),
                F.date_add(F.col("e"), i * 20_000).alias("e"),
            )
        )
    iv_n = reduce(DataFrame.unionByName, iv_parts).localCheckpoint()
    iv1 = iv1.localCheckpoint()

    def overlap(d: DataFrame) -> DataFrame:
        a = d.select(
            F.col("k").alias("a_id"), F.col("s").alias("a_start"), F.col("e").alias("a_end")
        )
        b = d.select(
            F.col("k").alias("b_id"), F.col("s").alias("b_start"), F.col("e").alias("b_end")
        )
        return interval_overlap_join(a, b, grain_days=7).filter(
            F.col("a_id") < F.col("b_id")
        )

    t1 = timed(lambda: overlap(iv1))
    tn = timed(lambda: overlap(iv_n))
    print(f"{'j_interval_overlap':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # PQ encode: map-only Arrow pass, codebook closure-shipped -- the
    # corpus-sized side must scale linearly with zero exchanges.
    pq_cb = emb1.filter(F.col("vec_id") < 8).localCheckpoint()

    t1 = timed(lambda: CL.pq_encode(emb1, pq_cb, m=4))
    tn = timed(lambda: CL.pq_encode(emb_n, pq_cb, m=4))
    print(f"{'emb_pq_assign':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # PQ-ADC top-k: corpus side is (id, sub_id, code) smallint rows, the
    # distance table is broadcast (|q| x m x codes); query set fixed at
    # 5 while the corpus scales.
    def adc(e: DataFrame) -> DataFrame:
        return S.pq_adc_topk(e, e.filter(F.col("vec_id") < 5), pq_cb, m=4, k=5)

    t1 = timed(lambda: adc(emb1))
    tn = timed(lambda: adc(emb_n))
    print(f"{'sim_topk_pq_adc':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # HLL acceptance report: replicas carry disjoint user spaces, so the
    # per-type distinct counts really grow 10x; both aggregates fold
    # map-side in one pass.
    def approx_report(d: DataFrame) -> DataFrame:
        return d.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("n_exact"),
            F.approx_count_distinct("user_id", rsd=0.05).alias("n_approx"),
        )

    t1 = timed(lambda: approx_report(ev_t1))
    tn = timed(lambda: approx_report(ev_t_n))
    print(f"{'agg_approx_distinct':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # --- round-8 wave-3 additions ----------------------------------------
    wave3_probes(spark, sf_dir, repl)
    wave4_probes(spark, sf_dir, repl)

    # --- streaming sustained-throughput probe (VERDICT r6 #5) -------------
    stream_throughput(spark)


def wave3_probes(spark, sf_dir: str, repl: int = 10) -> None:
    """10x replication rows for the round-8 wave-3 queries.  Callable on
    its own (``python -c "from tools.scale_probe import *; ..."``) so a
    new wave can be probed without re-running the full suite."""
    import shutil
    import tempfile

    from kcl_akka_stream_spark.operators import similarity as S
    from kcl_akka_stream_spark.operators.aggregations import power_sums
    from kcl_akka_stream_spark.operators.cdc import scd2_compact
    from kcl_akka_stream_spark.operators.graph import degree_histogram
    from kcl_akka_stream_spark.operators.windows import top_paths

    def timed_df(fn, warm: bool = True) -> float:
        return timed(fn, warm)

    ev1 = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    parts = []
    for i in range(repl):
        parts.append(
            ev1.select(
                (F.col("event_id") + F.lit(i * 10_000_000)).alias("event_id"),
                "ts",
                (F.col("user_id") + F.lit(i * 10_000_000)).alias("user_id"),
                "event_type",
                "value",
            )
        )
    ev_n = reduce(DataFrame.unionByName, parts).localCheckpoint()

    # SCD2: per-user window depth constant (disjoint user replicas),
    # user count grows by the factor.
    t1 = timed_df(lambda: scd2_compact(ev1))
    tn = timed_df(lambda: scd2_compact(ev_n))
    print(f"{'pipeline_scd2_history':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # power sums: one combinable shuffle, states-sized output.
    t1 = timed_df(lambda: power_sums(ev1, "event_type", "value"))
    tn = timed_df(lambda: power_sums(ev_n, "event_type", "value"))
    print(f"{'agg_power_sums':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # top paths: one user-keyed window sort + combinable path count +
    # TakeOrdered top-10.
    t1 = timed_df(lambda: top_paths(ev1, "user_id", "ts", "event_id", "event_type"))
    tn = timed_df(lambda: top_paths(ev_n, "user_id", "ts", "event_id", "event_type"))
    print(f"{'w_top_paths':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # degree histogram over the replicated co-purchase edges (disjoint
    # id-space replicas: node count grows, degrees constant).
    li1 = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o1 = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e1 = li1.join(o1, li1.l_orderkey == o1.o_orderkey).select(
        F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
    ).localCheckpoint()
    ep = []
    for i in range(repl):
        ep.append(
            e1.select(
                (F.col("c") + F.lit(i * 10_000_000)).alias("c"),
                (F.col("s") + F.lit(i * 10_000_000)).alias("s"),
            )
        )
    e_n = reduce(DataFrame.unionByName, ep).localCheckpoint()

    def deg(d: DataFrame) -> DataFrame:
        p = d.distinct().localCheckpoint(eager=True)
        return degree_histogram(
            p, "c", "s", label="customer", assume_distinct=True
        ).unionByName(
            degree_histogram(p, "s", "c", label="supplier", assume_distinct=True)
        )

    t1 = timed_df(lambda: deg(e1))
    tn = timed_df(lambda: deg(e_n))
    print(f"{'graph_degree_stats':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # URL parse: map-only JVM built-ins over the replicated doc ids.
    docs1 = load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    dp = []
    for i in range(repl):
        dp.append(
            docs1.select(
                (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
                "source",
                "lang",
            )
        )
    docs_n = reduce(DataFrame.unionByName, dp).localCheckpoint()
    docs1 = docs1.localCheckpoint()

    def urls(d: DataFrame) -> DataFrame:
        u = F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.org/docs/"),
            F.col("lang"), F.lit("/"), F.col("doc_id").cast("string"),
            F.lit("?lang="), F.col("lang"),
            F.lit("&page="), (F.col("doc_id") % 7).cast("string"),
        )
        x = d.select("doc_id", u.alias("__url"))
        return x.select(
            "doc_id",
            F.parse_url(F.col("__url"), F.lit("HOST")).alias("host"),
            F.parse_url(F.col("__url"), F.lit("PATH")).alias("path"),
            F.parse_url(F.col("__url"), F.lit("QUERY"), F.lit("page")).alias("page"),
        )

    t1 = timed_df(lambda: urls(docs1))
    tn = timed_df(lambda: urls(docs_n))
    print(f"{'scalar_url_funcs':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # full IVF-PQ serving: corpus scales, query set (5) and codebook (8)
    # fixed; probe narrows the scored slice to nprobe/n_clusters.
    emb1 = load_table(spark, sf_dir, "embeddings")
    emb_n = replicate_embeddings(emb1, repl).localCheckpoint()
    emb1 = emb1.localCheckpoint()
    cb = emb1.filter(F.col("vec_id") < 8).localCheckpoint()

    def ivfpq(e: DataFrame) -> DataFrame:
        return S.ivf_pq_topk(
            e, e.filter(F.col("vec_id") < 5), cb, m=4, k=5, n_clusters=8, nprobe=2
        )

    t1 = timed_df(lambda: ivfpq(emb1))
    tn = timed_df(lambda: ivfpq(emb_n))
    print(f"{'sim_topk_ivf_pq':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")


def stream_throughput(spark, n_shards: int = 8) -> None:
    """Sustained streaming rows/sec through the full micro-batch path:
    the Python streaming source paced at 100k rows/batch -> event-time
    tumbling window aggregation under a watermark -> memory sink, drained
    to completion.  Row-mode vs Arrow-mode isolates the Python/JVM
    boundary cost of the source data plane; the Arrow number is the
    connector's real ceiling (the row number is the per-row-pickle
    anti-pattern, kept as contrast).  The RocksDB rows (VERDICT r7 #7)
    A/B the state-store backend at the same volume and then scale the
    volume 10x (2M rows): at 100 TB the state outgrows executor heap,
    and RocksDB's off-heap + incremental-checkpoint behavior is the
    production backend -- the probe checks the swap costs nothing at
    small state and holds up when volume grows.  Recorded in
    SCALE_PROBE.md round-over-round so streaming has a perf signal like
    batch."""
    import uuid as _uuid

    from kcl_akka_stream_spark.sources.python_source import register

    register(spark)
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming."
        "state.RocksDBStateStoreProvider"
    )
    default_provider = spark.conf.get(provider_key)
    cases = (
        ("rows", "false", 25_000, None),
        ("arrow", "true", 25_000, None),
        ("arrow_rocksdb", "true", 25_000, rocksdb),
        ("arrow_rocksdb_10x", "true", 250_000, rocksdb),
    )
    for mode, arrow, per_shard, provider in cases:
        total = per_shard * n_shards
        name = f"tp_{_uuid.uuid4().hex[:8]}"
        spark.conf.set(provider_key, provider or default_provider)
        stream = (
            spark.readStream.format("envelope_sim")
            .option("n_shards", str(n_shards))
            .option("records_per_shard", str(per_shard))
            .option("seqs_per_batch", str(100_000 // n_shards))
            .option("arrow", arrow)
            .load()
        )
        agg = (
            stream.withWatermark("arrival_ts", "1 minute")
            .groupBy(F.window("arrival_ts", "1 hour"), "shard_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("sequence_number").alias("sum_seq"),
            )
        )
        t0 = time.time()
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        wall = time.time() - t0
        spark.conf.set(provider_key, default_provider)
        print(
            f"{'stream_tput_' + mode:22s} {total} rows in {wall:6.2f}s  "
            f"= {total / wall:9.0f} rows/s"
        )

    # JVM-only ceiling: the same watermark+window pipeline fed by a
    # parquet FILE stream (no Python source, no Python anywhere) -- what
    # the micro-batch machinery itself sustains.  The gap between this
    # and the arrow rows above is the Python-source data-plane cost the
    # connector rows document.
    import shutil as _shutil
    import tempfile as _tempfile

    total = 2_000_000
    src_dir = _tempfile.mkdtemp(prefix="kcl_tput_jvm_")
    try:
        (
            spark.range(total)
            .select(
                (F.col("id") % n_shards).cast("string").alias("shard_id"),
                F.col("id").alias("sequence_number"),
                F.timestamp_seconds(
                    F.lit(1_704_067_200) + (F.col("id") / 1000).cast("long")
                ).alias("arrival_ts"),
            )
            .repartition(20)
            .write.mode("overwrite")
            .parquet(src_dir)
        )
        stream = (
            spark.readStream.schema(
                "shard_id string, sequence_number long, arrival_ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        agg = (
            stream.withWatermark("arrival_ts", "1 minute")
            .groupBy(F.window("arrival_ts", "1 hour"), "shard_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("sequence_number").alias("sum_seq"),
            )
        )
        name = f"tp_jvm_{_uuid.uuid4().hex[:8]}"
        t0 = time.time()
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        wall = time.time() - t0
        print(
            f"{'stream_tput_jvm_files':22s} {total} rows in {wall:6.2f}s  "
            f"= {total / wall:9.0f} rows/s"
        )
    finally:
        _shutil.rmtree(src_dir, ignore_errors=True)




def wave4_probes(spark, sf_dir: str, repl: int = 10) -> None:
    """10x replication rows for the round-8 wave-4 queries."""
    from kcl_akka_stream_spark.operators.corpus import canonical_url
    from kcl_akka_stream_spark.operators.dedup import fingerprint_band_pairs
    from kcl_akka_stream_spark.operators.multimodal import (
        documents_as_media,
        payload_simhash,
    )
    from kcl_akka_stream_spark.operators.text import hashing_vectorize

    docs1 = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    docs_n = replicate_docs(
        docs1.select("doc_id", "text"), repl
    ).localCheckpoint()
    docs_n = docs_n.withColumn("lang", F.lit("en"))
    docs1 = docs1.localCheckpoint()

    # binary-payload simhash near-dup: fingerprint cost scales with
    # BYTES (one Arrow pass), banding with docs.
    def phash(d: DataFrame) -> DataFrame:
        media = d.selectExpr(
            "doc_id AS media_id", "encode(text, 'UTF-8') AS payload"
        )
        sh = payload_simhash(media)
        return fingerprint_band_pairs(sh, id_col="media_id", max_hamming=3)

    t1 = timed(lambda: phash(docs1))
    tn = timed(lambda: phash(docs_n))
    print(f"{'multimodal_phash_pairs':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # feature hashing: tokenize + explode + one combinable count.
    t1 = timed(lambda: hashing_vectorize(docs1))
    tn = timed(lambda: hashing_vectorize(docs_n))
    print(f"{'text_hashing_vector':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # URL canonicalization: map-only parse_url + one agg.
    def urls(d: DataFrame) -> DataFrame:
        k = F.col("doc_id")
        messy = F.concat(
            F.when(k % 2 == 0, F.lit("HTTPS://")).otherwise(F.lit("https://")),
            F.when(k % 3 == 0, F.lit("WWW.Example.ORG")).otherwise(
                F.lit("www.example.org")
            ),
            F.when(k % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/docs/"), F.col("lang"), F.lit("/"), (k % 50).cast("string"),
            F.when(k % 7 == 0, F.lit("/")).otherwise(F.lit("")),
            F.lit("?lang="), F.col("lang"),
            F.when(k % 11 == 0, F.lit("&utm_source=feed")).otherwise(F.lit("")),
        )
        u = d.select("doc_id", messy.alias("__url"))
        return (
            u.select("doc_id", canonical_url(F.col("__url")).alias("c"),
                     F.col("__url").alias("url"))
            .groupBy("c")
            .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("url").alias("f"),
                 F.min("doc_id").alias("keeper"))
        )

    t1 = timed(lambda: urls(docs1))
    tn = timed(lambda: urls(docs_n))
    print(f"{'dedup_url_canonical':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # SCD2 point-in-time: probe grid grows with users, SCD2 side with
    # changes; join stays user-keyed.
    from kcl_akka_stream_spark.operators.cdc import scd2_compact

    ev1 = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    parts = []
    for i in range(repl):
        parts.append(
            ev1.select(
                (F.col("event_id") + F.lit(i * 10_000_000)).alias("event_id"),
                "ts",
                (F.col("user_id") + F.lit(i * 10_000_000)).alias("user_id"),
                "event_type",
            )
        )
    ev_n = reduce(DataFrame.unionByName, parts).localCheckpoint()

    def pit(d: DataFrame) -> DataFrame:
        scd = scd2_compact(d).select(
            F.col("user_id").alias("s_user"), "state", "version",
            "valid_from", "valid_to",
        )
        probes = d.select("user_id").distinct().select(
            "user_id",
            F.explode(
                F.expr(
                    "sequence(timestamp'2024-01-02 00:00:00',"
                    " timestamp'2024-01-29 00:00:00', interval 7 days)"
                )
            ).alias("pt"),
        )
        return probes.join(
            scd,
            (F.col("s_user") == F.col("user_id"))
            & (F.col("valid_from") <= F.col("pt"))
            & (F.col("valid_to").isNull() | (F.col("pt") < F.col("valid_to"))),
            "left",
        )

    t1 = timed(lambda: pit(ev1))
    tn = timed(lambda: pit(ev_n))
    print(f"{'j_scd2_point_in_time':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")


if __name__ == "__main__":
    main()


def wave8_probes(spark, sf_dir: str, repl: int = 10) -> None:
    """10x replication rows for the round-8 wave-8 queries."""
    from pyspark.sql import Window

    from kcl_akka_stream_spark.operators.aggregations import mad_outlier_report
    from kcl_akka_stream_spark.operators.graph import (
        label_propagation,
        neighbor_jaccard,
    )
    from kcl_akka_stream_spark.operators.layout import rendezvous_shard
    from kcl_akka_stream_spark.operators.text import bigram_logprob

    docs1 = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs_n = replicate_docs(docs1, repl).localCheckpoint()
    docs1 = docs1.localCheckpoint()

    # MAD outliers: events-valued; replicas perturb values so the
    # distinct-value histogram really grows with the factor.
    ev1 = load_table(spark, sf_dir, "events").select("event_type", "value")
    ev_parts = [
        ev1.select("event_type", (F.col("value") + F.lit(i) * F.lit(0.000001)).alias("value"))
        for i in range(repl)
    ]
    from functools import reduce as _red

    ev_n = _red(DataFrame.unionByName, ev_parts).localCheckpoint()
    ev1 = ev1.localCheckpoint()
    t1 = timed(lambda: mad_outlier_report(ev1, "event_type", "value"))
    tn = timed(lambda: mad_outlier_report(ev_n, "event_type", "value"))
    print(f"{'agg_mad_outliers':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # Graph probes: the quantity-filtered supplier pair relation,
    # replicated as DISJOINT subgraphs (node-id offsets) -- the honest
    # scale-up for graph ops (components don't merge, work is additive).
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") >= 48
    ).select("l_orderkey", "l_suppkey")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("dst"))
    pairs1 = (
        a.join(b, "k").filter(F.col("src") < F.col("dst"))
        .select("src", "dst").distinct().localCheckpoint()
    )
    off = 10_000_000
    pairs_n = _red(
        DataFrame.unionByName,
        [
            pairs1.select(
                (F.col("src") + F.lit(i * off)).alias("src"),
                (F.col("dst") + F.lit(i * off)).alias("dst"),
            )
            for i in range(repl)
        ],
    ).localCheckpoint()
    t1 = timed(lambda: neighbor_jaccard(pairs1))
    tn = timed(lambda: neighbor_jaccard(pairs_n))
    print(f"{'graph_link_prediction':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    sym1 = pairs1.withColumn("w", F.lit(1).cast("long"))
    sym1 = sym1.unionByName(
        sym1.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    ).localCheckpoint()
    sym_n = pairs_n.withColumn("w", F.lit(1).cast("long"))
    sym_n = sym_n.unionByName(
        sym_n.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    ).localCheckpoint()
    t1 = timed(lambda: label_propagation(sym1, 2))
    tn = timed(lambda: label_propagation(sym_n, 2))
    print(f"{'graph_label_prop':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # Perplexity buckets: replicas spread over 8 pseudo-langs so the
    # per-lang window keeps realistic partitioning (a single-lang corpus
    # would serialize the tercile sort -- the multi-lang case is the
    # real workload).
    def ppl(d: DataFrame) -> DataFrame:
        scored = bigram_logprob(d)
        j = scored.join(
            d.select("doc_id", (F.col("doc_id") % 8).alias("lang")), "doc_id"
        )
        return j.select(
            "doc_id",
            "lang",
            "avg_nll_micro",
            F.expr(
                "((row_number() OVER (PARTITION BY lang"
                " ORDER BY avg_nll_micro, doc_id) - 1) * 3)"
                " div (count(1) OVER (PARTITION BY lang))"
            ).alias("b"),
        )

    t1 = timed(lambda: ppl(docs1))
    tn = timed(lambda: ppl(docs_n))
    print(f"{'pipeline_ppl_buckets':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # Keep-best: LSH clusters + one cluster-keyed window.
    from kcl_akka_stream_spark.operators.dedup import (
        connected_components,
        minhash_candidate_pairs,
        minhash_lsh_buckets,
    )

    def keep_best(d: DataFrame) -> DataFrame:
        buckets = minhash_lsh_buckets(d, num_hashes=8, bands=4, k=3)
        cand = minhash_candidate_pairs(buckets, max_bucket_size=10)
        cl = connected_components(cand, d.select("doc_id"))
        j = cl.join(d.select("doc_id", F.length("text").alias("n_chars")), "doc_id")
        w = Window.partitionBy("cluster_id").orderBy(
            F.col("n_chars").desc(), "doc_id"
        )
        return j.select(
            "doc_id", "cluster_id",
            (F.row_number().over(w) == 1).cast("long").alias("kept"),
        )

    t1 = timed(lambda: keep_best(docs1))
    tn = timed(lambda: keep_best(docs_n))
    print(f"{'pipeline_keep_best':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # HRW sharding: pure map-side argmax + shard-sized agg.
    def hrw(d: DataFrame) -> DataFrame:
        x = d.select(
            "doc_id",
            rendezvous_shard("cast(doc_id as string)", 8, "hrw8").alias("s8"),
            rendezvous_shard("cast(doc_id as string)", 9, "hrw8").alias("s9"),
        )
        return x.groupBy("s8").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("s8") != F.col("s9")).cast("long")).alias("m"),
        )

    t1 = timed(lambda: hrw(docs1))
    tn = timed(lambda: hrw(docs_n))
    print(f"{'pipeline_shard_hrw':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")


def wave9_probes(spark, sf_dir: str, repl: int = 10) -> None:
    """10x replication rows for the round-8 wave-9 queries."""
    from functools import reduce as _red

    from kcl_akka_stream_spark.operators.graph import kcore_peel
    from kcl_akka_stream_spark.operators.joins import asof_join_forward
    from kcl_akka_stream_spark.operators.sketches import (
        bitmap_counts,
        bitmap_state,
    )

    # Bitmap distinct: replicas get DISJOINT id spaces, so the distinct
    # count (and the word-state size) really grows by the factor.
    ev1 = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    ev_n = _red(
        DataFrame.unionByName,
        [
            ev1.select(
                "event_type",
                (F.col("user_id") + F.lit(i * 10_000_000)).alias("user_id"),
            )
            for i in range(repl)
        ],
    ).localCheckpoint()
    ev1 = ev1.localCheckpoint()

    def bmp(d: DataFrame) -> DataFrame:
        return bitmap_counts(bitmap_state(d, "event_type", "user_id"), "event_type")

    t1 = timed(lambda: bmp(ev1))
    tn = timed(lambda: bmp(ev_n))
    print(f"{'agg_bitmap_distinct':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # k-core: disjoint replica subgraphs (additive peeling work).
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") >= 48
    ).select("l_orderkey", "l_suppkey")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("dst"))
    pairs1 = (
        a.join(b, "k").filter(F.col("src") < F.col("dst"))
        .select("src", "dst").distinct().localCheckpoint()
    )
    off = 10_000_000
    pairs_n = _red(
        DataFrame.unionByName,
        [
            pairs1.select(
                (F.col("src") + F.lit(i * off)).alias("src"),
                (F.col("dst") + F.lit(i * off)).alias("dst"),
            )
            for i in range(repl)
        ],
    ).localCheckpoint()
    t1 = timed(lambda: kcore_peel(pairs1, k=3, rounds=3))
    tn = timed(lambda: kcore_peel(pairs_n, k=3, rounds=3))
    print(f"{'graph_kcore':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # Forward as-of: event volume scales, per-key window rides ONE shuffle.
    evt1 = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    evt_n = _red(
        DataFrame.unionByName,
        [
            evt1.select(
                (F.col("event_id") + F.lit(i * 100_000_000)).alias("event_id"),
                (F.col("user_id") + F.lit(i * 10_000_000)).alias("user_id"),
                "ts",
                "event_type",
            )
            for i in range(repl)
        ],
    ).localCheckpoint()
    evt1 = evt1.localCheckpoint()

    def fwd(d: DataFrame) -> DataFrame:
        clicks = (
            d.filter(F.col("event_type") == "click")
            .groupBy("user_id", "ts")
            .agg(F.max("event_id").alias("click_id"))
        )
        purchases = d.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"), "user_id", "ts"
        )
        return asof_join_forward(
            purchases, clicks, "user_id", "ts", "ts", ["click_id"]
        )

    t1 = timed(lambda: fwd(evt1))
    tn = timed(lambda: fwd(evt_n))
    print(f"{'j_asof_forward':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")


def wave10_probes(spark, sf_dir: str, repl: int = 10) -> None:
    """10x replication rows for the round-8 wave-10 queries."""
    from functools import reduce as _red

    from kcl_akka_stream_spark.operators.graph import bfs_distance
    from kcl_akka_stream_spark.operators.quality import gopher_quality_flags
    from kcl_akka_stream_spark.operators.text import tokens

    docs1 = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs_n = replicate_docs(docs1, repl).localCheckpoint()
    docs1 = docs1.localCheckpoint()

    # BFS: disjoint replica subgraphs; seeds pinned to the base replica so
    # reach stays comparable while the edge relation grows 10x.
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") >= 48
    ).select("l_orderkey", "l_suppkey")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("dst"))
    pairs1 = (
        a.join(b, "k").filter(F.col("src") < F.col("dst"))
        .select("src", "dst").distinct()
    )
    sym1 = pairs1.unionByName(
        pairs1.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    off = 10_000_000
    sym_n = _red(
        DataFrame.unionByName,
        [
            sym1.select(
                (F.col("src") + F.lit(i * off)).alias("src"),
                (F.col("dst") + F.lit(i * off)).alias("dst"),
            )
            for i in range(repl)
        ],
    ).localCheckpoint()
    seeds = [
        r.n
        for r in sym1.select(F.col("src").alias("n")).distinct()
        .orderBy("n").limit(2).collect()
    ]
    t1 = timed(lambda: bfs_distance(sym1, seeds, 3))
    tn = timed(lambda: bfs_distance(sym_n, seeds, 3))
    print(f"{'graph_bfs_distance':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # Vocab stats: replicas spread across 8 pseudo-langs (as in the
    # perplexity probe) so the vocab-sized windows keep realistic keys.
    def vocab(d: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        tc = (
            d.select(
                (F.col("doc_id") % 8).alias("lang"),
                F.explode(tokens(F.col("text"))).alias("term"),
            )
            .groupBy("lang", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        tot = tc.groupBy("lang").agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_vocab"),
            F.sum((F.col("c") == 1).cast("long")).alias("n_hapax"),
        )
        w = Window.partitionBy("lang").orderBy(F.col("c").desc(), "term")
        t100 = (
            tc.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 100)
            .groupBy("lang")
            .agg(F.sum("c").alias("mass"))
        )
        return tot.join(t100, "lang")

    t1 = timed(lambda: vocab(docs1))
    tn = timed(lambda: vocab(docs_n))
    print(f"{'text_vocab_stats':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # Quality funnel: Arrow flags + digest keeper + ONE combinable agg.
    def funnel(d: DataFrame) -> DataFrame:
        base = d.select(
            "doc_id",
            F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
            (F.length("text") >= 200).cast("int").alias("len_ok"),
            F.md5("text").alias("__digest"),
        )
        g = gopher_quality_flags(d).select("doc_id", "gopher_pass")
        keepers = d.groupBy(F.md5("text").alias("__digest")).agg(
            F.min("doc_id").alias("__keep_id")
        )
        flags = (
            base.join(g, "doc_id")
            .join(keepers, "__digest")
            .select(
                "n_tok", "len_ok", "gopher_pass",
                (F.col("doc_id") == F.col("__keep_id")).cast("int").alias("keeper"),
            )
        )
        return flags.agg(
            F.count(F.lit(1)).alias("n1"),
            F.sum(F.col("len_ok") * F.col("gopher_pass") * F.col("keeper") * F.col("n_tok")).alias("t4"),
        )

    t1 = timed(lambda: funnel(docs1))
    tn = timed(lambda: funnel(docs_n))
    print(f"{'pipeline_quality_funnel':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")


def wave17_probes(spark, sf_dir: str, repl: int = 10) -> None:
    """10x replication rows for the round-8 wave-17 queries (VERDICT r8
    #2) plus the capped incremental-dedup demonstration (VERDICT r8 #7)."""
    from functools import reduce as _red

    from kcl_akka_stream_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_lsh_buckets,
    )
    from kcl_akka_stream_spark.operators.sampling import (
        poisson_bootstrap_weights,
    )
    from kcl_akka_stream_spark.operators.sketches import (
        bitmap_set_ops,
        bitmap_state,
    )

    # Bitmap set algebra: disjoint replica id spaces, so both states (and
    # the word relations the set algebra joins) really grow 10x.
    ev1 = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "value"
    )
    ev_n = _red(
        DataFrame.unionByName,
        [
            ev1.select(
                "event_type",
                (F.col("user_id") + F.lit(i * 10_000_000)).alias("user_id"),
                "value",
            )
            for i in range(repl)
        ],
    ).localCheckpoint()
    ev1 = ev1.localCheckpoint()

    def bso(d: DataFrame) -> DataFrame:
        hv = d.filter(F.col("value") >= 50)
        a = hv.filter(F.col("event_type") == "purchase")
        b = hv.filter(F.col("event_type") == "click")
        return bitmap_set_ops(
            bitmap_state(a, None, "user_id"), bitmap_state(b, None, "user_id")
        )

    t1 = timed(lambda: bso(ev1))
    tn = timed(lambda: bso(ev_n))
    print(f"{'agg_bitmap_set_ops':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # Poisson bootstrap CI: the x32 replicate explode is the data-sized
    # term; per-(type, b) partials combine map-side.
    ev_id1 = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    ).localCheckpoint()
    ev_id_n = _red(
        DataFrame.unionByName,
        [
            ev_id1.select(
                "event_type",
                (F.col("event_id") + F.lit(i * 100_000_000)).alias("event_id"),
                "value",
            )
            for i in range(repl)
        ],
    ).localCheckpoint()

    def boot(d: DataFrame) -> DataFrame:
        cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        reps = poisson_bootstrap_weights(d, "event_id", b=32).withColumn(
            "cents", cents
        )
        return reps.groupBy("event_type", "b").agg(
            F.expr("sum(w * cents) * 100 div greatest(sum(w), 1)").alias(
                "mean_cc"
            )
        )

    t1 = timed(lambda: boot(ev_id1))
    tn = timed(lambda: boot(ev_id_n))
    print(f"{'agg_bootstrap_ci':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # Capped incremental LSH dedup (VERDICT r8 #7): same probe shape as
    # the wave-16 uncapped row, with max_bucket_size bounding the probe
    # join's per-bucket fan-out.  Also prints the pair-loss accounting.
    docs1 = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs_n = replicate_docs(docs1, repl).localCheckpoint()
    docs1 = docs1.localCheckpoint()

    def inc(d: DataFrame, cap) -> DataFrame:
        b = minhash_lsh_buckets(d).withColumn(
            "is_new", F.pmod(F.col("doc_id"), F.lit(5)) == 0
        )
        return minhash_incremental_pairs(b, max_bucket_size=cap)

    t1 = timed(lambda: inc(docs1, 10))
    tn = timed(lambda: inc(docs_n, 10))
    print(f"{'dedup_minhash_inc_cap':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")
    n_unc = inc(docs_n, None).count()
    n_cap = inc(docs_n, 10).count()
    print(f"# incremental pairs at {repl}x: uncapped={n_unc} capped(10)={n_cap} dropped={n_unc - n_cap}")


def arrow_batch_sweep(spark, n_shards: int = 8, per_shard: int = 250_000) -> None:
    """VERDICT r8 #8: sweep spark.sql.execution.arrow.maxRecordsPerBatch
    on the Python-DataSource streaming read path (arrow mode, RocksDB
    state store, 2M rows) and report rows/s per setting.  The knob
    bounds each Arrow RecordBatch the Python source worker ships to the
    JVM: too small re-pays per-batch overhead (flush, IPC frame, task
    dispatch), too large delays pipelining and grows worker memory.  The
    winner is recorded in session.py as the default."""
    import uuid as _uuid

    from kcl_akka_stream_spark.sources.python_source import register

    register(spark)
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming."
        "state.RocksDBStateStoreProvider"
    )
    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default_provider = spark.conf.get(provider_key)
    default_batch = spark.conf.get(batch_key)
    total = per_shard * n_shards
    try:
        spark.conf.set(provider_key, rocksdb)
        for batch in (2_000, 10_000, 25_000, 50_000, 100_000):
            spark.conf.set(batch_key, str(batch))
            name = f"ab_{_uuid.uuid4().hex[:8]}"
            stream = (
                spark.readStream.format("envelope_sim")
                .option("n_shards", str(n_shards))
                .option("records_per_shard", str(per_shard))
                .option("seqs_per_batch", str(100_000 // n_shards))
                .option("arrow", "true")
                .load()
            )
            agg = (
                stream.withWatermark("arrival_ts", "1 minute")
                .groupBy(F.window("arrival_ts", "1 hour"), "shard_id")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("sequence_number").alias("sum_seq"),
                )
            )
            t0 = time.time()
            q = (
                agg.writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            wall = time.time() - t0
            print(
                f"{'arrow_batch_' + str(batch):22s} {total} rows in "
                f"{wall:6.2f}s  = {total / wall:9.0f} rows/s"
            )
    finally:
        spark.conf.set(provider_key, default_provider)
        spark.conf.set(batch_key, default_batch)


def wave18_19_probes(spark, sf_dir: str, repl: int = 10) -> None:
    """10x replication rows for the round-9 wave-18/19 queries."""
    from functools import reduce as _red

    from kcl_akka_stream_spark.operators.aggregations import (
        pearson_stats,
        weighted_median,
    )
    from kcl_akka_stream_spark.operators.graph import hits
    from kcl_akka_stream_spark.operators.sampling import pseudo_dp_noised_counts
    from kcl_akka_stream_spark.operators.similarity import range_search
    from kcl_akka_stream_spark.operators.text import rake_keywords

    li1 = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").alias("v"),
        F.col("l_quantity").cast("long").alias("q"),
    ).localCheckpoint()
    li_n = _red(
        DataFrame.unionByName,
        [li1.select("l_returnflag", (F.col("v") + F.lit(i)).alias("v"), "q")
         for i in range(repl)],
    ).localCheckpoint()

    t1 = timed(lambda: weighted_median(li1, "l_returnflag", "v", "q"))
    tn = timed(lambda: weighted_median(li_n, "l_returnflag", "v", "q"))
    print(f"{'agg_weighted_median':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    ev1 = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("x"),
        F.hour("ts").cast("long").alias("y"),
    ).localCheckpoint()
    ev_n = _red(
        DataFrame.unionByName, [ev1 for _ in range(repl)]
    ).localCheckpoint()
    t1 = timed(lambda: pearson_stats(ev1, "event_type", "x", "y"))
    tn = timed(lambda: pearson_stats(ev_n, "event_type", "x", "y"))
    print(f"{'agg_pearson_corr':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    t1 = timed(lambda: pseudo_dp_noised_counts(ev1, "event_type", seed="dp"))
    tn = timed(lambda: pseudo_dp_noised_counts(ev_n, "event_type", seed="dp"))
    print(f"{'agg_dp_noised_counts':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    emb1 = load_table(spark, sf_dir, "embeddings")
    emb_n = replicate_embeddings(emb1, repl).localCheckpoint()
    emb1 = emb1.localCheckpoint()
    q1 = emb1.filter(F.col("vec_id") < 5)
    t1 = timed(lambda: range_search(emb1, q1, 0.2))
    tn = timed(lambda: range_search(emb_n, q1, 0.2))
    print(f"{'sim_range_search':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    docs1 = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs_n = replicate_docs(docs1, repl).localCheckpoint()
    docs1 = docs1.localCheckpoint()
    t1 = timed(lambda: rake_keywords(docs1))
    tn = timed(lambda: rake_keywords(docs_n))
    print(f"{'text_rake_keywords':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # HITS over the co-purchase graph with disjoint replica subgraphs.
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p1 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").cast("long").alias("src"),
            F.col("l_suppkey").cast("long").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .localCheckpoint()
    )
    off = 10_000_000
    p_n = _red(
        DataFrame.unionByName,
        [p1.select((F.col("src") + F.lit(i * off)).alias("src"),
                   (F.col("dst") + F.lit(i * off)).alias("dst"), "w")
         for i in range(repl)],
    ).localCheckpoint()

    def hits_total(p):
        hubs, auths = hits(p, iterations=2)
        return hubs.agg(F.sum("hub").alias("s"))

    t1 = timed(lambda: hits_total(p1))
    tn = timed(lambda: hits_total(p_n))
    print(f"{'graph_hits_topk':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # Lag features: disjoint user spaces, same per-user depth.
    evd1 = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select("user_id", "ts", "value").localCheckpoint()
    evd_n = _red(
        DataFrame.unionByName,
        [evd1.select((F.col("user_id") + F.lit(i * 10_000_000)).alias("user_id"),
                     "ts", "value") for i in range(repl)],
    ).localCheckpoint()

    def lagf(d):
        from pyspark.sql import Window
        daily = d.groupBy(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
            .cast("long").alias("d"),
        ).agg(F.sum(F.expr("cast(floor(value * 100 + 0.5) as bigint)")).alias("rev"))
        base = Window.partitionBy("user_id").orderBy("d")
        return daily.select(
            "user_id", "d", "rev",
            F.max("rev").over(base.rangeBetween(-1, -1)).alias("l1"),
            F.sum("rev").over(base.rangeBetween(-6, 0)).alias("r7"),
        )

    t1 = timed(lambda: lagf(evd1))
    tn = timed(lambda: lagf(evd_n))
    print(f"{'w_lag_features':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")


def wave20_probes(spark, sf_dir: str, repl: int = 10) -> None:
    """10x replication rows for the round-9 wave-20 queries."""
    from functools import reduce as _red

    from pyspark.sql import Window

    # Bucket-quantile: disjoint value offsets grow the distinct-value
    # relation; the bin relation stays bounded by the value range.
    ev1 = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
    ).localCheckpoint()
    ev_n = _red(
        DataFrame.unionByName, [ev1 for _ in range(repl)]
    ).localCheckpoint()

    def bq(d):
        hist = d.groupBy("event_type", F.expr("cents div 100").alias("bin")).agg(
            F.count(F.lit(1)).alias("n")
        )
        cw = Window.partitionBy("event_type").orderBy("bin").rowsBetween(
            Window.unboundedPreceding, 0
        )
        tw = Window.partitionBy("event_type")
        hc = hist.withColumn("cw", F.sum("n").over(cw)).withColumn(
            "tw", F.sum("n").over(tw)
        )
        return hc.groupBy("event_type").agg(
            F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("bin") * 100)).alias("p50")
        )

    t1 = timed(lambda: bq(ev1))
    tn = timed(lambda: bq(ev_n))
    print(f"{'agg_bucket_quantile':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # Assortativity: disjoint replica subgraphs.
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p1 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey").cast("long") + (1 << 40)).alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("__w"))
        .select("src", "dst")
        .localCheckpoint()
    )
    off = 10_000_000
    p_n = _red(
        DataFrame.unionByName,
        [p1.select((F.col("src") + F.lit(i * off)).alias("src"),
                   (F.col("dst") + F.lit(i * off)).alias("dst"))
         for i in range(repl)],
    ).localCheckpoint()

    def assort(p):
        from kcl_akka_stream_spark.operators.aggregations import pearson_stats

        e = p.unionByName(
            p.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        deg = e.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).cast("long").alias("d")
        )
        xy = (
            e.join(F.broadcast(deg.select(F.col("node").alias("s"), F.col("d").alias("x"))), e.src == F.col("s"))
            .join(F.broadcast(deg.select(F.col("node").alias("t"), F.col("d").alias("y"))), e.dst == F.col("t"))
            .select(F.lit("g").alias("g"), "x", "y")
        )
        return pearson_stats(xy, "g", "x", "y")

    t1 = timed(lambda: assort(p1))
    tn = timed(lambda: assort(p_n))
    print(f"{'graph_assortativity':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # Span corruption: token volume grows 10x; the masked subset too.
    from kcl_akka_stream_spark.operators.text import tokens as _tokens

    docs1 = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs_n = replicate_docs(docs1, repl).localCheckpoint()
    docs1 = docs1.localCheckpoint()

    def spans(d):
        toks = d.select("doc_id", F.size(_tokens(F.col("text"))).alias("n")).filter(
            F.col("n") > 0
        )
        pos = toks.select(
            "doc_id", "n", F.explode(F.sequence(F.lit(1), F.col("n"))).alias("i")
        )
        u32 = F.conv(
            F.substring(
                F.md5(F.concat(F.lit("t5|"), F.col("doc_id").cast("string"),
                               F.lit("|"), F.col("i").cast("string"))), 1, 8),
            16, 10,
        ).cast("long")
        m = pos.filter(u32 < F.lit(644245094))
        w = Window.partitionBy("doc_id").orderBy("i")
        sp = m.withColumn("island", F.col("i") - F.row_number().over(w))
        return sp.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_masked"),
            F.countDistinct("island").alias("n_spans"),
        )

    t1 = timed(lambda: spans(docs1))
    tn = timed(lambda: spans(docs_n))
    print(f"{'pipeline_span_corrupt':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")


def arrow_chunk_sweep(spark, n_shards: int = 8, per_shard: int = 250_000) -> None:
    """VERDICT r9 #6: sweep the GENERATOR-side RecordBatch size of the
    Python-DataSource Arrow fast path (the ``arrow_chunk`` source option,
    sources/python_source.py::_arrow_batches -- previously fixed 4096)
    at the r9-tuned maxRecordsPerBatch=100k, same 2M-row RocksDB
    streaming pipeline as arrow_batch_sweep.  The two knobs are
    different layers: arrow_chunk bounds what the GENERATOR builds per
    pa.record_batch call (python-list -> pa.array cost amortization);
    maxRecordsPerBatch bounds what the worker SHIPS per IPC frame.
    spark.sql.execution.pythonUDF.arrow.enabled is orthogonal to this
    path (no Python UDF in the pipeline; the source protocol always
    ships Arrow when read() yields RecordBatches)."""
    import time as _time
    import uuid as _uuid

    from kcl_akka_stream_spark.sources.python_source import register

    register(spark)
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming."
        "state.RocksDBStateStoreProvider"
    )
    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default_provider = spark.conf.get(provider_key)
    default_batch = spark.conf.get(batch_key)
    total = per_shard * n_shards
    try:
        spark.conf.set(provider_key, rocksdb)
        spark.conf.set(batch_key, "100000")
        for chunk in (1_024, 4_096, 16_384, 65_536, 250_000):
            name = f"ac_{_uuid.uuid4().hex[:8]}"
            stream = (
                spark.readStream.format("envelope_sim")
                .option("n_shards", str(n_shards))
                .option("records_per_shard", str(per_shard))
                .option("seqs_per_batch", str(100_000 // n_shards))
                .option("arrow", "true")
                .option("arrow_chunk", str(chunk))
                .load()
            )
            agg = (
                stream.withWatermark("arrival_ts", "1 minute")
                .groupBy(F.window("arrival_ts", "1 hour"), "shard_id")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("sequence_number").alias("sum_seq"),
                )
            )
            t0 = _time.time()
            q = (
                agg.writeStream.outputMode("append")
                .format("memory")
                .queryName(name)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            wall = _time.time() - t0
            print(
                f"{'arrow_chunk_' + str(chunk):22s} {total} rows in "
                f"{wall:6.2f}s  = {total / wall:9.0f} rows/s"
            )
    finally:
        spark.conf.set(provider_key, default_provider)
        spark.conf.set(batch_key, default_batch)


def wave24_25_probes(spark, sf_dir: str, repl: int = 10) -> None:
    """Round-10 probe rows: 10x replication for the wave-24/25 heavy
    shapes.  Events replicate with shifted event_ids (disjoint id space,
    same type/hour mix); docs via replicate_docs.  Linear ratios expected
    for the combinable aggs; the wedge join (reciprocity) scales with
    pair volume."""
    ev1 = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    n_ev = ev1.count()
    ev_n = reduce(
        DataFrame.unionByName,
        [
            ev1.select(
                (F.col("event_id") + F.lit(i * 10_000_000)).alias("event_id"),
                "event_type",
                "ts",
                "value",
            )
            for i in range(repl)
        ],
    ).localCheckpoint()

    from pyspark.sql import Window

    def ks(ev):
        j = ev.groupBy(
            "event_type",
            F.expr("cast(floor(value * 10 + 0.5) as bigint)").alias("bin"),
        ).agg(
            F.sum((F.col("event_id") % 2 == 0).cast("long")).alias("ca"),
            F.sum((F.col("event_id") % 2 == 1).cast("long")).alias("cb"),
        )
        wcum = Window.partitionBy("event_type").orderBy("bin").rowsBetween(
            Window.unboundedPreceding, 0
        )
        wall = Window.partitionBy("event_type")
        cum = j.select(
            "event_type",
            F.sum("ca").over(wcum).alias("cum_a"),
            F.sum("cb").over(wcum).alias("cum_b"),
            F.sum("ca").over(wall).alias("na"),
            F.sum("cb").over(wall).alias("nb"),
        )
        return cum.groupBy("event_type").agg(
            F.expr(
                "cast(max(abs(cum_a * nb - cum_b * na)) * 1000000"
                " div (max(na) * max(nb)) as bigint)"
            ).alias("ks_ppm")
        )

    def cusum(ev):
        wt = Window.partitionBy("event_type")
        wo = Window.partitionBy("event_type").orderBy("event_id")
        t = ev.select(
            "event_type",
            "event_id",
            F.count(F.lit(1)).over(wt).alias("n"),
            F.sum(F.expr("cast(floor(value * 10 + 0.5) as bigint)"))
            .over(wt)
            .alias("s"),
            F.row_number().over(wo).alias("k"),
            F.sum(F.expr("cast(floor(value * 10 + 0.5) as bigint)"))
            .over(wo.rowsBetween(Window.unboundedPreceding, 0))
            .alias("cx"),
        )
        c = t.select(
            "event_type",
            "event_id",
            (F.col("n") * F.col("cx") - F.col("k") * F.col("s")).alias("cusum"),
        )
        wpk = Window.partitionBy("event_type").orderBy(
            F.abs(F.col("cusum")).desc(), "event_id"
        )
        return c.withColumn("rn", F.row_number().over(wpk)).filter(
            F.col("rn") == 1
        )

    def mi(ev):
        cells = ev.groupBy(
            "event_type", F.hour("ts").cast("long").alias("hr")
        ).agg(F.count(F.lit(1)).cast("long").alias("o"))
        m = cells.select(
            "o",
            F.sum("o").over(Window.partitionBy("event_type")).alias("r"),
            F.sum("o").over(Window.partitionBy("hr")).alias("c"),
            F.sum("o").over(Window.partitionBy()).alias("n"),
        )
        return m.agg(
            F.expr(
                "cast(sum(o * cast(round(ln(cast(o as double) * n"
                " / (cast(r as double) * c)) * 1000000) as bigint))"
                " div max(n) as bigint)"
            ).alias("mi")
        )

    for name, op in (("agg_ks_drift", ks), ("w_cusum_changepoint", cusum),
                     ("agg_mutual_info", mi)):
        t1 = timed(lambda: op(ev1))
        tn = timed(lambda: op(ev_n))
        print(f"{name:22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # docs-based: charset profile (map-only agg) + lang vocab jaccard
    docs1 = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    docs_n = replicate_docs(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), repl
    ).join(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang")
        .withColumnRenamed("doc_id", "__src"),
        F.pmod(F.col("doc_id"), F.lit(1_000_000)) == F.col("__src"),
    ).drop("__src").localCheckpoint()

    def charset(d):
        ln = F.length("text").cast("long")
        strip = lambda pat: ln - F.length(F.regexp_replace("text", pat, "")).cast("long")  # noqa: E731
        return d.groupBy("lang").agg(
            F.sum(ln).alias("n_chars"),
            F.sum(strip("[a-z]")).alias("n_lower"),
            F.sum(strip("[0-9]")).alias("n_digit"),
        )

    def vocab_jac(d):
        from kcl_akka_stream_spark.plans.hygiene import spread as _spread

        lt = (
            _spread(d)
            .select("lang", F.explode(X.tokens(F.col("text"))).alias("term"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        a = lt.select(F.col("lang").alias("la"), "term")
        b = lt.select(F.col("lang").alias("lb"), "term")
        return (
            a.join(b, "term")
            .filter(F.col("la") < F.col("lb"))
            .groupBy("la", "lb")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )

    for name, op in (("text_charset", charset), ("lang_vocab_jaccard", vocab_jac)):
        t1 = timed(lambda: op(docs1))
        tn = timed(lambda: op(docs_n))
        print(f"{name:22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")

    # reciprocity wedge join: scale lineitem-shaped (order, supplier, date)
    li1 = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    li_n = reduce(
        DataFrame.unionByName,
        [
            li1.select(
                (F.col("l_orderkey") + F.lit(i * 100_000_000)).alias("l_orderkey"),
                "l_suppkey",
                "l_shipdate",
            )
            for i in range(repl)
        ],
    ).localCheckpoint()

    def recip(li):
        sd = li.groupBy(
            F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("s")
        ).agg(F.min("l_shipdate").alias("d"))
        a = sd.select("k", F.col("s").alias("sa"), F.col("d").alias("da"))
        b = sd.select("k", F.col("s").alias("sb"), F.col("d").alias("db"))
        e = (
            a.join(b, "k")
            .filter(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("sa") < F.col("sb")))
            )
            .select(F.col("sa").alias("src"), F.col("sb").alias("dst"))
            .distinct()
        )
        return e.agg(F.count(F.lit(1)).alias("n_edges"))

    t1 = timed(lambda: recip(li1))
    tn = timed(lambda: recip(li_n))
    print(f"{'graph_reciprocity':22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}")


def graph_broadcast_flag_probe(spark, sf_dir: str, repl: int = 10) -> None:
    """Round-10 evidence for the broadcast_scores fix (VERDICT r9 #1):
    run label_propagation (2 rounds) on the co-purchase graph at 1x and
    Nx with BOTH flag settings.  The default (False = shuffled
    score-attach join) must hold its ratio at 10x -- that is the
    billion-node posture; the opt-in broadcast is the fixture-scale
    accelerator.  Nx replicas shift both node-id spaces so the graphs
    are disjoint (no artificial mega-communities)."""
    from kcl_akka_stream_spark.operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p1 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey").cast("long") + F.lit(1 << 40)).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    e1 = p1.unionByName(
        p1.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    ).localCheckpoint()
    e_n = reduce(
        DataFrame.unionByName,
        [
            e1.select(
                (F.col("src") + F.lit(i * (1 << 50))).alias("src"),
                (F.col("dst") + F.lit(i * (1 << 50))).alias("dst"),
                "w",
            )
            for i in range(repl)
        ],
    ).localCheckpoint()

    import time as _time

    for flag in (False, True):
        times = []
        for e in (e1, e_n):
            t0 = _time.time()
            label_propagation(e, iterations=2, broadcast_scores=flag).count()
            times.append(_time.time() - t0)
        name = f"lpa_bcast_{str(flag).lower()}"
        print(
            f"{name:22s} 1x={times[0]:6.2f}s  {repl}x={times[1]:6.2f}s"
            f"  ratio={times[1] / times[0]:5.2f}"
        )


def sorted_neighborhood_skew_probe(spark, sf_dir: str, repl: int = 10) -> None:
    """Round-11 evidence for the banded SN de-skew (VERDICT r10 #4):
    build a MONOLINGUAL corpus (every doc forced to lang='xx' -- the
    exact skew case the r10 plan degraded on: one lang = one-partition
    global sort) at 1x and Nx, and time candidate generation under

    - the r10 plan: Window.partitionBy(lang) global sort + lead(1..3);
    - the banded plan: sorted_neighborhood_pairs (per-(lang, first-char
      band) sort + exact-global-rank boundary stitching).

    Both are counted to completion.  The banded plan's ratio should
    track data growth; the single-partition plan concentrates the Nx
    sort on one task."""
    from pyspark.sql import Window

    from kcl_akka_stream_spark.operators.dedup import sorted_neighborhood_pairs

    docs1 = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs_n = replicate_docs(docs1, repl)

    def keyed_of(d):
        return d.select(
            "doc_id",
            F.lit("xx").alias("lang"),
            F.lower(F.substring("text", 1, 24)).alias("k"),
        ).localCheckpoint()

    k1, kn = keyed_of(docs1), keyed_of(docs_n)

    def naive(keyed):
        win = Window.partitionBy("lang").orderBy("k", "doc_id")
        leads = keyed.select(
            "doc_id",
            *[F.lead("doc_id", i).over(win).alias(f"n{i}") for i in (1, 2, 3)],
        )
        parts = [
            leads.filter(F.col(f"n{i}").isNotNull()).select(
                F.least("doc_id", f"n{i}").alias("id_a"),
                F.greatest("doc_id", f"n{i}").alias("id_b"),
            )
            for i in (1, 2, 3)
        ]
        return reduce(DataFrame.unionByName, parts).distinct()

    def banded(keyed):
        return sorted_neighborhood_pairs(keyed, key_col="k", w=3)

    for name, op in (("sn_global_sort", naive), ("sn_banded", banded)):
        t1 = timed(lambda: op(k1))
        tn = timed(lambda: op(kn))
        print(
            f"{name:22s} 1x={t1:6.2f}s  {repl}x={tn:6.2f}s  ratio={tn / t1:5.2f}"
        )
    # sanity: identical candidate sets on the monolingual 1x corpus
    a = {(r.id_a, r.id_b) for r in naive(k1).collect()}
    b = {(r.id_a, r.id_b) for r in banded(k1).collect()}
    print(f"# candidate-set equality (monolingual 1x): {a == b} ({len(a)} pairs)")


def reciprocity_cap_probe(spark, sf_dir: str, repl: int = 10) -> None:
    """Round-11 evidence for max_order_width (VERDICT r10 #5): replicate
    lineitem SHARING order keys but with disjoint supplier ids, so every
    order's distinct-supplier width grows ~repl x -- the wedge join's
    C(m,2) blow-up becomes (repl^2)x while row count grows repl x.  The
    capped plan (max_order_width=64: the base fixture's p100 width times
    headroom; the replicated corpus exceeds it on wide orders) drops the
    oversized orders and must scale ~linearly; the uncapped plan carries
    the quadratic wedge."""
    from kcl_akka_stream_spark.queries.pipeline import _reciprocity_plan
    import kcl_akka_stream_spark.queries.pipeline as P

    li1 = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    li_n = reduce(
        DataFrame.unionByName,
        [
            li1.select(
                "l_orderkey",
                (F.col("l_suppkey") + F.lit(i * 10_000_000)).alias("l_suppkey"),
                F.date_add("l_shipdate", i).alias("l_shipdate"),
            )
            for i in range(repl)
        ],
    ).localCheckpoint()
    li1 = li1.localCheckpoint()

    orig_tbl = P.tbl
    try:
        for name, frame in (("1x", li1), (f"{repl}x", li_n)):
            P.tbl = lambda s, sfd, t, _f=frame: _f if t == "lineitem" else orig_tbl(s, sfd, t)
            for label, cap in (("uncapped", None), ("cap=64", 64), ("cap=16", 16)):
                t = timed(lambda: _reciprocity_plan(spark, sf_dir, cap))
                print(f"reciprocity {label:9s} {name:4s} {t:6.2f}s")
    finally:
        P.tbl = orig_tbl


def md5_vectorization_probe(spark=None, sf_dir: str = "", n: int = 500_000) -> None:
    """Round-11 measurement of VERDICT r10 #6 ("vectorize the md5
    partition-key derivation -- the last per-row Python call in the
    streaming data plane").  Three _arrow_batches builders over n rows:

    - current:    per-row f-string + hashlib.md5 (the shipped path)
    - vectorized: numpy single-block MD5 (functions/vectorized_md5.py)
                  + np.char column builds + datetime64 timestamps
    - hybrid:     np.char/datetime64 columns, hashlib md5 loop

    Verifies all three produce IDENTICAL Arrow tables, then prints
    rows/s.  The r10 hypothesis was that the md5 loop bounds throughput;
    the measurement refutes it -- see SCALE_PROBE.md."""
    import time as _time

    import numpy as np
    import pyarrow as pa

    from datetime import datetime, timedelta

    from kcl_akka_stream_spark.functions.vectorized_md5 import md5_hex
    from kcl_akka_stream_spark.sources.python_source import ARROW_CHUNK_DEFAULT

    base = datetime(2026, 1, 1)
    shard = 3
    chunk = ARROW_CHUNK_DEFAULT
    names = ["shard_id", "sequence_number", "partition_key", "data", "arrival_ts"]
    sid = f"shardId-{shard:012d}"

    def current():
        import hashlib

        out = []
        seqs = list(range(1, n + 1))
        for i in range(0, len(seqs), chunk):
            part = seqs[i : i + chunk]
            out.append(pa.record_batch([
                pa.array([sid] * len(part), pa.string()),
                pa.array(part, pa.int64()),
                pa.array([hashlib.md5(f"pk-{shard}-{q}".encode()).hexdigest() for q in part], pa.string()),
                pa.array([f"msg-{shard}-{q}" for q in part], pa.string()),
                pa.array([base + timedelta(seconds=q) for q in part], pa.timestamp("us")),
            ], names=names))
        return out

    def vectorized():
        seqs = np.arange(1, n + 1, dtype=np.int64)
        b64 = np.datetime64(base, "us")
        out = []
        for i in range(0, len(seqs), chunk):
            qs = seqs[i : i + chunk]
            digits = qs.astype("U20")
            pks = md5_hex(np.char.add(f"pk-{shard}-", digits).astype("S"))
            out.append(pa.record_batch([
                pa.array([sid] * len(qs), pa.string()),
                pa.array(qs, pa.int64()),
                pa.array(pks, pa.string()),
                pa.array(np.char.add(f"msg-{shard}-", digits), pa.string()),
                pa.array(b64 + qs.astype("timedelta64[s]"), pa.timestamp("us")),
            ], names=names))
        return out

    def hybrid():
        import hashlib

        seqs = np.arange(1, n + 1, dtype=np.int64)
        b64 = np.datetime64(base, "us")
        out = []
        for i in range(0, len(seqs), chunk):
            qs = seqs[i : i + chunk]
            digits = qs.astype("U20")
            pk_in = np.char.add(f"pk-{shard}-", digits).astype("S")
            out.append(pa.record_batch([
                pa.array([sid] * len(qs), pa.string()),
                pa.array(qs, pa.int64()),
                pa.array([hashlib.md5(x).hexdigest() for x in pk_in], pa.string()),
                pa.array(np.char.add(f"msg-{shard}-", digits), pa.string()),
                pa.array(b64 + qs.astype("timedelta64[s]"), pa.timestamp("us")),
            ], names=names))
        return out

    tables = {}
    for name, fn in (("current", current), ("vectorized", vectorized), ("hybrid", hybrid)):
        fn()
        t0 = _time.time()
        batches = fn()
        dt = _time.time() - t0
        tables[name] = pa.Table.from_batches(batches)
        print(f"arrow_build_{name:11s} {n / dt:>12,.0f} rows/s")
    eq = tables["current"].equals(tables["vectorized"]) and tables["current"].equals(tables["hybrid"])
    print(f"# all builders byte-identical: {eq}")


def wave31_38_probes(spark, sf_dir: str, repl: int = 10) -> None:
    """Round-11 probe rows: 10x replication for the wave-31..38 heavy
    shapes.  Events replicate with shifted event_ids AND user_ids
    (disjoint id spaces -- user-keyed windows must not widen per user);
    docs via replicate_docs (injective perturbation).  Expected: ~linear
    for the combinable aggs and user-keyed windows; the cascade scales
    with candidate volume (bucketed, df-capped upstream)."""
    import kcl_akka_stream_spark.queries.core as C
    import kcl_akka_stream_spark.queries.pipeline as P

    ev1 = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    ).localCheckpoint()
    ev_n = reduce(
        DataFrame.unionByName,
        [
            ev1.select(
                (F.col("event_id") + F.lit(i * 10_000_000)).alias("event_id"),
                (F.col("user_id") + F.lit(i * 10_000_000)).alias("user_id"),
                "event_type",
                "ts",
                "value",
            )
            for i in range(repl)
        ],
    ).localCheckpoint()
    docs1 = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    ).localCheckpoint()
    docs_n = replicate_docs(
        docs1.select("doc_id", "text"), repl
    ).join(
        docs1.select(F.col("doc_id").alias("__base"), "lang"),
        F.expr("doc_id % 10000000 = __base"),
    ).select("doc_id", "text", "lang").localCheckpoint()

    orig_c, orig_p = C.tbl, P.tbl

    def run(qname, module, table, frames):
        from kcl_akka_stream_spark.queries import QUERIES

        times = []
        for frame in frames:
            module.tbl = (
                lambda s, sfd, name, _f=frame, _t=table, _o=(orig_c if module is C else orig_p):
                _f if name == _t else _o(s, sfd, name)
            )
            try:
                times.append(timed(lambda: QUERIES[qname](spark, sf_dir)))
            finally:
                module.tbl = orig_c if module is C else orig_p
        print(
            f"{qname:28s} 1x={times[0]:6.2f}s  {repl}x={times[1]:6.2f}s"
            f"  ratio={times[1] / times[0]:5.2f}"
        )

    for q in ("agg_mann_whitney", "agg_welch_ttest", "agg_trimmed_mean",
              "agg_psi_drift", "agg_quantile_normalize", "w_streaks",
              "w_markov_transitions"):
        run(q, C, "events", (ev1, ev_n))
    for q in ("text_readability", "text_bm25_topk",
              "pipeline_filter_attribution", "dedup_containment_verified",
              "pipeline_dedup_cascade_report"):
        run(q, P, "documents", (docs1, docs_n))
