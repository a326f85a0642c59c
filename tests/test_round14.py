"""Round-14 pins: the mergeable quantile summary (21st state family)
and its DKW acceptance gate."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_quantile_merge_sample_is_min_union_semilattice(spark):
    # The family's merge soundness: bottom-k of a union of per-batch
    # bottom-ks == bottom-k of the whole relation, and a replayed
    # (duplicated) batch changes nothing -- the property that lets
    # micro-batch states merge exactly under at-least-once delivery.
    from kcl_akka_stream_spark.operators.sampling import hash_bottom_k

    rows = [("a", i, i * 10) for i in range(50)] + [
        ("b", i, i * 7) for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "event_type string, event_id long, cents long"
    )
    direct = {
        (r.event_type, r.event_id)
        for r in hash_bottom_k(
            df, "event_type", "event_id", 8, seed="qsk"
        ).collect()
    }
    # split into 3 "batches", fold each, merge the folds (+ replay batch 1)
    b1 = df.filter("event_id % 3 = 0")
    b2 = df.filter("event_id % 3 = 1")
    b3 = df.filter("event_id % 3 = 2")
    folds = [
        hash_bottom_k(b, "event_type", "event_id", 8, seed="qsk")
        for b in (b1, b2, b3, b1)  # b1 twice = at-least-once replay
    ]
    st = folds[0]
    for f in folds[1:]:
        st = st.unionByName(f)
    merged = {
        (r.event_type, r.event_id)
        for r in hash_bottom_k(
            st, "event_type", "event_id", 8, seed="qsk"
        ).collect()
    }
    assert merged == direct


def test_quantile_merge_dkw_gate_arithmetic():
    # The acceptance gate is pure int64 on both engines:
    # err_ppm^2 * 2 * k_s <= ln(200) in micro-nats * 1e6 (= 5298317e6).
    # Boundary pins: eps(k=256) = sqrt(ln200/(2*256)) ~ 0.101726 ->
    # 101726 ppm passes, 101727 ppm fails -- an engineered red proving
    # the gate can reject a biased sketch, not just rubber-stamp.
    def within(err_ppm: int, k_s: int) -> bool:
        return err_ppm * err_ppm * 2 * k_s <= 5298317000000

    assert within(101726, 256)
    assert not within(101727, 256)
    # a grossly biased sample (20% rank error) is rejected at any k
    assert not within(200000, 256)
    # smaller samples get a looser bound (DKW scales 1/sqrt(k))
    assert within(140000, 128)
    assert not within(150000, 128)


def test_quantile_merge_acceptance_report_green(spark, sf_dir):
    # End-to-end at sf0.001: every (type, decile) estimate sits within
    # the DKW envelope, ranks are ppm-exact integers, and the report is
    # non-vacuous (5 types x 9 deciles).
    from kcl_akka_stream_spark.queries import QUERIES

    out = QUERIES["stream_quantile_merge"](spark, sf_dir).collect()
    assert len(out) == 45
    for r in out:
        assert r.within_dkw == 1, (r.event_type, r.decile, r.err_ppm)
        assert 0 <= r.sample_rank_ppm <= 1000000
        assert 0 <= r.exact_rank_ppm <= 1000000
        assert r.k_s <= 256
        # decile estimates are real sample members: monotone in decile
    by_type: dict = {}
    for r in out:
        by_type.setdefault(r.event_type, []).append((r.decile, r.est_cents))
    for t, pairs in by_type.items():
        cents = [c for _, c in sorted(pairs)]
        assert cents == sorted(cents), (t, cents)


def test_hll_registers_match_python_replica(spark):
    # bit-for-bit pin of the register construction: 60-bit seeded md5,
    # j = top 6 bits, rho = 55 - bitlen(low 54 bits) (55 when zero)
    import hashlib

    ids = list(range(1, 401))
    df = spark.createDataFrame(
        [("t", i) for i in ids], "event_type string, user_id long"
    )
    from kcl_akka_stream_spark.operators.sketches import hll_registers

    got = {
        r.j: r.m_r
        for r in hll_registers(df, "event_type", "user_id").collect()
    }
    exp: dict[int, int] = {}
    for i in ids:
        h = int(hashlib.md5(f"hll|{i}".encode()).hexdigest()[:15], 16)
        j, w = h >> 54, h % (1 << 54)
        rho = 55 if w == 0 else 55 - w.bit_length()
        exp[j] = max(exp.get(j, 0), rho)
    assert got == exp


def test_hll_register_merge_is_max_semilattice(spark):
    # per-batch registers merged by MAX == whole-data registers, and a
    # replayed batch changes nothing (idempotent)
    from pyspark.sql import functions as F2

    from kcl_akka_stream_spark.operators.sketches import hll_registers

    rows = [("t", i) for i in range(500)]
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    direct = {
        (r.j, r.m_r)
        for r in hll_registers(df, "event_type", "user_id").collect()
    }
    parts = [df.filter(f"user_id % 3 = {k}") for k in range(3)]
    st = None
    for b in parts + [parts[0]]:  # replay batch 0
        reg = hll_registers(b, "event_type", "user_id")
        st = reg if st is None else st.unionByName(reg)
    merged = {
        (r.j, r.m_r)
        for r in st.groupBy("event_type", "j")
        .agg(F2.max("m_r").alias("m_r"))
        .collect()
    }
    assert merged == direct


def test_hll_linear_counting_small_range(spark):
    # engineered small-cardinality input: most registers empty -> the
    # linear-counting path must be chosen and land within 3 sigma; and
    # the acceptance gate goes RED when truth is decoupled (the same
    # estimate judged against a 10x-wrong truth fails within_3sigma)
    from kcl_akka_stream_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    df = spark.createDataFrame(
        [("t", i) for i in range(12)], "event_type string, user_id long"
    )
    est = hll_estimate(
        hll_registers(df, "event_type", "user_id"), "event_type"
    ).collect()[0]
    assert est.method == "lc"
    assert est.v_zeros > 0
    # within 3*1.04/8 of the true 12
    assert abs(est.est_micro / 1e6 - 12) <= 0.39 * 12
    # decoupled truth -> red
    assert abs(est.est_micro // 120 - 1000000) > 390000


def test_f2_sketch_state_additive_and_unbiased_construction(spark):
    # signed sums match a python replica digit-for-digit, per-batch
    # states merge by plain addition, and the estimate of a known
    # frequency vector is the exact mean of replica squares
    import hashlib

    from pyspark.sql import functions as F2

    from kcl_akka_stream_spark.operators.sketches import (
        f2_estimate,
        f2_sketch_state,
    )

    rows = [("t", i % 7) for i in range(200)]  # f_v = ~29 each, F2 known
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    st = f2_sketch_state(df, "event_type", "user_id").collect()[0]

    def sign(r: int, v: int) -> int:
        # digit (r % 32) of md5(seed|r//32|id): 32 sign bits per digest
        h = int(
            hashlib.md5(f"f2|{r // 32}|{v}".encode()).hexdigest()[r % 32],
            16,
        )
        return 1 - 2 * (h % 2)

    for r in range(64):
        exp = sum(sign(r, v) for _, v in rows)
        assert st[f"x_{r}"] == exp, r
    # additivity: split + sum == direct
    a = f2_sketch_state(
        df.filter("user_id < 4"), "event_type", "user_id"
    ).collect()[0]
    b = f2_sketch_state(
        df.filter("user_id >= 4"), "event_type", "user_id"
    ).collect()[0]
    for r in range(64):
        assert a[f"x_{r}"] + b[f"x_{r}"] == st[f"x_{r}"], r
    # estimator = integer mean of squares
    est = f2_estimate(
        f2_sketch_state(df, "event_type", "user_id"), "event_type"
    ).collect()[0]
    assert est.est_f2 == sum(st[f"x_{r}"] ** 2 for r in range(64)) // 64
    # engineered red: a single-key stream (f = [200]) has F2 = 40000 and
    # EVERY replica sums to +-200, so est is EXACT -- while judging the
    # same est against a decoupled 10x truth trips the 3-sigma gate
    one = spark.createDataFrame(
        [("t", 1)] * 50, "event_type string, user_id long"
    )
    e1 = f2_estimate(
        f2_sketch_state(one, "event_type", "user_id"), "event_type"
    ).collect()[0]
    assert e1.est_f2 == 2500  # (+-50)^2 in every replica
    assert abs(1000000 * e1.est_f2 // 25000 - 1000000) > 530330


def test_quality_model_auc_gate_and_red(spark, sf_dir):
    # green: the engineered fixture separates at ~0.99 (gated >= 0.90);
    # red: labels decoupled from scores (random-ish parity label on the
    # same scores) collapse AUC to ~0.5 -- the gate measures the model
    from pyspark.sql import functions as F2

    from kcl_akka_stream_spark.operators.quality import (
        hashed_logodds_fit_score,
    )
    from kcl_akka_stream_spark.queries import QUERIES
    from kcl_akka_stream_spark.queries.pipeline import _qmodel_fixture
    from kcl_akka_stream_spark.queries.registry import tbl as _tbl

    row = QUERIES["text_quality_model_auc"](spark, sf_dir).collect()[0]
    assert row.separable == 1
    assert row.auc_ppm >= 900000
    assert row.n_pos > 0 and row.n_neg > 0

    # decoupled labels: score with the REAL model, then relabel by a
    # hash parity orthogonal to the markers -> AUC falls to ~chance
    fx = _qmodel_fixture(_tbl(spark, sf_dir, "documents"))
    scored = hashed_logodds_fit_score(fx).withColumn(
        "label", F2.expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 2), 16, 10) as int) % 2")
    )
    g = scored.groupBy("score_micro").agg(
        F2.count(F2.lit(1)).alias("c"), F2.sum("label").alias("c_pos")
    )
    from pyspark.sql import Window as W2

    w = W2.orderBy("score_micro").rowsBetween(W2.unboundedPreceding, -1)
    cum = g.select(
        "c", "c_pos", F2.coalesce(F2.sum("c").over(w), F2.lit(0)).alias("cl")
    )
    r = cum.agg(
        F2.sum("c_pos").alias("np"),
        F2.sum(F2.expr("c - c_pos")).alias("nn"),
        F2.sum(F2.expr("c_pos * (2 * cl + c + 1)")).alias("sr"),
    ).collect()[0]
    auc = (r.sr - r.np * (r.np + 1)) / (2 * r.np * r.nn)
    assert abs(auc - 0.5) < 0.2, auc


def test_kneser_ney_discounts_and_interpolates(spark, sf_dir):
    # KN must discount every seen bigram below its MLE estimate unless
    # the continuation term makes up the difference -- and the discount
    # mass must be visibly redistributed: p_kn < p_mle for bigrams whose
    # right word has few predecessors, and p_kn > 0 everywhere.
    from kcl_akka_stream_spark.queries import QUERIES

    rows = QUERIES["text_kneser_ney"](spark, sf_dir).collect()
    assert len(rows) == 50
    for r in rows:
        assert r.p_kn_ppm > 0
        assert r.c12 <= r.c1
        assert r.n1w1 >= 1 and r.ncw2 >= 1
        # exact replica of the staged-integer formula
        term1 = (1000000 * (4 * r.c12 - 3)) // (4 * r.c1)
        lam = (3000000 * r.n1w1) // (4 * r.c1)
        pc = (1000000 * r.ncw2) // r.npp
        assert r.p_kn_ppm == term1 + lam * pc // 1000000
        assert r.p_mle_ppm == 1000000 * r.c12 // r.c1
    # discounting: the pure-discount term is strictly below MLE for
    # every seen bigram (3/4 of a count is withheld)
    assert all(
        (1000000 * (4 * r.c12 - 3)) // (4 * r.c1) <= r.p_mle_ppm
        for r in rows
    )


def test_cdc_chunks_shift_invariance(spark):
    # THE content-defined-chunking property (why Rabin anchors beat
    # fixed-size splits): prepending a prefix re-chunks only the edit
    # neighborhood -- downstream chunk hashes keep their identity.
    from kcl_akka_stream_spark.operators.dedup import cdc_chunks

    base = " ".join(f"tok{i % 97}x{i % 13}" for i in range(600))
    df = spark.createDataFrame(
        [(1, base), (2, "inserted preamble words here " + base)],
        "doc_id long, text string",
    )
    ch = cdc_chunks(df, k=8, mod=16).collect()
    a = {r.chunk_hash for r in ch if r.doc_id == 1}
    b = {r.chunk_hash for r in ch if r.doc_id == 2}
    assert len(a) >= 4, len(a)  # the doc actually chunked
    # all but the first (edit-adjacent) chunks survive the insertion
    shared = a & b
    assert len(shared) >= len(a) - 2, (len(a), len(shared))
    # and a FIXED-size split of the same pair would share nothing: the
    # contrast that motivates CDC (engineered red for the property)
    fixed_a = [base.split()[i : i + 64] for i in range(0, 600, 64)]
    fixed_b_tokens = ("inserted preamble words here " + base).split()
    fixed_b = [fixed_b_tokens[i : i + 64] for i in range(0, len(fixed_b_tokens), 64)]
    shared_fixed = {" ".join(c) for c in fixed_a} & {
        " ".join(c) for c in fixed_b
    }
    assert len(shared_fixed) == 0


def test_cdc_chunks_partition_doc_exactly(spark, sf_dir):
    # chunks tile each doc: per-doc chunk lengths sum to the token count
    from pyspark.sql import functions as F2

    from kcl_akka_stream_spark.operators.dedup import cdc_chunks
    from kcl_akka_stream_spark.operators.text import tokens
    from kcl_akka_stream_spark.queries.registry import tbl as _tbl

    docs = _tbl(spark, sf_dir, "documents").limit(50)
    ch = cdc_chunks(docs, k=8, mod=64)
    got = {
        r.doc_id: r.s
        for r in ch.groupBy("doc_id")
        .agg(F2.sum("chunk_len").alias("s"))
        .collect()
    }
    exp = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F2.size(tokens(F2.col("text"))).alias("n")
        ).collect()
        if r.n > 0
    }
    assert got == exp


def _pav_replica(pairs):
    # classic stack PAV over (n, pos) buckets -> fitted ppm per bucket,
    # pooled rates as integer ppm like the query
    blocks = []  # (n, pos)
    for n, pos in pairs:
        blocks.append([n, pos])
        while len(blocks) >= 2:
            (n2, p2), (n1, p1) = blocks[-1], blocks[-2]
            if 1000000 * p1 // n1 > 1000000 * p2 // n2:
                blocks[-2:] = [[n1 + n2, p1 + p2]]
            else:
                break
    out = []
    for n, pos in blocks:
        out.extend([1000000 * pos // n] * 0)  # lengths handled below
    # expand: each block covers its member buckets
    fitted = []
    i = 0
    for n, pos in blocks:
        # count how many original buckets pooled into this block
        acc_n = 0
        cnt = 0
        while acc_n < n:
            acc_n += pairs[i][0]
            i += 1
            cnt += 1
        fitted.extend([1000000 * pos // n] * cnt)
    return fitted


def test_isotonic_calibration_monotone_and_pools_violations(spark, sf_dir):
    from kcl_akka_stream_spark.queries import QUERIES

    rows = QUERIES["text_quality_model_calibration"](spark, sf_dir).collect()
    assert 2 <= len(rows) <= 16
    iso = [r.iso_rate_ppm for r in rows]
    assert iso == sorted(iso)  # monotone by construction
    # calibration direction: top bucket >= bottom bucket and the model
    # separates (the fixture's markers drive scores)
    assert iso[-1] > iso[0]
    # the minimax form agrees with the classic stack-PAV replica
    # EXCEPT for ppm-truncation ties; verify on the actual buckets
    pairs = [(r.n, r.pos) for r in rows]
    fitted = _pav_replica(pairs)
    got = [r.iso_rate_ppm for r in rows]
    # pooled-rate truncation can differ by <= 1 ppm between the stack
    # and minimax forms when a block rate is not an exact ppm; allow 1
    assert all(abs(a - b) <= 1 for a, b in zip(got, fitted)), (got, fitted)
    # engineered violation red: a decreasing raw sequence must pool
    assert _pav_replica([(10, 9), (10, 1)]) == [500000, 500000]
    assert _pav_replica([(10, 1), (10, 9)]) == [100000, 900000]


def test_dirichlet_ql_smoothing_and_ranking(spark, sf_dir):
    import math

    from kcl_akka_stream_spark.queries import QUERIES

    rows = QUERIES["text_dirichlet_ql"](spark, sf_dir).collect()
    assert len(rows) == 20
    scores = [r.score_micro for r in rows]
    assert scores == sorted(scores, reverse=True)
    # every score is finite and negative (log-probabilities of a 5-term
    # query); smoothing guarantees no -inf even for unmatched docs
    assert all(s < 0 for s in scores)
    # replica on an engineered corpus: 2 docs, query term 'aa' dominant;
    # the doc CONTAINING 'aa' must outrank the one that only gets
    # smoothing mass, and the smoothed-only doc still scores finite
    df = spark.createDataFrame(
        [(1, "aa aa aa bb cc"), (2, "dd ee ff gg hh")],
        "doc_id long, text string",
    )
    # reuse the query machinery by registering a mini-run inline
    from kcl_akka_stream_spark.queries.pipeline import text_dirichlet_ql  # noqa: F401

    # direct replica of the formula for doc 2 / term 'aa' (c_td = 0):
    # ln(mu*cf / ((dlen+mu)*ctot)) with mu=2000, cf=3, ctot=10, dlen=5
    v = math.log((0 * 10 + 2000 * 3) / ((5 + 2000) * 10))
    assert round(v * 1e6) == -1206470  # frozen: the replica itself pins


def test_prefix_filter_completeness(spark):
    # the PPJoin guarantee: prefix candidates contain EVERY pair with
    # Jaccard >= t (t = 0.8) -- verified against the brute-force answer
    # on an engineered corpus with near-dup, partial, and disjoint pairs
    from kcl_akka_stream_spark.operators.dedup import (
        _exploded_shingles,
        shingles,
    )
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F2

    base = " ".join(f"w{i}" for i in range(40))
    docs = [
        (1, base),
        (2, base + " extra"),                      # J ~ 38/41 > 0.8
        (3, base.replace("w5", "q5")),             # J ~ high
        (4, " ".join(f"z{i}" for i in range(40))),  # disjoint
        (5, base[: len(base) // 2]),               # partial overlap
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sh = _exploded_shingles(df, "text", "doc_id", 3)
    sizes = {r.doc_id: r.n for r in sh.groupBy("doc_id").agg(F2.count(F2.lit(1)).alias("n")).collect()}
    rows = sh.collect()
    sets: dict = {}
    for r in rows:
        sets.setdefault(r.doc_id, set()).add(r.shingle)
    truth = set()
    ids = sorted(sets)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = sets[ids[i]], sets[ids[j]]
            inter = len(a & b)
            if 5 * inter >= 4 * (len(a) + len(b) - inter):
                truth.add((ids[i], ids[j]))
    assert truth, "fixture must contain at least one >=0.8 pair"
    # build prefix candidates exactly like the query
    freq = sh.groupBy("shingle").agg(F2.count(F2.lit(1)).alias("df"))
    w = W.partitionBy("doc_id").orderBy("df", "shingle")
    szdf = sh.groupBy("doc_id").agg(F2.count(F2.lit(1)).alias("n_sh"))
    pref = (
        sh.join(freq, "shingle")
        .join(szdf, "doc_id")
        .select("doc_id", "shingle", "n_sh", F2.row_number().over(w).alias("rn"))
        .filter(F2.expr("rn <= n_sh - (8 * n_sh + 9) div 10 + 1"))
        .select("doc_id", "shingle")
    )
    a = pref.select(F2.col("doc_id").alias("id_a"), "shingle")
    b = pref.select(F2.col("doc_id").alias("id_b"), "shingle")
    cand = {
        (r.id_a, r.id_b)
        for r in a.join(b, "shingle").filter("id_a < id_b").select("id_a", "id_b").distinct().collect()
    }
    assert truth <= cand, truth - cand
    # and it actually filters: some non-matching pair is absent
    allp = {(ids[i], ids[j]) for i in range(len(ids)) for j in range(i + 1, len(ids))}
    assert cand < allp


def test_woe_iv_signs_and_replica(spark, sf_dir):
    import math

    from kcl_akka_stream_spark.queries import QUERIES

    rows = QUERIES["agg_woe_iv"](spark, sf_dir).collect()
    assert 2 <= len(rows) <= 10
    tot = {r.iv_total_micro for r in rows}
    assert len(tot) == 1  # total repeated consistently
    # every contribution is non-negative: dshare and WOE share sign
    # (both compare the same two shifted shares), so IV >= 0 -- the
    # J-divergence property
    assert all(r.iv_contrib_micro >= 0 for r in rows)
    assert tot.pop() == sum(r.iv_contrib_micro for r in rows)
    # WOE replica on one bucket
    post = sum(r.pos for r in rows)
    negt = sum(r.neg for r in rows)
    r0 = rows[0]
    exp = round(
        math.log(((r0.pos + 1) * (negt + 10)) / ((r0.neg + 1) * (post + 10)))
        * 1e6
    )
    assert abs(r0.woe_micro - exp) <= 1


def test_hilbert_matches_canonical_xy2d(spark):
    # bit-for-bit pin against the textbook xy2d walk (full-coordinate
    # mutation form) -- the unrolled masked rewrite must be identical
    import random

    from kcl_akka_stream_spark.operators.layout import hilbert_index

    def xy2d(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    random.seed(14)
    pts = [(random.randrange(256), random.randrange(256)) for _ in range(200)]
    pts += [(0, 0), (255, 255), (0, 255), (255, 0), (128, 127)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {(r.x, r.y): r.hval for r in hilbert_index(df, "x", "y", 8).collect()}
    for x, y in pts:
        assert got[(x, y)] == xy2d(256, x, y), (x, y)


def test_hilbert_beats_zorder_fragmentation(spark, sf_dir):
    # the property that motivates Hilbert over Morton: the shared 64x64
    # query rectangle touches no MORE curve-prefix buckets under Hilbert
    # than under z-order (adjacent curve positions are always adjacent
    # cells, so ranges fragment less)
    from kcl_akka_stream_spark.queries import QUERIES

    h = QUERIES["sink_hilbert_layout"](spark, sf_dir).collect()
    z = QUERIES["sink_zorder_roundtrip"](spark, sf_dir).collect()
    h_frag = sum(1 for r in h if r.n_rect > 0)
    z_frag = sum(1 for r in z if r.n_rect > 0)
    assert h_frag <= z_frag, (h_frag, z_frag)
    # same rows land in the rectangle either way (the layouts reorder,
    # never filter)
    assert sum(r.n_rect for r in h) == sum(r.n_rect for r in z)
    assert sum(r.n for r in h) == sum(r.n for r in z)


def test_power_iteration_pc1_finds_planted_direction(spark):
    # engineered covariance: dim 0 carries 10x the variance of the rest,
    # so the dominant eigenvector must concentrate on dim 0 (|v0|=1000
    # after max-abs normalization) with a POSITIVE sign by the rule
    import random

    from kcl_akka_stream_spark.queries import QUERIES

    random.seed(3)
    rows = []
    for i in range(300):
        main = random.gauss(0, 1.0)
        vec = [main * 3.0] + [random.gauss(0, 0.3) for _ in range(7)]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    import kcl_akka_stream_spark.queries.pipeline as P

    # run the query body against the small frame by monkeypatching the
    # module-level tbl binding pipeline.py imported by name
    orig = P.tbl
    try:
        P.tbl = lambda s, d, n: df
        out = {r.dim: r.pc1_milli for r in P.emb_power_iteration_pc1(spark, "x").collect()}
    finally:
        P.tbl = orig
    assert len(out) == 8
    assert abs(out[0]) == 1000  # dominant component saturates the norm
    assert all(abs(out[d]) < 500 for d in range(1, 8)), out


def test_power_iteration_pc1_int64_guard_raises(spark, tmp_path):
    # Covariance entries fit int64 (1e16) but the first power step
    # w = C v sums 2 x 1e16 x 1000 = 2e19 > 2^63: the exact-int64
    # equivalence with the all-Spark plan no longer holds, so the query
    # must raise OverflowError -- a real exception, not an assert that
    # ``python -O`` strips.
    import pytest

    from kcl_akka_stream_spark.queries import QUERIES

    spark.createDataFrame(
        [(0, [100.0, 100.0]), (1, [-100.0, -100.0])],
        "vec_id long, embedding array<double>",
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    with pytest.raises(OverflowError, match="exceeds int64"):
        QUERIES["emb_power_iteration_pc1"](spark, str(tmp_path))


def test_heaps_law_monotone_and_beta(spark, sf_dir):
    from kcl_akka_stream_spark.queries import QUERIES

    rows = QUERIES["text_heaps_law"](spark, sf_dir).collect()
    assert len(rows) == 10
    toks = [r.prefix_tokens for r in rows]
    vocab = [r.vocab for r in rows]
    assert toks == sorted(toks) and toks[0] > 0
    assert vocab == sorted(vocab)  # first-seen vocab is non-decreasing
    beta = {r.beta_micro for r in rows}
    assert len(beta) == 1
    b = beta.pop()
    # sub-linear growth: 0 < beta < 1 (the Heaps regime); the closed
    # 31-word UNIGRAM lexicon would have scored ~0 -- the 3-gram
    # variant is the non-vacuous fit (sf0.001 measures ~0.82)
    assert 0 < b < 1000000, b
    # replica of the centered milli-nat LS slope
    import math

    xs = [round(math.log(t) * 1e6) // 1000 for t in toks]
    ys = [round(math.log(v) * 1e6) // 1000 for v in vocab]
    mx, my = sum(xs) // 10, sum(ys) // 10
    xc = [x - mx for x in xs]
    yc = [y - my for y in ys]
    exp = (sum(a * b2 for a, b2 in zip(xc, yc)) * 1000000) // sum(
        a * a for a in xc
    )
    assert b == exp
