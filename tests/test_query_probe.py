"""tools/query_probe.py: the scale ladder's replication and a smoke run of
the probe through the benchmark's timed call."""

from __future__ import annotations

import os
import tempfile
from itertools import combinations

from tools.query_probe import KEY_OFFSET, probe, replicate_docs, replicate_embeddings, replicate_keys

LAYER_KEYS = {
    "total_s",
    "queries.construct_s",
    "queries.construct_jobs",
    "exec.run_s",
    "exec.jobs",
    "exec.stages",
    "exec.shuffle_bytes",
    "exec.python_s",
}


def test_replicate_docs_ten_replicas_are_distinct(spark):
    # n=10 is the case a vowel rotation by i % 5 alone broke: replica i
    # and i+5 came out byte-identical
    texts = ["the quick brown fox jumps", "a lazy dog sleeps all day", "spark streams records"]
    docs = spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rep = replicate_docs(docs, 10)
    assert rep.schema == docs.schema
    rows = rep.collect()
    assert len(rows) == 10 * len(texts)
    by_replica: dict[int, dict[int, str]] = {}
    for r in rows:
        assert r.n_chars == len(r.text) == len(texts[r.doc_id % KEY_OFFSET])
        by_replica.setdefault(r.doc_id // KEY_OFFSET, {})[r.doc_id % KEY_OFFSET] = r.text
    assert sorted(by_replica) == list(range(10))
    for a, b in combinations(range(10), 2):
        for d in range(len(texts)):
            assert by_replica[a][d] != by_replica[b][d], (a, b, d)


def test_replicate_embeddings_keeps_type_and_separates_replicas(spark):
    emb = spark.createDataFrame(
        [(1, [0.5, -0.25], 3), (2, [0.0, 1.0], 4)], "vec_id long, embedding array<float>, label int"
    )
    rep = replicate_embeddings(emb, 3)
    assert rep.schema == emb.schema
    rows = rep.collect()
    assert len({r.vec_id for r in rows}) == 6
    assert len({tuple(r.embedding) for r in rows}) == 6
    assert sorted(r.label for r in rows) == [3, 3, 3, 4, 4, 4]


def test_replicated_orders_join_lineitem_scales_exactly(spark):
    orders = spark.createDataFrame(
        [(1, 7, "O"), (2, 7, "F"), (3, 8, "O")], "o_orderkey long, o_custkey long, o_orderstatus string"
    )
    lineitem = spark.createDataFrame(
        [(1, 10, 5, 1), (1, 11, 5, 2), (2, 10, 6, 1), (3, 12, 6, 1), (3, 10, 5, 2), (9, 10, 5, 1)],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int",
    )
    supplier = spark.createDataFrame([(5, 1), (6, 2)], "s_suppkey long, s_nationkey int")

    def joined(o, li):
        return o.join(li, o.o_orderkey == li.l_orderkey).count()

    one = joined(orders, lineitem)
    assert one == 5
    for n in (2, 3):
        assert joined(replicate_keys(orders, n), replicate_keys(lineitem, n)) == n * one
    rep = replicate_keys(supplier, 3).collect()
    assert sorted(r.s_nationkey for r in rep) == [1, 1, 1, 2, 2, 2]
    assert len({r.s_suppkey for r in rep}) == 6


def test_probe_smoke_reports_layer_keys(spark, sf_dir):
    [res] = probe(spark, sf_dir, ["q1_pricing_summary"], reps=1)
    assert res["query"] == "q1_pricing_summary"
    assert LAYER_KEYS <= set(res)
    assert res["queries.construct_jobs"] + res["exec.jobs"] >= 1
    assert res["total_s"] > 0


def test_probe_scale_ladder_reports_ratio_and_removes_replica(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    [res] = probe(spark, sf_dir, ["q1_pricing_summary"], reps=1, scale=2)
    assert res["scale"] == 2 and res["ratio"] > 0
    assert LAYER_KEYS <= set(res["1x"]) and LAYER_KEYS <= set(res["2x"])
    assert os.listdir(tmp_path) == []
