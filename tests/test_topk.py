"""Tests for exact top-K search / batch top-K / similarity join."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from astro_vectordb_spark.operators.topk import (
    batch_topk,
    similarity_join,
    topk_search,
)


def _query_vec(embeddings, vec_id=0):
    return embeddings.filter(F.col("vec_id") == vec_id).first()["embedding"]


def _numpy_topk(embeddings, qv, k, threshold, metric="cosine"):
    rows = embeddings.select("vec_id", "embedding").collect()
    q = np.array(qv, dtype=np.float64)
    out = []
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float64)
        if metric == "cosine":
            s = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
        else:
            s = 1.0 / (1.0 + float(np.linalg.norm(q - v)))
        if s > threshold:
            out.append((r["vec_id"], s))
    out.sort(key=lambda t: (-t[1], t[0]))
    return out[:k]


def test_topk_matches_numpy_oracle(spark, embeddings):
    qv = _query_vec(embeddings)
    got = topk_search(embeddings, qv, k=10, strength=20).collect()
    exp = _numpy_topk(embeddings, qv, 10, 0.2)
    assert [r["vec_id"] for r in got] == [i for i, _ in exp]
    for r, (_, s) in zip(got, exp):
        assert abs(r["score"] - s) < 1e-6


def test_topk_threshold_cap_returns_self_only(spark, embeddings):
    # strength 99 -> cap 0.95; only the query itself (score 1.0) passes
    qv = _query_vec(embeddings, vec_id=3)
    got = topk_search(embeddings, qv, k=10, strength=99).collect()
    assert [r["vec_id"] for r in got] == [3]


def test_topk_respects_tombstones(spark, embeddings):
    from astro_vectordb_spark.operators.crud import tombstone_delete

    qv = _query_vec(embeddings)
    base = topk_search(embeddings, qv, k=5, strength=0).collect()
    top_ids = [r["vec_id"] for r in base]
    deleted = tombstone_delete(embeddings, top_ids[:2])
    got = topk_search(deleted, qv, k=5, strength=0, deleted_col="deleted").collect()
    got_ids = [r["vec_id"] for r in got]
    assert set(got_ids).isdisjoint(top_ids[:2])
    assert got_ids[:3] == top_ids[2:]


def test_topk_euclidean(spark, embeddings):
    qv = _query_vec(embeddings, vec_id=7)
    got = topk_search(embeddings, qv, k=5, strength=0, metric="euclidean").collect()
    exp = _numpy_topk(embeddings, qv, 5, 0.0, metric="euclidean")
    assert [r["vec_id"] for r in got] == [i for i, _ in exp]


def test_batch_topk_matches_per_query(spark, embeddings):
    queries = (
        embeddings.filter(F.col("vec_id") < 3)
        .select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
    )
    got = batch_topk(embeddings, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        qv = _query_vec(embeddings, qid)
        exp = _numpy_topk(embeddings, qv, 5, 0.0)
        assert [r["vec_id"] for r in rows] == [i for i, _ in exp]


def test_batch_topk_salted_equals_unsalted(spark, embeddings):
    queries = embeddings.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    salted = batch_topk(embeddings, queries, k=7, num_salts=8).collect()
    plain = batch_topk(embeddings, queries, k=7, num_salts=1).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(
        [(r["query_id"], r["rank"], r["vec_id"]) for r in salted]
    ) == sorted([(r["query_id"], r["rank"], r["vec_id"]) for r in plain])


def test_similarity_join_self_pairs(spark, embeddings):
    small = embeddings.filter(F.col("vec_id") < 50)
    pairs = similarity_join(small, threshold=0.1).collect()
    assert all(p["a_id"] < p["b_id"] for p in pairs)
    assert all(p["score"] > 0.1 for p in pairs)
    # spot-check one pair against numpy
    if pairs:
        p = pairs[0]
        qa = _query_vec(embeddings, p["a_id"])
        qb = _query_vec(embeddings, p["b_id"])
        a, b = np.array(qa, np.float64), np.array(qb, np.float64)
        s = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(p["score"] - s) < 1e-6


def test_query_literal_bit_exact_with_per_element_form(spark, monkeypatch):
    """Every query-vector site builds the vector as one float64 array
    literal (``vector.vector_literal``); values and scores are
    bit-identical to the per-element ``array(lit(...))`` form on ±0,
    subnormals and large magnitudes, and so are the IVF probe cells,
    the PQ/ADC, IVF-PQ, quantized and multivector MaxSim results."""
    import struct

    from astro_vectordb_spark.functions.vector import vector_literal
    from astro_vectordb_spark.operators import (
        ann,
        multivector,
        pq,
        quantize,
    )
    from astro_vectordb_spark.operators.topk import score_against

    q = [0.0, -0.0, 5e-324, -2.2250738585072014e-308, 1e-310,
         1.7976931348623157e308, -1e300, 0.1, 1 / 3, -7.5]
    corpus = spark.createDataFrame(
        [(0, [1.0] * len(q)), (1, [float(i) - 4.0 for i in range(len(q))]),
         (2, [1e-300] * len(q)), (3, [-0.0] * len(q))],
        "vec_id long, embedding array<float>",
    )
    old_qv = F.array(*[F.lit(float(x)) for x in q])
    lit_q = spark.range(1).select(
        F.lit(np.asarray(q, dtype=np.float64)).alias("q")).first().q
    old_q = spark.range(1).select(old_qv.alias("q")).first().q

    def bits(xs):
        return [struct.pack(">d", x) for x in xs]

    assert bits(lit_q) == bits(old_q) == bits(q)
    for metric in ("cosine", "euclidean"):
        new = score_against(corpus, q, metric=metric)
        old = score_against(corpus, old_qv, metric=metric)
        assert new.schema == old.schema
        assert [bits([r.score]) for r in new.orderBy("vec_id").collect()] == [
            bits([r.score]) for r in old.orderBy("vec_id").collect()
        ], metric
    # the one literal's elements read nullable; the per-element form's
    # do not — values and downstream result schemas are unaffected
    assert spark.range(1).select(vector_literal(q).alias("q")).schema[
        "q"].dataType.containsNull
    assert not spark.range(1).select(old_qv.alias("q")).schema[
        "q"].dataType.containsNull

    # the other sites: each result with the per-element form patched
    # into its module equals the one-literal result bit for bit
    rng = np.random.RandomState(11)
    X = rng.randn(64, 8)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(64)],
        "vec_id long, embedding array<float>",
    ).cache()
    qv = [float(x) for x in X[3] + 0.01]
    _, cents = ann.ivf_build_sampled(vecs, k_cells=4, seed=3)
    model = pq.pq_train(vecs, m=4, ks=8, max_rows=64, seed=3)
    codes = pq.pq_encode(vecs, model)
    enc, ivf_cents, ivf_model = pq.ivf_pq_build(
        vecs, k_cells=4, m=4, ks=8, max_rows=64, seed=3
    )
    quant = quantize.quantize_embeddings(vecs)
    chunks = vecs.select((F.col("vec_id") % 8).alias("doc_id"), "embedding")
    cases = [
        (ann, lambda: ann.choose_probe_cells(cents, qv, 2)),
        (ann, lambda: ann.choose_probe_cells_adaptive(cents, qv)),
        (pq, lambda: pq.pq_topk(codes, vecs, qv, 5, model)),
        (pq, lambda: pq.ivf_pq_topk(enc, ivf_cents, vecs, qv, 5, ivf_model,
                                    nprobe=2)),
        (quantize, lambda: quantize.topk_search_quantized(quant, vecs, qv, 5)),
        (multivector, lambda: multivector.maxsim_score_all(
            chunks, [qv, [float(x) for x in X[5]]])),
    ]

    def run(fn):
        out = fn()
        if isinstance(out, list):  # IVF probe cells
            return out, None
        rows = out.orderBy(*out.columns).collect()
        return [[bits([v])[0] if isinstance(v, float) else v for v in r]
                for r in rows], out.schema

    def per_element(values):
        return F.array(*[F.lit(float(x)) for x in values])

    for mod, fn in cases:
        new = run(fn)
        with monkeypatch.context() as mp:
            mp.setattr(mod, "vector_literal", per_element)
            old = run(fn)
        assert new[0] and new == old, mod.__name__
    vecs.unpersist()
