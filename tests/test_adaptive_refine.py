"""Adaptive refine (round-13 verdict item 5): the error-bound
reorder-list cut for PQ / IVF-PQ serving.

Contract under test: ``adaptive_refine_cut`` keeps the safety floor
(rank <= k*refine_min) plus everything within sigma_mult*sigma of the
rank-k ADC score and nothing else; ``adc_sigma`` derives the per-query
error scale from the model's training MSE; end-to-end the adaptive
faces never lose the exact top-k on separable data while shrinking the
stage-2 pool; legacy models (no stored MSE) degrade to the fixed pool
bit-identically; the MSE survives the vault round trip.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from astro_vectordb_spark.operators.pq import (
    PQModel,
    adaptive_refine_cut,
    adc_sigma,
    ivf_pq_build,
    ivf_pq_topk,
    pq_candidates,
    pq_encode,
    pq_topk,
    pq_train,
)

DIM = 32
N = 3000


def _clustered(seed=9):
    rng = np.random.RandomState(seed)
    C = rng.randn(12, DIM)
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    return C[rng.randint(0, 12, N)] + 0.05 * rng.randn(N, DIM)


@pytest.fixture(scope="module")
def data(spark):
    X = _clustered()
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(N)],
        "vec_id long, embedding array<double>",
    ).cache()
    df.count()
    yield df, X
    df.unpersist()


@pytest.fixture(scope="module")
def model_enc(spark, data):
    df, _ = data
    model = pq_train(df, m=8, ks=64, metric="cosine", max_rows=N)
    enc = pq_encode(df, model).cache()
    enc.count()
    yield model, enc
    enc.unpersist()


def _exact_topk(df, q, k):
    from astro_vectordb_spark.functions.vector import similarity

    qv = F.array(*[F.lit(float(x)) for x in q])
    return [
        r["vec_id"]
        for r in df.withColumn(
            "s", similarity(F.col("embedding"), qv, "cosine")
        ).orderBy(F.col("s").desc(), F.col("vec_id").asc())
        .limit(k).collect()
    ]


class TestSigma:
    def test_train_mse_populated_and_roundtrips(self, model_enc):
        model, _ = model_enc
        assert model.train_mse is not None and model.train_mse > 0
        m2 = PQModel.from_rows(model.to_rows(), metric=model.metric,
                               dim=model.dim)
        assert m2.train_mse == model.train_mse

    def test_vault_roundtrip_preserves_mse(self, spark, model_enc,
                                           tmp_path):
        from astro_vectordb_spark.sources.vault import (
            load_pq_index,
            save_pq_index,
        )

        model, enc = model_enc
        path = str(tmp_path / "pq")
        save_pq_index(enc, model, path)
        _, m2, _ = load_pq_index(spark, path)
        assert m2.train_mse == model.train_mse
        np.testing.assert_array_equal(m2.codebooks, model.codebooks)

    def test_sigma_scales_with_query_norm(self, model_enc):
        model, _ = model_enc
        q = list(np.ones(DIM))
        # cosine preps the query to unit norm -> sigma is norm-invariant
        assert adc_sigma(model, q) == pytest.approx(
            adc_sigma(model, [2.0 * x for x in q])
        )
        dot_model = PQModel(model.codebooks, metric="dot", dim=model.dim,
                            train_mse=model.train_mse)
        assert adc_sigma(dot_model, [2.0 * x for x in q]) == pytest.approx(
            2.0 * adc_sigma(dot_model, q)
        )

    def test_sigma_none_for_legacy_and_euclidean(self, model_enc):
        model, _ = model_enc
        legacy = PQModel(model.codebooks, metric="cosine", dim=model.dim)
        assert adc_sigma(legacy, [1.0] * DIM) is None
        euc = PQModel(model.codebooks, metric="euclidean", dim=model.dim,
                      train_mse=model.train_mse)
        assert adc_sigma(euc, [1.0] * DIM) is None


class TestCutRule:
    def _pool(self, spark, scores):
        return spark.createDataFrame(
            [(i, float(s)) for i, s in enumerate(scores)],
            "vec_id long, adc_score double",
        )

    def test_keeps_floor_margin_and_drops_tail(self, spark):
        # k=2, floor=2*2=4, sigma=0.1, mult=1: kth score (rank 2) = 8.0
        # -> cut at 7.9.  scores: ranks 1..8
        scores = [9.0, 8.0, 7.95, 7.91, 7.5, 7.2, 7.0, 6.0]
        kept = {
            r["vec_id"]
            for r in adaptive_refine_cut(
                self._pool(spark, scores), k=2, sigma=0.1,
                refine_min=2, sigma_mult=1.0,
            ).collect()
        }
        # ranks 1-4 = floor; 7.95/7.91 >= 7.9 already in floor;
        # 7.5 and below dropped
        assert kept == {0, 1, 2, 3}

    def test_margin_extends_past_floor(self, spark):
        scores = [9.0, 8.0, 7.99, 7.98, 7.97, 7.96, 5.0]
        kept = {
            r["vec_id"]
            for r in adaptive_refine_cut(
                self._pool(spark, scores), k=2, sigma=0.1,
                refine_min=2, sigma_mult=1.0,
            ).collect()
        }
        # everything within 0.1 of rank-2 (8.0) survives: ids 0..5
        assert kept == {0, 1, 2, 3, 4, 5}

    def test_pool_smaller_than_k_kept_whole(self, spark):
        scores = [3.0, 2.0]
        kept = adaptive_refine_cut(
            self._pool(spark, scores), k=5, sigma=0.01,
            refine_min=1, sigma_mult=1.0,
        ).count()
        assert kept == 2

    def test_sigma_none_is_identity(self, spark):
        pool = self._pool(spark, [3.0, 2.0, 1.0])
        assert adaptive_refine_cut(pool, k=1, sigma=None).count() == 3


class TestEndToEnd:
    def test_adaptive_matches_exact_and_shrinks_pool(self, spark, data,
                                                     model_enc):
        df, X = data
        model, enc = model_enc
        rng = np.random.RandomState(4)
        for _ in range(3):
            q = [float(x) for x in X[rng.randint(0, N)] + 0.01]
            want = _exact_topk(df, q, 10)
            got = [
                r["vec_id"]
                for r in pq_topk(
                    enc, df, q, 10, model, refine_factor=32,
                    adaptive_refine=True,
                ).collect()
            ]
            assert got == want
            pool = adaptive_refine_cut(
                pq_candidates(enc, model, q, 320, with_scores=True),
                10, adc_sigma(model, q),
            ).count()
            assert pool < 320  # strictly below the fixed budget

    def test_legacy_model_identical_to_fixed(self, spark, data,
                                             model_enc):
        df, X = data
        model, enc = model_enc
        legacy = PQModel(model.codebooks, metric="cosine", dim=model.dim)
        q = [float(x) for x in X[7]]
        fixed = pq_topk(enc, df, q, 10, legacy, refine_factor=16)
        adapt = pq_topk(enc, df, q, 10, legacy, refine_factor=16,
                        adaptive_refine=True)
        assert [r.asDict() for r in fixed.collect()] == [
            r.asDict() for r in adapt.collect()
        ]

    def test_ivf_pq_residual_adaptive(self, spark, data):
        df, X = data
        enc, cents, model = ivf_pq_build(
            df, k_cells=8, m=8, ks=64, metric="cosine", residual=True,
            max_rows=N,
        )
        enc = enc.cache()
        enc.count()
        assert model.train_mse is not None
        q = [float(x) for x in X[42]]
        want = _exact_topk(df, q, 10)
        got = [
            r["vec_id"]
            for r in ivf_pq_topk(
                enc, cents, df, q, 10, model, nprobe=8,
                refine_factor=32, adaptive_refine=True,
            ).collect()
        ]
        # all 8 cells probed -> candidate pool covers the truth; the
        # adaptive cut must not lose exact top-10 members
        assert set(got) == set(want)
        enc.unpersist()


class TestEuclideanAdaptive:
    def test_euclidean_cut_exact_and_shrinks(self, spark, data):
        df, X = data
        model = pq_train(df, m=8, ks=64, metric="euclidean", max_rows=N)
        assert model.train_mse is not None
        enc = pq_encode(df, model).cache()
        enc.count()
        from astro_vectordb_spark.functions.vector import similarity

        rng = np.random.RandomState(11)
        for _ in range(2):
            q = [float(x) for x in X[rng.randint(0, N)] + 0.01]
            qv = F.array(*[F.lit(float(x)) for x in q])
            want = [
                r["vec_id"]
                for r in df.withColumn(
                    "s", similarity(F.col("embedding"), qv, "euclidean")
                ).orderBy(F.col("s").desc(), F.col("vec_id").asc())
                .limit(10).collect()
            ]
            got = [
                r["vec_id"]
                for r in pq_topk(
                    enc, df, q, 10, model, refine_factor=32,
                    adaptive_refine=True,
                ).collect()
            ]
            assert got == want
            pool = adaptive_refine_cut(
                pq_candidates(enc, model, q, 320, with_scores=True),
                10, None, model=model,
            ).count()
            assert pool < 320
        enc.unpersist()

    def test_euclidean_legacy_degrades_to_fixed(self, spark, data):
        df, X = data
        model = pq_train(df, m=8, ks=64, metric="euclidean", max_rows=N)
        legacy = PQModel(model.codebooks, metric="euclidean",
                         dim=model.dim)
        enc = pq_encode(df, legacy).cache()
        enc.count()
        q = [float(x) for x in X[5]]
        fixed = pq_topk(enc, df, q, 10, legacy, refine_factor=16)
        adapt = pq_topk(enc, df, q, 10, legacy, refine_factor=16,
                        adaptive_refine=True)
        assert [r.asDict() for r in fixed.collect()] == [
            r.asDict() for r in adapt.collect()
        ]
        enc.unpersist()


class TestBatchAdaptive:
    """Round-14 verdict item 3: the error-bound cut applied PLAN-SIDE
    inside the batch PQ / IVF-PQ ranking (adaptive_refine_cut_batch) —
    per-query equivalence with the single-query driver-side cut, plus
    the batch faces' adaptive_refine= end to end."""

    def _pool(self, spark, per_query):
        rows = []
        for qid, scores in per_query.items():
            order = sorted(range(len(scores)),
                           key=lambda i: (-scores[i], i))
            rows += [
                (qid, i, float(scores[i]), rk)
                for rk, i in enumerate(order, start=1)
            ]
        return spark.createDataFrame(
            rows, "query_id long, vec_id long, adc_score double, rank int"
        )

    def _single_pool(self, spark, scores):
        return spark.createDataFrame(
            [(i, float(s)) for i, s in enumerate(scores)],
            "vec_id long, adc_score double",
        )

    def test_cut_equals_single_query_cut_cosine(self, spark):
        from astro_vectordb_spark.operators.pq import (
            adaptive_refine_cut_batch,
        )

        # sigma = sqrt(mse/dim) = 0.1 exactly as in the single-query
        # cut-rule tests; three pools with distinct shapes, one frame
        dim = 32
        model = PQModel(np.zeros((2, 4, dim // 2), dtype=np.float32),
                        metric="cosine", dim=dim,
                        train_mse=0.01 * dim)
        per_query = {
            0: [9.0, 8.0, 7.95, 7.91, 7.5, 7.2, 7.0, 6.0],
            1: [9.0, 8.0, 7.99, 7.98, 7.97, 7.96, 5.0],
            2: [3.0, 2.0],  # fewer than floor: kept whole
        }
        got = {}
        for r in adaptive_refine_cut_batch(
            self._pool(spark, per_query), k=2, model=model,
            refine_min=2, sigma_mult=1.0,
        ).collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        sigma = float(np.sqrt(model.train_mse / model.dim))
        for qid, scores in per_query.items():
            want = {
                r["vec_id"]
                for r in adaptive_refine_cut(
                    self._single_pool(spark, scores), k=2, sigma=sigma,
                    refine_min=2, sigma_mult=1.0,
                ).collect()
            }
            assert got[qid] == want, qid

    def test_cut_dot_sigma_scales_with_query_norm(self, spark):
        from astro_vectordb_spark.operators.pq import (
            adaptive_refine_cut_batch,
        )

        dim = 4
        model = PQModel(np.zeros((2, 4, 2), dtype=np.float32),
                        metric="dot", dim=dim, train_mse=0.01 * dim)
        # q0 = norm 1 -> sigma 0.1; q1 = norm 5 -> sigma 0.5: the SAME
        # score shape keeps more rows under the wider error bound
        queries = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0, 0.0]), (1, [3.0, 4.0, 0.0, 0.0])],
            "query_id long, query_vec array<double>",
        )
        scores = [9.0, 8.0, 7.95, 7.7, 7.3, 6.0]
        kept = {}
        for r in adaptive_refine_cut_batch(
            self._pool(spark, {0: scores, 1: scores}), k=2, model=model,
            queries=queries, refine_min=1, sigma_mult=1.0,
        ).collect():
            kept.setdefault(r["query_id"], set()).add(r["vec_id"])
        # rank-2 score 8.0: q0 cut 7.9 -> {0,1,2}; q1 cut 7.5 -> +7.7
        assert kept[0] == {0, 1, 2}
        assert kept[1] == {0, 1, 2, 3}
        # and each equals the single-query cut at its adc_sigma
        for qid, q in ((0, [1.0, 0.0, 0.0, 0.0]),
                       (1, [3.0, 4.0, 0.0, 0.0])):
            want = {
                r["vec_id"]
                for r in adaptive_refine_cut(
                    self._single_pool(spark, scores), k=2,
                    sigma=adc_sigma(model, q), refine_min=1,
                    sigma_mult=1.0,
                ).collect()
            }
            assert kept[qid] == want, qid

    def test_cut_dot_missing_query_keeps_all(self, spark):
        """round-15 advice: a dot-metric pool row whose query_id is
        absent from the queries frame gets a null norm from the left
        join — the cut must keep-all for that query (mirroring the
        _adc_k-isNull branch), not silently drop rows past the rank
        floor."""
        from astro_vectordb_spark.operators.pq import (
            adaptive_refine_cut_batch,
        )

        dim = 4
        model = PQModel(np.zeros((2, 4, 2), dtype=np.float32),
                        metric="dot", dim=dim, train_mse=0.01 * dim)
        queries = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0, 0.0])],
            "query_id long, query_vec array<double>",
        )
        scores = [9.0, 8.0, 7.95, 7.7, 7.3, 6.0]
        kept = {}
        for r in adaptive_refine_cut_batch(
            self._pool(spark, {0: scores, 5: scores}), k=2, model=model,
            queries=queries, refine_min=1, sigma_mult=1.0,
        ).collect():
            kept.setdefault(r["query_id"], set()).add(r["vec_id"])
        # q0 present: normal cut (norm 1 -> sigma 0.1 -> cut 7.9)
        assert kept[0] == {0, 1, 2}
        # q5 missing from queries: keep-all, never a silent recall cliff
        assert kept[5] == set(range(len(scores)))

    def test_cut_euclidean_rank_k_radius(self, spark):
        from astro_vectordb_spark.operators.pq import (
            adaptive_refine_cut_batch,
        )

        dim = 16
        model = PQModel(np.zeros((2, 4, 8), dtype=np.float32),
                        metric="euclidean", dim=dim, train_mse=0.4)
        scores = [-1.0, -2.0, -2.05, -2.5, -4.0, -9.0]
        got = {
            r["vec_id"]
            for r in adaptive_refine_cut_batch(
                self._pool(spark, {7: scores}), k=2, model=model,
                refine_min=1, sigma_mult=1.0,
            ).collect()
        }
        want = {
            r["vec_id"]
            for r in adaptive_refine_cut(
                self._single_pool(spark, scores), k=2, sigma=None,
                refine_min=1, sigma_mult=1.0, model=model,
            ).collect()
        }
        assert got == want

    def test_cut_legacy_is_identity(self, spark):
        from astro_vectordb_spark.operators.pq import (
            adaptive_refine_cut_batch,
        )

        legacy = PQModel(np.zeros((2, 4, 16), dtype=np.float32),
                         metric="cosine", dim=32)
        pool = self._pool(spark, {0: [3.0, 2.0, 1.0]})
        assert adaptive_refine_cut_batch(pool, k=1, model=legacy
                                         ).count() == 3

    def _queries(self, spark, X, qids):
        return spark.createDataFrame(
            [(q, [float(x) for x in X[q]]) for q in qids],
            "query_id long, query_vec array<double>",
        )

    def _global_pool(self, spark, enc, model, X, qids, n):
        """The global per-query ADC pool ``(query_id, vec_id,
        adc_score, rank)`` a batch face hands the cut: each query's
        single-query candidates, ranked by (adc desc, id asc)."""
        rows = []
        for q in qids:
            cand = sorted(
                (-r["adc_score"], r["vec_id"])
                for r in pq_candidates(
                    enc, model, [float(x) for x in X[q]], n,
                    with_scores=True,
                ).collect()
            )
            rows += [(q, v, -s, i + 1) for i, (s, v) in enumerate(cand)]
        return spark.createDataFrame(
            rows, "query_id long, vec_id long, adc_score double, rank int"
        )

    def test_batch_face_matches_exact_and_shrinks(self, spark, data,
                                                  model_enc):
        from astro_vectordb_spark.operators.pq import (
            adaptive_refine_cut_batch,
            pq_batch_topk_cogrouped,
        )

        df, X = data
        model, enc = model_enc
        qids = [0, 123, 777]
        queries = self._queries(spark, X, qids)
        got = {}
        for r in pq_batch_topk_cogrouped(
            enc, df, queries, 10, model, refine_factor=32,
            adaptive_refine=True,
        ).collect():
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["vec_id"]))
        for q in qids:
            want = _exact_topk(df, [float(x) for x in X[q]], 10)
            assert [v for _, v in sorted(got[q])] == want, q
        # the cut strictly shrinks the global pool on clustered data
        pool = self._global_pool(spark, enc, model, X, qids, 320)
        kept = adaptive_refine_cut_batch(pool, 10, model,
                                         queries=queries).count()
        assert kept < pool.count()

    def test_batch_face_legacy_identical_to_fixed(self, spark, data,
                                                  model_enc):
        from astro_vectordb_spark.operators.pq import pq_batch_topk_cogrouped

        df, X = data
        model, enc = model_enc
        legacy = PQModel(model.codebooks, metric="cosine", dim=model.dim)
        queries = self._queries(spark, X, [3, 99])
        fixed = sorted(
            (r.query_id, r.rank, r.vec_id, r.score)
            for r in pq_batch_topk_cogrouped(enc, df, queries, 10, legacy,
                                             refine_factor=16).collect()
        )
        adapt = sorted(
            (r.query_id, r.rank, r.vec_id, r.score)
            for r in pq_batch_topk_cogrouped(enc, df, queries, 10, legacy,
                                             refine_factor=16,
                                             adaptive_refine=True).collect()
        )
        assert fixed == adapt

    def test_cogrouped_adaptive_matches_broadcast_adaptive(
            self, spark, data, model_enc):
        # reference: the single-query adaptive face, query by query
        from astro_vectordb_spark.operators.pq import pq_batch_topk_cogrouped

        df, X = data
        model, enc = model_enc
        qids = [0, 123, 777, 1500]
        queries = self._queries(spark, X, qids)
        want = sorted(
            (q, i + 1, r.vec_id, r.score)
            for q in qids
            for i, r in enumerate(
                pq_topk(enc, df, [float(x) for x in X[q]], 10, model,
                        adaptive_refine=True).collect()
            )
        )
        got = sorted(
            (r.query_id, r.rank, r.vec_id, r.score)
            for r in pq_batch_topk_cogrouped(
                enc, df, queries, 10, model, n_blocks=5,
                adaptive_refine=True,
            ).collect()
        )
        assert got == want

    def test_ivf_pq_cogrouped_adaptive_keeps_exact(self, spark, data):
        from astro_vectordb_spark.operators.pq import (
            ivf_pq_batch_topk_cogrouped,
        )

        df, X = data
        enc, cents, model = ivf_pq_build(
            df, k_cells=8, m=8, ks=64, metric="cosine", residual=True,
            max_rows=N,
        )
        enc = enc.cache()
        enc.count()
        qids = [11, 42]
        queries = self._queries(spark, X, qids)
        got = {}
        for r in ivf_pq_batch_topk_cogrouped(
            enc, cents, df, queries, 10, model, nprobe=8,
            adaptive_refine=True,
        ).collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        for q in qids:
            want = set(_exact_topk(df, [float(x) for x in X[q]], 10))
            # all cells probed -> pool covers truth; the cut must not
            # lose exact top-10 members
            assert got[q] == want, q
        enc.unpersist()
