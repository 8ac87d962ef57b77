"""Product quantization: training, encoding, ADC two-stage search."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from astro_vectordb_spark import index
from astro_vectordb_spark.operators.pq import (
    PQModel,
    pq_candidates,
    pq_encode,
    pq_reconstruction_mse,
    pq_topk,
    pq_train,
)

DIM = 32
N = 2000


def _clustered(seed=1, n=N, dim=DIM, centers=16, sigma=0.08):
    rng = np.random.RandomState(seed)
    C = rng.normal(size=(centers, dim))
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    assign = rng.randint(0, centers, size=n)
    pts = (C[assign] + sigma * rng.normal(size=(n, dim))).astype(np.float32)
    return pts


@pytest.fixture(scope="module")
def corpus(spark):
    pts = _clustered()
    df = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(N)],
        "vec_id long, embedding array<float>",
    ).cache()
    df.count()
    yield df, pts
    df.unpersist()


@pytest.fixture(scope="module")
def model(corpus):
    df, _ = corpus
    return pq_train(df, m=8, ks=64, metric="cosine", max_rows=N, seed=7)


class TestTrain:
    def test_shapes(self, model):
        assert model.codebooks.shape == (8, 64, DIM // 8)
        assert model.m == 8 and model.ks == 64 and model.dsub == 4

    def test_deterministic(self, corpus):
        df, _ = corpus
        m1 = pq_train(df, m=4, ks=16, max_rows=500, seed=3, iters=5)
        m2 = pq_train(df, m=4, ks=16, max_rows=500, seed=3, iters=5)
        np.testing.assert_array_equal(m1.codebooks, m2.codebooks)

    def test_dim_not_divisible_raises(self, corpus):
        df, _ = corpus
        with pytest.raises(ValueError, match="not divisible"):
            pq_train(df, m=5, ks=8, max_rows=100)

    def test_ks_capped_by_sample(self, spark):
        df = spark.createDataFrame(
            [(i, [float(i)] * 4) for i in range(10)],
            "vec_id long, embedding array<float>",
        )
        m = pq_train(df, m=2, ks=256, max_rows=10, metric="dot")
        assert m.ks == 10  # ks_eff = n

    def test_roundtrip_rows(self, model):
        rows = model.to_rows()
        clone = PQModel.from_rows(rows, metric=model.metric, dim=model.dim)
        np.testing.assert_allclose(clone.codebooks, model.codebooks, rtol=1e-6)


class TestEncode:
    def test_schema_and_range(self, corpus, model):
        df, _ = corpus
        enc = pq_encode(df, model)
        assert enc.schema.simpleString() == (
            "struct<vec_id:bigint,pq_code:array<tinyint>>"
        )
        pdf = enc.toPandas()
        assert len(pdf) == N
        codes = np.stack(pdf.pq_code.to_numpy()).astype(np.int32) + 128
        assert codes.shape == (N, 8)
        assert codes.min() >= 0 and codes.max() < 64

    def test_encode_deterministic(self, corpus, model):
        df, _ = corpus
        a = pq_encode(df, model).toPandas().sort_values("vec_id")
        b = pq_encode(df, model).toPandas().sort_values("vec_id")
        assert all(
            list(x) == list(y) for x, y in zip(a.pq_code, b.pq_code)
        )

    def test_mse_decreases_with_ks(self, corpus):
        df, _ = corpus
        lo = pq_train(df, m=8, ks=4, max_rows=1000, seed=5, iters=8)
        hi = pq_train(df, m=8, ks=64, max_rows=1000, seed=5, iters=8)
        assert pq_reconstruction_mse(df, hi) < pq_reconstruction_mse(df, lo)


class TestSearch:
    def _exact_top10(self, pts, q):
        normed = pts / np.linalg.norm(pts, axis=1, keepdims=True)
        qn = q / np.linalg.norm(q)
        return set(np.argsort(-(normed @ qn))[:10])

    def test_recall_with_rerank(self, corpus, model):
        df, pts = corpus
        enc = pq_encode(df, model).cache()
        enc.count()
        recalls = []
        for qi in (0, 123, 777, 1500, 1999):
            got = pq_topk(enc, df, [float(x) for x in pts[qi]], 10, model)
            ids = {r.vec_id for r in got.collect()}
            exact = self._exact_top10(pts, pts[qi])
            recalls.append(len(ids & exact) / 10)
        enc.unpersist()
        assert sum(recalls) / len(recalls) >= 0.9, recalls
        assert min(recalls) >= 0.7, recalls

    def test_candidate_reduction(self, corpus, model):
        # the refine set the exact stage reads is k*refine = 320 of 2000
        df, pts = corpus
        enc = pq_encode(df, model)
        cand = pq_candidates(enc, model, [float(x) for x in pts[0]], 320)
        assert cand.count() == 320

    def test_exact_within_candidates(self, corpus, model):
        # stage 2 ordering is the exact score: top-1 must be the query
        # row itself when the query is a corpus vector
        df, pts = corpus
        enc = pq_encode(df, model)
        top = pq_topk(enc, df, [float(x) for x in pts[42]], 1, model).first()
        assert top.vec_id == 42

    def test_euclidean_metric(self, corpus):
        df, pts = corpus
        m = pq_train(df, m=8, ks=32, metric="euclidean", max_rows=1000, seed=9)
        enc = pq_encode(df, m, )
        got = pq_topk(enc, df, [float(x) for x in pts[10]], 5, m)
        rows = got.collect()
        assert rows[0].vec_id == 10  # exact self-match survives rerank
        assert all(
            rows[i].score >= rows[i + 1].score for i in range(len(rows) - 1)
        )

    def test_unknown_metric_raises(self, model):
        # the one LUT builder every ADC path calls rejects the metric
        from astro_vectordb_spark.operators.pq import _adc_tables

        bad = PQModel(model.codebooks, metric="hamming", dim=model.dim)
        codebooks, metric, dsub, rot = bad.kernel_state()
        with pytest.raises(ValueError, match="unknown metric"):
            _adc_tables(codebooks, metric, dsub, np.zeros((1, DIM)), rot)


class TestScaleShape:
    def test_adc_plan_reads_only_compressed(self, corpus, model, tmp_path):
        # over a PERSISTED code table (the production layout) the
        # stage-1 scan reads (vec_id, pq_code) only — the float
        # embedding column never appears in the ADC plan
        df, pts = corpus
        path = str(tmp_path / "pq_codes")
        pq_encode(df, model).write.parquet(path)
        enc = df.sparkSession.read.parquet(path)
        plan = pq_candidates(
            enc, model, [float(x) for x in pts[0]], 100
        )._jdf.queryExecution().executedPlan().toString()
        assert "embedding" not in plan

    def test_compression_ratio(self, corpus, model):
        # m=8 tinyints vs 32 floats: 8 B vs 128 B per vector (16x)
        df, _ = corpus
        enc_row = pq_encode(df, model).first()
        assert len(enc_row.pq_code) == 8


class TestPersistence:
    def test_save_load_roundtrip(self, corpus, model, tmp_path):
        from astro_vectordb_spark.sources.vault import (
            load_pq_index,
            save_pq_index,
        )

        df, pts = corpus
        path = str(tmp_path / "pq_index")
        enc = pq_encode(df, model)
        save_pq_index(enc, model, path)
        enc2, model2, meta = load_pq_index(df.sparkSession, path)
        assert meta["metric"] == "cosine" and meta["m"] == 8
        np.testing.assert_allclose(
            model2.codebooks, model.codebooks, rtol=1e-6
        )
        # served search through the loaded index matches the live one
        q = [float(x) for x in pts[42]]
        live = [(r.vec_id, r.score) for r in pq_topk(enc, df, q, 5, model).collect()]
        served = [
            (r.vec_id, r.score) for r in pq_topk(enc2, df, q, 5, model2).collect()
        ]
        assert live == served


class TestIvfPq:
    def test_recall_and_pruning(self, corpus, tmp_path):
        from astro_vectordb_spark.operators.pq import (
            ivf_pq_build,
            ivf_pq_topk,
        )

        df, pts = corpus
        encoded, centroids, model = ivf_pq_build(
            df, k_cells=8, m=8, ks=32, max_rows=N
        )
        # persist cell-partitioned (the production layout)
        path = str(tmp_path / "ivfpq")
        encoded.write.partitionBy("cell_id").parquet(path)
        enc = df.sparkSession.read.parquet(path)
        recalls = []
        for qi in (0, 123, 777, 1500):
            got = ivf_pq_topk(
                enc, centroids, df, [float(x) for x in pts[qi]], 10,
                model, nprobe=4,
            )
            ids = {r.vec_id for r in got.collect()}
            normed = pts / np.linalg.norm(pts, axis=1, keepdims=True)
            qn = pts[qi] / np.linalg.norm(pts[qi])
            exact = set(np.argsort(-(normed @ qn))[:10])
            recalls.append(len(ids & exact) / 10)
        assert sum(recalls) / len(recalls) >= 0.85, recalls

    def test_partition_pruning_in_plan(self, corpus, tmp_path):
        from astro_vectordb_spark.operators.pq import (
            ivf_pq_build,
            ivf_pq_topk,
        )

        df, pts = corpus
        encoded, centroids, model = ivf_pq_build(
            df, k_cells=8, m=8, ks=16, max_rows=1000
        )
        path = str(tmp_path / "ivfpq2")
        encoded.write.partitionBy("cell_id").parquet(path)
        enc = df.sparkSession.read.parquet(path)
        plan = ivf_pq_topk(
            enc, centroids, df, [float(x) for x in pts[0]], 10, model,
            nprobe=2,
        )._jdf.queryExecution().executedPlan().toString()
        # the cell probe reaches the scan as a partition filter
        # (e.g. "PartitionFilters: [cell_id#27 IN (1,0)]")
        import re

        assert re.search(r"PartitionFilters: \[cell_id#\d+ IN", plan), plan[
            :2000
        ]

    def test_probed_fraction_smaller(self, corpus):
        from astro_vectordb_spark.operators.ann import choose_probe_cells
        from astro_vectordb_spark.operators.pq import ivf_pq_build

        df, pts = corpus
        encoded, centroids, model = ivf_pq_build(
            df, k_cells=8, m=8, ks=16, max_rows=1000
        )
        from pyspark.sql import functions as F2

        cells = choose_probe_cells(centroids, [float(x) for x in pts[0]], 2)
        frac = (
            encoded.filter(F2.col("cell_id").isin(cells)).count()
            / encoded.count()
        )
        assert frac < 0.7  # 2 of 8 cells; clustered data keeps it low

    def test_ivf_pq_persistence_roundtrip(self, corpus, tmp_path):
        from astro_vectordb_spark.operators.pq import (
            ivf_pq_build,
            ivf_pq_topk,
        )
        from astro_vectordb_spark.sources.vault import (
            load_ivf_pq_index,
            save_ivf_pq_index,
        )

        df, pts = corpus
        encoded, centroids, model = ivf_pq_build(
            df, k_cells=8, m=8, ks=16, max_rows=1000
        )
        path = str(tmp_path / "ivfpq_vault")
        save_ivf_pq_index(encoded, centroids, model, path)
        enc2, cent2, model2, meta = load_ivf_pq_index(df.sparkSession, path)
        assert meta["k_cells"] == 8 and meta["m"] == 8
        q = [float(x) for x in pts[7]]
        a = [
            (r.vec_id, r.score)
            for r in ivf_pq_topk(
                encoded, centroids, df, q, 5, model, nprobe=4
            ).collect()
        ]
        b = [
            (r.vec_id, r.score)
            for r in ivf_pq_topk(enc2, cent2, df, q, 5, model2, nprobe=4).collect()
        ]
        assert a == b


class TestBatchPq:
    @staticmethod
    def _single(enc, df, pts, qids, k, model):
        """Per-query ``pq_topk`` rows as (query_id, rank, id, score)."""
        return sorted(
            (q, i + 1, r.vec_id, r.score)
            for q in qids
            for i, r in enumerate(
                pq_topk(enc, df, [float(x) for x in pts[q]], k, model)
                .collect()
            )
        )

    def test_batch_matches_single(self, corpus, model):
        from astro_vectordb_spark.operators.pq import pq_batch_topk_cogrouped

        df, pts = corpus
        enc = pq_encode(df, model).cache()
        enc.count()
        qids = [0, 123, 777]
        queries = df.sparkSession.createDataFrame(
            [(q, [float(x) for x in pts[q]]) for q in qids],
            "query_id long, query_vec array<float>",
        )
        batch = pq_batch_topk_cogrouped(enc, df, queries, 10, model)
        got = {}
        for r in batch.collect():
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["vec_id"], r["score"])
            )
        for q in qids:
            single = [
                (i + 1, r.vec_id, r.score)
                for i, r in enumerate(
                    pq_topk(
                        enc, df, [float(x) for x in pts[q]], 10, model
                    ).collect()
                )
            ]
            assert sorted(got[q]) == single, q
        enc.unpersist()

    def test_cogrouped_matches_broadcast(self, corpus, model):
        # the hash-blocked batch face returns, per query, exactly the
        # single-query face's rows (same candidate cut order, same
        # exact re-rank) at a block count that splits the codes
        from astro_vectordb_spark.operators.pq import pq_batch_topk_cogrouped

        df, pts = corpus
        enc = pq_encode(df, model).cache()
        enc.count()
        qids = [0, 123, 777, 1500]
        queries = df.sparkSession.createDataFrame(
            [(q, [float(x) for x in pts[q]]) for q in qids],
            "query_id long, query_vec array<float>",
        )
        want = self._single(enc, df, pts, qids, 10, model)
        got = sorted(
            (r.query_id, r.rank, r.vec_id, r.score)
            for r in pq_batch_topk_cogrouped(
                enc, df, queries, 10, model, n_blocks=5
            ).collect()
        )
        assert got == want
        enc.unpersist()

    def test_cogrouped_euclidean_matches_broadcast(self, corpus):
        from astro_vectordb_spark.operators.pq import pq_batch_topk_cogrouped

        df, pts = corpus
        model_e = pq_train(
            df, m=8, ks=32, metric="euclidean", max_rows=N, seed=11
        )
        enc = pq_encode(df, model_e)
        queries = df.sparkSession.createDataFrame(
            [(q, [float(x) for x in pts[q]]) for q in (5, 900)],
            "query_id long, query_vec array<float>",
        )
        want = self._single(enc, df, pts, (5, 900), 5, model_e)
        got = sorted(
            (r.query_id, r.rank, r.vec_id, r.score)
            for r in pq_batch_topk_cogrouped(
                enc, df, queries, 5, model_e, n_blocks=3
            ).collect()
        )
        assert got == want

    def test_batch_candidate_bound(self, corpus, model):
        # the batch serve kernel keeps exactly n candidates per query
        # of a block holding the whole code table
        from astro_vectordb_spark.operators.pq import _make_cogroup_adc_kernel

        df, pts = corpus
        serve = _make_cogroup_adc_kernel(
            df.sparkSession, model, 50, id_col="vec_id",
            query_id_col="query_id", query_vec_col="query_vec",
        )
        pdf = serve(
            pq_encode(df, model).toPandas(),
            pd.DataFrame({"query_id": [0, 1],
                          "query_vec": [pts[0].astype(float),
                                        pts[9].astype(float)]}),
        )
        assert set(pdf.query_id) == {0, 1}
        assert (pdf.groupby("query_id").size() == 50).all()


class TestPqAppend:
    def test_pq_append_and_search(self, corpus, model, tmp_path):
        from astro_vectordb_spark.sources.vault import (
            load_pq_index,
            save_pq_index,
        )

        df, pts = corpus
        spark = df.sparkSession
        path = str(tmp_path / "pq_app")
        save_pq_index(pq_encode(df, model), model, path)
        # append 5 new rows: copies of row 7's vector under fresh ids
        new = spark.createDataFrame(
            [(10_000 + i, [float(x) for x in pts[7]]) for i in range(5)],
            "vec_id long, embedding array<float>",
        )
        rep = index.open(spark, path).append(new)
        assert rep["appended_rows"] == 5 and rep["batch_mse"] >= 0.0
        enc2, model2, _ = load_pq_index(spark, path)
        assert enc2.count() == N + 5
        # the appended near-dups of row 7 dominate its neighborhood
        full = df.unionByName(new)
        got = pq_topk(enc2, full, [float(x) for x in pts[7]], 6, model2)
        ids = {r.vec_id for r in got.collect()}
        assert 7 in ids
        assert len(ids & {10_000, 10_001, 10_002, 10_003, 10_004}) == 5

    def test_ivf_pq_append_touches_cells(self, corpus, tmp_path):
        from astro_vectordb_spark.operators.pq import ivf_pq_build
        from astro_vectordb_spark.sources.vault import (
            load_ivf_pq_index,
            save_ivf_pq_index,
        )

        df, pts = corpus
        spark = df.sparkSession
        encoded, centroids, model = ivf_pq_build(
            df, k_cells=8, m=8, ks=16, max_rows=1000
        )
        path = str(tmp_path / "ivfpq_app")
        save_ivf_pq_index(encoded, centroids, model, path)
        new = spark.createDataFrame(
            [(20_000 + i, [float(x) for x in pts[3]]) for i in range(4)],
            "vec_id long, embedding array<float>",
        )
        rep = index.open(spark, path).append(new)
        assert rep["appended_rows"] == 4
        # identical vectors land in exactly one cell
        assert len(rep["touched_cells"]) == 1
        enc2, _, _, _ = load_ivf_pq_index(spark, path)
        assert enc2.count() == N + 4
        # appended rows live in their assigned cell partition
        got = enc2.filter(
            enc2.cell_id == rep["touched_cells"][0]
        ).filter("vec_id >= 20000")
        assert got.count() == 4

    def test_append_drift_signal(self, corpus, model, tmp_path):
        # far-off-manifold batch reports much larger MSE than in-dist
        from astro_vectordb_spark.sources.vault import save_pq_index

        df, pts = corpus
        spark = df.sparkSession
        path = str(tmp_path / "pq_drift")
        save_pq_index(pq_encode(df, model), model, path)
        indist = spark.createDataFrame(
            [(30_000, [float(x) for x in pts[11]])],
            "vec_id long, embedding array<float>",
        )
        rng = np.random.RandomState(99)
        off = spark.createDataFrame(
            [(30_001, [float(x) for x in rng.normal(size=DIM)])],
            "vec_id long, embedding array<float>",
        )
        mse_in = index.open(spark, path).append(indist)["batch_mse"]
        mse_off = index.open(spark, path).append(off)["batch_mse"]
        # cosine-normalized 4-d subspaces keep the gap moderate
        # (measured 0.21 vs 0.15 with these seeds) — the signal is the
        # ordering, pinned with margin
        assert mse_off > mse_in * 1.25

    def test_append_idempotent_replay(self, corpus, model, tmp_path):
        # at-least-once redelivery: same batch_id is a no-op via the
        # _batches commit log; same vec_ids without a batch_id are a
        # no-op via the anti-join insert-new-only contract
        from astro_vectordb_spark.sources.vault import (
            load_pq_index,
            save_pq_index,
        )

        df, pts = corpus
        spark = df.sparkSession
        path = str(tmp_path / "pq_idem")
        save_pq_index(pq_encode(df, model), model, path)
        new = spark.createDataFrame(
            [(40_000 + i, [float(x) for x in pts[2]]) for i in range(3)],
            "vec_id long, embedding array<float>",
        )
        rep1 = index.open(spark, path).append(new, batch_id=7)
        assert rep1["appended_rows"] == 3
        # replayed batch_id: fast-path skip, nothing re-read
        rep2 = index.open(spark, path).append(new, batch_id=7)
        assert rep2["appended_rows"] == 0 and rep2.get("skipped_replay")
        # same ids, new batch_id: anti-join drops them all
        rep3 = index.open(spark, path).append(new, batch_id=8)
        assert rep3["appended_rows"] == 0
        enc2, model2, _ = load_pq_index(spark, path)
        assert enc2.count() == N + 3
        assert enc2.filter("vec_id >= 40000").count() == 3
        # and the search surface holds exactly one row per id
        got = pq_topk(
            enc2, df.unionByName(new), [float(x) for x in pts[2]], 8, model2
        ).toPandas()
        assert got.vec_id.is_unique

    def test_ivf_pq_append_idempotent_replay(self, corpus, tmp_path):
        from astro_vectordb_spark.operators.pq import ivf_pq_build
        from astro_vectordb_spark.sources.vault import (
            load_ivf_pq_index,
            save_ivf_pq_index,
        )

        df, pts = corpus
        spark = df.sparkSession
        encoded, centroids, model = ivf_pq_build(
            df, k_cells=8, m=8, ks=16, max_rows=1000
        )
        path = str(tmp_path / "ivfpq_idem")
        save_ivf_pq_index(encoded, centroids, model, path)
        new = spark.createDataFrame(
            [(50_000, [float(x) for x in pts[5]])],
            "vec_id long, embedding array<float>",
        )
        assert index.open(spark, path).append(new, batch_id=3)[
            "appended_rows"
        ] == 1
        rep = index.open(spark, path).append(new, batch_id=3)
        assert rep["appended_rows"] == 0 and rep.get("skipped_replay")
        rep = index.open(spark, path).append(new, batch_id=4)
        assert rep["appended_rows"] == 0
        enc2, _, _, _ = load_ivf_pq_index(spark, path)
        assert enc2.filter("vec_id = 50000").count() == 1


class TestFilteredPq:
    def test_allowed_ids_restrict_results(self, corpus, model):
        df, pts = corpus
        enc = pq_encode(df, model)
        allowed = list(range(0, 500))
        got = pq_topk(
            enc, df, [float(x) for x in pts[0]], 10, model,
            allowed_ids=allowed,
        ).collect()
        assert len(got) == 10
        assert all(r.vec_id < 500 for r in got)
        # equals exact filtered search over the same subset
        from astro_vectordb_spark.operators.topk import topk_search

        exact = topk_search(
            df.filter(F.col("vec_id") < 500),
            [float(x) for x in pts[0]], 10, strength=0,
        ).collect()
        # candidate budget (320) covers the 500-row filter -> identical
        assert [(r.vec_id, r.score) for r in got] == [
            (r.vec_id, r.score) for r in exact
        ]

    def test_empty_filter_returns_empty(self, corpus, model):
        df, pts = corpus
        enc = pq_encode(df, model)
        got = pq_topk(
            enc, df, [float(x) for x in pts[0]], 5, model,
            allowed_ids=[999_999],
        ).collect()
        assert got == []


class TestPqRemove:
    """Delete + compaction lifecycle for persisted PQ / IVF-PQ codes
    tables — closes the one index-lifecycle asymmetry vs HNSW (which
    has remove_many + rebalance)."""

    def test_remove_then_query_equals_fresh_rebuild(
        self, corpus, model, tmp_path
    ):
        # the verdict's equivalence contract: append + remove + query
        # == index freshly built on the surviving rows
        from astro_vectordb_spark.sources.vault import (
            load_pq_index,
            save_pq_index,
        )

        df, pts = corpus
        spark = df.sparkSession
        half_a = df.filter("vec_id % 2 = 0")
        half_b = df.filter("vec_id % 2 = 1")
        removed_ids = [r.vec_id for r in
                       df.filter("vec_id % 17 = 3").select("vec_id").collect()]

        path = str(tmp_path / "pq_churn")
        save_pq_index(pq_encode(half_a, model), model, path)
        index.open(spark, path).append(half_b)
        rep = index.open(spark, path).remove(removed_ids)
        assert rep["removed_rows"] == len(removed_ids)
        assert rep["touched_files"] > 0

        enc_churned, model2, _ = load_pq_index(spark, path)
        survivors = df.join(
            spark.createDataFrame([(i,) for i in removed_ids], "vec_id long"),
            "vec_id", "left_anti",
        )
        enc_fresh = pq_encode(survivors, model)

        q = [float(x) for x in pts[11]]
        got = [(r.vec_id, round(r.score, 6)) for r in
               pq_topk(enc_churned, survivors, q, 10, model2,
                       refine_factor=8).collect()]
        want = [(r.vec_id, round(r.score, 6)) for r in
                pq_topk(enc_fresh, survivors, q, 10, model,
                        refine_factor=8).collect()]
        assert got == want
        # removed ids are physically gone, not merely re-rank-hidden
        present = {r.vec_id for r in enc_churned.select("vec_id").collect()}
        assert not (present & set(removed_ids))

    def test_remove_touches_only_files_containing_ids(
        self, corpus, model, tmp_path
    ):
        import os as _os

        from astro_vectordb_spark.sources.vault import save_pq_index

        df, pts = corpus
        spark = df.sparkSession
        path = str(tmp_path / "pq_touch")
        save_pq_index(pq_encode(df, model), model, path)
        # appended batch lands in its own file(s)
        new = spark.createDataFrame(
            [(30_000 + i, [float(x) for x in pts[2]]) for i in range(3)],
            "vec_id long, embedding array<float>",
        )
        index.open(spark, path).append(new)
        codes_dir = _os.path.join(path, "codes")
        before = set(_os.listdir(codes_dir))
        # removing only appended ids must leave the base files alone
        rep = index.open(spark, path).remove([30_000, 30_001, 30_002])
        after = set(_os.listdir(codes_dir))
        base_files = {f for f in before if f.endswith(".parquet")}
        assert rep["removed_rows"] == 3
        # at least one original (base) parquet file survived untouched
        assert base_files & after

    def test_remove_idempotent_replay(self, corpus, model, tmp_path):
        from astro_vectordb_spark.sources.vault import (
            load_pq_index,
            save_pq_index,
        )

        df, _ = corpus
        spark = df.sparkSession
        path = str(tmp_path / "pq_rm_idem")
        save_pq_index(pq_encode(df, model), model, path)
        rep1 = index.open(spark, path).remove([1, 2, 3], batch_id=11)
        assert rep1["removed_rows"] == 3
        rep2 = index.open(spark, path).remove([1, 2, 3], batch_id=11)
        assert rep2.get("skipped_replay") and rep2["removed_rows"] == 0
        enc, _, _ = load_pq_index(spark, path)
        assert enc.count() == N - 3

    def test_ivf_pq_remove_rewrites_touched_cells_only(
        self, corpus, tmp_path
    ):
        from astro_vectordb_spark.operators.pq import ivf_pq_build
        from astro_vectordb_spark.sources.vault import (
            load_ivf_pq_index,
            save_ivf_pq_index,
        )

        df, pts = corpus
        spark = df.sparkSession
        encoded, centroids, model = ivf_pq_build(
            df, k_cells=8, m=8, ks=16, max_rows=1000
        )
        path = str(tmp_path / "ivfpq_rm")
        save_ivf_pq_index(encoded, centroids, model, path)
        enc0, _, _, _ = load_ivf_pq_index(spark, path)
        target_cell = enc0.filter("vec_id = 4").first()["cell_id"]
        ids_in_cell = [
            r.vec_id for r in enc0.filter(enc0.cell_id == target_cell)
            .select("vec_id").limit(5).collect()
        ]
        rep = index.open(spark, path).remove(ids_in_cell)
        assert rep["removed_rows"] == len(ids_in_cell)
        enc2, _, _, _ = load_ivf_pq_index(spark, path)
        assert enc2.filter(
            enc2.vec_id.isin(ids_in_cell)
        ).count() == 0
        # untouched cells keep every row; cell partitioning survives
        assert enc2.count() == N - len(ids_in_cell)
        assert "cell_id" in enc2.columns

    def test_compact_coalesces_and_dedups(self, corpus, model, tmp_path):
        from astro_vectordb_spark.sources.vault import (
            load_pq_index,
            save_pq_index,
        )

        df, pts = corpus
        spark = df.sparkSession
        path = str(tmp_path / "pq_cmp")
        save_pq_index(pq_encode(df.repartition(8), model), model, path)
        for b in range(4):
            new = spark.createDataFrame(
                [(40_000 + 10 * b + i, [float(x) for x in pts[b]])
                 for i in range(3)],
                "vec_id long, embedding array<float>",
            )
            index.open(spark, path).append(new)
        rep = index.open(spark, path).compact(
            target_rows_per_file=10_000_000
        )
        assert rep["compacted"] and rep["files_before"] > 1
        enc, _, _ = load_pq_index(spark, path)
        assert enc.count() == N + 12
        assert enc.select("vec_id").distinct().count() == N + 12
        # a second compaction is a no-op (well-sized now)
        rep2 = index.open(spark, path).compact(
            target_rows_per_file=10_000_000
        )
        assert rep2["compacted"] is False

    def test_compact_noop_when_well_sized(self, corpus, model, tmp_path):
        from astro_vectordb_spark.sources.vault import save_pq_index

        df, _ = corpus
        spark = df.sparkSession
        path = str(tmp_path / "pq_cmp_noop")
        save_pq_index(pq_encode(df.coalesce(1), model), model, path)
        rep = index.open(spark, path).compact(target_rows_per_file=10_000_000)
        assert rep["compacted"] is False


class TestIvfPqBatchCogrouped:
    """ivf_pq_batch_topk_cogrouped: cell-probed batch ADC."""

    def _build(self, corpus):
        from astro_vectordb_spark.operators.pq import ivf_pq_build

        df, pts = corpus
        encoded, centroids, model = ivf_pq_build(
            df, k_cells=8, m=8, ks=32, max_rows=N
        )
        return df, pts, encoded, centroids, model

    def test_matches_single_query_face(self, corpus):
        # fixed nprobe: per-query results equal the single-query
        # ivf_pq_topk (same cell ranking rule, same ADC, same re-rank)
        from astro_vectordb_spark.operators.pq import (
            ivf_pq_batch_topk_cogrouped,
            ivf_pq_topk,
        )

        df, pts, encoded, centroids, model = self._build(corpus)
        qids = [0, 123, 777]
        queries = df.sparkSession.createDataFrame(
            [(qi, [float(x) for x in pts[qi]]) for qi in qids],
            "query_id long, query_vec array<float>",
        )
        got = ivf_pq_batch_topk_cogrouped(
            encoded, centroids, df, queries, k=10, model=model, nprobe=4
        ).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append(
                (r["vec_id"], r["score"])
            )
        for qi in qids:
            want = ivf_pq_topk(
                encoded, centroids, df, [float(x) for x in pts[qi]],
                10, model, nprobe=4,
            ).collect()
            assert sorted(by_q[qi]) == sorted(
                (r["vec_id"], r["score"]) for r in want
            ), f"query {qi} diverges from single-query ivf_pq_topk"

    def test_full_probe_equals_all_cells_face(self, corpus):
        # nprobe = k_cells scans everything -> identical to the
        # hash-blocked all-codes face
        from astro_vectordb_spark.operators.pq import (
            ivf_pq_batch_topk_cogrouped,
            pq_batch_topk_cogrouped,
        )

        df, pts, encoded, centroids, model = self._build(corpus)
        queries = df.sparkSession.createDataFrame(
            [(qi, [float(x) for x in pts[qi]]) for qi in (5, 900)],
            "query_id long, query_vec array<float>",
        )
        got = ivf_pq_batch_topk_cogrouped(
            encoded, centroids, df, queries, k=5, model=model, nprobe=8
        ).collect()
        want = pq_batch_topk_cogrouped(
            encoded.select("vec_id", "pq_code"), df, queries, k=5,
            model=model,
        ).collect()
        assert sorted(
            (r["query_id"], r["vec_id"], r["score"]) for r in got
        ) == sorted((r["query_id"], r["vec_id"], r["score"]) for r in want)

    def test_adaptive_probe_serves_all_queries(self, corpus):
        from astro_vectordb_spark.operators.pq import (
            ivf_pq_batch_topk_cogrouped,
        )

        df, pts, encoded, centroids, model = self._build(corpus)
        qids = [1, 2, 3, 4]
        queries = df.sparkSession.createDataFrame(
            [(qi, [float(x) for x in pts[qi]]) for qi in qids],
            "query_id long, query_vec array<float>",
        )
        got = ivf_pq_batch_topk_cogrouped(
            encoded, centroids, df, queries, k=5, model=model, nprobe=None
        ).collect()
        seen = {r["query_id"] for r in got}
        assert seen == set(qids)
        # the probed query must find itself (exact duplicate corpus row)
        best = {}
        for r in got:
            cur = best.get(r["query_id"])
            if cur is None or r["score"] > cur[1]:
                best[r["query_id"]] = (r["vec_id"], r["score"])
        for qi in qids:
            assert best[qi][0] == qi


class TestAdcKernelDifferential:
    """The one LUT builder and scorer against scores computed straight
    from decoded vectors: q_hat . (c + decode(code)) for cosine/dot and
    -||q_hat - c - decode(code)||^2 for euclidean (c = 0 for flat
    codes), in the codebooks' (rotated) space; and the encoders against
    a brute-force argmin."""

    DIM, M, KS = 16, 4, 8

    @staticmethod
    def _signed_permutation(rng, dim):
        # exactly orthogonal in float32, so the stored OPQ rotation is
        # the rotation the reference applies
        R = np.zeros((dim, dim), dtype=np.float32)
        R[np.arange(dim), rng.permutation(dim)] = rng.choice([-1.0, 1.0], dim)
        return R

    @pytest.mark.parametrize("metric", ["cosine", "dot", "euclidean"])
    @pytest.mark.parametrize("residual", [False, True])
    @pytest.mark.parametrize("opq", [False, True])
    def test_tables_match_decoded_scores(self, metric, residual, opq):
        from astro_vectordb_spark.operators.pq import (
            _adc_scores,
            _adc_tables,
            _decode_codes,
            _prep,
        )

        rng = np.random.RandomState(5)
        model = PQModel(
            rng.normal(size=(self.M, self.KS, self.DIM // self.M)),
            metric=metric, dim=self.DIM, residual=residual,
            rotation=self._signed_permutation(rng, self.DIM) if opq else None,
        )
        codebooks, met, dsub, rot = model.kernel_state()
        Q = rng.normal(size=(5, self.DIM))
        Q[1] = 0.0          # zero query (cosine: the zero-norm case)
        Q[2] = -0.0
        Q[3] *= 1e-3        # tiny norm: cosine normalizes it to 1
        centroid = rng.normal(size=self.DIM) if residual else None
        codes = rng.randint(0, self.KS, size=(40, self.M))
        got = _adc_scores(
            *_adc_tables(codebooks, met, dsub, Q, rot, centroid), codes
        )
        q_hat = _prep(Q, metric)
        c = np.zeros(self.DIM) if centroid is None else centroid
        if rot is not None:
            q_hat, c = q_hat @ rot, c @ rot
        v_hat = c[None, :] + _decode_codes(codes, codebooks)
        if metric == "euclidean":
            want = -((q_hat[:, None, :] - v_hat[None, :, :]) ** 2).sum(axis=2)
        else:
            want = q_hat @ v_hat.T
        np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-12)
        if metric == "cosine":
            norms = np.linalg.norm(_prep(Q, metric), axis=1)
            np.testing.assert_allclose(norms[[0, 3, 4]], 1.0)
            assert not norms[[1, 2]].any()

    @staticmethod
    def _argmin(X, codebooks):
        m, _, dsub = codebooks.shape
        return np.stack(
            [
                ((X[:, None, j * dsub:(j + 1) * dsub] - codebooks[j][None])
                 ** 2).sum(axis=2).argmin(axis=1)
                for j in range(m)
            ],
            axis=1,
        )

    @staticmethod
    def _codes(frame):
        pdf = frame.toPandas().sort_values("vec_id")
        return pdf, np.stack(pdf.pq_code.to_numpy()).astype(np.int64) + 128

    def test_encoders_match_brute_force_argmin(self, spark):
        from astro_vectordb_spark.operators.pq import _prep, ivf_pq_build

        rng = np.random.RandomState(21)
        ctr = rng.normal(size=(5, self.DIM))
        X = (ctr[rng.randint(0, 5, 400)]
             + 0.3 * rng.normal(size=(400, self.DIM))).astype(np.float32)
        X[7] = 0.0
        df = spark.createDataFrame(
            [(i, [float(x) for x in X[i]]) for i in range(len(X))],
            "vec_id long, embedding array<float>",
        )
        model = pq_train(df, m=self.M, ks=self.KS, max_rows=400, seed=2)
        _, got = self._codes(pq_encode(df, model))
        cb = model.codebooks.astype(np.float64)
        np.testing.assert_array_equal(
            got, self._argmin(_prep(X, "cosine"), cb)
        )
        enc, cents, rmodel = ivf_pq_build(
            df, k_cells=4, m=self.M, ks=self.KS, max_rows=400,
            residual=True, opq_iters=8, seed=2,
        )
        assert rmodel.rotation is not None
        pdf, got = self._codes(enc)
        C = {int(r.cell_id): np.asarray(r.centroid, dtype=np.float64)
             for r in cents.collect()}
        R = (_prep(X[pdf.vec_id.to_numpy()], "cosine")
             - np.stack([C[int(c)] for c in pdf.cell_id]))
        np.testing.assert_array_equal(
            got,
            self._argmin(R @ rmodel.rotation.astype(np.float64),
                         rmodel.codebooks.astype(np.float64)),
        )
