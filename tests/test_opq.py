"""OPQ — learned orthogonal rotation before the PQ subspace split
(Ge et al. CVPR 2013, non-parametric variant; round-12 verdict item 3).

The rotation is a pure fidelity lever: it must (a) be orthogonal, (b)
strictly improve quantization on correlated data, (c) survive the vault
round-trip bit-identically, (d) leave the two-stage exactness contract
untouched (stage 2 re-ranks in full precision), and (e) compose with
residual IVF-PQ encoding.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from astro_vectordb_spark import index
from astro_vectordb_spark.operators.pq import (
    PQModel,
    ivf_pq_build,
    ivf_pq_topk,
    ivf_pq_batch_topk_cogrouped,
    pq_encode,
    pq_reconstruction_mse,
    pq_topk,
    pq_train,
)
from astro_vectordb_spark.operators.topk import topk_search

DIM = 32
N = 2500


def _anisotropic(seed=3, n=N, dim=DIM):
    """Correlated, variance-imbalanced corpus — the regime OPQ exists
    for (independent per-subspace quantizers waste codewords on the
    principal directions that straddle subspace boundaries)."""
    rng = np.random.RandomState(seed)
    A = rng.randn(dim, dim) * np.linspace(3.0, 0.1, dim)[None, :]
    return (rng.randn(n, dim) @ A).astype(np.float32)


@pytest.fixture(scope="module")
def corpus(spark):
    pts = _anisotropic()
    df = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(N)],
        "vec_id long, embedding array<float>",
    ).cache()
    df.count()
    yield df, pts
    df.unpersist()


@pytest.fixture(scope="module")
def models(corpus):
    df, _ = corpus
    raw = pq_train(df, m=8, ks=16, max_rows=N, seed=7, iters=10)
    opq = pq_train(df, m=8, ks=16, max_rows=N, seed=7, iters=10,
                   opq_iters=8)
    return raw, opq


class TestTraining:
    def test_rotation_orthogonal(self, models):
        _, opq = models
        R = opq.rotation.astype(np.float64)
        assert R.shape == (DIM, DIM)
        assert np.abs(R @ R.T - np.eye(DIM)).max() < 1e-5

    def test_raw_model_has_no_rotation(self, models):
        raw, _ = models
        assert raw.rotation is None

    def test_deterministic(self, corpus):
        df, _ = corpus
        a = pq_train(df, m=4, ks=8, max_rows=800, seed=5, iters=5,
                     opq_iters=4)
        b = pq_train(df, m=4, ks=8, max_rows=800, seed=5, iters=5,
                     opq_iters=4)
        np.testing.assert_array_equal(a.rotation, b.rotation)
        np.testing.assert_array_equal(a.codebooks, b.codebooks)

    def test_mse_improves_on_correlated_data(self, corpus, models):
        df, _ = corpus
        raw, opq = models
        mse_raw = pq_reconstruction_mse(df, raw)
        mse_opq = pq_reconstruction_mse(df, opq)
        # rotation is a strict superset of identity: fitted on this
        # corpus it must materially beat the unrotated codebooks
        assert mse_opq < 0.9 * mse_raw


class TestPersistence:
    def test_roundtrip_bit_identical(self, models):
        _, opq = models
        clone = PQModel.from_rows(
            opq.to_rows(), metric=opq.metric, dim=opq.dim
        )
        np.testing.assert_array_equal(clone.rotation, opq.rotation)
        np.testing.assert_array_equal(clone.codebooks, opq.codebooks)

    def test_legacy_rows_load_without_rotation(self, models):
        raw, _ = models
        clone = PQModel.from_rows(
            raw.to_rows(), metric=raw.metric, dim=raw.dim
        )
        assert clone.rotation is None

    def test_vault_roundtrip(self, spark, corpus, models, tmp_path):
        from astro_vectordb_spark.sources.vault import (
            load_pq_index,
            save_pq_index,
        )

        df, _ = corpus
        _, opq = models
        enc = pq_encode(df, opq)
        path = str(tmp_path / "opq_idx")
        save_pq_index(enc, opq, path)
        _, loaded, _ = load_pq_index(spark, path)
        np.testing.assert_array_equal(loaded.rotation, opq.rotation)
        np.testing.assert_array_equal(loaded.codebooks, opq.codebooks)


class TestServing:
    def test_exact_at_high_refine(self, corpus, models):
        df, pts = corpus
        _, opq = models
        q = [float(x) for x in pts[11]]
        enc = pq_encode(df, opq)
        got = pq_topk(enc, df, q, 10, opq, refine_factor=N // 10 + 1)
        want = topk_search(df, q, 10)
        assert [(r["vec_id"], r["score"]) for r in got.collect()] == [
            (r["vec_id"], r["score"]) for r in want.collect()
        ]

    def test_adc_fidelity_beats_raw(self, corpus, models):
        df, pts = corpus
        raw, opq = models
        want = {
            r["vec_id"]
            for q_i in (5, 17, 123)
            for r in topk_search(
                df, [float(x) for x in pts[q_i]], 10
            ).collect()
        }
        hits_raw = hits_opq = 0
        for q_i in (5, 17, 123):
            q = [float(x) for x in pts[q_i]]
            top = set(
                r["vec_id"]
                for r in topk_search(df, q, 10).collect()
            )
            enc_r = pq_encode(df, raw)
            enc_o = pq_encode(df, opq)
            got_r = {
                r["vec_id"]
                for r in pq_topk(enc_r, df, q, 10, raw,
                                 refine_factor=2).collect()
            }
            got_o = {
                r["vec_id"]
                for r in pq_topk(enc_o, df, q, 10, opq,
                                 refine_factor=2).collect()
            }
            hits_raw += len(got_r & top)
            hits_opq += len(got_o & top)
        assert hits_opq >= hits_raw

    def test_residual_opq_exact_at_high_refine(self, corpus):
        df, pts = corpus
        enc, cents, model = ivf_pq_build(
            df, k_cells=8, m=8, ks=16, max_rows=N, residual=True,
            opq_iters=6,
        )
        assert model.residual and model.rotation is not None
        q = [float(x) for x in pts[42]]
        got = ivf_pq_topk(
            enc, cents, df, q, 10, model, nprobe=8,
            refine_factor=N // 10 + 1,
        )
        want = topk_search(df, q, 10)
        assert [(r["vec_id"], r["score"]) for r in got.collect()] == [
            (r["vec_id"], r["score"]) for r in want.collect()
        ]

    def test_residual_opq_batch_matches_single(self, spark, corpus):
        df, pts = corpus
        enc, cents, model = ivf_pq_build(
            df, k_cells=8, m=8, ks=16, max_rows=N, residual=True,
            opq_iters=6,
        )
        qids = [4, 99, 777]
        queries = spark.createDataFrame(
            [(int(i), [float(x) for x in pts[i]]) for i in qids],
            "query_id long, query_vec array<double>",
        )
        batch = ivf_pq_batch_topk_cogrouped(
            enc, cents, df, queries, 5, model, nprobe=4, refine_factor=8
        )
        rows_b = {
            (r["query_id"], r["vec_id"], r["score"])
            for r in batch.collect()
        }
        rows_s = set()
        for i in qids:
            for r in ivf_pq_topk(
                enc, cents, df, [float(x) for x in pts[i]], 5, model,
                nprobe=4, refine_factor=8,
            ).collect():
                rows_s.add((i, r["vec_id"], r["score"]))
        assert rows_b == rows_s

    def test_opq_append_reuses_rotation(self, spark, corpus, models,
                                        tmp_path):
        from astro_vectordb_spark.sources.vault import (
            load_pq_index,
            save_pq_index,
        )

        df, pts = corpus
        _, opq = models
        base = df.filter(F.col("vec_id") < N - 50)
        enc = pq_encode(base, opq)
        path = str(tmp_path / "opq_app")
        save_pq_index(enc, opq, path)
        newbie = df.filter(F.col("vec_id") >= N - 50)
        index.open(spark, path).append(newbie, batch_id=1)
        codes, loaded, _ = load_pq_index(spark, path)
        # appended rows must be encoded THROUGH the persisted rotation:
        # identical to encoding them with the in-session model
        want = {
            (r["vec_id"], tuple(r["pq_code"]))
            for r in pq_encode(newbie, opq).collect()
        }
        got = {
            (r["vec_id"], tuple(r["pq_code"]))
            for r in codes.filter(F.col("vec_id") >= N - 50).collect()
        }
        assert got == want


class TestVaultAppendResidualOPQ:
    def test_ivf_pq_append_encodes_through_stored_rotation(
        self, spark, corpus, tmp_path
    ):
        """The residual+OPQ vault append must encode new rows through
        the PERSISTED rotation and centroids — identical codes to the
        in-session model on the same rows."""
        from astro_vectordb_spark.operators.pq import (
            ivf_pq_encode_residual,
        )
        from astro_vectordb_spark.operators.ann import make_cell_assigner
        from astro_vectordb_spark.sources.vault import (
            load_ivf_pq_index,
            save_ivf_pq_index,
        )

        df, _ = corpus
        base = df.filter(F.col("vec_id") < N - 40)
        newbie = df.filter(F.col("vec_id") >= N - 40)
        enc, cents, model = ivf_pq_build(
            base, k_cells=8, m=8, ks=16, max_rows=N, residual=True,
            opq_iters=6,
        )
        path = str(tmp_path / "opq_res_idx")
        save_ivf_pq_index(enc, cents, model, path)
        rep = index.open(spark, path).append(newbie, batch_id=1)
        assert rep["skipped_replay"] is False
        codes, cents2, loaded, meta = load_ivf_pq_index(spark, path)
        assert loaded.residual and loaded.rotation is not None
        np.testing.assert_array_equal(loaded.rotation, model.rotation)
        C = np.array(
            [r["centroid"] for r in cents2.orderBy("cell_id").collect()]
        )
        cell_ids = [
            int(r["cell_id"]) for r in cents2.orderBy("cell_id").collect()
        ]
        assign = make_cell_assigner(
            C, metric=model.metric, cell_ids=cell_ids
        )
        assigned = newbie.withColumn(
            "cell_id", F.explode(assign(F.col("embedding")))
        )
        want = {
            (r["vec_id"], r["cell_id"], tuple(r["pq_code"]))
            for r in ivf_pq_encode_residual(
                assigned, model, cents2
            ).collect()
        }
        got = {
            (r["vec_id"], r["cell_id"], tuple(r["pq_code"]))
            for r in codes.filter(
                F.col("vec_id") >= N - 40
            ).collect()
        }
        assert got == want
