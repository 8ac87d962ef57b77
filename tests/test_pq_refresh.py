"""PQ / IVF-PQ refresh-in-place (round-15 verdict item 3): retrain
codebooks on a bounded sample and re-encode the stored codes table via
staged swap — the lifecycle answer to the append faces' batch-MSE drift
report, mirroring semdedup_refresh_index.  The float vectors table is
never rewritten; cell assignments (IVF-PQ) and the replay log are
preserved verbatim.  Reference analogue: rebuildGraphNodes intent
(astro-vectordb rebuilds wholesale; here only the compact codes move)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from astro_vectordb_spark import index
from astro_vectordb_spark.operators.pq import (
    ivf_pq_build,
    ivf_pq_topk,
    pq_encode,
    pq_topk,
    pq_train,
)
from astro_vectordb_spark.sources.vault import (
    _batch_already_committed,
    load_ivf_pq_index,
    load_pq_index,
    save_ivf_pq_index,
    save_pq_index,
)

DIM = 32
N = 1200
N_DRIFT = 400


def _clustered(seed, n, centers=16, sigma=0.05):
    rng = np.random.RandomState(seed)
    C = rng.normal(size=(centers, DIM))
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    assign = rng.randint(0, centers, size=n)
    return (C[assign] + sigma * rng.normal(size=(n, DIM))).astype(
        np.float32
    )


def _df(spark, pts, start_id=0):
    return spark.createDataFrame(
        [(start_id + i, [float(x) for x in pts[i]])
         for i in range(len(pts))],
        "vec_id long, embedding array<float>",
    )


@pytest.fixture(scope="module")
def corpora(spark):
    """Base corpus A (ids 0..N-1) + an OFF-distribution batch B
    (ids 10_000.., clustered around DIFFERENT centers) + the union —
    the drift scenario every refresh test replays."""
    A = _clustered(seed=1, n=N)
    B = _clustered(seed=77, n=N_DRIFT)
    dfa = _df(spark, A).cache()
    dfb = _df(spark, B, start_id=10_000).cache()
    both = dfa.unionByName(dfb).cache()
    both.count()
    yield dfa, dfb, both, A, B
    for d in (dfa, dfb, both):
        d.unpersist()


def _exact_ids(A, B, q, k):
    pts = np.concatenate([A, B])
    ids = np.concatenate(
        [np.arange(len(A)), 10_000 + np.arange(len(B))]
    )
    normed = pts / np.linalg.norm(pts, axis=1, keepdims=True)
    qn = np.asarray(q) / np.linalg.norm(q)
    order = np.lexsort((ids, -(normed @ qn)))
    return set(ids[order[:k]])


def _recall(spark, path, full, A, B, k=10, refine_factor=4, n_q=8):
    enc, model, _ = load_pq_index(spark, path)
    hits = tot = 0
    for qi in range(n_q):
        q = [float(x) for x in B[qi * 37]]
        got = {
            int(r.vec_id)
            for r in pq_topk(
                enc, full, q, k, model, refine_factor=refine_factor
            ).collect()
        }
        hits += len(got & _exact_ids(A, B, q, k))
        tot += k
    return hits / tot


class TestPqRefresh:
    def _drifted_index(self, spark, corpora, tmp_path, name):
        dfa, dfb, both, A, B = corpora
        model = pq_train(dfa, m=8, ks=16, metric="cosine", max_rows=N,
                         seed=7)
        path = str(tmp_path / name)
        save_pq_index(pq_encode(dfa, model), model, path)
        rep = index.open(spark, path).append(dfb, batch_id=5)
        return path, model, rep

    def test_refresh_equals_fresh_build(self, spark, corpora, tmp_path):
        """The headline equivalence: a refreshed index is BIT-IDENTICAL
        to training + encoding fresh on the same corpus with the same
        sample bound and seed (deterministic hash-sample), minus the
        vector rewrite a fresh build pays."""
        dfa, dfb, both, A, B = corpora
        path, _, _ = self._drifted_index(spark, corpora, tmp_path, "pq_eq")
        rep = index.open(spark, path).refresh(both, max_rows=N + N_DRIFT,
                                              seed=7)
        assert rep["reencoded_rows"] == N + N_DRIFT
        fresh_model = pq_train(both, m=8, ks=16, metric="cosine",
                               max_rows=N + N_DRIFT, seed=7)
        _, got_model, meta = load_pq_index(spark, path)
        np.testing.assert_array_equal(
            got_model.codebooks, fresh_model.codebooks
        )
        assert got_model.train_mse == fresh_model.train_mse
        got_codes = {
            (int(r.vec_id), tuple(r.pq_code))
            for r in spark.read.parquet(path + "/codes").collect()
        }
        want_codes = {
            (int(r.vec_id), tuple(r.pq_code))
            for r in pq_encode(both, fresh_model).collect()
        }
        assert got_codes == want_codes
        assert int(meta["n_rows"]) == N + N_DRIFT  # meta untouched

    def test_drift_report_roundtrip_and_recall(self, spark, corpora,
                                               tmp_path):
        """The drift story end to end: the off-distribution append
        reports MSE far above the train baseline; refresh refits; the
        new baseline absorbs the mixture and stage-1 recall on the
        drifted region is restored (never degraded)."""
        dfa, dfb, both, A, B = corpora
        path, model, rep = self._drifted_index(spark, corpora, tmp_path,
                                               "pq_drift")
        assert rep["batch_mse"] > 2.0 * model.train_mse  # the signal
        before = _recall(spark, path, both, A, B)
        out = index.open(spark, path).refresh(both, seed=7)
        assert out["train_mse_before"] == pytest.approx(model.train_mse)
        # the refit accommodates the drifted rows: baseline well under
        # the stale codebooks' error on them
        assert out["train_mse_after"] < rep["batch_mse"] / 2.0
        after = _recall(spark, path, both, A, B)
        assert after >= before - 1e-9
        assert after >= 0.85, (before, after)

    def test_coverage_check_raises(self, spark, corpora, tmp_path):
        dfa, dfb, both, _, _ = corpora
        path, _, _ = self._drifted_index(spark, corpora, tmp_path,
                                         "pq_cov")
        with pytest.raises(ValueError, match="covers"):
            index.open(spark, path).refresh(dfa)  # missing the appended B

    def test_replay_log_preserved(self, spark, corpora, tmp_path):
        dfa, dfb, both, _, _ = corpora
        path, _, _ = self._drifted_index(spark, corpora, tmp_path,
                                         "pq_replay")
        index.open(spark, path).refresh(both, seed=7)
        # the pre-refresh batch still dedups...
        rep = index.open(spark, path).append(dfb, batch_id=5)
        assert rep["skipped_replay"]
        assert _batch_already_committed(spark, path, 5, op="pq_append")
        # ...and appends keep flowing after the refresh
        extra = _df(spark, _clustered(seed=9, n=10), start_id=20_000)
        rep2 = index.open(spark, path).append(extra, batch_id=6)
        assert rep2["appended_rows"] == 10

    def test_crash_between_swaps_heals_on_rerun(self, spark, corpora,
                                                tmp_path, monkeypatch):
        """Codes swap first, codebooks second: a crash between them
        leaves a mismatched pair — the documented healing is re-running
        the (idempotent) refresh."""
        from astro_vectordb_spark.sources import vault as v

        dfa, dfb, both, A, B = corpora
        path, _, _ = self._drifted_index(spark, corpora, tmp_path,
                                         "pq_crash")

        def boom(*a, **kw):
            raise RuntimeError("injected crash after codes swap")

        monkeypatch.setattr(v, "_write_codebooks", boom)
        with pytest.raises(RuntimeError, match="injected"):
            index.open(spark, path).refresh(both, seed=7)
        monkeypatch.undo()
        out = index.open(spark, path).refresh(both, seed=7)
        assert out["reencoded_rows"] == N + N_DRIFT
        fresh_model = pq_train(both, m=8, ks=16, metric="cosine",
                               seed=7)
        _, got_model, _ = load_pq_index(spark, path)
        np.testing.assert_array_equal(
            got_model.codebooks, fresh_model.codebooks
        )

    def test_opq_family_is_kept(self, spark, corpora, tmp_path):
        """opq_iters=None keeps the family: an OPQ-rotated model
        refreshes with a (new) rotation; a plain model stays plain."""
        dfa, dfb, both, _, _ = corpora
        opq = pq_train(dfa, m=8, ks=16, metric="cosine", max_rows=N,
                       seed=7, opq_iters=4)
        path = str(tmp_path / "pq_opq")
        save_pq_index(pq_encode(dfa, opq), opq, path)
        index.open(spark, path).append(dfb, batch_id=1)
        out = index.open(spark, path).refresh(both, seed=7)
        assert out["rotation"] is True
        _, got, _ = load_pq_index(spark, path)
        assert got.rotation is not None and got.train_mse is not None


class TestIvfPqRefresh:
    def _index(self, spark, corpora, tmp_path, name, residual,
               opq_iters=0):
        dfa, dfb, both, A, B = corpora
        encoded, centroids, model = ivf_pq_build(
            dfa, k_cells=8, m=8, ks=16, max_rows=N, seed=7,
            residual=residual, opq_iters=opq_iters,
        )
        path = str(tmp_path / name)
        save_ivf_pq_index(encoded, centroids, model, path)
        rep = index.open(spark, path).append(dfb, batch_id=3)
        return path, model, rep

    def _cells(self, spark, path):
        return {
            (int(r.vec_id), int(r.cell_id))
            for r in spark.read.parquet(path + "/codes")
            .select("vec_id", "cell_id").collect()
        }

    def test_cells_frozen_and_recall_restored(self, spark, corpora,
                                              tmp_path):
        dfa, dfb, both, A, B = corpora
        path, model, rep = self._index(spark, corpora, tmp_path,
                                       "ivfpq_raw", residual=False)
        assert rep["batch_mse"] > 2.0 * model.train_mse
        cells_before = self._cells(spark, path)
        out = index.open(spark, path).refresh(both, seed=7)
        assert out["reencoded_rows"] == N + N_DRIFT
        assert out["train_mse_after"] < rep["batch_mse"] / 2.0
        # centroids + every row's cell assignment are untouched — the
        # partition-pruning layout serving relies on is preserved
        assert self._cells(spark, path) == cells_before
        enc, centroids, got_model, _ = load_ivf_pq_index(spark, path)
        hits = tot = 0
        for qi in range(6):
            q = [float(x) for x in B[qi * 41]]
            got = {
                int(r.vec_id)
                for r in ivf_pq_topk(
                    enc, centroids, both, q, 10, got_model, nprobe=4,
                    refine_factor=4,
                ).collect()
            }
            hits += len(got & _exact_ids(A, B, q, 10))
            tot += 10
        assert hits / tot >= 0.8, hits / tot

    def test_residual_opq_refresh_mechanics(self, spark, corpora,
                                            tmp_path):
        """The hardest face: residual encoding + OPQ rotation.  The
        residual append now reports batch MSE in RESIDUAL space
        (comparable to the persisted train_mse); refresh refits on
        residuals vs the FROZEN centroids and keeps both flags."""
        dfa, dfb, both, A, B = corpora
        path, model, rep = self._index(spark, corpora, tmp_path,
                                       "ivfpq_res", residual=True,
                                       opq_iters=4)
        assert rep["batch_mse"] is not None
        assert rep["batch_mse"] > 2.0 * model.train_mse
        cells_before = self._cells(spark, path)
        out = index.open(spark, path).refresh(both, seed=7)
        assert out["residual"] is True and out["rotation"] is True
        assert out["train_mse_after"] < rep["batch_mse"] / 2.0
        assert self._cells(spark, path) == cells_before
        enc, centroids, got_model, meta = load_ivf_pq_index(spark, path)
        assert got_model.residual and got_model.rotation is not None
        assert bool(meta["residual"]) is True
        # served search still exact within candidates
        q = [float(x) for x in B[0]]
        got = ivf_pq_topk(enc, centroids, both, q, 5, got_model,
                          nprobe=8, refine_factor=8).collect()
        assert len(got) == 5 and int(got[0].vec_id) == 10_000
