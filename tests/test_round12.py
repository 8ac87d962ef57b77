"""Round-12 pins: the four ADVICE findings.

1. The minhash ``apply_sweep`` on a LEGACY ``_meta`` (no ``n_rows``
   column) must not raise after the removal committed — it falls back
   to counting distinct ids in ``sigs/``.
2. The PQ append faces' success-path reports carry
   ``skipped_replay: False`` (shape parity with the replay-hit path
   and the minhash family).
3. The residual ADC scan (``_adc_candidates``) builds its tables
   EXECUTOR-side from model-sized broadcast state (codebooks + probed
   centroids) — the candidates must equal the top rows by scores
   computed straight from the decoded vectors on both metrics,
   including a probed SUBSET of cells (the server-side centroid
   filter path).
4. The minhash ``append``'s backlog measure short-circuits on the
   healthy path (counts agree -> no anti-join) and still reports
   ``repaired_rows: 0`` / the exact appended count.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from astro_vectordb_spark import index


def _mkdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_CORPUS = (
    [(i, f"unique document number {i} about topic {i % 7} with tail {i*i}")
     for i in range(20)]
    # one boilerplate cluster: ids 100..104 share identical text
    + [(100 + j, "the exact same boilerplate legal disclaimer text "
                 "repeated verbatim across many documents in the corpus")
       for j in range(5)]
)


class TestApplyGroupsLegacyMeta:
    def test_sweep_on_meta_without_n_rows(self, spark, tmp_path):
        from astro_vectordb_spark import neardup
        from astro_vectordb_spark.sources.vault import (
            load_minhash_index,
            save_minhash_index,
        )

        path = str(tmp_path / "idx")
        save_minhash_index(_mkdocs(spark, _CORPUS), path)
        # rewrite _meta in the legacy shape: drop the n_rows column
        meta = load_minhash_index(spark, path)[2]
        legacy = spark.createDataFrame(
            [(int(meta["num_hashes"]), int(meta["bands"]), int(meta["n"]),
              str(meta["id_col"]))],
            "num_hashes int, bands int, n int, id_col string",
        )
        import shutil

        legacy_pdf = legacy.toPandas()
        shutil.rmtree(os.path.join(path, "_meta"))
        spark.createDataFrame(legacy_pdf, legacy.schema).write.parquet(
            os.path.join(path, "_meta")
        )
        rep = neardup.open(spark, path).apply_sweep(threshold=0.9, batch_id=1)
        # 4 of the 5 boilerplate copies drop; kept falls back to the
        # distinct sig-id count (legacy meta has no counter)
        assert rep["removed_docs"] == 4
        assert rep["kept"] == len(_CORPUS) - 4
        live = (
            spark.read.parquet(os.path.join(path, "sigs"))
            .select("doc_id").distinct().count()
        )
        assert rep["kept"] == live


class TestPqAppendReportShape:
    @pytest.fixture(scope="class")
    def vecs(self, spark):
        rng = np.random.RandomState(12)
        rows = [
            (i, [float(x) for x in rng.uniform(-1, 1, size=16)])
            for i in range(300)
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ), rows

    def test_pq_append_success_reports_not_replayed(
        self, spark, vecs, tmp_path
    ):
        from astro_vectordb_spark.operators.pq import pq_encode, pq_train
        from astro_vectordb_spark.sources.vault import save_pq_index

        df, rows = vecs
        base = df.filter(F.col("vec_id") < 250)
        model = pq_train(base, m=4, ks=16, max_rows=250)
        path = str(tmp_path / "pq")
        save_pq_index(pq_encode(base, model), model, path)
        new = df.filter(F.col("vec_id") >= 250)
        rep = index.open(spark, path).append(new, batch_id=7)
        assert rep["appended_rows"] == 50
        assert rep["skipped_replay"] is False
        replay = index.open(spark, path).append(new, batch_id=7)
        assert replay["skipped_replay"] is True

    def test_ivf_pq_append_success_reports_not_replayed(
        self, spark, vecs, tmp_path
    ):
        from astro_vectordb_spark.operators.pq import ivf_pq_build
        from astro_vectordb_spark.sources.vault import save_ivf_pq_index

        df, rows = vecs
        base = df.filter(F.col("vec_id") < 250)
        enc, cents, model = ivf_pq_build(
            base, k_cells=4, m=4, ks=16, max_rows=250
        )
        path = str(tmp_path / "ivfpq")
        save_ivf_pq_index(enc, cents, model, path)
        new = df.filter(F.col("vec_id") >= 250)
        rep = index.open(spark, path).append(new, batch_id=3)
        assert rep["appended_rows"] == 50
        assert rep["skipped_replay"] is False
        replay = index.open(spark, path).append(new, batch_id=3)
        assert replay["skipped_replay"] is True


class TestResidualExecutorSideLuts:
    """The executor-side lazy per-cell table construction must produce
    the candidate set of a reference that scores every probed row
    straight from its decoded vector, v_hat = c + decode(code) —
    per metric, on a probed SUBSET."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rng = np.random.RandomState(7)
        ctr = rng.uniform(-1, 1, size=(6, 16))
        rows = [
            (i, [float(x) for x in
                 ctr[i % 6] + rng.uniform(-0.25, 0.25, size=16)])
            for i in range(600)
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).cache()
        df.count()
        yield df, rows
        df.unpersist()

    @pytest.mark.parametrize("metric", ["cosine", "euclidean"])
    def test_candidates_match_reference_tables(self, spark, corpus, metric):
        from astro_vectordb_spark.operators.pq import (
            _adc_candidates,
            _decode_codes,
            _prep,
            ivf_pq_build,
        )

        df, rows = corpus
        enc, cents, model = ivf_pq_build(
            df, k_cells=6, m=4, ks=16, metric=metric, residual=True,
            max_rows=600,
        )
        qv = rows[3][1]
        # probe a strict subset of cells (exercises the server-side
        # centroid filter)
        cells = [0, 2, 4]
        probed = enc.filter(F.col("cell_id").isin(cells))
        got = sorted(
            int(r["vec_id"])
            for r in _adc_candidates(
                probed, model, qv, 25, cells=cells, centroids=cents
            ).collect()
        )
        # reference: score every probed row from its decoded vector,
        # q_hat . v_hat (cosine) or -||q_hat - v_hat||^2 (euclidean)
        cent_map = {
            int(r["cell_id"]): np.asarray(r["centroid"], dtype=np.float64)
            for r in cents.collect()
        }
        q_hat = _prep(np.asarray(qv, dtype=np.float64)[None, :], metric)[0]
        codebooks = model.codebooks.astype(np.float64)
        scored = []
        for r in probed.select("vec_id", "cell_id", "pq_code").collect():
            code = np.asarray(r["pq_code"], dtype=np.int64)[None, :] + 128
            v_hat = cent_map[int(r["cell_id"])] + _decode_codes(
                code, codebooks
            )[0]
            if metric == "euclidean":
                s = -float(((q_hat - v_hat) ** 2).sum())
            else:
                s = float(q_hat @ v_hat)
            scored.append((-s, int(r["vec_id"])))
        scored.sort()
        want = sorted(v for _, v in scored[:25])
        assert got == want


class TestBucketTelemetry:
    """Round-11 verdict What's-wrong #2: witness-skew telemetry so an
    operator sees a boilerplate cluster BEFORE it becomes a straggler
    and knows when to set max_bucket_size."""

    def test_match_fills_telemetry_with_planted_cluster(
        self, spark, tmp_path
    ):
        from astro_vectordb_spark import neardup
        from astro_vectordb_spark.sources.vault import save_minhash_index

        path = str(tmp_path / "idx")
        save_minhash_index(_mkdocs(spark, _CORPUS), path)
        # probe with a copy of the boilerplate text: its buckets hold
        # all 5 planted witnesses
        probe = _mkdocs(spark, [(9000, _CORPUS[-1][1])])
        tel: dict = {}
        out = neardup.open(spark, path).match(
            probe, threshold=0.9, telemetry=tel,
        )
        assert tel["max_bucket_witnesses"] == 5
        assert tel["p50_bucket_witnesses"] == 5  # probe touches ONLY
        # the cluster's buckets, so every touched bucket is hot
        assert tel["n_buckets"] >= 1
        # telemetry is PRE-cap and does not perturb the match itself
        assert out.count() == 5

    def test_pre_cap_stats_unchanged_by_cap(self, spark, tmp_path):
        from astro_vectordb_spark import neardup
        from astro_vectordb_spark.sources.vault import save_minhash_index

        path = str(tmp_path / "idx")
        save_minhash_index(_mkdocs(spark, _CORPUS), path)
        probe = _mkdocs(spark, [(9000, _CORPUS[-1][1])])
        tel: dict = {}
        out = neardup.open(spark, path).match(
            probe, threshold=0.9, max_bucket_size=2, telemetry=tel,
        )
        # capped match serves 2 witnesses, telemetry still reports the
        # pre-cap skew of 5
        assert tel["max_bucket_witnesses"] == 5
        assert out.count() == 2

    def test_standalone_face_whole_index_and_batch_scoped(
        self, spark, tmp_path
    ):
        from astro_vectordb_spark.sources.vault import (
            minhash_bucket_telemetry,
            save_minhash_index,
        )

        path = str(tmp_path / "idx")
        save_minhash_index(_mkdocs(spark, _CORPUS), path)
        whole = minhash_bucket_telemetry(spark, path)
        assert whole["max_bucket_witnesses"] == 5
        assert whole["p50_bucket_witnesses"] == 1  # uniques dominate
        assert whole["n_witness_rows"] > whole["n_buckets"]
        # scoped to a batch that touches only unique docs' buckets
        probe = _mkdocs(spark, [(9000, _CORPUS[0][1])])
        scoped = minhash_bucket_telemetry(spark, path, probe)
        assert scoped["max_bucket_witnesses"] <= whole["max_bucket_witnesses"]
        assert scoped["n_buckets"] <= whole["n_buckets"]


class TestAppendBacklogShortCircuit:
    def test_healthy_append_reports_zero_repair(self, spark, tmp_path):
        from astro_vectordb_spark import neardup
        from astro_vectordb_spark.sources.vault import (
            load_minhash_index,
            save_minhash_index,
        )

        path = str(tmp_path / "idx")
        save_minhash_index(_mkdocs(spark, _CORPUS[:10]), path)
        rep = neardup.open(spark, path).append(
            _mkdocs(spark, _CORPUS[10:15]), batch_id=1,
        )
        assert rep == {
            "appended_rows": 5, "repaired_rows": 0, "skipped_replay": False
        }
        _, _, meta = load_minhash_index(spark, path)
        assert int(meta["n_rows"]) == 15
