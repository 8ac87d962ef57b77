"""Round-11: batch PRF/snippets parity on the text facade, and the
batch PRF term-expansion operator itself."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from astro_vectordb_spark import index


@pytest.fixture(scope="module")
def hybrid_paths(spark, tmp_path_factory):
    from astro_vectordb_spark.functions.embed import embed_text
    from astro_vectordb_spark.operators.keyword import bm25_term_stats
    from astro_vectordb_spark.sources.vault import save_bm25_index

    words = ["merge", "hash", "spark", "join", "scan", "sort", "row",
             "plan", "codegen", "shuffle"]
    rows = [
        (
            i,
            " ".join(
                words[(i * 3 + j) % len(words)] for j in range(4 + i % 6)
            ),
        )
        for i in range(90)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    root = tmp_path_factory.mktemp("hyb11")
    vec_path = str(root / "emb.parquet")
    embed_text(docs).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    ).write.mode("overwrite").parquet(vec_path)
    bm25_path = str(root / "bm25")
    ts, cs = bm25_term_stats(docs)
    save_bm25_index(ts, cs, bm25_path)
    return vec_path, bm25_path, docs


TEXTS = ["merge hash", "join scan row", "sort spark codegen"]


def _qdf(spark):
    return spark.createDataFrame(
        list(enumerate(TEXTS)), "query_id long, query_text string"
    )


class TestPrfExpandBatch:
    def test_batch_expansion_equals_single_per_query(
        self, spark, hybrid_paths
    ):
        from astro_vectordb_spark.operators.keyword import (
            prf_expand_terms,
            prf_expand_terms_batch,
        )
        from astro_vectordb_spark.sources.vault import load_bm25_index

        _, bm25_path, docs = hybrid_paths
        ts, cs = load_bm25_index(spark, bm25_path)
        queries = spark.createDataFrame(
            [(i, t.split()) for i, t in enumerate(TEXTS)],
            "query_id long, terms array<string>",
        )
        got = {
            (int(r.query_id), int(r.rank)): (r.term, float(r.score))
            for r in prf_expand_terms_batch(
                docs, ts, cs, queries, n_feedback=8, n_expand=4
            ).collect()
        }
        for qid, t in enumerate(TEXTS):
            single = prf_expand_terms(
                docs, ts, cs, t.split(), n_feedback=8, n_expand=4
            ).collect()
            assert len(single) > 0
            for rank, r in enumerate(single, start=1):
                assert got[(qid, rank)] == (r.term, float(r.score))
        assert len(got) == sum(
            len(
                prf_expand_terms(
                    docs, ts, cs, t.split(), n_feedback=8, n_expand=4
                ).collect()
            )
            for t in TEXTS
        )


class TestBatchFacadeOptionParity:
    """Each single-face option, mirrored on the batch face, must give
    per-query results identical to the single call (verdict item 8)."""

    def _single(self, spark, paths, **kw):
        from astro_vectordb_spark.search import hybrid_search_text

        vec_path, bm25_path, docs = paths
        want = set()
        for qid, t in enumerate(TEXTS):
            for r in hybrid_search_text(
                spark, vec_path, bm25_path, docs, t, k=4, fetch_k=20, **kw
            ).collect():
                row = [qid, int(r.doc_id), round(float(r.score), 6)]
                if "snippets" in kw:
                    row += [int(r.start), r.snippet]
                want.add(tuple(row))
        return want

    def _batch(self, spark, paths, **kw):
        from astro_vectordb_spark.search import hybrid_search_text_batch

        vec_path, bm25_path, docs = paths
        out = set()
        for r in hybrid_search_text_batch(
            spark, vec_path, bm25_path, docs, _qdf(spark),
            k=4, fetch_k=20, **kw,
        ).collect():
            row = [int(r.query_id), int(r.doc_id), round(float(r.score), 6)]
            if "snippets" in kw:
                row += [int(r.start), r.snippet]
            out.add(tuple(row))
        return out

    def test_prf_batch_equals_single(self, spark, hybrid_paths):
        kw = dict(prf=True, n_feedback=8, n_expand=3)
        assert self._batch(spark, hybrid_paths, **kw) == self._single(
            spark, hybrid_paths, **kw
        )

    def test_snippets_batch_equals_single(self, spark, hybrid_paths):
        kw = dict(snippets=True, snippet_window=4)
        got = self._batch(spark, hybrid_paths, **kw)
        assert got == self._single(spark, hybrid_paths, **kw)
        assert any(t[4] for t in got)  # snippets actually highlight

    def test_full_loop_batch_equals_single(self, spark, hybrid_paths):
        """PRF + rerank + snippets together: the whole retrieve ->
        expand -> fuse -> cross-score -> highlight loop, batch ==
        single per query."""
        kw = dict(
            prf=True, n_feedback=8, n_expand=3,
            rerank=True, rerank_depth=12,
            snippets=True, snippet_window=4,
        )
        assert self._batch(spark, hybrid_paths, **kw) == self._single(
            spark, hybrid_paths, **kw
        )

    def test_prf_changes_results(self, spark, hybrid_paths):
        """PRF must actually expand the lexical leg (not a no-op):
        expanded term lists change at least one query's hit set or
        scores on this corpus."""
        plain = self._batch(spark, hybrid_paths)
        prf = self._batch(spark, hybrid_paths, prf=True, n_feedback=8,
                          n_expand=3)
        assert plain != prf


class TestResidualIvfPq:
    """ivf_pq_build(residual=True): codes quantize prep(v) - centroid
    (verdict item 4).  Exactness at a full budget, recall >= raw at
    refine 4 on the clustered corpus, vault round-trip, batch parity."""

    @pytest.fixture(scope="class")
    def clustered(self, spark):
        # the SCALE_PROBE_IVFPQ_BATCH corpus shape (32 uniform centers
        # in [-1,1]^32, +-0.3 uniform noise) scaled down — the regime
        # where residual encoding's fidelity win is measurable
        import numpy as np

        rng = np.random.RandomState(11)
        ctr = rng.uniform(-1, 1, size=(32, 32))
        pts = [
            (
                i,
                [
                    float(x)
                    for x in ctr[i % 32]
                    + rng.uniform(-0.3, 0.3, size=32)
                ],
            )
            for i in range(4000)
        ]
        df = spark.createDataFrame(
            pts, "vec_id long, embedding array<float>"
        ).cache()
        df.count()
        yield df, pts
        df.unpersist()

    def _exact(self, df, qv, k=10):
        from astro_vectordb_spark.operators.topk import topk_search

        return [
            int(r.vec_id)
            for r in topk_search(df, qv, k, strength=0).collect()
        ]

    def test_exact_at_full_budget(self, spark, clustered):
        """Probing every cell with refine >= corpus makes stage 2 an
        exact re-rank of everything — the residual plumbing must
        reproduce brute force bit-for-bit."""
        from astro_vectordb_spark.operators.pq import (
            ivf_pq_build,
            ivf_pq_topk,
        )

        df, pts = clustered
        enc, cents, model = ivf_pq_build(
            df, k_cells=8, m=8, ks=32, residual=True, max_rows=4000
        )
        assert model.residual
        for qid in (0, 3, 11):
            got = [
                int(r.vec_id)
                for r in ivf_pq_topk(
                    enc, cents, df, pts[qid][1], 10, model,
                    nprobe=8, refine_factor=200,
                ).collect()
            ]
            assert got == self._exact(df, pts[qid][1])

    def test_recall_at_refine4_geq_raw(self, spark, clustered):
        """The verdict criterion: residual recall >= raw recall at
        refine_factor=4 on the clustered probe corpus (residuals have
        far less variance, so the same code budget orders better)."""
        from astro_vectordb_spark.operators.pq import (
            ivf_pq_build,
            ivf_pq_topk,
        )

        df, pts = clustered
        kw = dict(k_cells=32, m=8, ks=64, max_rows=4000)
        enc_raw, cents_raw, m_raw = ivf_pq_build(df, residual=False, **kw)
        enc_res, cents_res, m_res = ivf_pq_build(df, residual=True, **kw)
        qids = [0, 3, 11, 100, 500, 900, 1300, 1700]

        def _recall(enc, cents, model):
            tot = 0.0
            for qid in qids:
                exact = set(self._exact(df, pts[qid][1]))
                got = {
                    int(r.vec_id)
                    for r in ivf_pq_topk(
                        enc, cents, df, pts[qid][1], 10, model,
                        nprobe=4, refine_factor=4,
                    ).collect()
                }
                tot += len(got & exact) / 10
            return tot / len(qids)

        raw_rec = _recall(enc_raw, cents_raw, m_raw)
        res_rec = _recall(enc_res, cents_res, m_res)
        assert res_rec >= raw_rec, (res_rec, raw_rec)

    def test_vault_roundtrip_append_and_facade(
        self, spark, clustered, tmp_path
    ):
        from astro_vectordb_spark.operators.pq import ivf_pq_build
        from astro_vectordb_spark.search import search
        from astro_vectordb_spark.sources.vault import (
            load_ivf_pq_index,
            save_ivf_pq_index,
        )

        df, pts = clustered
        base = df.filter(F.col("vec_id") < 3800)
        enc, cents, model = ivf_pq_build(
            base, k_cells=8, m=8, ks=32, residual=True, max_rows=4000
        )
        path = str(tmp_path / "ivfpq_res")
        save_ivf_pq_index(enc, cents, model, path)
        _, _, loaded, meta = load_ivf_pq_index(spark, path)
        assert loaded.residual and bool(meta["residual"])
        rep = index.open(spark, path).append(
            df.filter(F.col("vec_id") >= 3800), batch_id=0
        )
        assert rep["appended_rows"] == 200
        # round 15: residual appends report batch_mse in RESIDUAL space
        # (the space train_mse is fit in) — previously None, which left
        # the refresh decision blind for residual indexes
        assert rep["batch_mse"] is not None and rep["batch_mse"] >= 0.0
        # an appended vector is its own nearest neighbor through the
        # facade (residual codes were appended consistently)
        got = search(
            spark, path, pts[3900][1], k=3, vectors=df,
            nprobe=8, refine_factor=400,
        ).collect()
        assert int(got[0].vec_id) == 3900

    def test_batch_cogrouped_equals_single_and_salted(
        self, spark, clustered
    ):
        from astro_vectordb_spark.operators.pq import (
            ivf_pq_batch_topk_cogrouped,
            ivf_pq_build,
            ivf_pq_topk,
        )

        df, pts = clustered
        enc, cents, model = ivf_pq_build(
            df, k_cells=8, m=8, ks=32, residual=True, max_rows=4000
        )
        qids = [0, 3, 11]
        queries = spark.createDataFrame(
            [(q, pts[q][1]) for q in qids],
            "query_id long, query_vec array<float>",
        )
        batch = ivf_pq_batch_topk_cogrouped(
            enc, cents, df, queries, 5, model, nprobe=4, refine_factor=8
        )
        got = {
            (int(r.query_id), int(r.vec_id), round(float(r.score), 6))
            for r in batch.collect()
        }
        want = set()
        for q in qids:
            for r in ivf_pq_topk(
                enc, cents, df, pts[q][1], 5, model,
                nprobe=4, refine_factor=8,
            ).collect():
                want.add((q, int(r.vec_id), round(float(r.score), 6)))
        assert got == want
        salted = ivf_pq_batch_topk_cogrouped(
            enc, cents, df, queries, 5, model, nprobe=4, refine_factor=8,
            max_group_rows=50,
        )
        got_s = {
            (int(r.query_id), int(r.vec_id), round(float(r.score), 6))
            for r in salted.collect()
        }
        assert got_s == got


class TestSearchTextBatch:
    def test_batch_equals_single_per_query(self, spark, hybrid_paths):
        """The vector-only batch text face: distributed embedding +
        search_batch == the single search_text per query, over the
        exact-kind index."""
        from astro_vectordb_spark.search import search_text, search_text_batch

        vec_path, _, _ = hybrid_paths
        got = {
            (int(r.query_id), int(r.vec_id), round(float(r.score), 6))
            for r in search_text_batch(
                spark, vec_path, _qdf(spark), k=5
            ).collect()
        }
        want = set()
        for qid, t in enumerate(TEXTS):
            for r in search_text(spark, vec_path, t, k=5).collect():
                want.add((qid, int(r.vec_id), round(float(r.score), 6)))
        assert got == want
