"""Round-10 additions: adaptive IVF-PQ probing (verdict item 2), the
``_meta`` ``n_rows`` corpus counter killing per-call count jobs (item
3), DataFrame allow-lists routed as broadcast semi-joins (item 6),
PRF + snippets in the hybrid text facade (item 8), and the periodic
health/repair hook on the streaming HNSW remove path (item 4)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from astro_vectordb_spark import index
from astro_vectordb_spark.operators.topk import topk_search
from astro_vectordb_spark.search import search, search_batch

N, DIM = 600, 32


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.RandomState(5)
    C = rng.normal(size=(8, DIM))
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    pts = (C[np.arange(N) % 8] + 0.05 * rng.normal(size=(N, DIM))).astype(
        np.float32
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(N)],
        "vec_id long, embedding array<float>",
    ).cache()
    df.count()
    yield df, pts
    df.unpersist()


@pytest.fixture(scope="module")
def qv(corpus):
    _, pts = corpus
    return [float(x) for x in pts[17]]


def _exact_ids(df, qv, k=10):
    return [r.vec_id for r in topk_search(df, qv, k, strength=0).collect()]


class TestAdaptiveIvfPq:
    """Verdict item 2: the IVF-PQ serving path gets the same
    profile-adaptive probe-cell selection the IVF path has — no more
    pinned nprobe=4 asymmetry on the facade."""

    @pytest.fixture(scope="class")
    def ivfpq(self, spark, tmp_path_factory):
        from astro_vectordb_spark.operators.pq import ivf_pq_build
        from astro_vectordb_spark.sources.vault import save_ivf_pq_index

        rng = np.random.RandomState(5)
        C = rng.normal(size=(8, DIM))
        C /= np.linalg.norm(C, axis=1, keepdims=True)
        pts = (C[np.arange(N) % 8] + 0.05 * rng.normal(size=(N, DIM))
               ).astype(np.float32)
        df = spark.createDataFrame(
            [(i, [float(x) for x in pts[i]]) for i in range(N)],
            "vec_id long, embedding array<float>",
        ).cache()
        df.count()
        # 16 cells: the structure_z=3.0 rule needs (s_max-mean)/std
        # >= 3, and with k cells the max attainable z is sqrt(k-1) —
        # 8 cells can never look structured (same reason the IVF
        # adaptive tests build at 16)
        encoded, cents, model = ivf_pq_build(
            df, k_cells=16, m=8, ks=16, max_rows=N
        )
        path = str(tmp_path_factory.mktemp("ivfpq_adaptive") / "idx")
        save_ivf_pq_index(encoded, cents, model, path)
        return df, pts, encoded, cents, model, path

    def test_clustered_adaptive_probes_few_cells(self, spark, ivfpq):
        # clustered-vs-uniform probe-count contract, IVF-PQ edition:
        # on tight clusters the adaptive rule applied to the IVF-PQ
        # centroid table selects a handful of standout cells, not all
        from astro_vectordb_spark.operators.ann import (
            choose_probe_cells_adaptive,
        )

        df, pts, _, cents, model, _ = ivfpq
        k_cells = cents.count()
        for qid in (17, 9, 25):
            cells = choose_probe_cells_adaptive(
                cents, [float(x) for x in pts[qid]], metric=model.metric
            )
            assert len(cells) < k_cells / 2, (qid, len(cells))

    def test_uniform_adaptive_probes_all_cells(self, spark, embeddings):
        from astro_vectordb_spark.operators.ann import (
            choose_probe_cells_adaptive,
        )
        from astro_vectordb_spark.operators.pq import ivf_pq_build

        _, cents, model = ivf_pq_build(
            embeddings, k_cells=8, m=8, ks=16
        )
        qvec = embeddings.filter(F.col("vec_id") == 3).first()["embedding"]
        cells = choose_probe_cells_adaptive(
            cents, qvec, metric=model.metric
        )
        # near-uniform vectors: no standout cell -> every cell probed;
        # with every cell probed + full refine the search equals exact
        assert len(cells) == 8

    def test_ivf_pq_topk_adaptive_full_recall_clustered(self, spark, ivfpq):
        from astro_vectordb_spark.operators.pq import ivf_pq_topk

        df, pts, encoded, cents, model, _ = ivfpq
        q = [float(x) for x in pts[17]]
        got = [
            r.vec_id
            for r in ivf_pq_topk(
                encoded, cents, df, q, 10, model, nprobe=None,
                refine_factor=60,
            ).collect()
        ]
        assert got == _exact_ids(df, q)

    def test_facade_default_is_adaptive(self, spark, ivfpq):
        # search() with nprobe unset now forwards None -> adaptive
        # (was: pinned 4); equality with the explicit-adaptive operator
        # call pins the plumbing
        from astro_vectordb_spark.operators.pq import ivf_pq_topk

        df, pts, encoded, cents, model, path = ivfpq
        q = [float(x) for x in pts[17]]
        got = [
            (r.vec_id, r.score)
            for r in search(
                spark, path, q, 10, vectors=df, refine_factor=60
            ).collect()
        ]
        want = [
            (r.vec_id, r.score)
            for r in ivf_pq_topk(
                encoded, cents, df, q, 10, model, nprobe=None,
                refine_factor=60,
            ).select("vec_id", "score").collect()
        ]
        assert got == want

    def test_batch_adaptive_matches_single(self, spark, ivfpq):
        from astro_vectordb_spark.operators.pq import (
            ivf_pq_batch_topk_cogrouped,
            ivf_pq_topk,
        )

        df, pts, encoded, cents, model, _ = ivfpq
        qids = [17, 9, 25]
        queries = spark.createDataFrame(
            [(i, [float(x) for x in pts[i]]) for i in qids],
            "query_id long, query_vec array<float>",
        )
        batch = ivf_pq_batch_topk_cogrouped(
            encoded, cents, df, queries, 5, model, nprobe=None,
            refine_factor=60,
        ).collect()
        by_q = {}
        for r in batch:
            by_q.setdefault(r.query_id, []).append((r.vec_id, r.score))
        for qid in qids:
            single = [
                (r.vec_id, r.score)
                for r in ivf_pq_topk(
                    encoded, cents, df, [float(x) for x in pts[qid]], 5,
                    model, nprobe=None, refine_factor=60,
                ).collect()
            ]
            assert by_q[qid] == single, qid


class TestMetaNRows:
    """Verdict item 3: the corpus row count is maintained in ``_meta``
    at commit time — filtered serving reads it back instead of running
    a count job per call."""

    def test_ivf_save_append_remove_maintain_counter(
        self, spark, corpus, tmp_path
    ):
        from astro_vectordb_spark.operators.ann import ivf_build
        from astro_vectordb_spark.sources.vault import (
            load_ivf_index,
            save_ivf_index,
        )

        df, _ = corpus
        base = df.filter(F.col("vec_id") < 500)
        assigned, cents = ivf_build(base, k_cells=8)
        path = str(tmp_path / "ivf_nrows")
        save_ivf_index(assigned, cents, path)
        assert load_ivf_index(spark, path)[3]["n_rows"] == 500

        index.open(spark, path).append(
            df.filter(F.col("vec_id") >= 500)
        )
        assert load_ivf_index(spark, path)[3]["n_rows"] == N

        index.open(spark, path).remove(list(range(0, N, 10)))
        assert load_ivf_index(spark, path)[3]["n_rows"] == N - N // 10

    def test_pq_counter_and_spill_distinctness(self, spark, corpus, tmp_path):
        from astro_vectordb_spark.operators.pq import pq_encode, pq_train
        from astro_vectordb_spark.sources.vault import (
            load_pq_index,
            save_pq_index,
        )

        df, _ = corpus
        base = df.filter(F.col("vec_id") < 550)
        model = pq_train(base, m=8, ks=16, max_rows=N)
        path = str(tmp_path / "pq_nrows")
        save_pq_index(pq_encode(base, model), model, path)
        assert load_pq_index(spark, path)[2]["n_rows"] == 550

        rep = index.open(spark, path).append(
            df.filter(F.col("vec_id") >= 540)
        )
        # dedup_ids: the 10 overlapping ids are skipped, counter exact
        assert rep["appended_rows"] == N - 550
        assert load_pq_index(spark, path)[2]["n_rows"] == N

        index.open(spark, path).remove([1, 2, 3, 999_999])
        # the phantom id removes nothing; counter drops by 3
        assert load_pq_index(spark, path)[2]["n_rows"] == N - 3

    def test_ivf_spill_counter_counts_ids_not_rows(
        self, spark, corpus, tmp_path
    ):
        # spill=2 stores each vector in 2 cells: physical rows = 2n,
        # n_rows (distinct ids) must stay n — and a remove must
        # decrement by ids, not by swept rows
        from astro_vectordb_spark.operators.ann import ivf_build_sampled
        from astro_vectordb_spark.sources.vault import (
            load_ivf_index,
            save_ivf_index,
        )

        df, _ = corpus
        assigned, cents = ivf_build_sampled(df, k_cells=8, spill=2)
        path = str(tmp_path / "ivf_spill_nrows")
        save_ivf_index(assigned, cents, path)
        meta = load_ivf_index(spark, path)[3]
        assert meta["n_rows"] == N

        rep = index.open(spark, path).remove([0, 1, 2, 3, 4])
        assert rep["removed_rows"] == 10  # 2 cells x 5 ids
        assert load_ivf_index(spark, path)[3]["n_rows"] == N - 5

    def test_filtered_faces_run_no_corpus_count_job(
        self, spark, corpus, qv, tmp_path, monkeypatch
    ):
        # THE item-3 gate: on a fresh-format index, the filtered
        # single and batch faces must never count the corpus — any
        # .count() on a codes/vectors-shaped DataFrame fails the test
        from pyspark.sql import DataFrame as SparkDF

        from astro_vectordb_spark.operators.pq import ivf_pq_build
        from astro_vectordb_spark.sources.vault import save_ivf_pq_index

        df, pts = corpus
        encoded, cents, model = ivf_pq_build(
            df, k_cells=8, m=8, ks=16, max_rows=N
        )
        path = str(tmp_path / "ivfpq_nocount")
        save_ivf_pq_index(encoded, cents, model, path)

        real_count = SparkDF.count

        def guarded(self):
            if {"pq_code"} <= set(self.columns) or (
                {"cell_id", "embedding"} <= set(self.columns)
            ):
                raise AssertionError(
                    "corpus count job in filtered serving path: "
                    + str(self.columns)
                )
            return real_count(self)

        monkeypatch.setattr(SparkDF, "count", guarded)
        allowed = list(range(0, N, 10))
        got = search(
            spark, path, qv, 5, vectors=df, allowed_ids=allowed,
            refine_factor=16,
        ).collect()
        assert len(got) == 5
        queries = spark.createDataFrame(
            [(0, qv)], "query_id long, query_vec array<float>"
        )
        got_b = search_batch(
            spark, path, queries, 5, vectors=df, allowed_ids=allowed,
            refine_factor=16,
        ).collect()
        assert len(got_b) == 5


class TestDataFrameAllowLists:
    """Verdict item 6: a DataFrame allow-list routes as a broadcast
    semi-join on every kind — plan size independent of |allowed|."""

    def _allowed(self, spark, step=2):
        return spark.range(0, N, step).select(
            F.col("id").alias("vec_id")
        )

    def test_exact_df_equals_list(self, spark, corpus, qv, tmp_path):
        df, _ = corpus
        path = str(tmp_path / "plain_df_allow")
        df.write.parquet(path)
        allowed_df = self._allowed(spark)
        got = [
            (r.vec_id, r.score)
            for r in search(
                spark, path, qv, 10, allowed_ids=allowed_df
            ).collect()
        ]
        want = [
            (r.vec_id, r.score)
            for r in search(
                spark, path, qv, 10, allowed_ids=list(range(0, N, 2))
            ).collect()
        ]
        assert got == want

    def test_exact_df_plan_is_broadcast_semi_join(
        self, spark, corpus, qv, tmp_path
    ):
        from astro_vectordb_spark.plans.explain import executed_plan

        df, _ = corpus
        path = str(tmp_path / "plain_df_plan")
        df.write.parquet(path)
        # 100k-id allow-list: the plan must be one BroadcastHashJoin,
        # not a 100k-literal IN predicate
        big = spark.range(0, 100_000).select(F.col("id").alias("vec_id"))
        out = search(spark, path, qv, 10, allowed_ids=big)
        plan = executed_plan(out)
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
        assert " IN (" not in plan, "allow-list leaked as IN literal"
        assert [r.vec_id for r in out.collect()] == _exact_ids(df, qv)

    def test_ivf_and_pq_and_hnsw_df_equals_list(
        self, spark, corpus, qv, tmp_path
    ):
        from astro_vectordb_spark.operators.ann import ivf_build
        from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
        from astro_vectordb_spark.operators.pq import pq_encode, pq_train
        from astro_vectordb_spark.sources.vault import (
            save_hnsw_index,
            save_ivf_index,
            save_pq_index,
        )

        df, _ = corpus
        allowed_list = list(range(0, N, 2))
        allowed_df = self._allowed(spark)

        assigned, cents = ivf_build(df, k_cells=8)
        ivf_path = str(tmp_path / "ivf_df_allow")
        save_ivf_index(assigned, cents, ivf_path)

        model = pq_train(df, m=8, ks=16, max_rows=N)
        pq_path = str(tmp_path / "pq_df_allow")
        save_pq_index(pq_encode(df, model), model, pq_path)

        hnsw_path = str(tmp_path / "hnsw_df_allow")
        save_hnsw_index(
            hnsw_build_shards(df, num_shards=2, m=8, seed=7), hnsw_path,
            m=8, metric="cosine",
        )

        for path, kwargs in (
            (ivf_path, {}),
            (pq_path, {"vectors": df, "refine_factor": 16}),
            (hnsw_path, {"ef_search": 200}),
        ):
            got = [
                (r.vec_id, r.score)
                for r in search(
                    spark, path, qv, 5, allowed_ids=allowed_df, **kwargs
                ).collect()
            ]
            want = [
                (r.vec_id, r.score)
                for r in search(
                    spark, path, qv, 5, allowed_ids=allowed_list, **kwargs
                ).collect()
            ]
            assert got == want, path

    def test_batch_ivf_pq_df_equals_list(self, spark, corpus, tmp_path):
        from astro_vectordb_spark.operators.pq import ivf_pq_build
        from astro_vectordb_spark.sources.vault import save_ivf_pq_index

        df, pts = corpus
        encoded, cents, model = ivf_pq_build(
            df, k_cells=8, m=8, ks=16, max_rows=N
        )
        path = str(tmp_path / "ivfpq_df_allow")
        save_ivf_pq_index(encoded, cents, model, path)
        queries = spark.createDataFrame(
            [(i, [float(x) for x in pts[i]]) for i in (17, 100)],
            "query_id long, query_vec array<float>",
        )
        got = sorted(
            (r.query_id, r.vec_id, r.score)
            for r in search_batch(
                spark, path, queries, 5, vectors=df,
                allowed_ids=self._allowed(spark), refine_factor=16,
            ).collect()
        )
        want = sorted(
            (r.query_id, r.vec_id, r.score)
            for r in search_batch(
                spark, path, queries, 5, vectors=df,
                allowed_ids=list(range(0, N, 2)), refine_factor=16,
            ).collect()
        )
        assert got == want


class TestHybridTextPrfSnippets:
    """Verdict item 8: the one-call text face covers the full
    retrieve -> expand (PRF) -> fuse -> highlight (snippets) loop."""

    def _build(self, spark, tmp_path):
        from astro_vectordb_spark.functions.embed import embed_text
        from astro_vectordb_spark.operators.keyword import bm25_term_stats
        from astro_vectordb_spark.sources.vault import save_bm25_index

        docs = spark.createDataFrame(
            [
                (0, "spark merge join table merge"),
                (1, "merge join row group shuffle"),
                (2, "hash table scan filter pushdown"),
                (3, "spark spark merge hash partition"),
                (4, "window agg sort spill memory"),
                (5, "join merge spark batch codegen"),
                (6, "vector index graph beam search"),
                (7, "scan filter merge spark parquet"),
            ],
            "doc_id long, text string",
        )
        vec_path = str(tmp_path / "emb.parquet")
        embed_text(docs).select(
            F.col("doc_id").alias("vec_id"), "embedding"
        ).write.parquet(vec_path)
        bm25_path = str(tmp_path / "bm25")
        ts, cs = bm25_term_stats(docs)
        save_bm25_index(ts, cs, bm25_path)
        return docs, vec_path, bm25_path

    def test_prf_equals_manual_expansion(self, spark, tmp_path):
        from astro_vectordb_spark.operators.keyword import prf_expand_terms
        from astro_vectordb_spark.search import hybrid_search_text
        from astro_vectordb_spark.sources.vault import load_bm25_index

        docs, vec_path, bm25_path = self._build(spark, tmp_path)
        q = "merge spark"

        got = hybrid_search_text(
            spark, vec_path, bm25_path, docs, q, k=5,
            prf=True, n_feedback=3, n_expand=2,
        ).collect()

        ts, cs = load_bm25_index(spark, bm25_path)
        expanded = [
            r["term"]
            for r in prf_expand_terms(
                docs, ts, cs, ["merge", "spark"], n_feedback=3, n_expand=2
            ).collect()
        ]
        assert expanded, "expansion must find terms on this corpus"
        want = hybrid_search_text(
            spark, vec_path, bm25_path, docs, q, k=5,
            terms=["merge", "spark"] + expanded,
        ).collect()
        assert [(r.doc_id, r.score) for r in got] == [
            (r.doc_id, r.score) for r in want
        ]

    def test_snippets_highlight_fused_hits(self, spark, tmp_path):
        from astro_vectordb_spark.operators.keyword import snippet_extract
        from astro_vectordb_spark.search import hybrid_search_text

        docs, vec_path, bm25_path = self._build(spark, tmp_path)
        q = "merge spark"
        plain = hybrid_search_text(
            spark, vec_path, bm25_path, docs, q, k=5
        ).collect()
        got = hybrid_search_text(
            spark, vec_path, bm25_path, docs, q, k=5,
            snippets=True, snippet_window=4,
        ).collect()
        # same ranking, extra columns
        assert [(r.doc_id, r.score) for r in got] == [
            (r.doc_id, r.score) for r in plain
        ]
        hit_ids = [r.doc_id for r in got]
        want = {
            r["doc_id"]: (r["start"], r["snippet"])
            for r in snippet_extract(
                docs.filter(F.col("doc_id").isin(hit_ids)),
                ["merge", "spark"], window=4,
            ).collect()
        }
        for r in got:
            if r.doc_id in want:
                assert (r.start, r.snippet) == want[r.doc_id], r
            else:
                # pure-vector hit with no term match: empty highlight
                assert (r.start, r.snippet) == (0, ""), r

    def test_prf_snippets_compose(self, spark, tmp_path):
        from astro_vectordb_spark.search import hybrid_search_text

        docs, vec_path, bm25_path = self._build(spark, tmp_path)
        out = hybrid_search_text(
            spark, vec_path, bm25_path, docs, "merge spark", k=5,
            prf=True, n_feedback=3, n_expand=2,
            snippets=True, snippet_window=4,
        )
        rows = out.collect()
        assert len(rows) == 5
        assert set(out.columns) == {"doc_id", "score", "start", "snippet"}
        assert any(r.snippet for r in rows)


class TestStreamRepairEvery:
    """Verdict item 4: a long-running erasure stream repairs itself —
    ``repair_every`` runs a full-index health pass + rebalance every N
    applied batches, catching erosion that per-batch auto_repair's
    touched-shard check (at a per-batch threshold) would let accrue."""

    def test_streaming_churn_repairs_and_restores_recall(
        self, spark, tmp_path
    ):
        from astro_vectordb_spark.operators.hnsw import (
            hnsw_build_shards,
            hnsw_query_shards,
            hnsw_shard_health,
        )
        from astro_vectordb_spark.sources.vault import (
            load_hnsw_index,
            save_hnsw_index,
        )

        rng = np.random.RandomState(31)
        C = rng.normal(size=(6, DIM))
        C /= np.linalg.norm(C, axis=1, keepdims=True)
        pts = (C[np.arange(600) % 6] + 0.05 * rng.normal(size=(600, DIM))
               ).astype(np.float32)
        df = spark.createDataFrame(
            [(i, [float(x) for x in pts[i]]) for i in range(600)],
            "vec_id long, embedding array<float>",
        ).cache()
        df.count()
        path = str(tmp_path / "hnsw_stream_repair")
        save_hnsw_index(
            hnsw_build_shards(df, num_shards=2, m=8, seed=7), path,
            m=8, metric="cosine",
        )
        graph0, _ = load_hnsw_index(spark, path)
        fresh = {
            r["shard_id"]: r["mean_degree"]
            for r in hnsw_shard_health(graph0, m=8).collect()
        }
        # erode: 5 sweep-remove/re-append cycles, no repair
        for kmod in range(5):
            batch = df.filter(F.col("vec_id") % 5 == kmod)
            ids = [r["vec_id"] for r in batch.select("vec_id").collect()]
            index.open(spark, path).remove(ids, mode="sweep")
            index.open(spark, path).append(batch, seed=100 + kmod)
        graph1, meta1 = load_hnsw_index(spark, path)
        eroded = {
            r["shard_id"]: r["mean_degree"]
            for r in hnsw_shard_health(graph1, m=8).collect()
        }
        mid = (max(eroded.values()) + min(fresh.values())) / 2
        frac = mid / meta1["m"]
        assert all(
            r["needs_repair"]
            for r in hnsw_shard_health(
                graph1, m=8, min_degree_frac=frac
            ).collect()
        ), "churn must erode below the chosen threshold"

        # one small streamed erasure batch; repair_every=1 triggers the
        # full-index pass right after it applies
        src = str(tmp_path / "rm_in")
        spark.createDataFrame(
            [(i,) for i in (7, 13)], "vec_id long"
        ).coalesce(1).write.parquet(src)
        stream = spark.readStream.schema("vec_id long").parquet(src)
        q = index.open(spark, path).stream_remove(
            stream, mode="sweep",
            repair_every=1, health_threshold=frac,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        g, m = load_hnsw_index(spark, path)
        rows = hnsw_shard_health(g, m=8, min_degree_frac=frac).collect()
        assert rows and not any(r["needs_repair"] for r in rows), (
            "periodic pass must rebuild the eroded shards"
        )

        # recall restored on the survivors
        graph2, meta2 = load_hnsw_index(spark, path)
        survivors = df.filter(~F.col("vec_id").isin([7, 13]))
        qvec = [float(x) for x in pts[3]]
        exact = {
            r["vec_id"]
            for r in topk_search(survivors, qvec, 10, strength=0).collect()
        }
        queries = spark.createDataFrame(
            [(0, qvec)], "query_id long, query_vec array<float>"
        )
        got = {
            r["vec_id"]
            for r in hnsw_query_shards(
                graph2, queries, k=10, m=meta2["m"],
                metric=meta2["metric"], ef_search=100,
            ).collect()
        }
        assert len(got & exact) >= 9
