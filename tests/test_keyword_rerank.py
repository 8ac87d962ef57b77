"""BM25 lexical search, RRF fusion, MMR diversification, filtered
exact search."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from astro_vectordb_spark import index
from astro_vectordb_spark.operators.keyword import bm25_score_all, bm25_topk
from astro_vectordb_spark.operators.rerank import mmr_rerank, rrf_fuse
from astro_vectordb_spark.operators.topk import filtered_topk, score_against, topk_search


@pytest.fixture(scope="module")
def tiny_docs(spark):
    rows = [
        (0, "spark merge join"),            # both terms once, short
        (1, "spark spark spark filler filler filler filler filler"),
        (2, "merge merge spark"),           # rare term twice
        (3, "filler words only here"),      # no query terms
        (4, "merge"),                       # single rare term, shortest
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _bm25_local(docs, terms, k1=1.2, b=0.75):
    """Straight-line float64 reimplementation for cross-checking."""
    import math

    toks = {d: t.lower().split() for d, t in docs}
    n = len(docs)
    avgdl = sum(len(t) for t in toks.values()) / n
    dfs = {t: sum(1 for tk in toks.values() if t in tk) for t in terms}
    out = {}
    for d, tk in toks.items():
        s = 0.0
        for t in terms:
            tf = tk.count(t)
            idf = math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
            s += idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * len(tk) / avgdl))
        out[d] = s
    return out


def test_bm25_matches_local_reference(tiny_docs, spark):
    rows = [(r["doc_id"], r["text"]) for r in tiny_docs.collect()]
    expect = _bm25_local(rows, ["merge", "spark"])
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_score_all(tiny_docs, ["merge", "spark"]).collect()
    }
    assert set(got) == set(expect)
    for d in expect:
        assert got[d] == pytest.approx(expect[d], abs=1e-12)


def test_bm25_topk_excludes_nonmatching_and_orders(tiny_docs):
    res = bm25_topk(tiny_docs, ["merge", "spark"], k=10).collect()
    ids = [r["doc_id"] for r in res]
    assert 3 not in ids  # no query terms -> not a hit
    scores = [r["score"] for r in res]
    assert scores == sorted(scores, reverse=True)


def test_bm25_rare_term_outweighs_common(spark):
    # 'rare' in 1/20 docs, 'common' in 19/20: one occurrence of the
    # rare term must beat one occurrence of the common term at equal
    # doc length
    rows = [(0, "rare pad pad pad")] + [
        (i, "common pad pad pad") for i in range(1, 20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_score_all(docs, ["rare", "common"]).collect()
    }
    assert got[0] > got[1]


def test_bm25_empty_terms_raises(tiny_docs):
    with pytest.raises(ValueError):
        bm25_topk(tiny_docs, [], k=5)


def test_rrf_fuse_known_values(spark):
    a = spark.createDataFrame([(10, 1), (11, 2), (12, 3)], "doc_id long, rank int")
    b = spark.createDataFrame([(11, 1), (13, 2)], "doc_id long, rank int")
    got = {r["doc_id"]: r["score"] for r in rrf_fuse([a, b], k=10).collect()}
    assert got[11] == round(1 / 62 + 1 / 61, 6)  # in both lists
    assert got[10] == round(1 / 61, 6)
    assert got[13] == round(1 / 62, 6)  # missing from list a: no penalty
    assert got[12] == round(1 / 63, 6)
    # doc in both lists outranks any single-list doc at these depths
    top = max(got, key=got.get)
    assert top == 11


def test_rrf_empty_lists_raises():
    with pytest.raises(ValueError):
        rrf_fuse([], k=5)


def _mk_cand(spark, vecs, rels):
    rows = [
        (i, [float(x) for x in v], float(r))
        for i, (v, r) in enumerate(zip(vecs, rels))
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, score double")


def test_mmr_lambda_one_is_relevance_ranking(spark):
    rng = np.random.RandomState(7)
    vecs = rng.normal(size=(10, 8))
    rels = [0.9, 0.8, 0.95, 0.1, 0.5, 0.85, 0.2, 0.3, 0.7, 0.6]
    cand = _mk_cand(spark, vecs, rels)
    got = sorted(
        [(r["rank"], r["vec_id"]) for r in mmr_rerank(cand, k=4, lam=1.0).collect()]
    )
    by_rel = sorted(range(10), key=lambda i: (-rels[i], i))[:4]
    assert [v for _, v in got] == by_rel


def test_mmr_penalizes_near_duplicates(spark):
    # candidates 0 and 1 are near-identical with the two highest
    # relevances; a diverse third vector with lower relevance must be
    # picked second at moderate lambda
    base = np.array([1.0, 0.0, 0.0, 0.0])
    vecs = [base, base + 1e-3, np.array([0.0, 1.0, 0.0, 0.0])]
    cand = _mk_cand(spark, vecs, [0.99, 0.98, 0.5])
    picks = [
        r["vec_id"]
        for r in sorted(
            mmr_rerank(cand, k=2, lam=0.5).collect(), key=lambda r: r["rank"]
        )
    ]
    assert picks == [0, 2]  # the near-dup (1) is skipped


def test_mmr_kernels_agree(spark):
    rng = np.random.RandomState(11)
    vecs = rng.normal(size=(25, 16))
    rels = list(rng.uniform(0.2, 1.0, size=25))
    cand = _mk_cand(spark, vecs, rels)
    a = sorted(
        [(r["rank"], r["vec_id"]) for r in mmr_rerank(cand, k=6, kernel="numpy").collect()]
    )
    b = sorted(
        [(r["rank"], r["vec_id"]) for r in mmr_rerank(cand, k=6, kernel="fold").collect()]
    )
    assert a == b


def test_mmr_per_query_groups(spark, embeddings):
    # two query groups re-ranked independently in one call
    emb = embeddings.limit(40)
    rows = emb.collect()
    qv0 = rows[0]["embedding"]
    qv1 = rows[1]["embedding"]
    c0 = score_against(emb, qv0).withColumn("query_id", F.lit(0))
    c1 = score_against(emb, qv1).withColumn("query_id", F.lit(1))
    cand = c0.unionByName(c1)
    got = mmr_rerank(cand, k=3, query_id_col="query_id").collect()
    for q in (0, 1):
        ranks = sorted(r["rank"] for r in got if r["query_id"] == q)
        assert ranks == [1, 2, 3]
    # each group's top pick is its own argmax relevance
    top0 = [r["vec_id"] for r in got if r["query_id"] == 0 and r["rank"] == 1][0]
    assert top0 == 0  # self-match


def test_filtered_topk_matches_manual_filter(spark, embeddings):
    qv = embeddings.filter(F.col("vec_id") == 5).first()["embedding"]
    a = filtered_topk(
        embeddings, F.col("label") == 2, qv, k=10, strength=0
    ).collect()
    b = topk_search(
        embeddings.filter(F.col("label") == 2), qv, k=10, strength=0
    ).collect()
    assert [(r["vec_id"], r["score"]) for r in a] == [
        (r["vec_id"], r["score"]) for r in b
    ]
    labels = {
        r["vec_id"]: r["label"]
        for r in embeddings.select("vec_id", "label").collect()
    }
    assert all(labels[r["vec_id"]] == 2 for r in a)


def test_bm25_absent_term_contributes_nothing(spark):
    # a query term appearing in no document must not poison scores
    # (df=0 -> idf defined and finite; tf=0 -> zero contribution)
    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "beta gamma")], "doc_id long, text string"
    )
    with_ghost = {
        r["doc_id"]: r["score"]
        for r in bm25_score_all(docs, ["alpha", "zzz_absent"]).collect()
    }
    alone = {
        r["doc_id"]: r["score"]
        for r in bm25_score_all(docs, ["alpha"]).collect()
    }
    for d in alone:
        assert with_ghost[d] == pytest.approx(alone[d], abs=1e-12)


def test_filtered_search_on_quantized_graph(spark, embeddings):
    # allowed_ids filtering is orthogonal to int8 storage: quantized
    # shards honor the filter and find the allowed neighbors
    from astro_vectordb_spark.operators.hnsw import (
        hnsw_build_shards,
        hnsw_query_shards,
    )

    graph = hnsw_build_shards(
        embeddings, num_shards=2, ef_construction=64, quantize=True
    )
    allowed = [
        r["vec_id"]
        for r in embeddings.filter(F.col("label") == 1).select("vec_id").collect()
    ]
    qv = embeddings.filter(F.col("vec_id") == 3).first()["embedding"]
    queries = spark.createDataFrame(
        [(0, [float(x) for x in qv])], "query_id long, query_vec array<float>"
    )
    got = {
        r["vec_id"]
        for r in hnsw_query_shards(
            graph, queries, k=10, ef_search=64, allowed_ids=allowed
        ).collect()
    }
    assert got and got <= set(allowed)


def test_bm25_indexed_matches_inline_path(tiny_docs):
    # the pre-built-stats path must reproduce inline BM25 bit-for-bit
    # (same float64 expression tree; stats enter as literals)
    from astro_vectordb_spark.operators.keyword import (
        bm25_term_stats,
        bm25_topk_indexed,
    )

    ts, cs = bm25_term_stats(tiny_docs)
    a = bm25_topk(tiny_docs, ["merge", "spark"], k=10).collect()
    b = bm25_topk_indexed(tiny_docs, ts, cs, ["merge", "spark"], k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]
    # absent term: df lookup misses -> 0, same as inline df=0
    a2 = bm25_topk(tiny_docs, ["merge", "zzz"], k=10).collect()
    b2 = bm25_topk_indexed(tiny_docs, ts, cs, ["merge", "zzz"], k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in a2] == [
        (r["doc_id"], r["score"]) for r in b2
    ]


def test_score_fusion_known_values(spark):
    from astro_vectordb_spark.operators.rerank import score_fusion

    a = spark.createDataFrame(
        [(10, 4.0), (11, 2.0), (12, 0.0)], "doc_id long, score double"
    )
    b = spark.createDataFrame(
        [(11, 0.9), (13, 0.1)], "doc_id long, score double"
    )
    got = {
        r["doc_id"]: r["score"]
        for r in score_fusion([a, b], [0.5, 0.5], k=10).collect()
    }
    # list a normalizes to 1.0/0.5/0.0; list b to 1.0/0.0
    assert got[10] == 0.5
    assert got[11] == round(0.5 * 0.5 + 0.5 * 1.0, 6)
    assert got[12] == 0.0
    assert got[13] == 0.0
    # degenerate list (all equal scores) -> every member normalizes to 1
    c = spark.createDataFrame([(20, 7.0), (21, 7.0)], "doc_id long, score double")
    got2 = {
        r["doc_id"]: r["score"] for r in score_fusion([c], [1.0], k=5).collect()
    }
    assert got2 == {20: 1.0, 21: 1.0}


def test_score_fusion_weight_mismatch_raises(spark):
    from astro_vectordb_spark.operators.rerank import score_fusion

    a = spark.createDataFrame([(1, 1.0)], "doc_id long, score double")
    with pytest.raises(ValueError):
        score_fusion([a], [0.5, 0.5], k=3)
    with pytest.raises(ValueError):
        score_fusion([], [], k=3)


class TestBm25Append:
    def _corpus(self, spark, n=60, seed=4):
        rng = np.random.RandomState(seed)
        vocab = ["spark", "merge", "hash", "join", "scan", "sort",
                 "filler", "words", "query", "index"]
        rows = [
            (i, " ".join(vocab[rng.randint(10)]
                         for _ in range(rng.randint(3, 20))))
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_append_equals_rebuild(self, spark):
        # additive df counts + exact integer totals: appended stats
        # are BIT-IDENTICAL to a full rebuild, so indexed queries off
        # either are equal
        from astro_vectordb_spark.operators.keyword import (
            bm25_append_stats,
            bm25_term_stats,
            bm25_topk_indexed,
        )

        docs = self._corpus(spark)
        full_ts, full_cs = bm25_term_stats(docs)
        part_ts, part_cs = bm25_term_stats(docs.filter("doc_id < 30"))
        app_ts, app_cs = bm25_append_stats(
            part_ts, part_cs, docs.filter("doc_id >= 30")
        )
        want_terms = {r["term"]: r["df"] for r in full_ts.collect()}
        got_terms = {r["term"]: r["df"] for r in app_ts.collect()}
        assert got_terms == want_terms
        want_cs = full_cs.first()
        got_cs = app_cs.first()
        assert (want_cs["n"], want_cs["total_dl"]) == (
            got_cs["n"], got_cs["total_dl"],
        )
        assert want_cs["avgdl"] == got_cs["avgdl"]  # exact, not approx
        terms = ["spark", "merge"]
        want_q = [
            (r.doc_id, r.score)
            for r in bm25_topk_indexed(
                docs, full_ts, full_cs, terms, k=10
            ).collect()
        ]
        got_q = [
            (r.doc_id, r.score)
            for r in bm25_topk_indexed(
                docs, app_ts, app_cs, terms, k=10
            ).collect()
        ]
        assert got_q == want_q

    def test_persisted_append_and_replay(self, spark, tmp_path):
        from astro_vectordb_spark.operators.keyword import bm25_term_stats
        from astro_vectordb_spark.sources.vault import (
            load_bm25_index,
            save_bm25_index,
        )

        docs = self._corpus(spark)
        path = str(tmp_path / "bm25_idx")
        ts, cs = bm25_term_stats(docs.filter("doc_id < 30"))
        save_bm25_index(ts, cs, path)
        rep = index.open(spark, path).append(
            docs.filter("doc_id >= 30"), batch_id=1
        )
        assert rep["appended_docs"] == 30
        # replay: no-op via the _batches log
        rep2 = index.open(spark, path).append(
            docs.filter("doc_id >= 30"), batch_id=1
        )
        assert rep2.get("skipped_replay") and rep2["appended_docs"] == 0
        ts2, cs2 = load_bm25_index(spark, path)
        full_ts, full_cs = bm25_term_stats(docs)
        assert {r["term"]: r["df"] for r in ts2.collect()} == {
            r["term"]: r["df"] for r in full_ts.collect()
        }
        assert cs2.first()["total_dl"] == full_cs.first()["total_dl"]


class TestBm25Batch:
    """bm25_batch_topk_indexed: one corpus scan serving a whole query
    batch, per-query bit-identical to the single face."""

    def _stats(self, docs):
        from astro_vectordb_spark.operators.keyword import bm25_term_stats

        return bm25_term_stats(docs)

    def test_matches_single_face_per_query(self, tiny_docs, spark):
        from astro_vectordb_spark.operators.keyword import (
            bm25_batch_topk_indexed,
            bm25_topk_indexed,
        )

        ts, cs = self._stats(tiny_docs)
        cases = [
            (0, ["merge", "spark"]),
            (1, ["spark"]),
            (2, ["filler", "merge", "words"]),
        ]
        qs = spark.createDataFrame(
            cases, "query_id long, terms array<string>"
        )
        got = {
            (r["query_id"], r["doc_id"]): (r["score"], r["rank"])
            for r in bm25_batch_topk_indexed(
                tiny_docs, ts, cs, qs, k=4
            ).collect()
        }
        for qid, terms in cases:
            want = bm25_topk_indexed(tiny_docs, ts, cs, terms, 4).collect()
            sub = sorted(
                (d, s) for (q, d), (s, _) in got.items() if q == qid
            )
            assert sub == sorted((r["doc_id"], r["score"]) for r in want)
            # ranks follow (score desc, id asc) within the query
            by_rank = sorted(
                ((rk, d) for (q, d), (_, rk) in got.items() if q == qid)
            )
            assert [d for _, d in by_rank] == [r["doc_id"] for r in want]

    def test_unknown_term_prices_df_zero(self, tiny_docs, spark):
        # a term absent from the index stats scores exactly like the
        # single face's df_map.get(t, 0) — and a query with no hits
        # at all produces no rows
        from astro_vectordb_spark.operators.keyword import (
            bm25_batch_topk_indexed,
            bm25_topk_indexed,
        )

        ts, cs = self._stats(tiny_docs)
        qs = spark.createDataFrame(
            [(7, ["merge", "zzz_absent"]), (8, ["zzz_absent"])],
            "query_id long, terms array<string>",
        )
        rows = bm25_batch_topk_indexed(tiny_docs, ts, cs, qs, k=5).collect()
        assert {r["query_id"] for r in rows} == {7}
        want = bm25_topk_indexed(
            tiny_docs, ts, cs, ["merge", "zzz_absent"], 5
        ).collect()
        assert sorted((r["doc_id"], r["score"]) for r in rows) == sorted(
            (r["doc_id"], r["score"]) for r in want
        )

    def test_term_order_preserved_in_accumulation(self, tiny_docs, spark):
        # fold order = the query's term order (not sorted): both
        # orderings must match their single-face counterpart exactly
        from astro_vectordb_spark.operators.keyword import (
            bm25_batch_topk_indexed,
            bm25_topk_indexed,
        )

        ts, cs = self._stats(tiny_docs)
        qs = spark.createDataFrame(
            [(0, ["spark", "merge"]), (1, ["merge", "spark"])],
            "query_id long, terms array<string>",
        )
        got = bm25_batch_topk_indexed(tiny_docs, ts, cs, qs, k=5).collect()
        for qid, terms in [(0, ["spark", "merge"]), (1, ["merge", "spark"])]:
            want = {
                r["doc_id"]: r["score"]
                for r in bm25_topk_indexed(tiny_docs, ts, cs, terms, 5).collect()
            }
            sub = {
                r["doc_id"]: r["score"] for r in got if r["query_id"] == qid
            }
            assert sub == want


def test_rrf_fuse_grouped_matches_per_group(spark):
    from astro_vectordb_spark.operators.rerank import rrf_fuse

    la = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (1, 12, 1), (1, 10, 2)],
        "query_id long, doc_id long, rank int",
    )
    lb = spark.createDataFrame(
        [(0, 11, 1), (0, 13, 2), (1, 10, 1)],
        "query_id long, doc_id long, rank int",
    )
    got = rrf_fuse([la, lb], k=2, group_cols=["query_id"]).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid in (0, 1):
        single = rrf_fuse(
            [la.filter(F.col("query_id") == qid).drop("query_id"),
             lb.filter(F.col("query_id") == qid).drop("query_id")],
            k=2,
        ).collect()
        assert sorted(by_q[qid]) == sorted(
            (r["doc_id"], r["score"]) for r in single
        )


class TestCrossEncoderRerank:
    """cross_encoder_rerank + the crossenc registry (hash_cross stub)."""

    def test_stub_matches_local_cosine(self, tiny_docs, spark):
        import math

        from astro_vectordb_spark.functions.crossenc import (
            _fold_dot,
            hash_cross_scorer,
        )
        from astro_vectordb_spark.functions.embed import hash_embedder
        from astro_vectordb_spark.operators.rerank import (
            cross_encoder_rerank,
        )
        import pandas as pd

        qtext = "spark merge join"
        got = cross_encoder_rerank(tiny_docs, qtext, k=5).collect()
        rows = [(r["doc_id"], r["text"]) for r in tiny_docs.collect()]
        qv = hash_embedder(pd.Series([qtext])).iloc[0]
        want = {}
        for d, t in rows:
            dv = hash_embedder(pd.Series([t])).iloc[0]
            denom = math.sqrt(_fold_dot(qv, qv)) * math.sqrt(
                _fold_dot(dv, dv)
            )
            if denom > 0:
                want[d] = round(_fold_dot(qv, dv) / denom, 6)
        top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        assert [(r["doc_id"], r["score"]) for r in got] == top

    def test_batch_mode_matches_per_query(self, tiny_docs, spark):
        from astro_vectordb_spark.operators.rerank import (
            cross_encoder_rerank,
        )

        qtexts = {0: "spark merge join", 1: "filler words"}
        cand = None
        for qid, qt in qtexts.items():
            c = tiny_docs.withColumn("query_id", F.lit(qid)).withColumn(
                "query_text", F.lit(qt)
            )
            cand = c if cand is None else cand.unionByName(c)
        got = cross_encoder_rerank(
            cand, None, k=3, query_id_col="query_id",
            query_text_col="query_text",
        ).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append(
                (r["doc_id"], r["score"])
            )
        for qid, qt in qtexts.items():
            want = cross_encoder_rerank(tiny_docs, qt, k=3).collect()
            assert sorted(by_q[qid]) == sorted(
                (r["doc_id"], r["score"]) for r in want
            )

    def test_null_scores_dropped_and_arg_validation(self, spark):
        from astro_vectordb_spark.operators.rerank import (
            cross_encoder_rerank,
        )

        docs = spark.createDataFrame(
            [(0, "spark merge"), (1, "")],  # empty text -> zero norm
            "doc_id long, text string",
        )
        got = cross_encoder_rerank(docs, "spark", k=5).collect()
        assert [r["doc_id"] for r in got] == [0]
        with pytest.raises(ValueError, match="exactly one"):
            cross_encoder_rerank(docs, "q", 5, query_text_col="text")
        with pytest.raises(ValueError, match="exactly one"):
            cross_encoder_rerank(docs, None, 5)

    def test_unknown_model_raises(self, tiny_docs):
        from astro_vectordb_spark.operators.rerank import (
            cross_encoder_rerank,
        )

        with pytest.raises(ValueError, match="unknown cross-encoder"):
            cross_encoder_rerank(tiny_docs, "q", 5, model="nope")

    def test_injected_model_is_used(self, tiny_docs, spark):
        # the registry contract: a custom factory's kernel drives the
        # ranking (here: longer doc text = higher score)
        import pandas as pd

        from astro_vectordb_spark.functions.crossenc import (
            register_cross_scorer,
        )
        from astro_vectordb_spark.operators.rerank import (
            cross_encoder_rerank,
        )

        register_cross_scorer(
            "lenscore",
            lambda **_: (
                lambda q, d: pd.Series(
                    [float(len(x or "")) for x in d], dtype="float64"
                )
            ),
        )
        got = cross_encoder_rerank(
            tiny_docs, "whatever", k=2, model="lenscore"
        ).collect()
        texts = {r["doc_id"]: r["text"] for r in tiny_docs.collect()}
        want = sorted(
            texts, key=lambda d: (-len(texts[d]), d)
        )[:2]
        assert [r["doc_id"] for r in got] == want


class TestSnippetExtract:
    def test_best_window_known_values(self, spark):
        from astro_vectordb_spark.operators.keyword import snippet_extract

        docs = spark.createDataFrame(
            [
                (0, "a b merge c d hash merge x y z"),
                (1, "no query words at all here"),
                (2, "merge a"),  # shorter than the window
            ],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["n_hits"], r["start"], r["snippet"])
            for r in snippet_extract(docs, ["merge", "hash"], window=4).collect()
        }
        # doc 0: windows of 4; first window with 2 hits starts at token 3
        assert got[0] == (2, 3, "merge c d hash")
        # doc 1 has no hits anywhere -> dropped
        assert 1 not in got
        # doc 2: single whole-doc window
        assert got[2] == (1, 1, "merge a")

    def test_window_one_is_term_occurrence(self, spark):
        from astro_vectordb_spark.operators.keyword import snippet_extract

        docs = spark.createDataFrame(
            [(0, "x merge y merge")], "doc_id long, text string"
        )
        got = snippet_extract(docs, ["merge"], window=1).collect()[0]
        assert (got["n_hits"], got["start"], got["snippet"]) == (1, 2, "merge")

    def test_validation(self, spark):
        from astro_vectordb_spark.operators.keyword import snippet_extract

        docs = spark.createDataFrame([(0, "a")], "doc_id long, text string")
        with pytest.raises(ValueError):
            snippet_extract(docs, [])
        with pytest.raises(ValueError):
            snippet_extract(docs, ["a"], window=0)


class TestPrfExpand:
    def test_expansion_scores_and_exclusion(self, spark):
        import math

        from astro_vectordb_spark.operators.keyword import (
            bm25_term_stats,
            bm25_topk_indexed,
            prf_expand_terms,
        )

        docs = spark.createDataFrame(
            [
                (0, "merge rare1 rare1 shared"),
                (1, "merge rare2 shared"),
                (2, "merge rare3"),
                (3, "common common common"),
                (4, "common shared"),
            ],
            "doc_id long, text string",
        )
        ts, cs = bm25_term_stats(docs)
        got = prf_expand_terms(
            docs, ts, cs, ["merge"], n_feedback=3, n_expand=10
        ).collect()
        terms = [r["term"] for r in got]
        # original query term excluded
        assert "merge" not in terms
        # feedback = the 3 merge docs; every feedback term scored
        fb_ids = [
            r["doc_id"]
            for r in bm25_topk_indexed(docs, ts, cs, ["merge"], 3).collect()
        ]
        assert set(fb_ids) == {0, 1, 2}
        # manual score for 'shared': dffb=2 (docs 0,1), corpus df=3, n=5
        idf = math.log(1.0 + (5.0 - 3.0 + 0.5) / (3.0 + 0.5))
        want = round(2.0 * idf, 6)
        by_term = {r["term"]: r["score"] for r in got}
        assert by_term["shared"] == want
        # rare terms (dffb=1, df=1): higher idf, lower dffb
        idf1 = math.log(1.0 + (5.0 - 1.0 + 0.5) / (1.0 + 0.5))
        assert by_term["rare1"] == round(1.0 * idf1, 6)
        # 'common' never in feedback docs -> absent
        assert "common" not in by_term
        # ordering: score desc, term asc
        scores = [r["score"] for r in got]
        assert scores == sorted(scores, reverse=True)

    def test_feedback_is_bounded_slice(self, spark):
        # n_feedback caps the sample even when more docs match
        from astro_vectordb_spark.operators.keyword import (
            bm25_term_stats,
            prf_expand_terms,
        )

        docs = spark.createDataFrame(
            [(i, f"merge tag{i}") for i in range(20)],
            "doc_id long, text string",
        )
        ts, cs = bm25_term_stats(docs)
        got = prf_expand_terms(
            docs, ts, cs, ["merge"], n_feedback=5, n_expand=50
        ).collect()
        # only the 5 feedback docs' tags appear
        assert len(got) == 5
        assert {r["term"] for r in got} <= {f"tag{i}" for i in range(20)}
