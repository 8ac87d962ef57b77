"""One-call search facade: kind detection + dispatch across all four
persisted index kinds plus the exact path (reference parity:
searchAstroDB, driver/driver.ts:290-307)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from astro_vectordb_spark import index
from astro_vectordb_spark.operators.topk import topk_search
from astro_vectordb_spark.search import detect_index_kind, search

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


class TestFacade:
    def test_exact_path_plain_parquet(self, spark, corpus, qv, tmp_path):
        df, _ = corpus
        path = str(tmp_path / "plain")
        df.write.parquet(path)
        assert detect_index_kind(spark, path) == "exact"
        got = [r.vec_id for r in search(spark, path, qv, 10).collect()]
        assert got == _exact_ids(df, qv)

    def test_ivf_kind(self, spark, corpus, qv, tmp_path):
        from astro_vectordb_spark.operators.ann import ivf_build
        from astro_vectordb_spark.sources.vault import save_ivf_index

        df, _ = corpus
        assigned, cents = ivf_build(df, k_cells=8)
        path = str(tmp_path / "ivf")
        save_ivf_index(
            assigned.select("vec_id", "embedding", "cell_id"), cents, path
        )
        assert detect_index_kind(spark, path) == "ivf"
        # adaptive probing (nprobe=None) on a clustered corpus: full
        # recall through the facade
        got = [r.vec_id for r in search(spark, path, qv, 10).collect()]
        exact = _exact_ids(df, qv)
        assert len(set(got) & set(exact)) >= 9

    def test_hnsw_kind(self, spark, corpus, qv, tmp_path):
        from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
        from astro_vectordb_spark.sources.vault import save_hnsw_index

        df, _ = corpus
        graph = hnsw_build_shards(df, num_shards=2, m=8, seed=11)
        path = str(tmp_path / "hnsw")
        save_hnsw_index(graph, path, m=8, metric="cosine")
        assert detect_index_kind(spark, path) == "hnsw"
        got = [r.vec_id for r in search(
            spark, path, qv, 10, ef_search=200
        ).collect()]
        exact = _exact_ids(df, qv)
        assert len(set(got) & set(exact)) >= 9

    def test_pq_kind_requires_vectors(self, spark, corpus, qv, tmp_path):
        from astro_vectordb_spark.operators.pq import pq_encode, pq_train
        from astro_vectordb_spark.sources.vault import save_pq_index

        df, _ = corpus
        model = pq_train(df, m=8, ks=32, metric="cosine", max_rows=N, seed=2)
        path = str(tmp_path / "pq")
        save_pq_index(pq_encode(df, model), model, path)
        assert detect_index_kind(spark, path) == "pq"
        with pytest.raises(ValueError, match="vectors"):
            search(spark, path, qv, 10)
        got = [r.vec_id for r in search(
            spark, path, qv, 10, vectors=df, refine_factor=16
        ).collect()]
        exact = _exact_ids(df, qv)
        assert len(set(got) & set(exact)) >= 9

    def test_ivf_pq_kind(self, spark, corpus, qv, tmp_path):
        from astro_vectordb_spark.operators.pq import ivf_pq_build
        from astro_vectordb_spark.sources.vault import save_ivf_pq_index

        df, _ = corpus
        encoded, cents, model = ivf_pq_build(
            df, k_cells=8, m=8, ks=16, max_rows=N
        )
        path = str(tmp_path / "ivfpq")
        save_ivf_pq_index(encoded, cents, model, path)
        assert detect_index_kind(spark, path) == "ivf_pq"
        got = [r.vec_id for r in search(
            spark, path, qv, 10, vectors=df, nprobe=4, refine_factor=16
        ).collect()]
        exact = _exact_ids(df, qv)
        assert len(set(got) & set(exact)) >= 8

    def test_allowed_ids_exact_and_pq(self, spark, corpus, qv, tmp_path):
        from astro_vectordb_spark.operators.pq import pq_encode, pq_train
        from astro_vectordb_spark.sources.vault import save_pq_index

        df, _ = corpus
        allowed = list(range(0, N, 3))
        plain = str(tmp_path / "plain_f")
        df.write.parquet(plain)
        got = [r.vec_id for r in search(
            spark, plain, qv, 5, allowed_ids=allowed
        ).collect()]
        assert got and all(v % 3 == 0 for v in got)

        model = pq_train(df, m=8, ks=32, metric="cosine", max_rows=N, seed=2)
        pqp = str(tmp_path / "pq_f")
        save_pq_index(pq_encode(df, model), model, pqp)
        got_pq = [r.vec_id for r in search(
            spark, pqp, qv, 5, vectors=df, allowed_ids=allowed,
            refine_factor=16,
        ).collect()]
        assert got_pq and all(v % 3 == 0 for v in got_pq)

    def test_allowed_ids_ivf_widens_probes(self, spark, corpus, qv, tmp_path):
        # r9: the IVF path supports filtered search — candidate rows are
        # restricted to the allowed set inside the probed cells, and the
        # probe count widens by 1/selectivity (a 1/3 filter probes ~3x
        # the cells), so recall on the allowed subset holds
        from astro_vectordb_spark.operators.ann import ivf_build
        from astro_vectordb_spark.sources.vault import save_ivf_index

        df, _ = corpus
        assigned, cents = ivf_build(df, k_cells=8)
        path = str(tmp_path / "ivf_f")
        save_ivf_index(
            assigned.select("vec_id", "embedding", "cell_id"), cents, path
        )
        allowed = list(range(0, N, 3))
        got = [r.vec_id for r in search(
            spark, path, qv, 5, allowed_ids=allowed, nprobe=2
        ).collect()]
        assert got and all(v % 3 == 0 for v in got)
        exact_allowed = [
            r.vec_id
            for r in topk_search(
                df.filter(F.col("vec_id") % 3 == 0), qv, 5, strength=0
            ).collect()
        ]
        assert len(set(got) & set(exact_allowed)) >= 4

    def test_allowed_ids_ivf_selective_10pct(self, spark, corpus, qv,
                                             tmp_path):
        # the verdict's recall check: a 10% allowed set — widening takes
        # the probe set to every cell, so the result EQUALS the exact
        # top-k over the allowed subset
        from astro_vectordb_spark.operators.ann import ivf_build
        from astro_vectordb_spark.sources.vault import save_ivf_index

        df, _ = corpus
        assigned, cents = ivf_build(df, k_cells=8)
        path = str(tmp_path / "ivf_f10")
        save_ivf_index(
            assigned.select("vec_id", "embedding", "cell_id"), cents, path
        )
        allowed = list(range(0, N, 10))
        got = [r.vec_id for r in search(
            spark, path, qv, 5, allowed_ids=allowed, nprobe=2
        ).collect()]
        exact_allowed = [
            r.vec_id
            for r in topk_search(
                df.filter(F.col("vec_id") % 10 == 0), qv, 5, strength=0
            ).collect()
        ]
        assert got == exact_allowed

    def test_allowed_ids_ivf_pq_widens_probes(self, spark, corpus, qv,
                                              tmp_path):
        # r9: the last kind gains filtered search — allowed candidates
        # restricted inside probed cells (before the ADC ranking), the
        # probe count widened by 1/selectivity; at 10% selectivity the
        # widening reaches every cell and with a refine budget >= the
        # allowed set the result EQUALS the filtered exact top-5
        from astro_vectordb_spark.operators.pq import ivf_pq_build
        from astro_vectordb_spark.sources.vault import save_ivf_pq_index

        df, _ = corpus
        encoded, cents, model = ivf_pq_build(
            df, k_cells=8, m=8, ks=16, max_rows=N
        )
        path = str(tmp_path / "ivfpq_f")
        save_ivf_pq_index(encoded, cents, model, path)
        allowed = list(range(0, N, 10))
        got = [r.vec_id for r in search(
            spark, path, qv, 5, vectors=df, allowed_ids=allowed,
            nprobe=2, refine_factor=16,
        ).collect()]
        exact_allowed = [
            r.vec_id
            for r in topk_search(
                df.filter(F.col("vec_id") % 10 == 0), qv, 5, strength=0
            ).collect()
        ]
        assert got == exact_allowed

    def test_metric_comes_from_index_meta(self, spark, corpus, qv, tmp_path):
        # an index saved with euclidean serves euclidean even though the
        # facade's metric default is cosine — metric loss was a real
        # reference bug (hnsw.ts:794-810)
        from astro_vectordb_spark.operators.ann import ivf_build
        from astro_vectordb_spark.sources.vault import save_ivf_index

        df, _ = corpus
        assigned, cents = ivf_build(df, k_cells=4, metric="euclidean")
        path = str(tmp_path / "ivf_euc")
        save_ivf_index(
            assigned.select("vec_id", "embedding", "cell_id"), cents, path,
            metric="euclidean",
        )
        exact = [
            r.vec_id
            for r in topk_search(df, qv, 10, strength=0, metric="euclidean")
            .collect()
        ]
        got = [r.vec_id for r in search(spark, path, qv, 10).collect()]
        assert len(set(got) & set(exact)) >= 9


class TestBatchFacade:
    def _queries(self, spark, corpus, qids=(3, 17, 40)):
        df, pts = corpus
        return spark.createDataFrame(
            [(int(q), [float(x) for x in pts[q]]) for q in qids],
            "query_id long, query_vec array<float>",
        )

    def test_exact_batch(self, spark, corpus, tmp_path):
        df, pts = corpus
        path = str(tmp_path / "b_plain")
        df.write.parquet(path)
        from astro_vectordb_spark.search import search_batch

        out = search_batch(spark, path, self._queries(spark, corpus), 10)
        pdf = out.toPandas()
        assert set(pdf.query_id) == {3, 17, 40}
        for q in (3, 17, 40):
            got = pdf[pdf.query_id == q].sort_values(
                "score", ascending=False
            ).vec_id.tolist()
            exact = _exact_ids(df, [float(x) for x in pts[q]])
            assert got == exact

    def test_hnsw_batch(self, spark, corpus, tmp_path):
        from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
        from astro_vectordb_spark.search import search_batch
        from astro_vectordb_spark.sources.vault import save_hnsw_index

        df, pts = corpus
        graph = hnsw_build_shards(df, num_shards=2, m=8, seed=11)
        path = str(tmp_path / "b_hnsw")
        save_hnsw_index(graph, path, m=8, metric="cosine")
        out = search_batch(
            spark, path, self._queries(spark, corpus), 10, ef_search=200
        ).toPandas()
        for q in (3, 17, 40):
            got = set(out[out.query_id == q].vec_id)
            exact = set(_exact_ids(df, [float(x) for x in pts[q]]))
            assert len(got & exact) >= 9

    def test_pq_batch_cogrouped(self, spark, corpus, tmp_path):
        from astro_vectordb_spark.operators.pq import pq_encode, pq_train
        from astro_vectordb_spark.search import search_batch
        from astro_vectordb_spark.sources.vault import save_pq_index

        df, pts = corpus
        model = pq_train(df, m=8, ks=32, metric="cosine", max_rows=N, seed=2)
        path = str(tmp_path / "b_pq")
        save_pq_index(pq_encode(df, model), model, path)
        out = search_batch(
            spark, path, self._queries(spark, corpus), 10, vectors=df,
            refine_factor=16,
        ).toPandas()
        for q in (3, 17, 40):
            got = set(out[out.query_id == q].vec_id)
            exact = set(_exact_ids(df, [float(x) for x in pts[q]]))
            assert len(got & exact) >= 9

    def test_batch_allowed_ids_all_kinds(self, spark, corpus, tmp_path):
        # r9: filtered BATCH search — every kind honors allowed_ids;
        # exact/PQ restrict the scan (provably exact on the allowed
        # subset), HNSW widens the beam, IVF widens per-query probes
        from astro_vectordb_spark.operators.ann import ivf_build
        from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
        from astro_vectordb_spark.operators.pq import pq_encode, pq_train
        from astro_vectordb_spark.search import search_batch
        from astro_vectordb_spark.sources.vault import (
            save_hnsw_index,
            save_ivf_index,
            save_pq_index,
        )

        df, pts = corpus
        allowed = list(range(0, N, 3))
        queries = self._queries(spark, corpus)

        def exact_allowed(q):
            return [
                r.vec_id
                for r in topk_search(
                    df.filter(F.col("vec_id") % 3 == 0),
                    [float(x) for x in pts[q]], 10, strength=0,
                ).collect()
            ]

        paths = {}
        plain = str(tmp_path / "ba_plain")
        df.write.parquet(plain)
        paths["exact"] = (plain, {})
        assigned, cents = ivf_build(df, k_cells=8)
        ivfp = str(tmp_path / "ba_ivf")
        save_ivf_index(
            assigned.select("vec_id", "embedding", "cell_id"), cents, ivfp
        )
        paths["ivf"] = (ivfp, {"nprobe": 2})
        hp = str(tmp_path / "ba_hnsw")
        save_hnsw_index(
            hnsw_build_shards(df, num_shards=2, m=8, seed=11), hp,
            m=8, metric="cosine",
        )
        paths["hnsw"] = (hp, {"ef_search": 200})
        model = pq_train(df, m=8, ks=32, metric="cosine", max_rows=N, seed=2)
        pqp = str(tmp_path / "ba_pq")
        save_pq_index(pq_encode(df, model), model, pqp)
        paths["pq"] = (pqp, {"vectors": df, "refine_factor": 16})

        for kind, (path, kw) in paths.items():
            out = search_batch(
                spark, path, queries, 10, allowed_ids=allowed, **kw
            ).toPandas()
            assert (out.vec_id % 3 == 0).all(), kind
            for q in (3, 17, 40):
                got = set(out[out.query_id == q].vec_id)
                want = set(exact_allowed(q))
                assert len(got & want) >= 9, (kind, q)

    def test_ivf_batch(self, spark, corpus, tmp_path):
        from astro_vectordb_spark.operators.ann import ivf_build
        from astro_vectordb_spark.search import search_batch
        from astro_vectordb_spark.sources.vault import save_ivf_index

        df, pts = corpus
        assigned, cents = ivf_build(df, k_cells=8)
        path = str(tmp_path / "b_ivf")
        save_ivf_index(
            assigned.select("vec_id", "embedding", "cell_id"), cents, path
        )
        out = search_batch(
            spark, path, self._queries(spark, corpus), 10, nprobe=4
        ).toPandas()
        for q in (3, 17, 40):
            got = set(out[out.query_id == q].vec_id)
            exact = set(_exact_ids(df, [float(x) for x in pts[q]]))
            assert len(got & exact) >= 8


@pytest.fixture(scope="module")
def all_kinds(spark, corpus, tmp_path_factory):
    """One persisted index of every kind over the clustered corpus,
    as ``{kind: (path, serving kwargs)}``."""
    from astro_vectordb_spark.operators.ann import ivf_build_sampled
    from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
    from astro_vectordb_spark.operators.pq import (
        ivf_pq_build,
        pq_encode,
        pq_train,
    )
    from astro_vectordb_spark.sources.vault import (
        save_hnsw_index,
        save_ivf_index,
        save_ivf_pq_index,
        save_pq_index,
    )

    df, _ = corpus
    root = tmp_path_factory.mktemp("all_kinds")
    paths = {k: str(root / k) for k in ("exact", "ivf", "hnsw", "pq", "ivf_pq")}
    df.write.parquet(paths["exact"])
    assigned, cents = ivf_build_sampled(df, k_cells=8)
    save_ivf_index(
        assigned.select("vec_id", "embedding", "cell_id"), cents, paths["ivf"]
    )
    save_hnsw_index(
        hnsw_build_shards(df, num_shards=2, m=8, seed=11), paths["hnsw"],
        m=8, metric="cosine",
    )
    model = pq_train(df, m=8, ks=32, metric="cosine", max_rows=N, seed=2)
    save_pq_index(pq_encode(df, model), model, paths["pq"])
    save_ivf_pq_index(
        *ivf_pq_build(df, k_cells=8, m=8, ks=32, metric="cosine", max_rows=N),
        paths["ivf_pq"],
    )
    kw = {
        "exact": {}, "ivf": {"nprobe": 2}, "hnsw": {"ef_search": 200},
        "pq": {"vectors": df}, "ivf_pq": {"vectors": df, "nprobe": 2},
    }
    return {kind: (paths[kind], kw[kind]) for kind in paths}


def _serve_rows(spark, path, qv, k, face, **kw):
    """``[(vec_id, score)]`` of one query served by ``face``, score
    descending: the single call, or the batch call over a one-query
    frame."""
    from astro_vectordb_spark.search import search_batch

    if face == "single":
        rows = search(spark, path, qv, k, **kw).collect()
    else:
        queries = spark.createDataFrame(
            [(0, qv)], "query_id long, query_vec array<float>"
        )
        rows = search_batch(spark, path, queries, k, **kw).collect()
    return sorted(
        ((r.vec_id, r.score) for r in rows), key=lambda t: (-t[1], t[0])
    )


class TestOneDispatch:
    """Both faces of ``search`` serve through one per-kind dispatch, so
    an option holds on every kind in both faces."""

    @pytest.mark.parametrize("face", ["single", "batch"])
    @pytest.mark.parametrize("kind", ["exact", "ivf", "hnsw", "pq", "ivf_pq"])
    def test_strength_holds(self, spark, corpus, all_kinds, kind, face):
        _, pts = corpus
        # between two points of one cluster: of its top 10 hits only
        # the first two score above 0.9, and none lies near 0.9
        qv = [float(x) for x in 0.5 * pts[17] + 0.225 * pts[18]]
        path, kw = all_kinds[kind]
        base = _serve_rows(spark, path, qv, 10, face, **kw)
        want = [(i, s) for i, s in base if s > 0.9]
        assert 0 < len(want) < len(base), base
        got = _serve_rows(spark, path, qv, 10, face, strength=90, **kw)
        assert got == want

    @pytest.mark.parametrize("kind", ["ivf", "ivf_pq"])
    def test_filtered_batch_equals_single(self, spark, corpus, all_kinds,
                                          kind):
        """At selectivity 0.3 and nprobe=2 both faces probe ceil(2/0.3)
        = 7 of the 8 cells.  The query sits near every cluster and k
        exceeds the allow-list, so each face returns every allowed row
        of the cells it probes."""
        _, pts = corpus
        qv = [float(x) for x in pts.mean(axis=0)]
        allowed = [i for i in range(N) if i % 10 < 3]
        path, kw = all_kinds[kind]
        single = _serve_rows(
            spark, path, qv, 200, "single", allowed_ids=allowed, **kw
        )
        batch = _serve_rows(
            spark, path, qv, 200, "batch", allowed_ids=allowed, **kw
        )
        assert single and len(single) < len(allowed)
        assert batch == single


class TestStorageRemoves:
    """Storage-level deletes for IVF and HNSW — lifecycle symmetry with
    the append faces (every index kind now has build/append/remove)."""

    def test_ivf_remove_refreshes_stats(self, spark, corpus, tmp_path):
        from astro_vectordb_spark.operators.ann import (
            ivf_build,
            ivf_cell_stats,
        )
        from astro_vectordb_spark.sources.vault import (
            load_ivf_index,
            save_ivf_index,
        )

        df, pts = corpus
        assigned, cents = ivf_build(df, k_cells=8)
        stats = ivf_cell_stats(assigned, cents)
        path = str(tmp_path / "ivf_rm")
        save_ivf_index(
            assigned.select("vec_id", "embedding", "cell_id"), cents, path,
            cell_stats=stats,
        )
        remove_ids = [0, 8, 16, 24, 32]
        rep = index.open(spark, path).remove(remove_ids)
        assert rep["removed_rows"] == len(remove_ids)
        assert rep["touched_cells"]
        vec2, _, stats2, _ = load_ivf_index(spark, path)
        assert vec2.filter(vec2.vec_id.isin(remove_ids)).count() == 0
        assert vec2.count() == N - len(remove_ids)
        # stats recomputed for touched cells from survivors: the bound
        # can only tighten (min_sim rises or holds per touched cell)
        old = {r["cell_id"]: r["min_sim"] for r in stats.collect()}
        new = {r["cell_id"]: r["min_sim"] for r in stats2.collect()}
        for c in rep["touched_cells"]:
            assert new[c] >= old[c] - 1e-9

    def test_ivf_remove_replay_noop(self, spark, corpus, tmp_path):
        from astro_vectordb_spark.operators.ann import ivf_build
        from astro_vectordb_spark.sources.vault import save_ivf_index

        df, _ = corpus
        assigned, cents = ivf_build(df, k_cells=8)
        path = str(tmp_path / "ivf_rm2")
        save_ivf_index(
            assigned.select("vec_id", "embedding", "cell_id"), cents, path
        )
        assert index.open(spark, path).remove([1, 2], batch_id=5)[
            "removed_rows"
        ] == 2
        rep = index.open(spark, path).remove([1, 2], batch_id=5)
        assert rep.get("skipped_replay")

    def test_hnsw_remove_rebuilds_touched_shards(self, spark, corpus, tmp_path):
        from astro_vectordb_spark.operators.hnsw import (
            hnsw_build_shards,
            hnsw_query_shards,
        )
        from astro_vectordb_spark.sources.vault import (
            load_hnsw_index,
            save_hnsw_index,
        )

        df, pts = corpus
        graph = hnsw_build_shards(df, num_shards=2, m=8, seed=11)
        path = str(tmp_path / "hnsw_rm")
        save_hnsw_index(graph, path, m=8, metric="cosine")
        # remove the exact top-3 neighbors of query 17
        exact = _exact_ids(df, [float(x) for x in pts[17]])
        remove_ids = exact[:3]
        rep = index.open(spark, path).remove(remove_ids)
        assert rep["removed_rows"] == len(remove_ids)
        g2, meta2 = load_hnsw_index(spark, path)
        assert g2.filter(g2.vec_id.isin(remove_ids)).count() == 0
        # removed ids can never be served, and recall vs the POST-DELETE
        # exact top-10 stays high (fresh wiring, not an edge sweep)
        queries = spark.createDataFrame(
            [(17, [float(x) for x in pts[17]])],
            "query_id long, query_vec array<float>",
        )
        got = {
            r["vec_id"]
            for r in hnsw_query_shards(
                g2, queries, k=10, m=meta2["m"], metric=meta2["metric"],
                ef_search=200, clustered=meta2["clustered_safe"],
                index_cache_token=meta2["cache_token"],
            ).collect()
        }
        assert not (got & set(remove_ids))
        survivors = df.join(
            spark.createDataFrame([(i,) for i in remove_ids], "vec_id long"),
            "vec_id", "left_anti",
        )
        exact_after = set(_exact_ids(survivors, [float(x) for x in pts[17]]))
        assert len(got & exact_after) >= 9

    def test_hnsw_remove_empties_shard(self, spark, tmp_path):
        import numpy as np

        from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
        from astro_vectordb_spark.sources.vault import (
            load_hnsw_index,
            save_hnsw_index,
        )

        rng = np.random.RandomState(2)
        df = spark.createDataFrame(
            [(i, [float(x) for x in rng.normal(size=16)]) for i in range(100)],
            "vec_id long, embedding array<float>",
        )
        graph = hnsw_build_shards(df, num_shards=2, m=8, seed=3)
        spark_path = str(tmp_path / "hnsw_empty")
        save_hnsw_index(graph, spark_path, m=8, metric="cosine")
        g0, meta0 = load_hnsw_index(spark, spark_path)
        shard0_ids = [
            r["vec_id"] for r in g0.filter("shard_id = 0").collect()
        ]
        rep = index.open(spark, spark_path).remove(shard0_ids)
        assert rep["emptied_shards"] == [0]
        g2, meta2 = load_hnsw_index(spark, spark_path)
        assert g2.filter("shard_id = 0").count() == 0
        assert meta2["shard_ids"] == [1]
        assert g2.count() == 100 - len(shard0_ids)


class TestBatchFacadeIvfPq:
    def test_ivf_pq_batch_serves_all_queries(self, spark, corpus, tmp_path):
        from astro_vectordb_spark.operators.pq import ivf_pq_build
        from astro_vectordb_spark.search import search_batch
        from astro_vectordb_spark.sources.vault import save_ivf_pq_index

        df, pts = corpus
        encoded, cents, model = ivf_pq_build(
            df, k_cells=8, m=8, ks=16, max_rows=N
        )
        path = str(tmp_path / "b_ivfpq")
        save_ivf_pq_index(encoded, cents, model, path)
        queries = spark.createDataFrame(
            [(int(q), [float(x) for x in pts[q]]) for q in (3, 17, 40)],
            "query_id long, query_vec array<float>",
        )
        import pytest as _pytest

        with _pytest.raises(ValueError, match="vectors"):
            search_batch(spark, path, queries, 10)
        out = search_batch(
            spark, path, queries, 10, vectors=df, refine_factor=16
        ).toPandas()
        from astro_vectordb_spark.operators.topk import topk_search

        for q in (3, 17, 40):
            got = set(out[out.query_id == q].vec_id)
            exact = {
                r.vec_id
                for r in topk_search(
                    df, [float(x) for x in pts[q]], 10, strength=0
                ).collect()
            }
            assert len(got & exact) >= 9


class TestHnswRemoveModes:
    def _index(self, spark, tmp_path, name, quantize=False):
        import numpy as np

        from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
        from astro_vectordb_spark.sources.vault import save_hnsw_index

        rng = np.random.RandomState(7)
        C = rng.normal(size=(8, 24))
        C /= np.linalg.norm(C, axis=1, keepdims=True)
        pts = (C[np.arange(400) % 8] + 0.05 * rng.normal(size=(400, 24)))
        df = spark.createDataFrame(
            [(i, [float(x) for x in pts[i]]) for i in range(400)],
            "vec_id long, embedding array<float>",
        )
        graph = hnsw_build_shards(
            df, num_shards=2, m=8, seed=5, quantize=quantize
        )
        path = str(tmp_path / name)
        save_hnsw_index(graph, path, m=8, metric="cosine")
        return df, pts, path

    def test_auto_sweeps_small_rebuilds_large(self, spark, tmp_path):
        from astro_vectordb_spark.sources.vault import load_hnsw_index

        df, pts, path = self._index(spark, tmp_path, "modes")
        g0, _ = load_hnsw_index(spark, path)
        shard_of = {r["vec_id"]: r["shard_id"] for r in
                    g0.select("vec_id", "shard_id").collect()}
        by_shard = {}
        for v, s in shard_of.items():
            by_shard.setdefault(s, []).append(v)
        # small removal from shard A (sweep), >20% of shard B (rebuild)
        small = sorted(by_shard[0])[:3]
        big = sorted(by_shard[1])[: int(0.5 * len(by_shard[1]))]
        rep = index.open(spark, path).remove(small + big)
        assert rep["swept_shards"] == [0]
        assert rep["rebuilt_shards"] == [1]
        assert rep["removed_rows"] == len(small) + len(big)
        g2, _ = load_hnsw_index(spark, path)
        assert g2.filter(g2.vec_id.isin(small + big)).count() == 0

    def test_forced_rebuild_mode(self, spark, tmp_path):
        _, _, path = self._index(spark, tmp_path, "forced")
        rep = index.open(spark, path).remove([1, 2], mode="rebuild")
        assert rep["swept_shards"] == [] and rep["rebuilt_shards"]

    def test_quantized_sweep_serves_correctly(self, spark, tmp_path):
        from astro_vectordb_spark.operators.hnsw import hnsw_query_shards
        from astro_vectordb_spark.sources.vault import load_hnsw_index

        df, pts, path = self._index(spark, tmp_path, "qsweep", quantize=True)
        rep = index.open(spark, path).remove([10, 20, 30], mode="sweep")
        assert rep["removed_rows"] == 3 and rep["swept_shards"]
        g2, meta2 = load_hnsw_index(spark, path)
        assert "qvec" in g2.columns  # codes survive the sweep losslessly
        queries = spark.createDataFrame(
            [(0, [float(x) for x in pts[0]])],
            "query_id long, query_vec array<float>",
        )
        got = {
            r["vec_id"]
            for r in hnsw_query_shards(
                g2, queries, k=10, m=meta2["m"], metric=meta2["metric"],
                ef_search=200, clustered=meta2["clustered_safe"],
                index_cache_token=meta2["cache_token"],
            ).collect()
        }
        assert got and not (got & {10, 20, 30})


class TestHybridFacade:
    """hybrid_search: one-call vector + BM25 + RRF through persisted
    indexes of both families."""

    def _build(self, spark, tmp_path):
        from astro_vectordb_spark.functions.embed import embed_text
        from astro_vectordb_spark.operators.keyword import bm25_term_stats
        from astro_vectordb_spark.sources.vault import save_bm25_index

        docs = spark.createDataFrame(
            [
                (0, "spark merge join table"),
                (1, "merge join row group"),
                (2, "hash table scan filter"),
                (3, "spark spark merge hash"),
                (4, "window agg sort spill"),
                (5, "join merge spark batch"),
                (6, "vector index graph beam"),
                (7, "scan filter merge spark"),
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

    def test_matches_manual_composition(self, spark, tmp_path):
        from pyspark.sql import Window

        from astro_vectordb_spark.functions.embed import embed_text
        from astro_vectordb_spark.operators.keyword import bm25_topk
        from astro_vectordb_spark.operators.rerank import rrf_fuse
        from astro_vectordb_spark.operators.topk import topk_search
        from astro_vectordb_spark.search import hybrid_search

        docs, vec_path, bm25_path = self._build(spark, tmp_path)
        qv = embed_text(docs.filter("doc_id = 0")).first()["embedding"]
        terms = ["merge", "spark"]

        got = hybrid_search(
            spark, vec_path, bm25_path, docs, qv, terms, k=5, fetch_k=6
        ).collect()

        w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        emb = spark.read.parquet(vec_path).withColumnRenamed(
            "vec_id", "doc_id"
        )
        vec = topk_search(
            emb, qv, 6, strength=0.0, id_col="doc_id"
        ).select("doc_id", "score").withColumn(
            "rank", F.row_number().over(w)
        )
        lex = bm25_topk(docs, terms, 6).withColumn(
            "rank", F.row_number().over(w)
        )
        want = rrf_fuse([lex, vec], 5).collect()
        assert [(r["doc_id"], r["score"]) for r in got] == [
            (r["doc_id"], r["score"]) for r in want
        ]

    def test_lexical_respects_removed_stats(self, spark, tmp_path):
        # removing docs from the BM25 index changes idf exactly as if
        # the index were rebuilt on survivors — the facade must price
        # with the decremented stats
        from astro_vectordb_spark.functions.embed import embed_text
        from astro_vectordb_spark.operators.keyword import (
            bm25_term_stats,
            bm25_topk_indexed,
        )
        from astro_vectordb_spark.search import hybrid_search
        from astro_vectordb_spark.sources.vault import load_bm25_index

        docs, vec_path, bm25_path = self._build(spark, tmp_path)
        removed = docs.filter("doc_id in (6, 7)")
        index.open(spark, bm25_path).remove(removed)
        survivors = docs.filter("doc_id not in (6, 7)")
        # the survivor corpus must also drop the removed vectors: use
        # allowed_ids-free plain re-write for the vector side
        vec2 = str(tmp_path / "emb2.parquet")
        embed_text(survivors).select(
            F.col("doc_id").alias("vec_id"), "embedding"
        ).write.parquet(vec2)

        qv = embed_text(docs.filter("doc_id = 0")).first()["embedding"]
        got = hybrid_search(
            spark, vec2, bm25_path, survivors, qv, ["merge", "spark"],
            k=4, fetch_k=5,
        ).collect()

        ts, cs = load_bm25_index(spark, bm25_path)
        ref_ts, ref_cs = bm25_term_stats(survivors)
        assert sorted((r["term"], r["df"]) for r in ts.collect()) == sorted(
            (r["term"], r["df"]) for r in ref_ts.collect()
        )
        # and the fused list is non-empty, sorted, within k
        assert 0 < len(got) <= 4
        scores = [r["score"] for r in got]
        assert scores == sorted(scores, reverse=True)
        # doc 0 (the query doc itself, strong on both lists) wins
        assert got[0]["doc_id"] == 0


class TestHybridBatchFacade:
    """hybrid_search_batch: whole-batch hybrid retrieval, per-query
    identical to the single-call facade."""

    def test_matches_single_hybrid_per_query(self, spark, tmp_path):
        from astro_vectordb_spark.functions.embed import embed_text
        from astro_vectordb_spark.operators.keyword import bm25_term_stats
        from astro_vectordb_spark.search import (
            hybrid_search,
            hybrid_search_batch,
        )
        from astro_vectordb_spark.sources.vault import save_bm25_index

        docs = spark.createDataFrame(
            [
                (0, "spark merge join table"),
                (1, "merge join row group"),
                (2, "hash table scan filter"),
                (3, "spark spark merge hash"),
                (4, "window agg sort spill"),
                (5, "join merge spark batch"),
                (6, "vector index graph beam"),
                (7, "scan filter merge spark"),
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

        emb = {
            r["doc_id"]: r["embedding"]
            for r in embed_text(docs.filter("doc_id in (0, 2, 4)")).collect()
        }
        cases = [
            (0, emb[0], ["merge", "spark"]),
            (1, emb[2], ["hash", "scan"]),
            (2, emb[4], ["window", "agg", "sort"]),
        ]
        qs = spark.createDataFrame(
            cases, "query_id long, query_vec array<float>, terms array<string>"
        )
        got = hybrid_search_batch(
            spark, vec_path, bm25_path, docs, qs, k=4, fetch_k=6
        ).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append(
                (r["doc_id"], r["score"])
            )
        for qid, qv, terms in cases:
            want = hybrid_search(
                spark, vec_path, bm25_path, docs, qv, terms,
                k=4, fetch_k=6,
            ).collect()
            assert sorted(by_q[qid]) == sorted(
                (r["doc_id"], r["score"]) for r in want
            ), f"query {qid} diverges from single-call hybrid"


class TestHybridFusionAndFilter:
    """fusion='weighted' and allowed_ids on both hybrid faces."""

    def _build(self, spark, tmp_path):
        from astro_vectordb_spark.functions.embed import embed_text
        from astro_vectordb_spark.operators.keyword import bm25_term_stats
        from astro_vectordb_spark.sources.vault import save_bm25_index

        docs = spark.createDataFrame(
            [
                (0, "spark merge join table"),
                (1, "merge join row group"),
                (2, "hash table scan filter"),
                (3, "spark spark merge hash"),
                (4, "window agg sort spill"),
                (5, "join merge spark batch"),
                (6, "vector index graph beam"),
                (7, "scan filter merge spark"),
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
        qv = embed_text(docs.filter("doc_id = 0")).first()["embedding"]
        return docs, vec_path, bm25_path, qv

    def test_weighted_matches_manual_score_fusion(self, spark, tmp_path):
        from astro_vectordb_spark.operators.keyword import bm25_topk
        from astro_vectordb_spark.operators.rerank import score_fusion
        from astro_vectordb_spark.operators.topk import topk_search
        from astro_vectordb_spark.search import hybrid_search

        docs, vec_path, bm25_path, qv = self._build(spark, tmp_path)
        got = hybrid_search(
            spark, vec_path, bm25_path, docs, qv, ["merge", "spark"],
            k=5, fetch_k=6, fusion="weighted", weights=(0.3, 0.7),
        ).collect()

        emb = spark.read.parquet(vec_path).withColumnRenamed(
            "vec_id", "doc_id"
        )
        vec = topk_search(
            emb, qv, 6, strength=0.0, id_col="doc_id"
        ).select("doc_id", "score")
        lex = bm25_topk(docs, ["merge", "spark"], 6)
        want = score_fusion([lex, vec], [0.3, 0.7], 5).collect()
        assert [(r["doc_id"], r["score"]) for r in got] == [
            (r["doc_id"], r["score"]) for r in want
        ]

    def test_unknown_fusion_raises(self, spark, tmp_path):
        from astro_vectordb_spark.search import hybrid_search

        docs, vec_path, bm25_path, qv = self._build(spark, tmp_path)
        with pytest.raises(ValueError, match="fusion"):
            hybrid_search(
                spark, vec_path, bm25_path, docs, qv, ["merge"],
                fusion="borda",
            )

    def test_allowed_ids_restricts_both_lists(self, spark, tmp_path):
        from astro_vectordb_spark.search import hybrid_search

        docs, vec_path, bm25_path, qv = self._build(spark, tmp_path)
        allowed = [1, 2, 5, 7]
        got = hybrid_search(
            spark, vec_path, bm25_path, docs, qv, ["merge", "spark"],
            k=8, fetch_k=8, allowed_ids=allowed,
        ).collect()
        ids = {r["doc_id"] for r in got}
        assert ids and ids <= set(allowed)
        # equals the unfiltered hybrid over the pre-restricted corpus
        # (exact kind + full-index stats both ways)
        from astro_vectordb_spark.functions.embed import embed_text

        sub = docs.filter(F.col("doc_id").isin(allowed))
        vec2 = str(tmp_path / "emb_sub.parquet")
        embed_text(sub).select(
            F.col("doc_id").alias("vec_id"), "embedding"
        ).write.parquet(vec2)
        from astro_vectordb_spark.operators.keyword import (
            bm25_topk_indexed,
        )
        from astro_vectordb_spark.operators.rerank import rrf_fuse
        from astro_vectordb_spark.operators.topk import topk_search
        from astro_vectordb_spark.sources.vault import load_bm25_index
        from pyspark.sql import Window

        w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        emb = spark.read.parquet(vec2).withColumnRenamed("vec_id", "doc_id")
        vec = topk_search(emb, qv, 8, strength=0.0, id_col="doc_id").select(
            "doc_id", "score"
        ).withColumn("rank", F.row_number().over(w))
        ts, cs = load_bm25_index(spark, bm25_path)
        lex = bm25_topk_indexed(
            sub, ts, cs, ["merge", "spark"], 8
        ).withColumn("rank", F.row_number().over(w))
        want = rrf_fuse([lex, vec], 8).collect()
        assert sorted((r["doc_id"], r["score"]) for r in got) == sorted(
            (r["doc_id"], r["score"]) for r in want
        )

    def test_batch_weighted_and_filtered_match_single(self, spark, tmp_path):
        from astro_vectordb_spark.functions.embed import embed_text
        from astro_vectordb_spark.search import (
            hybrid_search,
            hybrid_search_batch,
        )

        docs, vec_path, bm25_path, _ = self._build(spark, tmp_path)
        emb = {
            r["doc_id"]: r["embedding"]
            for r in embed_text(docs.filter("doc_id in (0, 2)")).collect()
        }
        cases = [(0, emb[0], ["merge", "spark"]), (1, emb[2], ["hash", "scan"])]
        qs = spark.createDataFrame(
            cases, "query_id long, query_vec array<float>, terms array<string>"
        )
        for kwargs in (
            {"fusion": "weighted", "weights": (0.4, 0.6)},
            {"allowed_ids": [0, 2, 3, 5, 7]},
        ):
            got = hybrid_search_batch(
                spark, vec_path, bm25_path, docs, qs, k=4, fetch_k=6,
                **kwargs,
            ).collect()
            by_q = {}
            for r in got:
                by_q.setdefault(r["query_id"], []).append(
                    (r["doc_id"], r["score"])
                )
            for qid, qv, terms in cases:
                want = hybrid_search(
                    spark, vec_path, bm25_path, docs, qv, terms,
                    k=4, fetch_k=6, **kwargs,
                ).collect()
                assert sorted(by_q.get(qid, [])) == sorted(
                    (r["doc_id"], r["score"]) for r in want
                ), f"{kwargs} query {qid}"


class TestTextQueryFaces:
    """search_text / hybrid_search_text: text-in front doors through
    the encoder registry."""

    def test_search_text_equals_embedded_vector(self, spark, tmp_path):
        from astro_vectordb_spark.functions.embed import embed_query_text
        from astro_vectordb_spark.search import search, search_text

        docs = spark.createDataFrame(
            [(i, f"tok{i} merge spark") for i in range(6)],
            "doc_id long, text string",
        )
        from astro_vectordb_spark.functions.embed import embed_text

        vec_path = str(tmp_path / "emb.parquet")
        embed_text(docs).select(
            F.col("doc_id").alias("vec_id"), "embedding"
        ).write.parquet(vec_path)

        got = search_text(spark, vec_path, "merge spark", k=3).collect()
        qv = embed_query_text("merge spark")
        want = search(spark, vec_path, qv, 3).collect()
        assert [(r["vec_id"], r["score"]) for r in got] == [
            (r["vec_id"], r["score"]) for r in want
        ]

    def test_hybrid_text_tokenizes_and_matches_explicit(self, spark, tmp_path):
        from astro_vectordb_spark.functions.embed import (
            embed_query_text,
            embed_text,
        )
        from astro_vectordb_spark.operators.keyword import bm25_term_stats
        from astro_vectordb_spark.search import (
            hybrid_search,
            hybrid_search_text,
        )
        from astro_vectordb_spark.sources.vault import save_bm25_index

        docs = spark.createDataFrame(
            [
                (0, "spark merge join table"),
                (1, "merge join row group"),
                (2, "hash table scan filter"),
                (3, "window agg sort spill"),
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

        got = hybrid_search_text(
            spark, vec_path, bm25_path, docs, "  Merge   SPARK ", k=3,
        ).collect()
        qv = embed_query_text("  Merge   SPARK ")
        want = hybrid_search(
            spark, vec_path, bm25_path, docs, qv, ["merge", "spark"], k=3,
        ).collect()
        assert [(r["doc_id"], r["score"]) for r in got] == [
            (r["doc_id"], r["score"]) for r in want
        ]

    def test_hybrid_text_empty_query_raises(self, spark, tmp_path):
        from astro_vectordb_spark.search import hybrid_search_text

        docs = spark.createDataFrame(
            [(0, "a")], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="no tokens"):
            hybrid_search_text(
                spark, str(tmp_path), str(tmp_path), docs, "   ", k=3
            )

    def test_injected_encoder_drives_search_text(self, spark, tmp_path):
        # registry contract end to end: a custom model name changes
        # the query vector the facade searches with
        import numpy as np
        import pandas as pd

        from astro_vectordb_spark.functions.embed import register_encoder
        from astro_vectordb_spark.search import search_text

        def one_hot_factory(dim=4, **_):
            def kernel(texts: pd.Series) -> pd.Series:
                out = []
                for t in texts:
                    v = np.zeros(dim, dtype=np.float32)
                    v[len(str(t)) % dim] = 1.0
                    out.append(v)
                return pd.Series(out)
            return kernel

        register_encoder("onehot4", one_hot_factory)
        vecs = spark.createDataFrame(
            [(i, [1.0 if j == i else 0.0 for j in range(4)])
             for i in range(4)],
            "vec_id long, embedding array<float>",
        )
        vec_path = str(tmp_path / "oh.parquet")
        vecs.write.parquet(vec_path)
        got = search_text(
            spark, vec_path, "ab", k=1, dim=4, model="onehot4"
        ).collect()
        assert got[0]["vec_id"] == 2  # len("ab") % 4


def test_hybrid_text_batch_matches_single_text_face(spark, tmp_path):
    from astro_vectordb_spark.functions.embed import embed_text
    from astro_vectordb_spark.operators.keyword import bm25_term_stats
    from astro_vectordb_spark.search import (
        hybrid_search_text,
        hybrid_search_text_batch,
    )
    from astro_vectordb_spark.sources.vault import save_bm25_index

    docs = spark.createDataFrame(
        [
            (0, "spark merge join table"),
            (1, "merge join row group"),
            (2, "hash table scan filter"),
            (3, "window agg sort spill"),
            (4, "join merge spark batch"),
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

    texts = {0: "Merge  SPARK", 1: "hash table scan", 2: "window agg"}
    qs = spark.createDataFrame(
        list(texts.items()), "query_id long, query_text string"
    )
    got = hybrid_search_text_batch(
        spark, vec_path, bm25_path, docs, qs, k=3, fetch_k=6
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, qt in texts.items():
        want = hybrid_search_text(
            spark, vec_path, bm25_path, docs, qt, k=3, fetch_k=6
        ).collect()
        assert sorted(by_q.get(qid, [])) == sorted(
            (r["doc_id"], r["score"]) for r in want
        ), f"query {qid}"


class TestAdaptiveRefinePassThrough:
    """Round-14: adaptive_refine= threads through both facades to the
    PQ / IVF-PQ serving paths; on separable data the adaptive result
    equals the fixed-pool result exactly."""

    def _queries(self, spark, corpus, qids=(3, 77, 200)):
        _, pts = corpus
        return spark.createDataFrame(
            [(q, [float(x) for x in pts[q]]) for q in qids],
            "query_id long, query_vec array<float>",
        )

    def test_single_and_batch_pq(self, spark, corpus, qv, tmp_path):
        from astro_vectordb_spark.operators.pq import pq_encode, pq_train
        from astro_vectordb_spark.search import search_batch
        from astro_vectordb_spark.sources.vault import save_pq_index

        df, _ = corpus
        model = pq_train(df, m=8, ks=32, metric="cosine", max_rows=N,
                         seed=2)
        assert model.train_mse is not None
        path = str(tmp_path / "pq_ar")
        save_pq_index(pq_encode(df, model), model, path)
        fixed = [(r.vec_id, r.score) for r in search(
            spark, path, qv, 10, vectors=df).collect()]
        adapt = [(r.vec_id, r.score) for r in search(
            spark, path, qv, 10, vectors=df, adaptive_refine=True
        ).collect()]
        assert adapt == fixed
        qdf = self._queries(spark, corpus)
        bf = sorted((r.query_id, r.vec_id, r.score) for r in search_batch(
            spark, path, qdf, 10, vectors=df).collect())
        ba = sorted((r.query_id, r.vec_id, r.score) for r in search_batch(
            spark, path, qdf, 10, vectors=df, adaptive_refine=True
        ).collect())
        assert ba == bf

    def test_batch_ivf_pq(self, spark, corpus, tmp_path):
        from astro_vectordb_spark.operators.pq import ivf_pq_build
        from astro_vectordb_spark.search import search_batch
        from astro_vectordb_spark.sources.vault import save_ivf_pq_index

        df, _ = corpus
        encoded, cents, model = ivf_pq_build(
            df, k_cells=8, m=8, ks=32, metric="cosine", max_rows=N,
        )
        path = str(tmp_path / "ivfpq_ar")
        save_ivf_pq_index(encoded, cents, model, path)
        qdf = self._queries(spark, corpus)
        bf = sorted((r.query_id, r.vec_id, r.score) for r in search_batch(
            spark, path, qdf, 10, vectors=df, nprobe=8).collect())
        ba = sorted((r.query_id, r.vec_id, r.score) for r in search_batch(
            spark, path, qdf, 10, vectors=df, nprobe=8,
            adaptive_refine=True,
        ).collect())
        assert ba == bf


def _count_jobs(spark, group, action):
    """Spark jobs ``action()`` runs, counted in its own job group after
    the listener bus drains (the status store is fed asynchronously)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "serve-path job count")
    try:
        action()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


_DOCS = [
    (0, "spark merge join table"),
    (1, "merge join row group"),
    (2, "hash table scan filter"),
    (3, "spark spark merge hash"),
    (4, "window agg sort spill"),
    (5, "join merge spark batch"),
    (6, "vector index graph beam"),
    (7, "scan filter merge spark"),
]


# Warm job counts of hybrid_search_text(prf=True, snippets=True) and of
# its batch face, as measured before the single and batch faces shared
# one per-query core; a later change may lower them, never raise them.
PRF_SNIPPET_JOBS = 13
PRF_SNIPPET_BATCH_JOBS = 32


class TestServeControlPlane:
    """A warm single-query call on persisted indexes runs only the jobs
    that compute its answer: schemas, ``_meta`` and the BM25 corpus
    stats come from the version-keyed control-plane memo, and the HNSW
    query vector ships to the shard tasks without a frame."""

    @pytest.fixture(scope="class")
    def served(self, spark, corpus, tmp_path_factory):
        from astro_vectordb_spark.functions.embed import embed_text
        from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
        from astro_vectordb_spark.operators.keyword import bm25_term_stats
        from astro_vectordb_spark.sources.vault import (
            save_bm25_index,
            save_hnsw_index,
        )

        df, _ = corpus
        root = tmp_path_factory.mktemp("serve_ctrl")
        paths = {n: str(root / n) for n in
                 ("vectors", "hnsw", "docs", "doc_vectors", "bm25")}
        df.write.parquet(paths["vectors"])
        save_hnsw_index(
            hnsw_build_shards(df, num_shards=2, ef_construction=40),
            paths["hnsw"], m=16, metric="cosine",
        )
        spark.createDataFrame(_DOCS, "doc_id long, text string").write.parquet(
            paths["docs"]
        )
        docs = spark.read.parquet(paths["docs"])
        embed_text(docs).select(
            F.col("doc_id").alias("vec_id"), "embedding"
        ).write.parquet(paths["doc_vectors"])
        ts, cs = bm25_term_stats(docs)
        save_bm25_index(ts, cs, paths["bm25"])
        return paths, docs

    def _warm_jobs(self, spark, name, action):
        action()
        return _count_jobs(spark, f"serve-ctrl-{name}", action)

    def test_exact_search_one_job(self, spark, served, qv):
        paths, _ = served
        n = self._warm_jobs(
            spark, "exact",
            lambda: search(spark, paths["vectors"], qv, 10).collect(),
        )
        assert n <= 1, n

    def test_hnsw_search_at_most_two_jobs(self, spark, served, qv):
        paths, _ = served
        n = self._warm_jobs(
            spark, "hnsw",
            lambda: search(spark, paths["hnsw"], qv, 10).collect(),
        )
        assert n <= 2, n

    def test_hybrid_search_text_at_most_two_jobs(self, spark, served):
        from astro_vectordb_spark.search import hybrid_search_text

        paths, docs = served
        n = self._warm_jobs(
            spark, "hybrid",
            lambda: hybrid_search_text(
                spark, paths["doc_vectors"], paths["bm25"], docs,
                "merge spark join", 5,
            ).collect(),
        )
        assert n <= 2, n

    def test_hybrid_search_text_prf_snippets_jobs(self, spark, served):
        """The full retrieve -> expand -> fuse -> highlight loop: the
        baseline job count for PRF query expansion plus snippets."""
        from astro_vectordb_spark.search import hybrid_search_text

        paths, docs = served
        n = self._warm_jobs(
            spark, "hybrid-prf-snip",
            lambda: hybrid_search_text(
                spark, paths["doc_vectors"], paths["bm25"], docs,
                "merge spark join", 5, prf=True, n_feedback=3, n_expand=2,
                snippets=True,
            ).collect(),
        )
        assert n <= PRF_SNIPPET_JOBS, n

    def test_hybrid_search_text_batch_prf_snippets_jobs(self, spark, served):
        from astro_vectordb_spark.search import hybrid_search_text_batch
        from astro_vectordb_spark.session import local_frame

        paths, docs = served
        queries = local_frame(
            spark, [(0, "merge spark join"), (1, "vector graph beam")],
            "query_id long, query_text string",
        )
        n = self._warm_jobs(
            spark, "hybrid-batch-prf-snip",
            lambda: hybrid_search_text_batch(
                spark, paths["doc_vectors"], paths["bm25"], docs, queries, 5,
                prf=True, n_feedback=3, n_expand=2, snippets=True,
            ).collect(),
        )
        assert n <= PRF_SNIPPET_BATCH_JOBS, n

    def test_hybrid_over_local_docs_with_few_matches(self, spark, served):
        """A docs frame built from driver rows (as a pandas-fed caller
        passes it) on a query that matches fewer than k documents: the
        BM25 top-k stays a TakeOrderedAndProject, and the rows equal
        those over the parquet-backed docs."""
        from astro_vectordb_spark.search import hybrid_search_text
        from astro_vectordb_spark.session import local_frame

        paths, docs = served
        local = local_frame(spark, _DOCS, "doc_id long, text string")

        def run(d):
            return hybrid_search_text(
                spark, paths["doc_vectors"], paths["bm25"], d,
                "vector graph beam", 5,
            ).collect()

        got = []

        def act():
            got[:] = run(local)

        n = self._warm_jobs(spark, "hybrid-local", act)
        assert n <= 2, n
        assert got and got == run(docs)

    def test_bm25_corpus_stats_first_runs_no_job(self, spark, served):
        from astro_vectordb_spark.sources.vault import load_bm25_index

        paths, _ = served
        n = self._warm_jobs(
            spark, "bm25-first",
            lambda: load_bm25_index(spark, paths["bm25"])[1].first(),
        )
        assert n == 0, n


class TestMaintenanceControlPlane:
    """A warm maintenance call, and the read after it, runs only the
    jobs that compute its answer: ``_meta`` and schemas come from the
    control-plane memo, HNSW writes leave ``_meta`` alone and seed the
    schema of the graph version they commit, and the HNSW remove
    bookkeeping is one aggregation."""

    @pytest.fixture
    def hnsw_path(self, corpus, tmp_path):
        from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
        from astro_vectordb_spark.sources.vault import save_hnsw_index

        df, _ = corpus
        path = str(tmp_path / "hnsw1")
        save_hnsw_index(
            hnsw_build_shards(df, num_shards=1, ef_construction=40),
            path, m=16, metric="cosine",
        )
        return path

    @pytest.fixture(scope="class")
    def minhash_path(self, spark, tmp_path_factory):
        from astro_vectordb_spark.sources.vault import save_minhash_index

        path = str(tmp_path_factory.mktemp("maint_ctrl") / "minhash")
        save_minhash_index(
            spark.createDataFrame(_DOCS, "doc_id long, text string"), path,
            num_hashes=16, bands=4,
        )
        return path

    @staticmethod
    def _batch(spark, corpus, first_id, n=4):
        _, pts = corpus
        rows = [
            (first_id + i, [float(x) + 1e-3 for x in pts[(7 * i) % N]])
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def _jobs(self, spark, name, action):
        return _count_jobs(spark, f"maint-ctrl-{name}", action)

    def test_neardup_open_runs_no_job(self, spark, minhash_path):
        from astro_vectordb_spark import neardup

        neardup.open(spark, minhash_path)
        n = self._jobs(spark, "nd-open",
                       lambda: neardup.open(spark, minhash_path))
        assert n == 0, n

    def test_minhash_match_at_most_five_jobs(self, spark, minhash_path):
        from astro_vectordb_spark import neardup
        from astro_vectordb_spark.session import local_frame

        # an Arrow-built batch, as a pandas-fed caller passes it; a
        # Python-RDD frame would add a job of its own
        batch = local_frame(
            spark,
            [(100, "spark merge join table"), (101, "vector graph beam")],
            "doc_id long, text string",
        )

        def match():
            return neardup.open(spark, minhash_path).match(
                batch, threshold=0.7).collect()

        match()
        got = []
        n = self._jobs(spark, "nd-match", lambda: got.extend(match()))
        assert n <= 5, n
        assert {(r.new_id, r.hist_id) for r in got} >= {(100, 0)}

    def test_hnsw_append_then_search(self, spark, corpus, hnsw_path):
        idx = index.open(spark, hnsw_path)
        idx.append(self._batch(spark, corpus, 10_000))
        batch = self._batch(spark, corpus, 20_000)
        touched = []
        n = self._jobs(spark, "hnsw-append",
                       lambda: touched.extend(idx.append(batch)))
        assert n <= 3, n
        assert touched == [0]
        probe = [float(x) + 1e-3 for x in corpus[1][7]]
        hits = []
        n = self._jobs(spark, "hnsw-search-after-append", lambda: hits.extend(
            search(spark, hnsw_path, probe, 5).collect()))
        assert n <= 2, n
        assert 20_001 in {r.vec_id for r in hits}

    def test_hnsw_sweep_remove_then_search(self, spark, corpus, qv, hnsw_path):
        idx = index.open(spark, hnsw_path)
        idx.remove([1, 2], mode="sweep")
        gone = [r.vec_id for r in search(spark, hnsw_path, qv, 3).collect()]
        rep = {}
        n = self._jobs(spark, "hnsw-remove", lambda: rep.update(
            idx.remove(gone, mode="sweep")))
        assert n <= 8, n
        assert (rep["removed_rows"], rep["swept_shards"]) == (3, [0])
        hits = []
        n = self._jobs(spark, "hnsw-search-after-remove", lambda: hits.extend(
            search(spark, hnsw_path, qv, 10).collect()))
        assert n <= 2, n
        assert len(hits) == 10 and not set(gone) & {r.vec_id for r in hits}

    def test_two_shard_append_and_update(self, spark, corpus, tmp_path):
        from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
        from astro_vectordb_spark.sources.vault import (
            load_hnsw_index,
            save_hnsw_index,
        )

        df, pts = corpus
        p = str(tmp_path / "hnsw2")
        save_hnsw_index(
            hnsw_build_shards(df, num_shards=2, ef_construction=40), p, m=16
        )
        idx = index.open(spark, p)
        idx.append(self._batch(spark, corpus, 10_000))
        batch = self._batch(spark, corpus, 20_000, n=16)
        n = self._jobs(spark, "hnsw2-append", lambda: idx.append(batch))
        assert n <= 6, n
        # existing ids from both shards, with moved vectors: each must
        # update in place in its home shard
        upd = spark.createDataFrame(
            [(int(i), [float(x) + 0.5 for x in pts[i]])
             for i in range(0, 16, 2)],
            "vec_id long, embedding array<float>",
        )
        idx.append(upd, on_conflict="update")
        upd2 = upd.select(
            "vec_id",
            F.transform("embedding", lambda x: x + F.lit(0.25)).alias(
                "embedding"),
        )
        n = self._jobs(spark, "hnsw2-update",
                       lambda: idx.append(upd2, on_conflict="update"))
        assert n <= 6, n
        graph, _ = load_hnsw_index(spark, p)
        ids = [r.vec_id for r in graph.select("vec_id").collect()]
        assert len(ids) == len(set(ids)) == N + 4 + 16
        got = {r.vec_id: r.embedding for r in graph.filter(
            F.col("vec_id") < 16).collect()}
        for i in range(0, 16, 2):
            assert np.allclose(got[i], pts[i] + 0.75, atol=1e-5)

    def test_exact_search_after_same_schema_append(self, spark, corpus, qv,
                                                   tmp_path):
        from astro_vectordb_spark.sources.vault import (
            load_embeddings,
            save_embeddings,
        )

        df, pts = corpus
        p = str(tmp_path / "vectors")
        save_embeddings(df, p)
        search(spark, p, qv, 5).collect()
        axis = [1.0] + [0.0] * (DIM - 1)
        save_embeddings(
            spark.createDataFrame([(50_000, axis)],
                                  "vec_id long, embedding array<float>"),
            p, mode="append",
        )
        hits = []
        n = self._jobs(spark, "exact-after-append", lambda: hits.extend(
            search(spark, p, axis, 1).collect()))
        assert n <= 1, n
        assert hits[0].vec_id == 50_000
        assert load_embeddings(spark, p).schema == spark.read.parquet(p).schema

    def test_graph_writes_leave_one_file_per_shard(self, spark, corpus,
                                                    tmp_path):
        import os

        from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
        from astro_vectordb_spark.sources.vault import save_hnsw_index

        df, _ = corpus
        p = str(tmp_path / "hnsw4")
        save_hnsw_index(hnsw_build_shards(df, num_shards=4), p, m=16)
        idx = index.open(spark, p)

        def parquet_files():
            g = os.path.join(p, "graph")
            return {
                d: sum(f.endswith(".parquet")
                       for f in os.listdir(os.path.join(g, d)))
                for d in os.listdir(g) if d.startswith("shard_id=")
            }

        touched = idx.append(self._batch(spark, corpus, 30_000, n=16))
        assert len(touched) >= 2, touched
        rep = idx.remove([1, 2, 3, 4, 5, 6, 7, 8], mode="sweep")
        assert len(rep["swept_shards"]) >= 2, rep
        split = index.open(spark, p).rebalance(
            target_rows_per_shard=N // 8, skew_threshold=1.0
        )
        assert len(split) == 4 and all(len(v) >= 2 for v in split.values())
        files = parquet_files()
        assert len(files) > 4 and set(files.values()) == {1}, files

    def test_empty_append_touches_nothing(self, spark, hnsw_path):
        from astro_vectordb_spark.sources.vault import _listing

        before = _listing(spark, hnsw_path + "/graph")
        empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
        assert index.open(spark, hnsw_path).append(empty) == []
        assert _listing(spark, hnsw_path + "/graph") == before

    @pytest.fixture(scope="class")
    def kind_paths(self, spark, corpus, tmp_path_factory):
        """One IVF (with cell stats), PQ, IVF-PQ and BM25 index each:
        the kinds whose maintenance the perfbench churn does not run."""
        from astro_vectordb_spark.operators.ann import (
            ivf_build,
            ivf_cell_stats,
        )
        from astro_vectordb_spark.operators.keyword import bm25_term_stats
        from astro_vectordb_spark.operators.pq import (
            ivf_pq_build,
            pq_encode,
            pq_train,
        )
        from astro_vectordb_spark.sources.vault import (
            save_bm25_index,
            save_ivf_index,
            save_ivf_pq_index,
            save_pq_index,
        )

        df, _ = corpus
        root = tmp_path_factory.mktemp("maint_kinds")
        paths = {k: str(root / k) for k in ("ivf", "pq", "ivf_pq", "bm25")}
        assigned, cents = ivf_build(df, k_cells=4)
        save_ivf_index(assigned, cents, paths["ivf"],
                       cell_stats=ivf_cell_stats(assigned, cents))
        model = pq_train(df, m=8, ks=16, max_rows=N, seed=3)
        save_pq_index(pq_encode(df, model), model, paths["pq"])
        enc, c2, m2 = ivf_pq_build(df, k_cells=4, m=8, ks=16, max_rows=N,
                                   seed=3)
        save_ivf_pq_index(enc, c2, m2, paths["ivf_pq"])
        ts, cs = bm25_term_stats(
            spark.createDataFrame(_DOCS, "doc_id long, text string"))
        save_bm25_index(ts, cs, paths["bm25"])
        return paths

    @staticmethod
    def _local_batch(spark, corpus, kind, first_id, n=4):
        from astro_vectordb_spark.session import local_frame

        if kind == "bm25":
            return local_frame(
                spark, [(first_id + i, _DOCS[i][1]) for i in range(n)],
                "doc_id long, text string",
            )
        _, pts = corpus
        return local_frame(
            spark,
            [(first_id + i, [float(x) + 1e-3 for x in pts[(7 * i) % N]])
             for i in range(n)],
            "vec_id long, embedding array<float>",
        )

    # Jobs of a warm call on the kinds perfbench does not measure,
    # counted before the kind objects replaced the per-kind vault
    # functions; each pin is that count.  IVF's append keeps no replay
    # log, so it takes no batch_id.
    @pytest.mark.parametrize("kind,op,bound", [
        ("ivf", "append", 18), ("ivf", "remove", 26),
        ("pq", "append", 22), ("pq", "remove", 24),
        ("ivf_pq", "append", 27), ("ivf_pq", "remove", 24),
        ("bm25", "append", 22), ("bm25", "remove", 31),
    ])
    def test_kind_write_job_pins(self, spark, corpus, kind_paths, kind, op,
                                 bound):
        idx = index.open(spark, kind_paths[kind])
        logged = kind != "ivf"
        if op == "append":
            calls = [(self._local_batch(spark, corpus, kind, first), bid)
                     for first, bid in ((40_000, 1), (50_000, 2))]
            run = idx.append
        else:
            # BM25 removes the docs it indexed (the statistics need the
            # text); the vector kinds remove stored ids
            calls = [
                (self._local_batch(spark, corpus, kind, first, n=2)
                 if kind == "bm25" else [first, first + 1], bid)
                for first, bid in ((0, 3), (2, 4))
            ]
            run = idx.remove
        kws = [{"batch_id": bid} if logged else {} for _, bid in calls]
        run(calls[0][0], **kws[0])
        rep = []
        n = self._jobs(spark, f"{kind}-{op}",
                       lambda: rep.append(run(calls[1][0], **kws[1])))
        assert n <= bound, n
        if kind == "ivf" and op == "append":
            assert rep == [None]
        else:
            assert not rep[0].get("skipped_replay"), rep

    @pytest.mark.parametrize("rewrite,bound", [(False, 6), (True, 9)])
    def test_pq_compact_job_pins(self, spark, kind_paths, rewrite, bound):
        idx = index.open(spark, kind_paths["pq"])
        # min_file_ratio=0 rewrites every time, into one file
        kw = ({"target_rows_per_file": 10 * N, "min_file_ratio": 0.0}
              if rewrite else {})
        idx.compact(**kw)
        rep = {}
        n = self._jobs(spark, f"pq-compact-{rewrite}",
                       lambda: rep.update(idx.compact(**kw)))
        assert n <= bound, n
        assert rep["compacted"] is rewrite


class TestControlMemoStaleness:
    """Each test changes a table at the SAME path after a read filled
    the control-plane memo; the next read must see the new state."""

    def test_hnsw_rebuilt_quantized(self, spark, corpus, qv, tmp_path):
        from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
        from astro_vectordb_spark.sources.vault import (
            load_hnsw_index,
            save_hnsw_index,
        )

        df, _ = corpus
        p = str(tmp_path / "hnsw_q")
        save_hnsw_index(hnsw_build_shards(df, num_shards=2), p, m=16)
        before = search(spark, p, qv, 10).collect()
        assert "embedding" in load_hnsw_index(spark, p)[0].columns
        save_hnsw_index(
            hnsw_build_shards(df, num_shards=2, quantize=True), p, m=16
        )
        graph, _ = load_hnsw_index(spark, p)
        assert "qvec" in graph.columns and "embedding" not in graph.columns
        after = search(spark, p, qv, 10).collect()
        assert len(after) == 10
        # quantized scores differ, the neighbourhood does not
        assert after[0].vec_id == before[0].vec_id

    def test_hnsw_rebuilt_with_new_m_and_metric(
        self, spark, corpus, qv, tmp_path
    ):
        from astro_vectordb_spark.operators.hnsw import (
            hnsw_build_shards,
            hnsw_query_shards,
        )
        from astro_vectordb_spark.sources.vault import (
            load_hnsw_index,
            save_hnsw_index,
        )

        df, _ = corpus
        p = str(tmp_path / "hnsw_m")
        save_hnsw_index(
            hnsw_build_shards(df, num_shards=2, m=8), p, m=8, metric="cosine"
        )
        search(spark, p, qv, 10).collect()
        save_hnsw_index(
            hnsw_build_shards(df, num_shards=2, m=16, metric="euclidean"),
            p, m=16, metric="euclidean",
        )
        _, meta = load_hnsw_index(spark, p)
        assert (meta["m"], meta["metric"]) == (16, "euclidean")
        got = [(r.vec_id, r.score) for r in search(spark, p, qv, 10).collect()]
        want = sorted(
            ((r.vec_id, r.score) for r in hnsw_query_shards(
                spark.read.parquet(p + "/graph"), [qv], k=10, m=16,
                metric="euclidean",
            ).collect()),
            key=lambda t: (-t[1], t[0]),
        )
        assert got == want

    def test_bm25_rebuilt_in_place(self, spark, tmp_path):
        from astro_vectordb_spark.operators.keyword import bm25_term_stats
        from astro_vectordb_spark.sources.vault import (
            load_bm25_index,
            save_bm25_index,
        )

        p = str(tmp_path / "bm25_re")
        a = spark.createDataFrame(_DOCS[:4], "doc_id long, text string")
        save_bm25_index(*bm25_term_stats(a), p)
        ts, cs = load_bm25_index(spark, p)
        assert cs.first()["n"] == 4
        assert ts.filter(F.col("term") == "vector").count() == 0
        b = spark.createDataFrame(_DOCS, "doc_id long, text string")
        save_bm25_index(*bm25_term_stats(b), p)
        ts, cs = load_bm25_index(spark, p)
        assert cs.first()["n"] == len(_DOCS)
        assert ts.filter(F.col("term") == "vector").first()["df"] == 1

    def test_plain_table_append_then_wider_overwrite(
        self, spark, corpus, qv, tmp_path
    ):
        from astro_vectordb_spark.sources.vault import load_embeddings

        df, _ = corpus
        p = str(tmp_path / "plain")
        df.write.parquet(p)
        first = search(spark, p, qv, 3).collect()
        axis = [1.0] + [0.0] * (DIM - 1)
        assert search(spark, p, axis, 1).collect()[0].vec_id != 10_000
        spark.createDataFrame(
            [(10_000, axis)], "vec_id long, embedding array<float>"
        ).write.mode("append").parquet(p)
        assert search(spark, p, axis, 1).collect()[0].vec_id == 10_000
        df.withColumn("label", F.lit(7)).write.mode("overwrite").parquet(p)
        table = load_embeddings(spark, p)
        assert table.columns == ["vec_id", "embedding", "label"]
        assert table.count() == N
        assert [r.vec_id for r in search(spark, p, qv, 3).collect()] == [
            r.vec_id for r in first
        ]

    def test_append_with_extra_column_infers_the_schema(
        self, spark, corpus, qv, tmp_path
    ):
        from astro_vectordb_spark.sources.vault import (
            load_embeddings,
            save_embeddings,
        )

        df, pts = corpus
        p = str(tmp_path / "wider_append")
        save_embeddings(df, p)
        assert load_embeddings(spark, p).columns == ["vec_id", "embedding"]
        save_embeddings(
            spark.createDataFrame(
                [(60_000, [float(x) for x in pts[3]], 7)],
                "vec_id long, embedding array<float>, label int",
            ),
            p, mode="append",
        )
        assert load_embeddings(spark, p).schema == spark.read.parquet(p).schema
        assert load_embeddings(spark, p).count() == N + 1

    def test_neardup_append_then_remove_show_in_next_open(
        self, spark, tmp_path
    ):
        from astro_vectordb_spark import neardup
        from astro_vectordb_spark.sources.vault import save_minhash_index

        p = str(tmp_path / "mh_counts")
        save_minhash_index(
            spark.createDataFrame(_DOCS, "doc_id long, text string"), p
        )
        idx = neardup.open(spark, p)
        assert idx.meta["n_rows"] == len(_DOCS)
        idx.append(spark.createDataFrame(
            [(50, "graph beam vector"), (51, "spill sort agg")],
            "doc_id long, text string",
        ))
        assert neardup.open(spark, p).meta["n_rows"] == len(_DOCS) + 2
        idx.remove([50, 51, 0])
        assert neardup.open(spark, p).meta["n_rows"] == len(_DOCS) - 1

    def test_meta_read_through_crashed_swap_is_not_remembered(
        self, spark, tmp_path
    ):
        import os

        from astro_vectordb_spark import neardup
        from astro_vectordb_spark.sources import vault

        p = str(tmp_path / "mh_swap")
        vault.save_minhash_index(
            spark.createDataFrame(_DOCS, "doc_id long, text string"), p
        )
        mp = os.path.join(p, "_meta")
        os.rename(mp, mp + ".__swap_old")  # crash between the two renames
        hits = vault._CONTROL_MEMO.hits
        idx = neardup.open(spark, p)
        assert (idx.family, idx.meta["n_rows"]) == ("minhash", len(_DOCS))
        assert neardup.open(spark, p).meta == idx.meta
        assert vault._CONTROL_MEMO.hits == hits  # loaded twice, kept never
        idx.append(spark.createDataFrame(
            [(60, "graph beam vector")], "doc_id long, text string"
        ))
        assert os.path.isdir(mp) and not os.path.exists(mp + ".__swap_old")
        assert neardup.open(spark, p).meta["n_rows"] == len(_DOCS) + 1

    def test_hnsw_shard_ids_follow_split_and_emptied_shard(
        self, spark, corpus, tmp_path
    ):
        from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
        from astro_vectordb_spark.sources.vault import (
            _listing,
            load_hnsw_index,
            save_hnsw_index,
        )

        df, _ = corpus
        p = str(tmp_path / "hnsw_split")
        save_hnsw_index(hnsw_build_shards(df, num_shards=1), p, m=16)
        meta_files = _listing(spark, p + "/_meta")
        assert load_hnsw_index(spark, p)[1]["shard_ids"] == [0]
        split = index.open(spark, p).rebalance(
            target_rows_per_shard=N // 3, skew_threshold=1.0
        )
        assert split == {0: [0, 1, 2]}
        graph, meta = load_hnsw_index(spark, p)
        assert meta["shard_ids"] == [0, 1, 2]
        gone = [r.vec_id for r in graph.filter(F.col("shard_id") == 2)
                .select("vec_id").collect()]
        rep = index.open(spark, p).remove(gone)
        assert rep["emptied_shards"] == [2]
        graph, meta = load_hnsw_index(spark, p)
        assert meta["shard_ids"] == [0, 1]
        assert graph.count() == N - len(gone)
        assert _listing(spark, p + "/_meta") == meta_files

    @pytest.mark.parametrize("quantize", [False, True])
    def test_graph_writes_seed_the_schema_a_read_infers(
        self, spark, corpus, qv, tmp_path, quantize
    ):
        from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
        from astro_vectordb_spark.sources.vault import (
            load_hnsw_index,
            save_hnsw_index,
        )

        df, pts = corpus
        p = str(tmp_path / f"hnsw_seed_{quantize}")
        save_hnsw_index(
            hnsw_build_shards(df, num_shards=2, quantize=quantize), p, m=16
        )
        idx = index.open(spark, p)
        batch = spark.createDataFrame(
            [(9_000 + i, [float(x) for x in pts[i]]) for i in range(3)],
            "vec_id long, embedding array<float>",
        )
        for write in (lambda: idx.append(batch),
                      lambda: idx.remove([9_000, 5], mode="sweep")):
            write()
            graph = []
            n = _count_jobs(spark, f"seed-{quantize}",
                            lambda: graph.append(load_hnsw_index(spark, p)[0]))
            assert n == 0, n
            assert graph[0].schema == spark.read.parquet(p + "/graph").schema
        assert len(search(spark, p, qv, 10).collect()) == 10

    def test_memo_stores_only_if_version_held_and_stays_bounded(self):
        from astro_vectordb_spark.sources.vault import BoundedMemo

        memo = BoundedMemo(cap=2)
        loads = []

        def load(v):
            return lambda: loads.append(v) or v

        # a commit lands during the load: served, not remembered
        assert memo.fetch(("t", "p", 1), load("a"), lambda: ("t", "p", 2)) == "a"
        assert memo.fetch(("t", "p", 1), load("b"), lambda: ("t", "p", 1)) == "b"
        assert memo.fetch(("t", "p", 1), load("c"), lambda: ("t", "p", 1)) == "b"
        assert loads == ["a", "b"]
        assert (memo.hits, memo.misses) == (1, 2)
        # LRU: touching p keeps it when a third key evicts
        memo.fetch(("t", "q", 1), load("q"), lambda: ("t", "q", 1))
        memo.fetch(("t", "p", 1), load("x"), lambda: ("t", "p", 1))
        memo.fetch(("t", "r", 1), load("r"), lambda: ("t", "r", 1))
        assert memo.evictions == 1
        assert memo.fetch(("t", "p", 1), load("y"), lambda: None) == "b"
        assert memo.fetch(("t", "q", 1), load("q2"), lambda: None) == "q2"
        # no key: always loads, never stores
        assert memo.fetch(None, load("n"), lambda: None) == "n"
        assert memo.fetch(None, load("m"), lambda: None) == "m"

    def test_memo_under_thread_contention(self):
        """More threads than cores hammer a small memo with a short
        switch interval: every fetch returns its key's value, the bound
        holds, and each lookup counts once."""
        import sys
        import threading

        from astro_vectordb_spark.sources.vault import BoundedMemo

        memo = BoundedMemo(cap=4)
        errors = []
        n_threads, n_calls = 16, 2000

        def work(t):
            try:
                for i in range(n_calls):
                    key = ("t", "p", (t + i) % 7)
                    if memo.fetch(key, lambda k=key: k[2], lambda k=key: k) != key[2]:
                        errors.append(key)
            except Exception as e:  # surfaced by the assert below
                errors.append(e)

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=work, args=(t,))
                       for t in range(n_threads)]
            for th in threads:
                th.start()
            for th in threads:
                th.join(timeout=60)
        finally:
            sys.setswitchinterval(old)
        assert not any(th.is_alive() for th in threads)
        assert errors == []
        assert len(memo._entries) <= 4
        assert memo.hits + memo.misses == n_threads * n_calls
