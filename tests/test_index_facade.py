"""Unified ANN/lexical index maintenance facade (round-15 verdict
item 6): ``index.open(spark, path)`` auto-detects ivf / hnsw / pq /
ivf_pq / bm25 from the on-disk layout and calls that kind's object
for append / remove / compact / rebalance / health / refresh / gc /
search — the maintenance analogue of ``search.search`` and
``neardup.open``, and the only maintenance surface of these kinds."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from astro_vectordb_spark import index

DIM = 16
N = 400


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.RandomState(5)
    C = rng.randn(8, DIM)
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    X = (C[rng.randint(0, 8, N)] + 0.05 * rng.randn(N, DIM)).astype(
        np.float32
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(N)],
        "vec_id long, embedding array<float>",
    ).cache()
    df.count()
    yield df
    df.unpersist()


def _extra(spark, n=5, start=9000):
    rng = np.random.RandomState(99)
    return spark.createDataFrame(
        [(start + i, [float(x) for x in rng.randn(DIM)])
         for i in range(n)],
        "vec_id long, embedding array<float>",
    )


class TestKindMatrix:
    def test_ivf(self, spark, embeddings, tmp_path):
        from astro_vectordb_spark.operators.ann import ivf_build
        from astro_vectordb_spark.sources.vault import save_ivf_index

        assigned, cents = ivf_build(embeddings, k_cells=4)
        path = str(tmp_path / "ivf")
        save_ivf_index(assigned, cents, path)
        idx = index.open(spark, path)
        assert idx.kind == "ivf"
        idx.append(_extra(spark))
        rep = idx.remove([9000, 9001])
        assert rep["removed_rows"] >= 2
        qv = embeddings.first()["embedding"]
        assert len(idx.search(qv, k=5, nprobe=4).collect()) == 5
        with pytest.raises(ValueError, match="refresh"):
            idx.refresh(embeddings)

    def test_hnsw(self, spark, embeddings, tmp_path):
        from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
        from astro_vectordb_spark.sources.vault import save_hnsw_index

        graph = hnsw_build_shards(embeddings, num_shards=2,
                                  ef_construction=40)
        path = str(tmp_path / "hnsw")
        save_hnsw_index(graph, path, m=16, metric="cosine")
        idx = index.open(spark, path)
        assert idx.kind == "hnsw"
        stats = idx.health()
        assert stats["num_shards"] == 2 and "m" in stats
        idx.append(_extra(spark), seed=3)
        idx.remove([9000])
        rep = idx.rebalance(target_rows_per_shard=100_000)
        assert "rebalanced" in rep or isinstance(rep, dict)
        with pytest.raises(ValueError, match="rebalance"):
            idx.compact()

    def test_pq(self, spark, embeddings, tmp_path):
        from astro_vectordb_spark.operators.pq import pq_encode, pq_train
        from astro_vectordb_spark.sources.vault import save_pq_index

        model = pq_train(embeddings, m=8, ks=16, max_rows=N, seed=3)
        path = str(tmp_path / "pq")
        save_pq_index(pq_encode(embeddings, model), model, path)
        idx = index.open(spark, path)
        assert idx.kind == "pq"
        rep = idx.append(_extra(spark), batch_id=1)
        assert rep["appended_rows"] == 5 and rep["batch_mse"] is not None
        idx.remove([9000], batch_id=2)
        rep = idx.compact(target_rows_per_file=1, min_file_ratio=0.0)
        assert rep["compacted"] in (True, False)
        out = idx.refresh(
            embeddings.unionByName(_extra(spark)).filter(
                ~F.col("vec_id").isin([9000])
            ),
            seed=3,
        )
        assert out["reencoded_rows"] == N + 4
        gc_rep = idx.gc(keep_last_batches=1)
        assert "compacted" in gc_rep
        qv = embeddings.first()["embedding"]
        got = idx.search(qv, k=5, vectors=embeddings)
        assert len(got.collect()) == 5

    def test_ivf_pq(self, spark, embeddings, tmp_path):
        from astro_vectordb_spark.operators.pq import ivf_pq_build
        from astro_vectordb_spark.sources.vault import save_ivf_pq_index

        enc, cents, model = ivf_pq_build(embeddings, k_cells=4, m=8,
                                         ks=16, max_rows=N, seed=3)
        path = str(tmp_path / "ivfpq")
        save_ivf_pq_index(enc, cents, model, path)
        idx = index.open(spark, path)
        assert idx.kind == "ivf_pq"
        rep = idx.append(_extra(spark), batch_id=1)
        assert rep["appended_rows"] == 5
        idx.remove([9000], batch_id=2)
        out = idx.refresh(
            embeddings.unionByName(_extra(spark)).filter(
                ~F.col("vec_id").isin([9000])
            ),
            seed=3,
        )
        assert out["reencoded_rows"] == N + 4

    def test_bm25(self, spark, tmp_path):
        from astro_vectordb_spark.operators.keyword import bm25_term_stats
        from astro_vectordb_spark.sources.vault import save_bm25_index

        docs = spark.createDataFrame(
            [(i, f"spark shuffle join plan row {i % 7}")
             for i in range(40)],
            "doc_id long, text string",
        )
        path = str(tmp_path / "bm25")
        ts, cs = bm25_term_stats(docs.filter("doc_id < 30"))
        save_bm25_index(ts, cs, path)
        idx = index.open(spark, path)
        assert idx.kind == "bm25"
        rep = idx.append(docs.filter("doc_id >= 30"), batch_id=1)
        assert rep["appended_docs"] == 10
        rep2 = idx.remove(docs.filter("doc_id >= 35"), batch_id=2)
        assert rep2["removed_docs"] == 5
        with pytest.raises(ValueError, match="refresh|trained"):
            idx.refresh(docs)
        # lexical serving through the handle needs the corpus frame
        got = idx.search("spark shuffle", k=3, docs=docs).collect()
        assert len(got) == 3
        with pytest.raises(ValueError, match="docs="):
            idx.search("spark shuffle", k=3)


class TestStreamDispatch:
    def test_stream_ingest_and_remove_via_handle(self, spark, embeddings,
                                                 tmp_path, parquet_stream):
        """One kind exercises the streaming dispatch (per-kind
        semantics are pinned by the streaming suites)."""
        from astro_vectordb_spark.operators.pq import pq_encode, pq_train
        from astro_vectordb_spark.sources.vault import save_pq_index

        model = pq_train(embeddings, m=8, ks=16, max_rows=N, seed=3)
        path = str(tmp_path / "pq_stream")
        save_pq_index(pq_encode(embeddings, model), model, path)
        idx = index.open(spark, path)
        q = idx.stream_ingest(
            _const_stream(parquet_stream), checkpoint=str(tmp_path / "ckpt")
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert spark.read.parquet(path + "/codes").filter(
            F.col("vec_id") >= 900_000
        ).count() > 0

    @pytest.mark.parametrize("kind", ["ivf"])
    def test_kinds_without_replay_safe_append_cannot_stream_ingest(
        self, spark, embeddings, tmp_path, parquet_stream, kind
    ):
        """The one stream-ingest rule: a redelivered micro-batch must be
        a no-op.  IVF's append keeps no replay log (a redelivery would
        insert twice), so the error names the foreachBatch
        alternative."""
        from astro_vectordb_spark.operators.ann import ivf_build
        from astro_vectordb_spark.sources.vault import save_ivf_index

        assigned, cents = ivf_build(embeddings, k_cells=4)
        path = str(tmp_path / kind)
        save_ivf_index(assigned, cents, path)
        idx = index.open(spark, path)
        assert idx.kind == kind
        with pytest.raises(ValueError, match="foreachBatch"):
            idx.stream_ingest(_const_stream(parquet_stream))

    def test_batch_id_logged_append_streams_replay_safe(
        self, spark, embeddings, tmp_path, parquet_stream
    ):
        """The positive side of the rule: IVF-PQ's append takes
        ``batch_id``, so it streams — and re-running the same
        micro-batch id (a redelivery) inserts nothing twice."""
        from astro_vectordb_spark.operators.pq import ivf_pq_build
        from astro_vectordb_spark.sources.vault import save_ivf_pq_index

        enc, cents, model = ivf_pq_build(embeddings, k_cells=4, m=8,
                                         ks=16, max_rows=N, seed=3)
        path = str(tmp_path / "ivfpq_stream")
        save_ivf_pq_index(enc, cents, model, path)
        idx = index.open(spark, path)
        q = idx.stream_ingest(_const_stream(parquet_stream))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        codes = spark.read.parquet(path + "/codes")
        assert codes.filter(F.col("vec_id") >= 900_000).count() == 6
        redelivered = spark.createDataFrame(
            _const_rows()[:3], "vec_id long, embedding array<float>"
        )
        assert idx.append(redelivered, batch_id=0)["skipped_replay"]
        assert spark.read.parquet(path + "/codes").count() == N + 6


def _const_rows():
    return [(900_000 + i, [float(i + j) for j in range(DIM)])
            for i in range(6)]


def _const_stream(parquet_stream):
    """Six fresh ids (900000...) in two micro-batches of three."""
    rows = _const_rows()
    return parquet_stream(
        "vec_id long, embedding array<float>", rows[:3], rows[3:]
    )


class TestDetection:
    def test_non_index_path_raises(self, spark, embeddings, tmp_path):
        path = str(tmp_path / "plain")
        embeddings.write.parquet(path)
        with pytest.raises(ValueError, match="no maintained index"):
            index.open(spark, path)

    def test_neardup_index_rejected(self, spark, tmp_path):
        from astro_vectordb_spark.sources.vault import save_minhash_index

        docs = spark.createDataFrame(
            [(i, f"one two three four five six {i}") for i in range(20)],
            "doc_id long, text string",
        )
        path = str(tmp_path / "mh")
        save_minhash_index(docs, path)
        with pytest.raises(ValueError, match="neardup"):
            index.open(spark, path)


# The keywords (with their defaults) each kind's maintenance has always
# taken, per handle method; a method missing for a kind raises the
# ValueError matched in LACKS.
_PQ_KW = {
    "append": {"batch_id": None, "dedup_ids": True},
    "remove": {"batch_id": None},
    "compact": {"target_rows_per_file": 4_000_000, "min_file_ratio": 2.0},
    "refresh": {"id_col": "vec_id", "vec_col": "embedding",
                "max_rows": 50_000, "seed": 42, "opq_iters": None},
}
HANDLE_KW = {
    "ivf": {"append": {"spill": 1}, "remove": {"batch_id": None}},
    "hnsw": {
        "append": {"seed": 42, "on_conflict": "skip"},
        "remove": {"batch_id": None, "seed": 42, "mode": "auto",
                   "sweep_max_frac": 0.2, "max_sweep_ids": 100_000,
                   "min_degree_frac": 0.5, "auto_repair": False},
        "rebalance": {"target_rows_per_shard": 250_000,
                      "skew_threshold": 2.0, "seed": 42,
                      "min_degree_frac": None},
        "health": {},
    },
    "pq": _PQ_KW,
    "ivf_pq": _PQ_KW,
    "bm25": {
        "append": {"batch_id": None, "id_col": "doc_id", "text_col": "text"},
        "remove": {"batch_id": None, "id_col": "doc_id", "text_col": "text",
                   "strict": True},
    },
}
METHODS = ["append", "remove", "compact", "rebalance", "health", "refresh"]
LACKS = {
    "compact": "has no compaction face",
    "rebalance": "rebalance is an HNSW face",
    "health": "health stats are an HNSW face",
    "refresh": "has no refresh face",
}


@pytest.fixture(scope="module")
def contract_indexes(spark, embeddings, tmp_path_factory):
    from astro_vectordb_spark.operators.ann import ivf_build
    from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
    from astro_vectordb_spark.operators.keyword import bm25_term_stats
    from astro_vectordb_spark.operators.pq import (
        ivf_pq_build,
        pq_encode,
        pq_train,
    )
    from astro_vectordb_spark.sources.vault import (
        save_bm25_index,
        save_hnsw_index,
        save_ivf_index,
        save_ivf_pq_index,
        save_pq_index,
    )

    root = tmp_path_factory.mktemp("idx_contract")
    paths = {k: str(root / k) for k in HANDLE_KW}
    save_ivf_index(*ivf_build(embeddings, k_cells=4), paths["ivf"])
    save_hnsw_index(
        hnsw_build_shards(embeddings, num_shards=2, ef_construction=40),
        paths["hnsw"], m=16,
    )
    model = pq_train(embeddings, m=8, ks=16, max_rows=N, seed=3)
    save_pq_index(pq_encode(embeddings, model), model, paths["pq"])
    enc, cents, model = ivf_pq_build(embeddings, k_cells=4, m=8, ks=16,
                                     max_rows=N, seed=3)
    save_ivf_pq_index(enc, cents, model, paths["ivf_pq"])
    docs = spark.createDataFrame(
        [(i, f"spark join plan {i % 5}") for i in range(20)],
        "doc_id long, text string",
    )
    save_bm25_index(*bm25_term_stats(docs), paths["bm25"])
    return paths, docs


@pytest.mark.parametrize("method", METHODS)
@pytest.mark.parametrize("kind", list(HANDLE_KW))
def test_handle_keyword_contract(spark, embeddings, contract_indexes, kind,
                                 method):
    """The handle takes exactly the keywords each kind's maintenance
    has always taken, at their old defaults: each one is accepted;
    every keyword another kind takes for the same method (and a
    made-up one) raises TypeError; a method the kind lacks raises its
    ValueError whatever the keywords."""
    paths, docs = contract_indexes
    idx = index.open(spark, paths[kind])
    call = getattr(idx, method)
    batch = (docs if kind == "bm25" else embeddings).limit(0)
    args = {"append": (batch,),
            "remove": (batch,) if kind == "bm25" else ([],),
            "refresh": (embeddings,)}.get(method, ())
    accepted = HANDLE_KW[kind].get(method)
    if accepted is None:
        hint = ("use rebalance\\(\\)" if (kind, method) == ("hnsw", "compact")
                else LACKS[method])
        for kw in ({}, {"bogus": 1}):
            with pytest.raises(ValueError, match=hint):
                call(*args, **kw)
        return
    out = call(*args, **accepted)
    if (kind, method) == ("ivf", "append"):
        assert out is None
    elif (kind, method) == ("hnsw", "append"):
        assert out == []
    else:
        assert isinstance(out, dict)
    foreign = {k for kws in HANDLE_KW.values() for k in kws.get(method, {})}
    for kw in sorted(foreign - set(accepted)) + ["bogus"]:
        with pytest.raises(TypeError):
            call(*args, **{kw: 1})
