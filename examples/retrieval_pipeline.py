"""End-to-end RETRIEVAL pipeline: what a RAG deployment runs on top
of the vector engine.

chunk -> embed chunks -> persist HNSW index + lexical term stats ->
(query time) filtered ANN + indexed BM25 -> fuse (RRF and weighted)
-> MMR-diversify -> inspect index health.

Every stage is the operator a 1000-executor job would run; the only
driver-side materializations are bounded control plane (query
vectors, |terms|-row stats lookups, top-C candidate sets).

Run: python examples/retrieval_pipeline.py [sf_dir]
"""

from __future__ import annotations

import sys
import tempfile

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from astro_vectordb_spark import index
from astro_vectordb_spark.functions.embed import embed_text
from astro_vectordb_spark.operators.hnsw import (
    auto_num_shards,
    hnsw_build_shards,
    hnsw_query_shards,
)
from astro_vectordb_spark.operators.keyword import (
    bm25_score_all,
    bm25_term_stats,
    bm25_topk_indexed,
)
from astro_vectordb_spark.operators.multivector import (
    chunk_documents,
    maxsim_topk,
)
from astro_vectordb_spark.operators.rerank import (
    mmr_rerank,
    rrf_fuse,
    score_fusion,
)
from astro_vectordb_spark.operators.topk import filtered_topk, score_against
from astro_vectordb_spark.session import get_spark
from astro_vectordb_spark.sources.vault import (
    load_hnsw_index,
    save_hnsw_index,
)

TERMS = ["merge", "hash", "spark"]


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    spark = get_spark("retrieval-pipeline", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # ---- ingest: chunk + embed + persist the index -----------------
    chunks = chunk_documents(docs, chunk_tokens=10, stride=5)
    chunk_vecs = embed_text(chunks, text_col="chunk_text").select(
        F.col("doc_id"), F.col("chunk_id"), F.col("embedding")
    )
    # one vector per chunk; index keys are (doc_id, chunk_id) packed
    flat = chunk_vecs.select(
        (F.col("doc_id") * 10_000 + F.col("chunk_id")).alias("vec_id"),
        "embedding",
    )
    index_path = tempfile.mkdtemp(prefix="retrieval_hnsw_")
    n = flat.count()
    graph = hnsw_build_shards(
        flat, num_shards=auto_num_shards(n, min_parallelism=2),
        ef_construction=64,
    )
    save_hnsw_index(graph, index_path, m=16, metric="cosine")

    # lexical index: term stats built once, persisted
    stats_path = tempfile.mkdtemp(prefix="retrieval_lex_")
    term_stats, corpus_stats = bm25_term_stats(docs)
    term_stats.write.mode("overwrite").parquet(f"{stats_path}/terms")
    corpus_stats.write.mode("overwrite").parquet(f"{stats_path}/corpus")

    print("index health:", index.open(spark, index_path).health())

    # ---- query time ------------------------------------------------
    # the query is doc 0's first chunk, like a RAG lookup
    qv = (
        chunk_vecs.filter((F.col("doc_id") == 0) & (F.col("chunk_id") == 0))
        .first()["embedding"]
    )

    # approximate chunk-level search from the persisted index
    g, meta = load_hnsw_index(spark, index_path)
    queries = spark.createDataFrame(
        [(0, [float(x) for x in qv])], "query_id long, query_vec array<float>"
    )
    ann_hits = hnsw_query_shards(
        g, queries, k=20, m=meta["m"], metric=meta["metric"],
        ef_search=100, clustered=meta["clustered_safe"],
        index_cache_token=meta["cache_token"],
    )
    vec_docs = (
        ann_hits.select((F.col("vec_id") / 10_000).cast("long").alias("doc_id"),
                        "score")
        .groupBy("doc_id").agg(F.max("score").alias("score"))
    )
    print("ANN chunk hits (doc-level):", vec_docs.orderBy(F.desc("score")).limit(5).collect())

    # lexical search against the persisted stats
    lex_top = bm25_topk_indexed(
        docs,
        spark.read.parquet(f"{stats_path}/terms"),
        spark.read.parquet(f"{stats_path}/corpus"),
        TERMS, k=20,
    )
    print("BM25 (indexed):", lex_top.limit(5).collect())

    # hybrid fusion, both flavors
    w = __import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    lex_ranked = lex_top.withColumn("rank", F.row_number().over(w))
    vec_ranked = vec_docs.withColumn("rank", F.row_number().over(w))
    fused = rrf_fuse([lex_ranked.select("doc_id", "rank"),
                      vec_ranked.select("doc_id", "rank")], k=10)
    print("hybrid (RRF):", fused.collect())
    fused_w = score_fusion([lex_top, vec_docs], [0.4, 0.6], k=10)
    print("hybrid (weighted):", fused_w.collect())

    # the same stack as ONE call: persisted BM25 index + kind-detected
    # vector index, fused facade-side; then a whole batch in one plan
    from astro_vectordb_spark.search import hybrid_search, hybrid_search_batch
    from astro_vectordb_spark.sources.vault import save_bm25_index

    bm25_path = tempfile.mkdtemp(prefix="ex_bm25_")
    ts0, cs0 = bm25_term_stats(docs)
    save_bm25_index(ts0, cs0, bm25_path)
    vec_path = tempfile.mkdtemp(prefix="ex_vec_") + "/emb.parquet"
    embed_text(docs).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    ).write.parquet(vec_path)
    one_call = hybrid_search(
        spark, vec_path, bm25_path, docs, qv, TERMS, k=10
    )
    print("hybrid facade (one call):", one_call.collect())
    qbatch = spark.createDataFrame(
        [(0, list(map(float, qv)), TERMS),
         (1, list(map(float, qv)), ["window", "agg"])],
        "query_id long, query_vec array<float>, terms array<string>",
    )
    batch_out = hybrid_search_batch(
        spark, vec_path, bm25_path, docs, qbatch, k=5
    )
    print("hybrid facade (batch):", batch_out.orderBy("query_id").collect())

    # retrieve wide, rerank narrow: joint (query, doc) scoring of the
    # fused candidates by the registered cross-encoder (stub here;
    # register_cross_scorer swaps in a real model)
    from astro_vectordb_spark.operators.rerank import cross_encoder_rerank

    qtext = docs.filter(F.col("doc_id") == 0).first()["text"]
    cand_txt = fused.select("doc_id").join(
        docs.select("doc_id", "text"), "doc_id"
    )
    reranked = cross_encoder_rerank(cand_txt, qtext, k=5)
    print("cross-encoder rerank:", reranked.collect())

    # diversified final context: MMR over doc-level embeddings
    doc_vecs = embed_text(docs).select("doc_id", "embedding")
    cand = (
        score_against(doc_vecs, qv)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(30)
        .select("doc_id", "embedding", "score")
    )
    diverse = mmr_rerank(cand, k=5, lam=0.7, id_col="doc_id")
    print("MMR context set:", diverse.orderBy("rank").collect())

    # late-interaction alternative: MaxSim straight over chunk vectors
    li = maxsim_topk(chunk_vecs, [qv], k=5)
    print("MaxSim:", li.collect())

    # metadata-filtered exact search over embeddings (label predicate)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    eqv = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    print(
        "filtered exact:",
        filtered_topk(emb, F.col("label") == 2, eqv, k=5, strength=0)
        .select("vec_id", "score").collect(),
    )

    spark.stop()


if __name__ == "__main__":
    main(*(sys.argv[1:] or []))
