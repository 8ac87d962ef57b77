"""End-to-end example: the full engine surface on one corpus.

Mirrors what a user of the reference does (ingest vectors -> index ->
search -> mutate -> sync), extended with the training-data pipeline
stages (validate -> dedup -> text analysis -> embed -> classify).

Run: python examples/pipeline.py [sf_dir]
"""

from __future__ import annotations

import sys
import tempfile

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from astro_vectordb_spark import index
from astro_vectordb_spark.functions.embed import embed_text
from astro_vectordb_spark.operators.ann import (
    ivf_build_sampled,
    ivf_cell_stats,
    ivf_search,
    ivf_search_exact,
)
from astro_vectordb_spark.operators.classify import knn_classify
from astro_vectordb_spark.operators.crud import (
    sync_merge,
    tombstone_delete,
    upsert_latest,
    validate_embeddings,
)
from astro_vectordb_spark.operators.dedup import (
    dedup_keep_representatives,
    exact_dedup,
    minhash_lsh_pairs,
)
from astro_vectordb_spark.operators.text_analysis import quality_scores, text_stats
from astro_vectordb_spark.operators.topk import topk_search
from astro_vectordb_spark.session import get_spark, load_table
from astro_vectordb_spark.sources.vault import load_ivf_index, save_ivf_index


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    spark = get_spark("astro-pipeline-example", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    # 1. Ingest + validate (dimension contract, hnsw.ts:155-159)
    emb = load_table(spark, sf_dir, "embeddings")
    emb = validate_embeddings(emb, dim=64, mode="drop")
    print(f"[1] ingested {emb.count()} valid vectors")

    # 2. Exact top-K search (the reference's flagship query)
    qv = emb.first()["embedding"]
    hits = topk_search(emb, qv, k=5, strength=20)
    print("[2] top-5:", [(r["vec_id"], r["score"]) for r in hits.collect()])

    # 3. Build + persist an IVF index, reload, approximate + exact search
    assigned, centroids = ivf_build_sampled(emb, k_cells=8)
    with tempfile.TemporaryDirectory() as d:
        stats = ivf_cell_stats(assigned, centroids)
        save_ivf_index(assigned, centroids, d, cell_stats=stats)
        a2, c2, s2, meta = load_ivf_index(spark, d)
        print(f"[3] index reloaded: {meta}")
        approx = ivf_search(a2, c2, qv, 5, nprobe=4)
        print("    approx top-5:", [r["vec_id"] for r in approx.collect()])
        exact = ivf_search_exact(a2, c2, s2, qv, 5)
        print("    exact-pruned top-5:", [r["vec_id"] for r in exact.collect()])

    # 4. Mutations: delete, upsert, diff-aware sync (driver.ts surface)
    emb2 = tombstone_delete(emb, [1, 2, 3])
    updates = emb.limit(5).withColumn(
        "embedding", F.transform("embedding", lambda x: -x)
    )
    emb3 = upsert_latest(emb2.drop("deleted"), updates)
    incoming = emb.limit(50).select("vec_id", "embedding")
    merged = sync_merge(emb3.select("vec_id", "embedding"), incoming)
    print(f"[4] after delete/upsert/sync: {merged.count()} rows")

    # 5. Text pipeline: stats -> quality -> near-dup dedup
    docs = load_table(spark, sf_dir, "documents")
    stats_df = text_stats(docs)
    quality = quality_scores(docs)
    keep = quality.filter(F.col("quality") >= 0.4)
    docs_kept = docs.join(keep.select("doc_id"), "doc_id", "left_semi")
    docs_kept = exact_dedup(docs_kept)
    pairs = minhash_lsh_pairs(docs_kept, threshold=0.8)
    docs_final = dedup_keep_representatives(docs_kept, pairs)
    print(
        f"[5] docs: {docs.count()} -> quality {docs_kept.count()} "
        f"-> near-dup-deduped {docs_final.count()} "
        f"(avg tokens {stats_df.agg(F.avg('n_tokens')).first()[0]:.1f})"
    )

    # 6. Embed the surviving docs and search them
    doc_vecs = embed_text(docs_final).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    dq = doc_vecs.first()["embedding"]
    doc_hits = topk_search(doc_vecs, dq, k=3, strength=0)
    print("[6] doc search top-3:", [r["vec_id"] for r in doc_hits.collect()])

    # 7. kNN label propagation on the vector table
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    preds = knn_classify(emb, queries, k=10)
    print("[7] knn labels:", [(r["query_id"], r["pred_label"]) for r in preds.collect()])

    # 8. Blocked embedding near-dup over the full table (the scale
    #    path: RP-LSH buckets, no cross join, no corpus broadcast)
    from astro_vectordb_spark.operators.dedup import (
        connected_components,
        embedding_near_dups,
    )

    near = embedding_near_dups(emb.select("vec_id", "embedding"),
                               threshold=0.4, dim=64)
    n_pairs = near.count()
    if n_pairs:
        comps = connected_components(near)
        n_comp = comps.select("component").distinct().count()
        print(f"[8] blocked near-dups: {n_pairs} pairs, {n_comp} groups")
    else:
        print("[8] blocked near-dups: none at this threshold")

    # 9. Live sharded HNSW index: build, persist, append, query
    from astro_vectordb_spark.operators.hnsw import (
        auto_num_shards,
        hnsw_build_shards,
        hnsw_query_shards,
    )
    from astro_vectordb_spark.sources.vault import (
        load_hnsw_index,
        save_hnsw_index,
    )

    with tempfile.TemporaryDirectory() as d:
        old = emb.filter(F.col("vec_id") < 400).select("vec_id", "embedding")
        new = emb.filter(F.col("vec_id") >= 400).select("vec_id", "embedding")
        shards = auto_num_shards(old.count())
        graph = hnsw_build_shards(old, num_shards=max(shards, 2))
        save_hnsw_index(graph, d, m=16, metric="cosine")
        touched = index.open(spark, d).append(new)
        g, meta = load_hnsw_index(spark, d)
        # serve with the safety + cache metadata: clustered only while
        # no shard file splits; token-keyed worker cache for repeats
        hits2 = hnsw_query_shards(
            g, queries, k=5, m=meta["m"],
            clustered=meta["clustered_safe"],
            index_cache_token=meta["cache_token"],
        )
        print(
            f"[9] live index: appended {new.count()} rows into shards "
            f"{touched}; query hits {hits2.count()}"
        )

    # 10. Rebalance training data: keep all rare-language docs,
    #     downsample the dominant language — one deterministic scan
    #     predicate, stable under re-runs and backfills
    from astro_vectordb_spark.operators.sampling import stratified_sample

    rebal = stratified_sample(
        docs, "lang", {"en": 0.2, "zh": 1.0}, default_frac=0.5
    )
    mix = {r["lang"]: r["n"] for r in rebal.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    print(f"[10] stratified mix: {mix}")

    # 11. One-call facade: serve from ANY persisted index — kind and
    #     metric detected from the layout (the reference's
    #     searchAstroDB); same call works for exact parquet, IVF,
    #     HNSW, PQ, IVF-PQ
    from astro_vectordb_spark.search import search
    from astro_vectordb_spark.sources.vault import save_pq_index
    from astro_vectordb_spark.operators.pq import pq_encode, pq_train

    model = pq_train(emb, m=8, ks=32, max_rows=20_000)
    pq_dir = tempfile.mkdtemp(prefix="example_pq_")
    save_pq_index(pq_encode(emb, model), model, pq_dir)
    # churn lifecycle: physically remove some ids (touched-files-only
    # rewrite), then serve through the facade
    index.open(spark, pq_dir).remove([1, 2, 3])
    hits = search(spark, pq_dir, qv, k=5, vectors=emb)
    print(f"[11] facade over churned PQ index: {hits.count()} hits")

    spark.stop()
    print("pipeline complete")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
