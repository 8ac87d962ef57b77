"""Index MAINTENANCE pipeline: what a churn-heavy deployment (GDPR
erasure, retention expiry, continuous upserts) runs to keep a
persisted index healthy over months of mutation.

build + persist HNSW -> serve baseline -> churn (sweep-removes +
re-appends) -> READ THE HEALTH VERDICT the remove reports ->
threshold-flag degraded shards -> rebalance() repair -> verify
recall recovered; then the PQ side: append/remove churn ->
compact() (crash-safe swap) repairs file growth, all through
``index.open``.

The health loop is the piece the reference never shipped (its
graph-cleaning TODO, README.md:78-81): edge sweeps are the CHEAP
delete (seconds vs a rebuild) but erode wiring — a removed node's
pruned incoming edges are never re-wired — so the remove report
carries per-shard mean live degree / under-wired fraction /
needs_repair, and `auto_repair=True` (or
`index.open(spark, path).stream_remove(..., auto_repair=True)`) closes
the loop without a scheduled job.

Run: python examples/maintenance_pipeline.py [sf_dir]
"""

from __future__ import annotations

import sys
import tempfile

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from astro_vectordb_spark import index
from astro_vectordb_spark.operators.hnsw import (
    hnsw_build_shards,
    hnsw_query_shards,
    hnsw_shard_health,
)
from astro_vectordb_spark.operators.pq import pq_encode, pq_train
from astro_vectordb_spark.operators.topk import topk_search
from astro_vectordb_spark.session import get_spark
from astro_vectordb_spark.sources.vault import (
    load_hnsw_index,
    save_hnsw_index,
    save_pq_index,
)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def recall_at_10(spark, path, emb, qv) -> float:
    graph, meta = load_hnsw_index(spark, path)
    queries = spark.createDataFrame(
        [(0, [float(x) for x in qv])],
        "query_id long, query_vec array<float>",
    )
    got = {
        r["vec_id"]
        for r in hnsw_query_shards(
            graph, queries, k=10, m=meta["m"], metric=meta["metric"],
            ef_search=100, clustered=meta["clustered_safe"],
        ).collect()
    }
    exact = {r["vec_id"] for r in topk_search(emb, qv, 10, strength=0).collect()}
    return len(got & exact) / 10


def main() -> None:
    spark = get_spark("maintenance-pipeline", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    qv = emb.filter(F.col("vec_id") == 0).first()["embedding"]

    # ---- build + persist ------------------------------------------------
    path = tempfile.mkdtemp(prefix="astro_maint_hnsw_")
    save_hnsw_index(
        hnsw_build_shards(emb, num_shards=2, m=8, seed=7), path,
        m=8, metric="cosine",
    )
    print(f"baseline recall@10: {recall_at_10(spark, path, emb, qv):.2f}")
    graph, _ = load_hnsw_index(spark, path)
    fresh = hnsw_shard_health(graph, m=8).orderBy("shard_id").collect()
    print("fresh health:", [
        (r["shard_id"], round(r["mean_degree"], 2)) for r in fresh
    ])

    # ---- churn: sweep-remove + re-append, five cycles -------------------
    last = None
    for kmod in range(5):
        batch = emb.filter(F.col("vec_id") % 5 == kmod)
        ids = [r["vec_id"] for r in batch.select("vec_id").collect()]
        last = index.open(spark, path).remove(ids, mode="sweep")
        index.open(spark, path).append(batch, seed=100 + kmod)
    print("post-churn health (from the remove report):", [
        (h["shard_id"], round(h["mean_degree"], 2), h["needs_repair"])
        for h in last["health"]
    ])

    # ---- threshold-flag + repair ---------------------------------------
    graph, meta = load_hnsw_index(spark, path)
    eroded = hnsw_shard_health(graph, m=8).collect()
    worst = min(h["mean_degree"] for h in eroded)
    frac = min(0.95, (worst + 0.5) / meta["m"])  # flag at just-above-worst
    flagged = [
        h["shard_id"]
        for h in hnsw_shard_health(graph, m=8, min_degree_frac=frac).collect()
        if h["needs_repair"]
    ]
    print(f"flagged at min_degree_frac={frac:.2f}: shards {flagged}")
    if flagged:
        repaired = index.open(spark, path).rebalance(min_degree_frac=frac)
        print("rebalance repaired:", repaired)
    print(f"post-repair recall@10: {recall_at_10(spark, path, emb, qv):.2f}")

    # ---- PQ churn + compaction -----------------------------------------
    pq_path = tempfile.mkdtemp(prefix="astro_maint_pq_")
    model = pq_train(emb, m=8, ks=32, metric="cosine", max_rows=20_000)
    save_pq_index(pq_encode(emb, model), model, pq_path)
    for kmod in range(4):  # fragment the codes table with churn
        batch = emb.filter(F.col("vec_id") % 4 == kmod)
        ids = [r["vec_id"] for r in batch.select("vec_id").collect()]
        index.open(spark, pq_path).remove(ids)
        index.open(spark, pq_path).append(batch)
    rep = index.open(spark, pq_path).compact(target_rows_per_file=1_000_000)
    print("pq compaction:", rep)

    spark.stop()


if __name__ == "__main__":
    main()
