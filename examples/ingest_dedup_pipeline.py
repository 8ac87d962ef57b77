"""Continuous-INGEST dedup pipeline: the steady-state loop a training-
data pipeline runs daily — each arriving batch dedups against
EVERYTHING already ingested without re-reading any historical text.

save the fingerprint index over the seed corpus -> match day-1's
batch (copies surface at est 1.0, novel docs don't) -> append only
the novel docs (replay-safe) -> day-2 batch now dedups against day-1's
novelties too -> compaction repairs the file growth the appends left.

The one-shot operators (minhash_lsh_pairs* in operators/dedup.py)
re-shingle the whole corpus per run — right for a backfill sweep,
wrong at 100 TB steady state.  This index stores each doc once as
num_hashes longs (signatures) + bands longs (LSH buckets); matching a
batch touches the BATCH's text and those two compact tables only.

Run: python examples/ingest_dedup_pipeline.py [sf_dir]
"""

from __future__ import annotations

import sys
import tempfile

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from astro_vectordb_spark import neardup
from astro_vectordb_spark.session import get_spark, load_table
from astro_vectordb_spark.sources import load_minhash_index, save_minhash_index


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("ingest-dedup-pipeline", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    seed = docs.filter(F.col("doc_id") % 3 == 0)
    day1 = docs.filter(F.col("doc_id") % 3 == 1)
    day2 = docs.filter(F.col("doc_id") % 3 == 2)

    path = tempfile.mkdtemp(prefix="astro_ingest_dedup_")
    save_minhash_index(seed, path)
    _, _, meta = load_minhash_index(spark, path)
    print(f"seed index: {meta['n_rows']} docs, "
          f"{meta['num_hashes']} hashes x {meta['bands']} bands")

    # ---- day 1: batch = novel docs + planted copies of seed docs ----
    planted = seed.limit(10).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    batch1 = day1.unionAll(planted)
    matches = neardup.open(spark, path).match(batch1, threshold=0.9)
    dup_ids = matches.select(
        F.col("new_id").alias("doc_id")
    ).distinct()
    n_dups = dup_ids.count()
    exact_hits = matches.filter(F.col("est_jaccard") == 1.0).count()
    print(f"day 1: {n_dups} dup docs flagged "
          f"({exact_hits} pair rows at est exactly 1.0)")
    assert n_dups >= 10  # every planted copy must be flagged

    novel1 = batch1.join(dup_ids, "doc_id", "left_anti")
    rep = neardup.open(spark, path).append(novel1, batch_id=1)
    print(f"day 1: appended {rep['appended_rows']} novel docs")

    # replay of the same batch is a no-op (at-least-once delivery)
    rep_replay = neardup.open(spark, path).append(novel1, batch_id=1)
    assert rep_replay["skipped_replay"]

    # ---- day 2: dups against SEED AND DAY-1 ingest both surface ----
    planted2 = day1.limit(5).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    batch2 = day2.unionAll(planted2)
    m2 = neardup.open(spark, path).match(batch2, threshold=0.9)
    day1_hits = m2.join(
        day1.select(F.col("doc_id").alias("hist_id")), "hist_id", "left_semi"
    ).count()
    print(f"day 2: {m2.count()} match rows, {day1_hits} against day-1 docs")
    assert day1_hits >= 5  # copies of day-1 ingests are caught

    novel2 = batch2.join(
        m2.select(F.col("new_id").alias("doc_id")).distinct(),
        "doc_id", "left_anti",
    )
    neardup.open(spark, path).append(novel2, batch_id=2)

    # ---- retroactive sweep (round 11): policy change / backfill ----
    # compute the keep set from the index alone (no text read) and
    # APPLY it — near-dup losers are physically removed (file-granular,
    # replay-logged), so future matching serves deduplicated history
    rep_s = neardup.open(spark, path).apply_sweep(threshold=0.9, batch_id=100)
    print(f"sweep: kept {rep_s['kept']}, removed {rep_s['removed_docs']}")
    assert neardup.open(spark, path).apply_sweep(
        threshold=0.9, batch_id=100,
    )["skipped_replay"]  # replayed sweep is a no-op

    # ---- maintenance: compact the file growth the appends left ----
    rep_c = neardup.open(spark, path).compact(
        target_rows_per_file=10_000_000, min_file_ratio=1.0,
    )
    print(f"compaction: {rep_c}")
    _, _, meta = load_minhash_index(spark, path)
    print(f"final index: {meta['n_rows']} docs")

    # ---- the SAME loop for embeddings (round 12) -------------------
    # the RP-LSH index gives vectors the identical steady state:
    # persist buckets once, match each new batch against the compact
    # tables with an exact-cosine verify, sweep retroactively, and
    # bound the replay-log metadata with gc
    from astro_vectordb_spark.sources.vault import gc, save_rp_index

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    rp_path = tempfile.mkdtemp(prefix="ingest_rp_")
    hist_v = emb.filter(F.col("vec_id") % 3 != 2)
    save_rp_index(hist_v, rp_path)
    batch_v = emb.filter(F.col("vec_id") % 3 == 2).unionByName(
        hist_v.limit(5).select(
            (F.col("vec_id") + 3_000_000).alias("vec_id"), "embedding"
        )
    )
    mv = neardup.open(spark, rp_path).match(batch_v, threshold=0.99)
    exact_hits = mv.filter(F.col("score") == 1.0).count()
    print(f"embedding batch: {mv.count()} match rows, "
          f"{exact_hits} exact copies caught")
    assert exact_hits >= 5
    novel_v = batch_v.join(
        mv.select(F.col("new_id").alias("vec_id")).distinct(),
        "vec_id", "left_anti",
    )
    neardup.open(spark, rp_path).append(novel_v, batch_id=1)
    rep_rv = neardup.open(spark, rp_path).apply_sweep(
        threshold=0.999, batch_id=50,
    )
    print(f"embedding sweep: kept {rep_rv['kept']}, "
          f"removed {rep_rv['removed_rows']}")
    rep_gc = gc(spark, rp_path, keep_last_batches=8)
    print(f"replay-log gc: {rep_gc}")
    spark.stop()


if __name__ == "__main__":
    main()
