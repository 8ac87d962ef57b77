"""Structured Streaming mutation path.

The reference's only "stream" is a FIFO mutation queue that serializes
every write (driver/driver.ts:25-80, SURVEY.md O32).  The Spark-native
equivalent is ``foreachBatch``: micro-batches are applied one at a
time, in order, with exactly-once semantics against the sink — the same
one-batch-at-a-time guarantee, minus the reference's
whole-index-rewrite-per-row write amplification (astrovault.ts:34-40).

:func:`run_stream` is the one ``foreachBatch`` runner in the library.
Every stream starts through it: the versioned-table upsert and sync
merge below, and the index maintenance streams, which are started from
their handles (``index.open(spark, path).stream_ingest/stream_remove``
and ``neardup.open(spark, path).stream_ingest``) and apply one
micro-batch through the handle's own replay-logged ``append``/
``remove`` with the micro-batch's ``batch_id``.

``stream_sync_merge`` is the streaming face of the diff-aware merge
(syncVectorsFromCloud, driver/worker.ts:3-44): each micro-batch of
(id, vector) updates is merged into the versioned vector table with
insert / skip-unchanged / replace-changed / skip-empty routing.

Sink: versioned manifest-swap commits (sources.versioned) — each batch
writes a fresh immutable version directory and atomically swaps the
``_CURRENT`` pointer, so concurrent readers never race a commit and
the merge plan never overwrites the files it is reading.

Scale notes: per micro-batch the merge is one keyed shuffle of
(current x batch); watermarking/dedup of the update stream happens
upstream with ``withWatermark`` + ``dropDuplicates`` on the key.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from astro_vectordb_spark.operators.crud import sync_merge, upsert_latest
from astro_vectordb_spark.session import local_frame
from astro_vectordb_spark.sources.versioned import commit_version, read_current


def micro_batch(
    apply: Callable[[DataFrame, int], dict],
    query_name: str,
    every: int | None = None,
    maintain: Callable[[], object] | None = None,
) -> Callable[[DataFrame, int], dict | None]:
    """The body :func:`run_stream` runs per micro-batch, returned as a
    plain ``(batch_df, batch_id) -> report`` function.

    An empty micro-batch is skipped (returns None).  Otherwise
    ``apply(batch_df, batch_id)`` runs and its report dict is logged
    as one line under ``query_name``.  With ``every=N``, ``maintain()``
    runs after every Nth APPLIED batch of this query run — a batch
    whose report says ``skipped_replay`` (an at-least-once redelivery
    the replay log turned into a no-op) is not counted — and its
    result rides the report under ``"maintenance"``.  The hook is how
    a long-running stream keeps its index healthy without a scheduled
    job: PQ codes-table compaction, HNSW full-index rebalance, the
    near-dup replay-log gc.  It runs inside foreachBatch, so it is
    serialized with the stream's own commits."""
    applied = 0

    def body(batch_df: DataFrame, batch_id: int) -> dict | None:
        nonlocal applied
        if batch_df.isEmpty():
            return None
        rep = apply(batch_df, int(batch_id))
        print(f"{query_name} batch {batch_id}: {rep}")
        if every and not rep.get("skipped_replay"):
            applied += 1
            if applied % int(every) == 0:
                rep["maintenance"] = maintain()
                print(
                    f"{query_name}: maintenance after {applied} batches "
                    f"-> {rep['maintenance']}"
                )
        return rep

    return body


def run_stream(
    stream_df: DataFrame,
    apply: Callable[[DataFrame, int], dict],
    query_name: str,
    checkpoint: str | None = None,
    every: int | None = None,
    maintain: Callable[[], object] | None = None,
    output_mode: str = "append",
):
    """Start ``stream_df`` into ``foreachBatch(micro_batch(...))``
    (see :func:`micro_batch` for the per-batch contract) and return
    the StreamingQuery."""
    writer = (
        stream_df.writeStream.foreachBatch(
            micro_batch(apply, query_name, every=every, maintain=maintain)
        )
        .queryName(query_name)
        .outputMode(output_mode)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def apply_upsert_batch(
    batch_df: DataFrame,
    target_path: str,
    batch_id: int,
    merge_fn: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
    id_col: str = "vec_id",
) -> str:
    """Apply ONE write batch to the versioned table — the body of the
    reference's FIFO mutation loop (driver/driver.ts:25-80): read the
    live snapshot, merge the batch, commit a new version atomically.
    ``foreach_batch_upsert`` runs exactly this per micro-batch; callers
    composing batch-mode pipelines (read-your-writes checks, backfills)
    apply writes through the same code path.  Returns the committed
    version directory name."""
    spark = batch_df.sparkSession
    current = read_current(spark, target_path)
    if current is None:
        current = local_frame(spark, [], batch_df.schema)
    fn = merge_fn or (lambda cur, b: upsert_latest(cur, b, id_col=id_col))
    return commit_version(fn(current, batch_df), target_path, int(batch_id))


def foreach_batch_upsert(
    stream_df: DataFrame,
    target_path: str,
    merge_fn: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
    id_col: str = "vec_id",
    checkpoint: str | None = None,
    query_name: str = "astro_upsert",
):
    """Attach a keep-latest (or custom) merge to a streaming DataFrame.

    Returns the started StreamingQuery.  Each non-empty micro-batch B
    does:
      current = read_current(target);  merged = merge_fn(current, B);
      commit_version(merged) -> atomic pointer swap.
    """
    return run_stream(
        stream_df,
        lambda b, bid: {
            "version": apply_upsert_batch(
                b, target_path, bid, merge_fn=merge_fn, id_col=id_col
            )
        },
        query_name,
        checkpoint=checkpoint,
        output_mode="update",
    )


def stream_sync_merge(
    stream_df: DataFrame,
    target_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint: str | None = None,
):
    """Streaming diff-aware merge (syncVectorsFromCloud semantics)."""
    return foreach_batch_upsert(
        stream_df,
        target_path,
        merge_fn=lambda cur, b: sync_merge(cur, b, id_col=id_col, vec_col=vec_col),
        id_col=id_col,
        checkpoint=checkpoint,
        query_name="astro_sync_merge",
    )
