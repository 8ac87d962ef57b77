"""CRUD / upsert / merge operators on the embeddings table.

Reference parity:
- point lookup          — getSingleAstroDBNode, driver/driver.ts:309-312
- tombstone delete      — removePoint hnsw.ts:212-226,
                          removeFromAstroDB driver/driver.ts:157-170,
                          removeMultipleFromAstroDB driver/driver.ts:172-192
- id-stable upsert      — updatePoint hnsw.ts:497-517,
                          updateVectorAstroDB driver/driver.ts:200-233
- diff-aware bulk merge — syncVectorsFromCloud driver/driver.ts:245-282
                          + driver/worker.ts:3-44
- append/insert         — addToAstroDB driver/driver.ts:115-155

Spark-first shapes: every mutation is a *batch* relational operation
(union / window-dedup / full-outer merge join), not a per-row queue.
The reference serializes each mutation through a FIFO and rewrites the
whole index snapshot per row (astrovault.ts:34-40) — the one reference
behavior we deliberately do NOT reproduce, because at 100 TB the unit
of write must be a partitioned batch commit.

Scale notes: upsert/merge shuffle both sides once on the key — that is
the floor for a keyed merge.  If the base table is bucketed by key
(sources.vault.save_index with bucketing), the shuffle on the big side
disappears and only the (small) delta moves.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from astro_vectordb_spark.session import local_frame


def validate_embeddings(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    mode: str = "flag",
) -> DataFrame:
    """Enforce the table's dimension contract.

    The reference throws on dimension mismatch (hnsw.ts:157-159) and
    silently drops empty vectors (hnsw.ts:155).  Batch equivalents:
      mode='flag'   append ``valid BOOLEAN`` (audit-friendly)
      mode='drop'   keep only valid rows (the reference's net effect)
    A vector is valid iff non-null and exactly ``dim`` elements.
    """
    ok = F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    if mode == "drop":
        return df.filter(ok)
    return df.withColumn("valid", ok)


def point_lookup(df: DataFrame, key, id_col: str = "vec_id") -> DataFrame:
    """Primary-key lookup. Reference: driver/driver.ts:309-312.

    With the table partitioned/bucketed or z-ordered by key, the filter
    prunes at the scan (PushedFilters) — O(1 partition), not O(table).
    """
    return df.filter(F.col(id_col) == F.lit(key))


def tombstone_delete(
    df: DataFrame,
    ids: Sequence,
    id_col: str = "vec_id",
    deleted_col: str = "deleted",
    hard: bool = False,
) -> DataFrame:
    """Delete a set of ids.

    ``hard=False`` reproduces the reference tombstone (hnsw.ts:212-226):
    rows stay, ``deleted`` flips true, searches filter them out
    (hnsw.ts:292).  ``hard=True`` is the Spark-native physical delete —
    a broadcast anti-join (removeNodeFromGraph's intent, hnsw.ts:179-200,
    without the graph surgery because there is no materialized graph).
    """
    ids_df = local_frame(
        df.sparkSession,
        [(i,) for i in ids], schema=df.select(id_col).schema
    )
    if hard:
        return df.join(F.broadcast(ids_df), on=id_col, how="left_anti")
    base = (
        df
        if deleted_col in df.columns
        else df.withColumn(deleted_col, F.lit(False))
    )
    marked = F.broadcast(ids_df.withColumn("_tomb", F.lit(True)))
    return (
        base.join(marked, on=id_col, how="left")
        .withColumn(
            deleted_col, F.coalesce(F.col("_tomb"), F.col(deleted_col), F.lit(False))
        )
        .drop("_tomb")
    )


def tombstone_delete_df(
    df: DataFrame,
    ids_df: DataFrame,
    id_col: str = "vec_id",
    deleted_col: str = "deleted",
    hard: bool = False,
) -> DataFrame:
    """tombstone_delete with the id set as a DataFrame — no driver-side
    list when the doomed set is itself query-derived (fully
    distributed; broadcast if small, shuffle join if not)."""
    ids_df = ids_df.select(F.col(id_col)).distinct()
    if hard:
        return df.join(ids_df, on=id_col, how="left_anti")
    base = (
        df if deleted_col in df.columns else df.withColumn(deleted_col, F.lit(False))
    )
    marked = ids_df.withColumn("_tomb", F.lit(True))
    return (
        base.join(marked, on=id_col, how="left")
        .withColumn(
            deleted_col, F.coalesce(F.col("_tomb"), F.col(deleted_col), F.lit(False))
        )
        .drop("_tomb")
    )


def live(df: DataFrame, deleted_col: str = "deleted") -> DataFrame:
    """Filter out tombstoned rows (hnsw.ts:292 NOT-deleted predicate)."""
    if deleted_col not in df.columns:
        return df
    return df.filter(~F.coalesce(F.col(deleted_col), F.lit(False)))


def upsert_latest(
    current: DataFrame,
    updates: DataFrame,
    id_col: str = "vec_id",
    version_col: str = "_version",
) -> DataFrame:
    """Keep-latest-per-key upsert (id-stable update).

    Reference: updatePoint hnsw.ts:497-517 — tombstone the old node and
    re-insert under the same key, i.e. last write wins.  Relationally:
    union current (version 0) with updates (version 1), keep the highest
    version per key.  One shuffle on the key; map-side partial ranking
    via window.

    ``updates`` is expected to carry at most one row per key; with
    intra-batch duplicates the survivor among them is arbitrary (both
    rank version 1) — pre-aggregate with a real version column if the
    winner matters.
    """
    cur = current.withColumn(version_col, F.lit(0))
    upd = updates.withColumn(version_col, F.lit(1))
    w = Window.partitionBy(id_col).orderBy(F.col(version_col).desc())
    return (
        cur.unionByName(upd)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", version_col)
    )


def sync_merge(
    current: DataFrame,
    incoming: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    action_col: str | None = None,
) -> DataFrame:
    """Diff-aware bulk upsert — the reference's ``syncVectorsFromCloud``.

    Per driver/worker.ts:3-44, for each incoming (id, vector):
      * vector NULL or empty      -> skip (keep current row if any)
        (worker.ts:10-13)
      * id exists, vector equal   -> no-op / keep      (worker.ts:15-21)
      * id exists, vector changed -> update            (worker.ts:22-26)
      * id absent                 -> insert            (worker.ts:28-30)
    Current rows with no incoming counterpart are kept untouched.

    One full-outer merge join on the key = one shuffle, linear in the
    inputs; exactly the MERGE INTO pattern.  Array equality on the
    vector column is a native Catalyst comparison (no UDF).

    ``action_col``: if set, append the routing decision
    ('insert'|'update'|'keep'|'skip_empty') — used by tests/oracles to
    check every branch.
    """
    cur = current.select(
        F.col(id_col), F.col(vec_col).alias("_cur_vec"), F.lit(True).alias("_has_cur")
    )
    # A micro-batch (or any bulk feed) may carry several updates for
    # one key; a full-outer join against duplicate keys would multiply
    # rows. Keep one update per key (callers needing a specific winner
    # pre-aggregate with their own version column).
    inc = incoming.dropDuplicates([id_col]).select(
        F.col(id_col), F.col(vec_col).alias("_inc_vec"), F.lit(True).alias("_has_inc")
    )
    joined = cur.join(inc, on=id_col, how="full_outer")

    inc_empty = F.col("_inc_vec").isNull() | (F.size("_inc_vec") == 0)
    has_cur = F.coalesce(F.col("_has_cur"), F.lit(False))
    has_inc = F.coalesce(F.col("_has_inc"), F.lit(False))

    action = (
        F.when(~has_inc, F.lit("keep"))
        .when(inc_empty, F.lit("skip_empty"))
        .when(~has_cur, F.lit("insert"))
        .when(F.col("_cur_vec") == F.col("_inc_vec"), F.lit("keep"))
        .otherwise(F.lit("update"))
    )
    merged_vec = (
        F.when(action.isin("insert", "update"), F.col("_inc_vec"))
        .otherwise(F.col("_cur_vec"))
    )
    out = joined.withColumn(vec_col, merged_vec)
    # Pure-insert of an empty vector has no current row to keep: drop it
    # (worker.ts:10-13 skips before existence check).
    out = out.filter(~(action == "skip_empty") | has_cur)
    if action_col is not None:
        out = out.withColumn(action_col, action)
    keep_cols = [id_col, vec_col] + ([action_col] if action_col else [])
    return out.select(*keep_cols)
