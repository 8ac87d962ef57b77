"""Shared lifecycle core for persisted near-dup bucket indexes.

Every persisted near-dup index in this package is the same physical
shape under its ``path``:

    <primary>/   (id, <value>)        — the exact-verification side
    <buckets>/   (id, <bucket keys>)  — the blocking side, partitioned
    _meta        one row: hash-family parameters + ``n_rows``
    _batches     (op, batch_id)-namespaced replay log

and the same steady-state lifecycle: save → match a new batch (bucket
the BATCH only, keyed join against the compact bucket table, verify
candidates exactly) → append (replay-logged, crash-self-healing
bucket sync) → remove (file-granular, buckets-first) → retroactive
sweep (bucket self-join → verify → connected components → keep one
representative) → compact (staged-swap rewrite, buckets re-derived
from the primary).  Four families ride it — MinHash and SimHash text
fingerprints, RP-LSH embedding buckets, and SemDeDup centroid cells —
differing only in three kernels:

    encode(ctx, batch)         raw rows → primary rows
    bucketize(ctx, primary)    primary rows → (id, *bucket_keys)
    pair_score(ctx, a, b)      two primary values → similarity Column

plus hooks with defaults: ``threshold`` (the similarity keyword → the
pair-score floor; SimHash converts ``max_hamming``), ``match_bucketize``
(match's multi-probe keywords), ``score_out`` (the match score column),
``keep_set`` (the retroactive keep set), ``self_pairs`` (the intra-batch
pass of :func:`ingest_batch`), ``append_stats`` (append-time
telemetry) and ``refresh`` (SemDeDup's retrain).

This module is the single implementation of everything else (the
round-12 verdict's "extract the shared index-lifecycle core"); its one
public surface is the :class:`astro_vectordb_spark.neardup.NearDupIndex`
handle, which calls these ops with a fresh family object.  Behavioral
contracts (replay-log namespacing, crash-consistency ordering,
hot-bucket guards, telemetry, oracle-exact arithmetic) are documented
on the handle methods and verified by the family test suites.

Reference parity: the reference persists its whole index as one JSON
blob (``toJSON``/``fromJSON``, astrovault.ts:86-116) and has no
incremental maintenance at all — this lifecycle is the 100 TB-shaped
replacement (per-batch cost independent of corpus size), not a port.
"""

from __future__ import annotations

import inspect
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from astro_vectordb_spark.session import local_frame


@dataclass
class IndexCtx:
    """Per-call context handed to family kernels: the session, the
    index root (for families that lazily load extra artifacts, e.g.
    SemDeDup's centroid table), and the _meta dict (hash-family
    parameters; at save time, the params about to become _meta)."""

    spark: SparkSession
    path: str | None
    meta: dict


class BucketIndexFamily:
    """One persisted-index family: table names, bucket keys, replay-log
    op namespaces, the handle's keyword data, and the kernels.
    Subclasses override the kernels and hooks; everything else is
    data."""

    name: str
    primary_table: str
    bucket_table: str
    bucket_keys: tuple[str, ...]
    partition_col: str | None
    append_op: str
    sweep_op: str
    removed_key: str  # report key naming what a remove counts
    score_col: str
    score_is_geq: bool  # filter at >= threshold (est) vs > (cosine)
    round_before_filter: bool  # minhash filters the ROUNDED estimate
    meta_schema: str  # must end with "n_rows long"
    detector: tuple[str, ...]  # _meta columns that identify the family
    # the similarity keyword of match/groups/apply_sweep/stream_ingest,
    # with its default
    knob: str = "threshold"
    knob_default: float | None = None
    # keep_set keywords that groups() takes and apply_sweep() does not
    groups_only: tuple[str, ...] = ()
    # True when bucketize assigns each id to EXACTLY ONE bucket
    # (SemDeDup's argmax cell): the candidate joins then cannot emit a
    # duplicate (id, id) pair, so the post-join .distinct() — a full
    # shuffle of the pair stream — is skipped as a provable identity.
    # Multi-table families (minhash bands, RP tables) need the dedup.
    unique_assignment: bool = False

    def value_col(self, meta: dict) -> str:
        raise NotImplementedError

    def encode(self, ctx: IndexCtx, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def bucketize(self, ctx: IndexCtx, primary: DataFrame) -> DataFrame:
        raise NotImplementedError

    def pair_score(self, ctx: IndexCtx, a, b):
        raise NotImplementedError

    def threshold(self, meta: dict, value) -> float:
        """The pair-score floor for a ``knob`` value."""
        return value

    def match_bucketize(self):
        """Batch-side bucket kernel for match's family keywords (the
        multi-probe dials), or None for the stored kernel.  Takes no
        keyword here, so an unknown one raises TypeError."""
        return None

    def score_out(self, ctx: IndexCtx, s):
        """The match result's ``score_col`` from the 6-rounded score."""
        return s

    def append_stats(self, ctx: IndexCtx, fresh: DataFrame) -> dict:
        """Append-time telemetry merged into every append report (see
        :func:`append_to_index`); none by default."""
        return {}

    def refresh(self, spark: SparkSession, path: str, **kw) -> dict:
        raise ValueError(
            f"{self.name} indexes have no trained state to refresh "
            "(hash families are fixed at save time)"
        )

    def _pairs(self, ctx, primary, buckets, threshold, max_bucket_size):
        cands = bucket_self_pairs(
            buckets, self.bucket_keys, ctx.meta["id_col"],
            max_bucket_size=max_bucket_size,
            unique_assignment=self.unique_assignment,
        )
        return verify_pairs(ctx, self, cands, primary, threshold)

    def keep_set(
        self,
        ctx: IndexCtx,
        primary: DataFrame,
        buckets: DataFrame,
        threshold: float,
        max_bucket_size: int | None = None,
    ) -> DataFrame:
        """Retroactive keep set from the stored tables: bucket
        self-join (a_id < b_id) → exact verify at ``threshold`` →
        connected components → min-id representative; singletons keep
        themselves.  ``max_bucket_size`` caps each bucket's self-join
        at its first N ids (ascending)."""
        pairs = self._pairs(ctx, primary, buckets, threshold,
                            max_bucket_size)
        return keep_from_pairs(primary, pairs, ctx.meta["id_col"])

    def self_pairs(
        self,
        ctx: IndexCtx,
        batch: DataFrame,
        threshold: float,
        max_bucket_size: int | None = None,
    ) -> DataFrame:
        """Verified (a_id, b_id) near-dup pairs WITHIN one raw batch,
        under the index's stored family: encode, bucketize, bucket
        self-join, exact verify at the same ``threshold`` as the
        historical match.  The intra-batch pass of
        :func:`ingest_batch`."""
        enc = self.encode(ctx, batch).localCheckpoint(eager=True)
        return self._pairs(ctx, enc, self.bucketize(ctx, enc), threshold,
                           max_bucket_size)


# ---------------------------------------------------------------------------
# generic lifecycle ops.  ``vault`` is imported lazily: it holds the
# shared low-level plumbing (staged swaps, replay log, meta counter)
# and the save/load builders that call back into this module.


def _v():
    from astro_vectordb_spark.sources import vault

    return vault


def load_index(spark: SparkSession, path: str, family: BucketIndexFamily):
    """-> (primary df, buckets df, meta dict).  ``_meta`` and both
    table schemas come from the control-plane memo (per listing), so a
    warm load of an unchanged index runs no Spark job."""
    v = _v()
    meta = v._read_meta(spark, path)
    primary = v._read_maybe_swapped(
        spark, os.path.join(path, family.primary_table)
    )
    buckets = v._read_maybe_swapped(
        spark, os.path.join(path, family.bucket_table)
    )
    return primary, buckets, meta


def save_index(
    df: DataFrame,
    path: str,
    family: BucketIndexFamily,
    params: dict,
    meta_values: tuple,
) -> None:
    """Build + persist: encode the corpus once (the expensive pass),
    derive the bucket table from the WRITTEN primary files, write the
    one-row _meta carrying ``meta_values + (n_rows,)``."""
    spark = df.sparkSession
    ctx = IndexCtx(spark, path, dict(params))
    id_col = params["id_col"]
    pp = os.path.join(path, family.primary_table)
    family.encode(ctx, df).write.mode("overwrite").parquet(pp)
    stored = spark.read.parquet(pp)
    w = family.bucketize(ctx, stored).write.mode("overwrite")
    if family.partition_col:
        w = w.partitionBy(family.partition_col)
    w.parquet(os.path.join(path, family.bucket_table))
    n_rows = stored.select(id_col).distinct().count()
    local_frame(
        spark,
        [tuple(meta_values) + (int(n_rows),)], family.meta_schema
    ).write.mode("overwrite").parquet(os.path.join(path, "_meta"))


def match_index(
    spark: SparkSession,
    path: str,
    family: BucketIndexFamily,
    new_rows: DataFrame,
    threshold: float,
    max_bucket_size: int | None = None,
    telemetry: dict | None = None,
    bucketize=None,
) -> DataFrame:
    """Batch-vs-history match: encode + bucket the BATCH only, keyed
    join against the compact bucket table (semi-join-pruned to the
    batch's buckets when capping/telemetry is on), verify candidates
    with the family's exact pair score.  Returns
    (new_id, hist_id, <score_col>).  ``bucketize`` overrides the
    batch-side bucket kernel (the multi-probe dial)."""
    v = _v()
    primary, buckets, meta = load_index(spark, path, family)
    ctx = IndexCtx(spark, path, meta)
    id_col = meta["id_col"]
    vcol = family.value_col(meta)
    # the batch's value rides its bucket rows as _v_n, so the verify
    # step does not broadcast the encoded batch again: the minhash and
    # simhash kernels pass extra columns through, and the value is
    # joined back only after a kernel that drops them (RP, SemDeDup).
    # Both frames are pinned lazily: the encode pass would otherwise
    # recompute per consumer, and the bucket frame feeds BOTH the
    # touched-bucket prune and the candidate join
    enc = (
        family.encode(ctx, new_rows)
        .withColumn("_v_n", F.col(vcol))
        .localCheckpoint(eager=False)
    )
    nb = (bucketize or family.bucketize)(ctx, enc)
    if "_v_n" not in nb.columns:
        nb = nb.join(enc.select(id_col, "_v_n"), id_col)
    nb = nb.localCheckpoint(eager=False)
    keys = list(family.bucket_keys)
    hist = buckets.select(F.col(id_col).alias("hist_id"), *keys)
    if max_bucket_size is not None or telemetry is not None:
        touched = nb.select(*keys).distinct()
        hist = hist.join(touched, keys, "left_semi")
    if telemetry is not None:
        # PRE-cap skew over exactly the buckets this batch joins
        telemetry.update(
            v._bucket_witness_stats(hist, "hist_id", keys=tuple(keys))
        )
    if max_bucket_size is not None:
        w = Window.partitionBy(*keys).orderBy("hist_id")
        hist = (
            hist.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= int(max_bucket_size))
            .drop("_rn")
        )
    cands = (
        nb.select(F.col(id_col).alias("new_id"), *keys, "_v_n")
        .join(hist, keys)
        .select("new_id", "hist_id", "_v_n")
    )
    if not family.unique_assignment:
        cands = cands.dropDuplicates(["new_id", "hist_id"])
    scored = (
        cands.join(
            primary.select(F.col(id_col).alias("hist_id"),
                           F.col(vcol).alias("_v_h")),
            "hist_id",
        )
        .withColumn("_s", family.pair_score(ctx, F.col("_v_n"),
                                            F.col("_v_h")))
    )
    thr = F.lit(float(threshold))
    if family.round_before_filter:
        scored = scored.withColumn("_s", F.round("_s", 6))
    cond = F.col("_s") >= thr if family.score_is_geq else F.col("_s") > thr
    return scored.filter(cond).select(
        "new_id", "hist_id",
        family.score_out(ctx, F.round("_s", 6)).alias(family.score_col),
    )


def append_to_index(
    spark: SparkSession,
    path: str,
    family: BucketIndexFamily,
    new_rows: DataFrame,
    batch_id: int | None = None,
    dedup_ids: bool = True,
) -> dict:
    """Incremental insert with the crash-self-healing bucket sync:
    primary rows append BEFORE bucket rows, and the bucket append
    derives from the stored primary-vs-bucket id diff (a crash between
    the two appends is repaired by the next append; the steady state
    short-circuits the diff with two count-distinct aggregations since
    bucket ids are always a subset of primary ids).

    ``family.append_stats(ctx, fresh)`` is called with the encoded
    post-dedup batch; its dict merges into the report.  The hook is
    how a family surfaces append-time telemetry — SemDeDup reports
    per-batch assignment-similarity drift vs the train-time baseline
    (the PQ appends' batch-MSE pattern) — without the core
    knowing the family's statistics.  A replay-skipped batch never
    calls it."""
    v = _v()
    if v._batch_already_committed(spark, path, batch_id,
                                  op=family.append_op):
        return {"appended_rows": 0, "repaired_rows": 0,
                "skipped_replay": True}
    primary, buckets, meta = load_index(spark, path, family)
    ctx = IndexCtx(spark, path, meta)
    id_col = meta["id_col"]
    fresh = family.encode(ctx, new_rows)
    if dedup_ids:
        fresh = fresh.join(primary.select(id_col), id_col, "left_anti")
    extra = family.append_stats(ctx, fresh)
    n_primary_before = primary.select(id_col).distinct().count()
    n_bucket_before = buckets.select(id_col).distinct().count()
    if n_primary_before == n_bucket_before:
        backlog = 0
    else:
        backlog = (
            primary.join(buckets.select(id_col).distinct(), id_col,
                         "left_anti")
            .select(id_col).distinct().count()
        )
    pp = os.path.join(path, family.primary_table)
    fresh.write.mode("append").parquet(pp)
    all_primary = spark.read.parquet(pp)
    missing = all_primary.join(
        buckets.select(id_col).distinct(), id_col, "left_anti"
    )
    w = family.bucketize(ctx, missing).write.mode("append")
    if family.partition_col:
        w = w.partitionBy(family.partition_col)
    w.parquet(os.path.join(path, family.bucket_table))
    synced = missing.select(id_col).distinct().count()
    v._update_meta_n_rows(
        spark, path,
        absolute=all_primary.select(id_col).distinct().count(),
    )
    v._record_batch(spark, path, batch_id, op=family.append_op)
    # extra merges FIRST: an append_stats returning a colliding key (e.g.
    # "appended_rows") must not overwrite the core replay/sync fields
    # callers depend on — core wins on collision.
    return {
        **extra,
        "appended_rows": int(max(synced - backlog, 0)),
        "repaired_rows": int(backlog),
        "skipped_replay": False,
    }


def remove_from_index(
    spark: SparkSession,
    path: str,
    family: BucketIndexFamily,
    ids,
    batch_id: int | None = None,
    op: str | None = None,
) -> dict:
    """Physical delete — file-granular on BOTH tables, buckets FIRST
    (the bucket-ids-subset-of-primary-ids invariant then holds at
    every instant; a crash leaves a primary row with no buckets,
    which the next append's self-heal re-buckets)."""
    v = _v()
    op = op or family.name + "_remove"
    if v._batch_already_committed(spark, path, batch_id, op=op):
        return {family.removed_key: 0, "skipped_replay": True}
    meta = v._read_meta(spark, path)
    id_col = meta["id_col"]
    pp = os.path.join(path, family.primary_table)
    bp = os.path.join(path, family.bucket_table)
    v._recover_swap(spark, pp)
    v._recover_swap(spark, bp)
    if isinstance(ids, DataFrame):
        ids_df = ids.select(F.col(ids.columns[0]).alias(id_col)).distinct()
    else:
        ids_df = local_frame(
            spark,
            [(int(x),) for x in ids], f"{id_col} long"
        ).distinct()
    ids_df = ids_df.localCheckpoint(eager=True)
    v._remove_rows_by_file(spark, bp, ids_df, id_col=id_col)
    _, _, n_removed = v._remove_rows_by_file(spark, pp, ids_df,
                                             id_col=id_col)
    if n_removed:
        v._update_meta_n_rows(spark, path, delta=-n_removed)
    v._record_batch(spark, path, batch_id, op=op)
    return {family.removed_key: int(n_removed), "skipped_replay": False}


def compact_index(
    spark: SparkSession,
    path: str,
    family: BucketIndexFamily,
    target_rows_per_file: int = 4_000_000,
    min_file_ratio: float = 2.0,
) -> dict:
    """Churn-aware compaction: a no-op below ``min_file_ratio`` x the
    ideal file count; otherwise both tables rewrite through the
    crash-safe staged swap, dropping duplicate ids and re-deriving
    buckets FROM the compacted primary (re-syncs any drift in one
    pass, preserving the bucket partitioning)."""
    v = _v()
    pp = os.path.join(path, family.primary_table)
    bp = os.path.join(path, family.bucket_table)
    v._recover_swap(spark, pp)
    v._recover_swap(spark, bp)
    meta = v._read_meta(spark, path)
    ctx = IndexCtx(spark, path, meta)
    id_col = meta["id_col"]
    primary = spark.read.parquet(pp)
    n_files = primary.select(F.col("_metadata.file_path")).distinct().count()
    n_rows = primary.count()
    ideal = max(1, -(-n_rows // target_rows_per_file))
    if n_files <= min_file_ratio * ideal:
        return {"compacted": False, "files": n_files,
                "files_before": n_files, "rows": n_rows}
    rows = primary.dropDuplicates([id_col])

    def _write_primary(staging: str) -> None:
        rows.repartition(ideal).write.mode("overwrite").parquet(staging)

    v._replace_dir(spark, _write_primary, pp)
    compacted = spark.read.parquet(pp)
    bk = family.bucketize(ctx, compacted)

    def _write_buckets(staging: str) -> None:
        w = bk.repartition(
            ideal, *( [family.partition_col] if family.partition_col else [])
        ).write.mode("overwrite")
        if family.partition_col:
            w = w.partitionBy(family.partition_col)
        w.parquet(staging)

    v._replace_dir(spark, _write_buckets, bp)
    v._update_meta_n_rows(
        spark, path,
        absolute=compacted.select(id_col).distinct().count(),
    )
    return {"compacted": True, "files": n_files, "files_before": n_files,
            "rows": n_rows, "target_files": ideal}


def keep_from_pairs(
    universe: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Connected components over verified pairs → min-id representative
    per component; ``universe`` rows that joined no pair (singletons)
    keep themselves.  The shared tail of every retroactive sweep."""
    from astro_vectordb_spark.operators.dedup import connected_components

    comp = connected_components(pairs)
    keep = comp.filter(F.col("id") == F.col("component")).select(
        F.col("id").alias(id_col)
    )
    singletons = universe.select(id_col).distinct().join(
        comp.select(F.col("id").alias(id_col)), id_col, "left_anti"
    )
    return keep.unionByName(singletons)


def bucket_self_pairs(
    buckets: DataFrame,
    keys: tuple[str, ...],
    id_col: str,
    max_bucket_size: int | None = None,
    unique_assignment: bool = False,
) -> DataFrame:
    """(a_id < b_id) candidate pairs from a bucket-table self-join,
    with the optional deterministic per-bucket witness cap.
    ``unique_assignment`` (one bucket per id — SemDeDup cells) skips
    the pair dedup shuffle: the self-join provably emits each pair
    once."""
    scope = buckets.select(id_col, *keys)
    if max_bucket_size is not None:
        w = Window.partitionBy(*keys).orderBy(id_col)
        scope = (
            scope.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= int(max_bucket_size))
            .drop("_rn")
        )
    a = scope.select(F.col(id_col).alias("a_id"), *keys)
    b = scope.select(F.col(id_col).alias("b_id"), *keys)
    pairs = (
        a.join(b, list(keys))
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
    )
    return pairs if unique_assignment else pairs.distinct()


def verify_pairs(
    ctx: IndexCtx,
    family: BucketIndexFamily,
    cands: DataFrame,
    primary: DataFrame,
    threshold: float,
) -> DataFrame:
    """Exact-verify (a_id, b_id) candidates against the stored primary
    values; returns the surviving (a_id, b_id) pairs."""
    id_col = ctx.meta["id_col"]
    vcol = family.value_col(ctx.meta)
    scored = (
        cands.join(
            primary.select(F.col(id_col).alias("a_id"),
                           F.col(vcol).alias("_v_a")),
            "a_id",
        )
        .join(
            primary.select(F.col(id_col).alias("b_id"),
                           F.col(vcol).alias("_v_b")),
            "b_id",
        )
        .withColumn("_s", family.pair_score(ctx, F.col("_v_a"),
                                            F.col("_v_b")))
    )
    thr = F.lit(float(threshold))
    if family.round_before_filter:
        scored = scored.withColumn("_s", F.round("_s", 6))
    cond = F.col("_s") >= thr if family.score_is_geq else F.col("_s") > thr
    return scored.filter(cond).select("a_id", "b_id")


def index_groups(
    spark: SparkSession,
    path: str,
    family: BucketIndexFamily,
    threshold: float,
    **keep_kw,
) -> DataFrame:
    """The retroactive keep set from the index alone:
    ``family.keep_set`` over the stored primary and bucket tables."""
    primary, buckets, meta = load_index(spark, path, family)
    return family.keep_set(IndexCtx(spark, path, meta), primary, buckets,
                           threshold, **keep_kw)


def apply_groups(
    spark: SparkSession,
    path: str,
    family: BucketIndexFamily,
    threshold: float,
    batch_id: int | None = None,
    **keep_kw,
) -> dict:
    """One-call retroactive sweep-APPLY: compute the keep set from the
    index alone (:func:`index_groups`), physically remove every loser
    from both tables (file-granular, replay-logged under the family's
    sweep namespace), report {kept, <removed_key>, skipped_replay}.
    After it returns the index is a fixpoint: re-running removes
    nothing.  The keep-set keywords are checked before the replay log
    is read."""
    bad = sorted(set(keep_kw) & set(family.groups_only))
    if bad:
        raise TypeError(
            f"apply_sweep() got an unexpected keyword argument {bad[0]!r}"
        )
    inspect.signature(family.keep_set).bind(None, None, None, threshold,
                                            **keep_kw)
    v = _v()
    if v._batch_already_committed(spark, path, batch_id,
                                  op=family.sweep_op):
        return {"kept": 0, family.removed_key: 0, "skipped_replay": True}
    # eager checkpoint: the keep plan reads the index being rewritten
    keep = index_groups(spark, path, family, threshold, **keep_kw)
    keep = keep.localCheckpoint(eager=True)
    meta = v._read_meta(spark, path)
    id_col = meta["id_col"]
    losers = (
        spark.read.parquet(os.path.join(path, family.primary_table))
        .select(id_col)
        .distinct()
        .join(keep, id_col, "left_anti")
    )
    rep = remove_from_index(
        spark, path, family, losers, batch_id=batch_id, op=family.sweep_op
    )
    return {
        "kept": v._post_sweep_kept(spark, path, family.primary_table,
                                   id_col),
        family.removed_key: rep[family.removed_key],
        "skipped_replay": rep.get("skipped_replay", False),
    }


def ingest_batch(
    spark: SparkSession,
    path: str,
    family: BucketIndexFamily,
    batch: DataFrame,
    batch_id: int | None,
    threshold: float,
    drop_dups: bool = True,
    max_bucket_size: int | None = None,
) -> dict:
    """Dedup-at-ingest of ONE batch — what a near-dup index's stream
    runs per micro-batch.  With ``drop_dups``:

    1. intra-batch: ``family.self_pairs`` (two near-copies of a
       brand-new row arriving in one batch — neither is in the index,
       so the historical match alone would append both) → connected
       components → every non-min-id member drops;
    2. historical: :func:`match_index` of the survivors against the
       persisted index at the same ``threshold`` — only the compact
       bucket/primary tables are read, never the corpus — and every
       hit drops;

    then the rest appends through the replay-logged
    :func:`append_to_index`.  The report adds ``dropped_intra_batch``
    and ``dropped_dups``.  Both passes are deterministic, so a
    redelivered batch would keep the same survivors; it is skipped
    outright when its ``(append_op, batch_id)`` is already logged.
    ``max_bucket_size`` caps per-bucket witnesses in both passes (the
    opt-in hot-bucket valve of :func:`match_index`)."""
    from astro_vectordb_spark.operators.dedup import connected_components

    v = _v()
    if v._batch_already_committed(spark, path, batch_id,
                                  op=family.append_op):
        return {"appended_rows": 0, "repaired_rows": 0,
                "skipped_replay": True, "dropped_dups": 0,
                "dropped_intra_batch": 0}
    n_intra = n_dups = 0
    keep = batch
    if drop_dups:
        meta = v._read_meta(spark, path)
        ctx = IndexCtx(spark, path, meta)
        id_col = meta["id_col"]
        comp = connected_components(
            family.self_pairs(ctx, batch, threshold, max_bucket_size)
        )
        losers = comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        ).localCheckpoint(eager=True)
        n_intra = losers.count()
        if n_intra:
            keep = keep.join(losers, id_col, "left_anti")
        hits = match_index(
            spark, path, family, keep, threshold,
            max_bucket_size=max_bucket_size,
        ).select(F.col("new_id").alias(id_col)).distinct()
        hits = hits.localCheckpoint(eager=True)
        n_dups = hits.count()
        if n_dups:
            keep = keep.join(hits, id_col, "left_anti")
    rep = append_to_index(spark, path, family, keep, batch_id=batch_id)
    rep["dropped_dups"] = int(n_dups)
    rep["dropped_intra_batch"] = int(n_intra)
    return rep


def minhash_sig_self_pairs(
    sigs: DataFrame,
    num_hashes: int,
    bands: int,
    threshold: float,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Signature-table self-pairs under the index's hash family, with
    the exact-duplicate hot-bucket collapse built in.

    Groups docs by their FULL signature and keeps the min-id
    representative per distinct sig (exact duplicates share every band
    bucket, so a d-copy cluster would otherwise push O(d^2 x bands)
    rows through one join key); bands are re-derived from the rep
    signatures (cheap stored-array fold, identical arithmetic to the
    persisted band table); candidates (a_id < b_id) are verified by
    signature agreement est = |matching positions| / num_hashes >=
    ``threshold``.

    Returns ``(reps, pairs)``: reps = (sig, id_col) one row per
    distinct signature; pairs = (a_id, b_id) verified rep-level pairs.
    Same-signature members est at exactly 1.0 against their rep, so
    rep-level connectivity is equivalent to doc-level connectivity for
    grouping, and a member can never head its component (the rep is
    the group minimum).  Shared by the MinHash keep set (the
    retroactive sweep) and the streaming ingest's intra-batch dedup."""
    from astro_vectordb_spark.operators.dedup import (
        _bucket_self_join,
        minhash_band_table,
    )

    reps = sigs.groupBy("sig").agg(F.min(id_col).alias(id_col))
    rep_bands = minhash_band_table(
        reps, num_hashes=num_hashes, bands=bands,
        id_col=id_col, sig_col="sig",
    )
    cands = (
        _bucket_self_join(rep_bands, id_col, ["band_idx", "band_sig"])
        .select("a_id", "b_id")
        .distinct()
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("_sig_a", "_sig_b", lambda x, y: x == y),
                lambda v: v,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    pairs = (
        cands.join(
            reps.select(
                F.col(id_col).alias("a_id"), F.col("sig").alias("_sig_a")
            ),
            "a_id",
        )
        .join(
            reps.select(
                F.col(id_col).alias("b_id"), F.col("sig").alias("_sig_b")
            ),
            "b_id",
        )
        .withColumn("_est", F.round(est, 6))
        .filter(F.col("_est") >= F.lit(float(threshold)))
        .select("a_id", "b_id")
    )
    return reps, pairs


# ---------------------------------------------------------------------------
# the four families


class MinhashFamily(BucketIndexFamily):
    """Text near-dup fingerprints: SQL-safe minhash signatures, LSH
    band buckets, signature-agreement verification (the unbiased
    k/num_hashes Jaccard estimate, exact rationals end to end)."""

    name = "minhash"
    primary_table = "sigs"
    bucket_table = "bands"
    bucket_keys = ("band_idx", "band_sig")
    partition_col = "band_idx"
    append_op = "minhash_append"
    sweep_op = "minhash_sweep"
    removed_key = "removed_docs"
    score_col = "est_jaccard"
    score_is_geq = True
    round_before_filter = True
    meta_schema = "num_hashes int, bands int, n int, id_col string, n_rows long"
    detector = ("num_hashes", "bands")
    knob_default = 0.8

    def __init__(self, text_col: str = "text") -> None:
        self.text_col = text_col

    def value_col(self, meta: dict) -> str:
        return "sig"

    def encode(self, ctx: IndexCtx, df: DataFrame) -> DataFrame:
        from astro_vectordb_spark.operators.dedup import (
            minhash_signatures_sql_safe,
        )

        m = ctx.meta
        return minhash_signatures_sql_safe(
            df, num_hashes=int(m["num_hashes"]), n=int(m["n"]),
            text_col=self.text_col, id_col=m["id_col"],
        )

    def bucketize(self, ctx: IndexCtx, primary: DataFrame) -> DataFrame:
        from astro_vectordb_spark.operators.dedup import minhash_band_table

        m = ctx.meta
        return minhash_band_table(
            primary, num_hashes=int(m["num_hashes"]),
            bands=int(m["bands"]), id_col=m["id_col"],
        )

    def _sig_pairs(self, ctx, sigs, threshold):
        m = ctx.meta
        return minhash_sig_self_pairs(
            sigs, num_hashes=int(m["num_hashes"]), bands=int(m["bands"]),
            threshold=threshold, id_col=m["id_col"],
        )

    def keep_set(self, ctx, primary, buckets, threshold):
        """The keep set over distinct-signature representatives
        (:func:`minhash_sig_self_pairs`, no per-bucket cap): a rep
        survives unless it joined a component it doesn't head, and a
        same-signature member never survives (its rep is the group
        minimum), so the keep set over reps IS the keep set over
        docs."""
        reps, pairs = self._sig_pairs(ctx, primary, threshold)
        return keep_from_pairs(reps, pairs, ctx.meta["id_col"])

    def self_pairs(self, ctx, batch, threshold, max_bucket_size=None):
        """Lossless exact-duplicate collapse instead of the plain
        bucket self-join: verified pairs among the batch's min-id
        representatives per distinct signature, plus one (rep, member)
        pair per same-signature member.  A member's id exceeds its
        rep's, so it never heads its component."""
        id_col = ctx.meta["id_col"]
        sigs = self.encode(ctx, batch).localCheckpoint(eager=False)
        reps, pairs = self._sig_pairs(ctx, sigs, threshold)
        members = (
            sigs.join(reps.select("sig", F.col(id_col).alias("a_id")), "sig")
            .filter(F.col(id_col) != F.col("a_id"))
            .select("a_id", F.col(id_col).alias("b_id"))
        )
        return pairs.unionByName(members)

    def pair_score(self, ctx: IndexCtx, a, b):
        nh = int(ctx.meta["num_hashes"])
        return (
            F.size(
                F.filter(F.zip_with(a, b, lambda x, y: x == y),
                         lambda v: v)
            ).cast("double")
            / F.lit(float(nh))
        )


class RPFamily(BucketIndexFamily):
    """Embedding near-dup: multi-table random-hyperplane buckets
    (float64 element-at-a-time fold — bit-identical to the SQL twin),
    exact-cosine verification over the index's own vector copy."""

    name = "rp"
    primary_table = "vecs"
    bucket_table = "buckets"
    bucket_keys = ("tbl", "cell")
    partition_col = "tbl"
    append_op = "rp_append"
    sweep_op = "rp_sweep"
    removed_key = "removed_rows"
    score_col = "score"
    score_is_geq = False
    round_before_filter = False
    meta_schema = (
        "n_planes int, n_tables int, seed int, dim int, metric string, "
        "id_col string, vec_col string, n_rows long"
    )
    detector = ("n_planes", "n_tables")
    knob_default = 0.9

    def value_col(self, meta: dict) -> str:
        return meta["vec_col"]

    def encode(self, ctx: IndexCtx, df: DataFrame) -> DataFrame:
        m = ctx.meta
        return df.select(m["id_col"], m["vec_col"])

    def match_bucketize(self, n_probes: int = 0):
        """``n_probes`` > 0: the batch side also probes, per table, the
        ``n_probes`` buckets one sign-flip away on its lowest-
        |projection| planes (``dedup.rp_probe_cell_table``)."""
        if n_probes <= 0:
            return None
        from astro_vectordb_spark.operators.dedup import rp_probe_cell_table

        def bucketize(ctx, primary):
            m = ctx.meta
            return rp_probe_cell_table(
                primary, n_planes=int(m["n_planes"]),
                n_tables=int(m["n_tables"]), seed=int(m["seed"]),
                id_col=m["id_col"], vec_col=m["vec_col"],
                dim=int(m["dim"]), n_probes=n_probes,
            )

        return bucketize

    def bucketize(self, ctx: IndexCtx, primary: DataFrame) -> DataFrame:
        from astro_vectordb_spark.operators.dedup import rp_cell_table

        m = ctx.meta
        return rp_cell_table(
            primary, n_planes=int(m["n_planes"]),
            n_tables=int(m["n_tables"]), seed=int(m["seed"]),
            id_col=m["id_col"], vec_col=m["vec_col"], dim=int(m["dim"]),
        )

    def pair_score(self, ctx: IndexCtx, a, b):
        from astro_vectordb_spark.functions.vector_np import (
            make_exact_pair_score_udf,
        )

        # Arrow exact-fold kernel (round 16): bit-identical to the
        # expression fold (same float64 products, same sequential
        # accumulation — vector_np._fold_dot_rows), ~7x its per-core
        # throughput on the pair-verify shape; the earlier note that
        # the fold beats the UNROLLED CODEGEN chain still holds — this
        # replaces the fold with a vectorized kernel, not with the
        # unrolled chain.  Pinned bitwise by
        # tests/test_exact_kernels_r16.py.
        return make_exact_pair_score_udf("cosine")(a, b)


def ranked_cells(scored: DataFrame, id_col: str, n: int) -> DataFrame:
    """-> (id_col, _t): each id's ``n`` best cells as (s, nc, cell_id)
    structs, ranked by (similarity ``_as`` desc, cell_id asc) — the
    assignment tie rule, so slot 0 IS the argmax cell.  One map-side
    combinable aggregation (collect k structs, sort, slice; k is
    control-plane sized: the centroids fit on the driver), no window
    over n x k rows."""
    return scored.groupBy(id_col).agg(
        F.slice(
            F.reverse(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("_as").alias("s"),
                            (-F.col("cell_id")).alias("nc"),
                            F.col("cell_id").alias("cell_id"),
                        )
                    )
                )
            ),
            1, n,
        ).alias("_t")
    )


class SemDeDupFamily(BucketIndexFamily):
    """SemDeDup (Abbas et al. 2023) as a PERSISTED index: the blocking
    structure is the centroid assignment itself — one cell per vector,
    the stored ``centroids/`` table the hash family.  Assignment runs
    through the expression similarity kernel (broadcast centroid join
    + per-vector argmax, ties by cell_id ascending) so the whole
    steady-state lifecycle stays oracle-replayable when the centroids
    are caller-supplied literals; a map-side ``max_by`` aggregation
    keeps it one shuffle-free pass rather than a window over n x k
    rows.  Cross-cell near-dups are out of scope by design (SemDeDup
    semantics) but for the probe dials."""

    name = "semdedup"
    primary_table = "vecs"
    bucket_table = "cells"
    bucket_keys = ("cell_id",)
    partition_col = "cell_id"
    unique_assignment = True
    append_op = "semdedup_append"
    sweep_op = "semdedup_sweep"
    removed_key = "removed_rows"
    score_col = "score"
    score_is_geq = False
    round_before_filter = False
    # train_sim_mean / train_sim_p95: the save/refresh-time baseline of
    # per-vector assigned-centroid similarity — the yardstick the
    # append-time drift report compares each batch against (legacy
    # indexes lack the columns; loaders see None and the report omits
    # the baseline).  probe_margin (round 15): when set, the cells
    # table persists a margin-gated SECOND cell per thin-margin row
    # (``cell_id_2``) so history-side ops (groups/sweep) catch
    # near-dup pairs straddling a cell boundary INSIDE the stored
    # corpus — the batch-vs-history dial (match n_probes=) cannot see
    # those.  None (and every legacy index) = argmax-1 cells only.
    meta_schema = (
        "k int, metric string, id_col string, vec_col string, dim int, "
        "train_sim_mean double, train_sim_p95 double, "
        "probe_margin double, n_rows long"
    )
    # the least specific detector: ``neardup.open`` tries it last
    detector = ("k", "vec_col")
    knob = "eps"
    knob_default = 0.95
    groups_only = ("use_stored_probes",)

    def __init__(self) -> None:
        self._centroids = None

    def centroids(self, ctx: IndexCtx) -> DataFrame:
        if self._centroids is None:
            self._centroids = _v()._read_maybe_swapped(
                ctx.spark, os.path.join(ctx.path, "centroids")
            )
        return self._centroids

    def value_col(self, meta: dict) -> str:
        return meta["vec_col"]

    def encode(self, ctx: IndexCtx, df: DataFrame) -> DataFrame:
        m = ctx.meta
        return df.select(m["id_col"], m["vec_col"])

    def refresh(self, spark: SparkSession, path: str, **kw) -> dict:
        from astro_vectordb_spark.sources.semdedup_index import (
            semdedup_refresh_index,
        )

        return semdedup_refresh_index(spark, path, **kw)

    def append_stats(self, ctx: IndexCtx, fresh: DataFrame) -> dict:
        """Drift telemetry: the appended batch's assigned-centroid
        similarity (mean, p95) next to the train-time baseline in
        ``_meta`` — see ``NearDupIndex.append``."""
        from astro_vectordb_spark.functions.vector import similarity
        from astro_vectordb_spark.sources.semdedup_index import _sim_stats

        m = ctx.meta
        per = (
            fresh.select(F.col(m["vec_col"]).alias("_v"), m["id_col"])
            .crossJoin(F.broadcast(self.centroids(ctx).select("centroid")))
            .withColumn(
                "_as", similarity(F.col("_v"), F.col("centroid"),
                                  m["metric"])
            )
            .groupBy(m["id_col"])
            .agg(F.max("_as").alias("_s"))
        ).localCheckpoint(eager=True)
        bm, bp = _sim_stats(per)
        return {
            "batch_sim_mean": bm,
            "batch_sim_p95": bp,
            "train_sim_mean": m.get("train_sim_mean"),
            "train_sim_p95": m.get("train_sim_p95"),
        }

    def scored(self, ctx: IndexCtx, primary: DataFrame) -> DataFrame:
        """(id, vec, cell_id, centroid, _as): every row against every
        stored centroid (broadcast; k is control-plane sized)."""
        from astro_vectordb_spark.functions.vector import similarity

        m = ctx.meta
        cents = self.centroids(ctx).select("cell_id", "centroid")
        return (
            primary.select(m["id_col"], m["vec_col"])
            .crossJoin(F.broadcast(cents))
            .withColumn(
                "_as", similarity(F.col(m["vec_col"]), F.col("centroid"),
                                  m["metric"])
            )
        )

    def bucketize(self, ctx: IndexCtx, primary: DataFrame) -> DataFrame:
        id_col = ctx.meta["id_col"]
        scored = self.scored(ctx, primary)
        margin = ctx.meta.get("probe_margin")
        if margin is None:
            # argmax by (similarity desc, cell_id asc) as ONE map-side
            # combinable aggregation: max_by over the ordering struct
            # (_as, -cell_id) — identical tie rule to the window form
            # the oracle replays, without shuffling n x k rows by id
            return scored.groupBy(id_col).agg(
                F.max_by(
                    "cell_id", F.struct(F.col("_as"), -F.col("cell_id"))
                ).alias("cell_id")
            )
        # probe_margin set: also persist the margin-gated runner-up
        # cell (the batch-side multi-probe aggregation, 2 slots); slot
        # 1 IS the argmax tie rule, so ``cell_id`` is bit-identical to
        # the max_by path and ``cell_id_2`` is null unless
        # sim_1 - sim_2 <= margin.
        top = ranked_cells(scored, id_col, 2)
        return top.select(
            id_col,
            F.col("_t")[0]["cell_id"].alias("cell_id"),
            F.when(
                (F.size("_t") > 1)
                & (F.col("_t")[0]["s"] - F.col("_t")[1]["s"]
                   <= F.lit(float(margin))),
                F.col("_t")[1]["cell_id"],
            ).alias("cell_id_2"),
        )

    def match_bucketize(self, n_probes: int = 1, probe_margin: float = 0.05):
        """Boundary multi-probe (``n_probes`` > 1): a batch row also
        probes each runner-up cell j with ``sim_1 - sim_j <=
        probe_margin``, ranked by the assignment tie rule.  History
        stays argmax-1, so unique-assignment pair dedup stays provably
        safe (a history id lives in ONE cell; distinct probed cells
        cannot emit one pair twice)."""
        n_probes, margin = int(n_probes), float(probe_margin)
        if n_probes <= 1:
            return None

        def bucketize(ctx, primary):
            id_col = ctx.meta["id_col"]
            top = ranked_cells(self.scored(ctx, primary), id_col, n_probes)
            probed = top.select(
                id_col,
                F.explode(
                    F.filter(
                        F.col("_t"),
                        lambda e, i: (i == F.lit(0))
                        | (F.col("_t")[0]["s"] - e["s"] <= F.lit(margin)),
                    )
                ).alias("_p"),
            )
            return probed.select(id_col,
                                 F.col("_p.cell_id").alias("cell_id"))

        return bucketize

    def keep_set(
        self,
        ctx: IndexCtx,
        primary: DataFrame,
        buckets: DataFrame,
        threshold: float,
        keep: str = "min_id",
        max_cluster_rows: int | None = None,
        use_stored_probes: bool = True,
    ) -> DataFrame:
        """The within-cell keep set (``max_cluster_rows`` is the
        per-cell cap; members of a capped-out cell keep themselves).
        With a stored probe margin (and ``use_stored_probes``) each
        row joins within its argmax cell AND its stored runner-up, and
        since two rows can then share both cells the pairs dedup.
        ``keep="farthest"`` keeps per group the member with the LOWEST
        centroid similarity, ties by id ascending."""
        from astro_vectordb_spark.functions.vector import similarity
        from astro_vectordb_spark.operators.dedup import connected_components

        if keep not in ("min_id", "farthest"):
            raise ValueError(f"semdedup groups: unknown keep rule {keep!r}")
        m = ctx.meta
        id_col = m["id_col"]
        scope, unique = buckets, True
        if (use_stored_probes and m.get("probe_margin") is not None
                and "cell_id_2" in buckets.columns):
            both = F.filter(F.array("cell_id", "cell_id_2"),
                            lambda x: x.isNotNull())
            scope = buckets.select(
                id_col, F.explode(F.array_distinct(both)).alias("cell_id")
            )
            unique = False
        cands = bucket_self_pairs(
            scope, self.bucket_keys, id_col,
            max_bucket_size=max_cluster_rows, unique_assignment=unique,
        )
        pairs = verify_pairs(ctx, self, cands, primary, threshold)
        if keep == "min_id":
            return keep_from_pairs(primary, pairs, id_col)
        comp = connected_components(pairs)
        csim = (
            primary.join(buckets.select(id_col, "cell_id"), id_col)
            .join(F.broadcast(self.centroids(ctx).select("cell_id",
                                                         "centroid")),
                  "cell_id")
            .withColumn(
                "_cs",
                similarity(F.col(m["vec_col"]), F.col("centroid"),
                           m["metric"]),
            )
            .select(F.col(id_col).alias("id"), "_cs")
        )
        ranked = comp.join(csim, "id").withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("component").orderBy(
                    F.col("_cs").asc(), F.col("id").asc()
                )
            ),
        )
        survivors = ranked.filter(F.col("_rk") == 1).select(
            F.col("id").alias(id_col)
        )
        singletons = primary.select(id_col).distinct().join(
            comp.select(F.col("id").alias(id_col)), id_col, "left_anti"
        )
        return survivors.unionByName(singletons)

    def pair_score(self, ctx: IndexCtx, a, b):
        # Arrow exact-fold kernel (round 16): bit-identical to the
        # expression similarity fold — see RPFamily.pair_score note
        # and tests/test_exact_kernels_r16.py.
        from astro_vectordb_spark.functions.vector_np import (
            make_exact_pair_score_udf,
        )

        return make_exact_pair_score_udf(ctx.meta["metric"])(a, b)


class SimhashFamily(BucketIndexFamily):
    """Text near-dup via SimHash (Manku et al., WWW'07) as a PERSISTED
    index — the fourth family over this core, and the proof that a new
    signature scheme costs three kernels, not a re-implementation:
    signatures are the primary value, pigeonhole chunks the buckets,
    and the pair score is the exact rational (bits - hamming) / bits
    (so the generic >= threshold filter expresses hamming <=
    max_hamming at threshold (bits - max_hamming) / bits, and match
    reports the hamming distance back).

    Two hash families share the lifecycle: ``sql_safe31`` (31-bit
    char-polynomial hash — every op DuckDB-replayable, the driver
    gate rides it) and ``native64`` (xxhash64 — the production
    discrimination; see dedup.simhash_pairs_sql_safe's
    discrimination-gap note)."""

    name = "simhash"
    primary_table = "sigs"
    bucket_table = "chunks"
    bucket_keys = ("chunk_idx", "chunk_val")
    partition_col = "chunk_idx"
    append_op = "simhash_append"
    sweep_op = "simhash_sweep"
    removed_key = "removed_docs"
    score_col = "hamming"
    score_is_geq = True
    round_before_filter = True
    meta_schema = (
        "bits int, max_hamming int, hash_family string, id_col string, "
        "n_rows long"
    )
    detector = ("bits", "hash_family")
    knob = "max_hamming"

    def __init__(self, text_col: str = "text") -> None:
        self.text_col = text_col

    def threshold(self, meta: dict, value) -> float:
        """``max_hamming`` (default: the build distance) → the score
        floor (bits - max_hamming) / bits.  A larger distance than the
        build's raises ValueError: the stored chunk count only
        pigeonholes recall up to the build distance."""
        built = int(meta["max_hamming"])
        mh = built if value is None else int(value)
        if mh > built:
            raise ValueError(
                f"simhash index built for max_hamming={built}; "
                f"querying at {mh} would lose the pigeonhole recall "
                "guarantee (chunks = max_hamming + 1 at build time)"
            )
        bits = int(meta["bits"])
        return (bits - mh) / bits

    def score_out(self, ctx: IndexCtx, s):
        # exact: s is the 6-rounded rational (bits - h)/bits, and
        # bits <= 64 keeps the round-trip error far under 0.5
        bits = int(ctx.meta["bits"])
        return F.round((F.lit(1.0) - s) * bits, 0).cast("int")

    def value_col(self, meta: dict) -> str:
        return "sim"

    def encode(self, ctx: IndexCtx, df: DataFrame) -> DataFrame:
        from astro_vectordb_spark.operators.dedup import _simhash_hashes

        m = ctx.meta
        return _simhash_hashes(m["hash_family"]).signatures(
            df, self.text_col, m["id_col"]
        )

    def bucketize(self, ctx: IndexCtx, primary: DataFrame) -> DataFrame:
        from astro_vectordb_spark.operators.dedup import (
            _simhash_hashes,
            simhash_chunk_table,
        )

        m = ctx.meta
        chunks = _simhash_hashes(m["hash_family"]).chunks(m["max_hamming"])
        return simhash_chunk_table(primary, chunks, id_col=m["id_col"])

    def pair_score(self, ctx: IndexCtx, a, b):
        bits = int(ctx.meta["bits"])
        return (
            F.lit(float(bits))
            - F.bit_count(a.bitwiseXOR(b)).cast("double")
        ) / F.lit(float(bits))


# family name -> class; ``neardup.open`` tries them in this order
FAMILIES = {
    "minhash": MinhashFamily,
    "simhash": SimhashFamily,
    "rp": RPFamily,
    "semdedup": SemDeDupFamily,
}
