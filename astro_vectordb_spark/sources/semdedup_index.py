"""Persisted SemDeDup index: the builder, the loader and the
centroid refresh (round 13; see the module comment below for the
design).  The steady-state lifecycle is the shared one
(sources/index_lifecycle.py, ``SemDeDupFamily``), maintained through
``neardup.open(spark, path)``; this module holds what only SemDeDup
has — trained centroids and their drift baseline."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from astro_vectordb_spark.session import local_frame
from astro_vectordb_spark.sources.index_lifecycle import (
    IndexCtx,
    SemDeDupFamily,
    load_index,
    ranked_cells,
    save_index,
)
from astro_vectordb_spark.sources.vault import _read_maybe_swapped

# ---------------------------------------------------------------------------
# Persisted SemDeDup index — round-12 verdict item "SemDeDup
# steady-state lifecycle".  semantic_dedup (operators/dedup.py) is the
# one-shot form: every run re-assigns the WHOLE corpus to centroids and
# re-searches every cell — at 100 TB that is a full-corpus pass per
# policy run.  This index persists the fitted centroids + per-cell
# assignments once and give the family the same steady-state lifecycle
# as the minhash and RP indexes (one shared implementation:
# sources/index_lifecycle.py): a new batch assigns ONLY ITSELF against
# the stored centroids and joins the compact cell table — per-batch
# cost independent of corpus size.
#
# Data model under ``path``:
#   vecs/        (id, embedding)   — exact-verification side
#   cells/       (id, cell_id)     — partitioned by cell_id: a batch's
#                                    candidate join prunes at file
#                                    level to the cells it touches
#   centroids/   (cell_id, centroid) — the "hash family"
#   _meta        k, metric, id_col, vec_col, dim, n_rows
#
# Assignment runs through the expression similarity kernel (broadcast
# centroid join + map-side max_by argmax, ties by cell_id ascending) —
# bit-identical to the DuckDB fold, so with caller-supplied centroid
# literals the WHOLE lifecycle is oracle-replayable (the driver gate
# rides this index).  Within-cell verification is the exact cosine;
# cross-cell near-dups are out of scope by design (SemDeDup semantics,
# Abbas et al. 2023) — that is the RP index's job.


def _sim_stats(per_id_sim: DataFrame) -> tuple[float | None, float | None]:
    """(mean, exact p95) of a one-column ``_s`` similarity frame —
    the drift yardstick.  Exact percentile (not approx) so the stored
    baseline is reproducible; None/None on an empty frame."""
    row = per_id_sim.agg(
        F.avg("_s").alias("m"),
        F.expr("percentile(_s, 0.95)").alias("p"),
    ).first()
    if row is None or row["m"] is None:
        return None, None
    return float(row["m"]), float(row["p"])


def _stored_assignment_stats(
    spark: SparkSession, path: str
) -> tuple[float | None, float | None, int]:
    """Baseline assignment-similarity stats over the STORED corpus —
    one join of the two compact stored tables plus the broadcast
    centroids (n x 1 similarities, never the n x k assignment pass).
    Returns (mean, p95, n_rows_joined)."""
    from astro_vectordb_spark.functions.vector import similarity

    vecs, cells, cents, meta = load_semdedup_index(spark, path)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    per = (
        vecs.join(cells.select(id_col, "cell_id"), id_col)
        .join(F.broadcast(cents.select("cell_id", "centroid")), "cell_id")
        .select(
            similarity(F.col(vec_col), F.col("centroid"),
                       meta["metric"]).alias("_s")
        )
    )
    per = per.localCheckpoint(eager=True)  # two aggs, one computation
    m, p = _sim_stats(per)
    return m, p, per.count()


def _write_meta_row(spark: SparkSession, path: str, meta: dict) -> None:
    """Staged-swap rewrite of the one-row ``_meta`` from a meta dict
    (the refresh's counterpart of ``vault._update_meta_n_rows``,
    which only patches ``n_rows``)."""
    from astro_vectordb_spark.sources.vault import _replace_dir

    schema = SemDeDupFamily.meta_schema
    row = (
        int(meta["k"]), str(meta["metric"]), str(meta["id_col"]),
        str(meta["vec_col"]), int(meta["dim"]),
        None if meta.get("train_sim_mean") is None
        else float(meta["train_sim_mean"]),
        None if meta.get("train_sim_p95") is None
        else float(meta["train_sim_p95"]),
        None if meta.get("probe_margin") is None
        else float(meta["probe_margin"]),
        None if meta.get("n_rows") is None else int(meta["n_rows"]),
    )
    df = local_frame(spark, [row], schema)

    def _write(staging: str) -> None:
        df.coalesce(1).write.mode("overwrite").parquet(staging)

    _replace_dir(spark, _write, os.path.join(path, "_meta"))


def save_semdedup_index(
    df: DataFrame,
    path: str,
    centroids: DataFrame | None = None,
    k_cells: int = 64,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    dim: int | None = None,
    store_probe_margin: float | None = None,
) -> None:
    """Build + persist the SemDeDup index: fit (or take) the
    centroids, store them, assign the corpus once (the expensive
    pass), store vectors + cell assignments + _meta.

    ``centroids`` (opt-in): a caller-supplied ``(cell_id, centroid)``
    DataFrame replaces the kmeans fit — the bring-your-own-centroids
    form (a prior fit, a taxonomy, fixed literals for the oracle).
    Otherwise centroids fit on a bounded driver-side sample
    (``ann.ivf_build_sampled``'s deterministic NumPy Lloyd's — the
    fit never scales with the corpus).

    ``store_probe_margin`` (round 15, opt-in): persist a margin-gated
    SECOND cell per thin-margin row (``cell_id_2`` in the cells
    table, null for confidently-assigned rows) so the HISTORY-side
    ops — ``NearDupIndex.groups`` and the sweep — catch
    near-dup pairs straddling a cell boundary inside the stored
    corpus.  The batch-vs-history dial (``NearDupIndex.match``'s
    ``n_probes``) cannot reach those pairs: both members are already
    stored and each lives in one argmax cell.  Storage overhead is
    bounded by the margin rule (only thin-margin rows carry a second
    id-sized value); the rule stays a deterministic function of the
    centroid literals, so the whole dial remains oracle-replayable."""
    spark = df.sparkSession
    if dim is None:
        dim = df.select(F.size(vec_col).alias("d")).first()["d"]
    if centroids is None:
        from astro_vectordb_spark.operators.ann import ivf_build_sampled

        _, centroids = ivf_build_sampled(
            df.select(id_col, vec_col), k_cells=k_cells, metric=metric,
            id_col=id_col, vec_col=vec_col, seed=seed,
        )
    cents = centroids.select("cell_id", "centroid")
    cents.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    k = spark.read.parquet(os.path.join(path, "centroids")).count()
    margin = (
        None if store_probe_margin is None else float(store_probe_margin)
    )
    params = {"k": int(k), "metric": str(metric), "id_col": str(id_col),
              "vec_col": str(vec_col), "dim": int(dim),
              "probe_margin": margin}
    save_index(
        df, path, SemDeDupFamily(), params,
        meta_values=(int(k), str(metric), str(id_col), str(vec_col),
                     int(dim), None, None, margin),
    )
    # train-time drift baseline: mean/p95 similarity-to-assigned-
    # centroid over the stored corpus — ONE join of the two compact
    # stored tables (n x 1), not a second n x k assignment pass.  The
    # append reports each batch against this yardstick (the
    # PQ appends' batch-MSE pattern for the semantic family).
    from astro_vectordb_spark.sources.vault import _read_meta

    m, p, _ = _stored_assignment_stats(spark, path)
    meta = _read_meta(spark, path)
    meta["train_sim_mean"], meta["train_sim_p95"] = m, p
    _write_meta_row(spark, path, meta)


def load_semdedup_index(spark: SparkSession, path: str):
    """-> (vecs df, cells df, centroids df, meta dict)."""
    vecs, cells, meta = load_index(spark, path, SemDeDupFamily())
    cents = _read_maybe_swapped(spark, os.path.join(path, "centroids"))
    return vecs, cells, cents, meta


_KEEP_MARGIN = object()  # sentinel: refresh preserves the stored dial


def semdedup_refresh_index(
    spark: SparkSession,
    path: str,
    centroids: DataFrame | None = None,
    k_cells: int | None = None,
    seed: int = 42,
    store_probe_margin=_KEEP_MARGIN,
) -> dict:
    """Retrain the frozen centroids and REASSIGN the stored corpus in
    place — the answer to the drift report
    (``NearDupIndex.append``): when batch similarity sinks
    below the train baseline, refresh refits and restores cell
    balance WITHOUT rebuilding the index.

    What it does NOT pay: the vectors table (the big one) is never
    rewritten, nothing is re-ingested, and the ``_batches`` replay log
    is preserved verbatim — a stream appending through the refresh
    keeps its exactly-once contract.  What it does pay: one bounded
    centroid refit (``ann.ivf_build_sampled``'s driver-side sample —
    never a corpus-scaling fit) and ONE corpus assignment pass
    (broadcast new centroids + map-side argmax) staged-swapped into
    ``cells/`` — versus a full rebuild's encode + vector rewrite +
    assignment.  ``centroids`` (opt-in) skips the refit and reassigns
    under caller-supplied ``(cell_id, centroid)`` rows.

    Crash ordering: centroids swap first, then cells, then ``_meta``.
    A crash between the swaps leaves stale cells under new centroids —
    re-run the refresh (idempotent) or ``NearDupIndex.compact``
    (which re-derives cells from the stored vectors + centroids);
    matches keep returning verified-exact pairs either way,
    with blocking recall degraded until healed.

    ``store_probe_margin``: by default the stored boundary-probe dial
    (``probe_margin`` in ``_meta``; see :func:`save_semdedup_index`)
    is PRESERVED through the refresh — thin-margin rows re-derive
    their ``cell_id_2`` under the new centroids in the same fused
    pass.  Pass a float to adopt or re-tune the dial without a
    rebuild (the cells table is being rewritten anyway), or ``None``
    to drop it.

    Returns ``{"k", "reassigned_rows", "moved_rows", "train_sim_mean",
    "train_sim_p95"}`` — ``moved_rows`` = ids whose cell changed (the
    refit's bite; 0 means the drift signal was noise)."""
    from astro_vectordb_spark.sources.vault import _replace_dir

    vecs, old_cells, _, meta = load_semdedup_index(spark, path)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    if centroids is None:
        from astro_vectordb_spark.operators.ann import ivf_build_sampled

        _, centroids = ivf_build_sampled(
            vecs.select(id_col, vec_col),
            k_cells=int(k_cells or meta["k"]), metric=meta["metric"],
            id_col=id_col, vec_col=vec_col, seed=seed,
        )
    cents = centroids.select("cell_id", "centroid")

    def _write_cents(staging: str) -> None:
        cents.write.mode("overwrite").parquet(staging)

    cpath = os.path.join(path, "centroids")
    _replace_dir(spark, _write_cents, cpath)
    k_new = _read_maybe_swapped(spark, cpath).count()
    # pin the OLD assignment before cells/ is rewritten (moved_rows
    # needs it; the compact table is id + cell_id only)
    old_asg = old_cells.select(id_col, F.col("cell_id").alias("_old"))
    old_asg = old_asg.localCheckpoint(eager=True)
    margin = (
        meta.get("probe_margin")
        if store_probe_margin is _KEEP_MARGIN
        else store_probe_margin
    )
    margin = None if margin is None else float(margin)
    meta_new = dict(meta)
    meta_new["k"] = int(k_new)
    meta_new["probe_margin"] = margin
    # ONE corpus pass: the same broadcast + map-side argmax the family
    # bucketize kernel runs (identical tie rule: max_by over
    # (_as, -cell_id)), widened to also keep the assigned similarity —
    # the new baseline stats and the moved count then come from the
    # pinned compact result instead of re-reading the vectors.  With a
    # probe margin the same pass keeps the top-2 slice instead, so the
    # re-derived ``cell_id_2`` rides the identical scan.  A fresh
    # family object reads the centroids just swapped in.
    scored = SemDeDupFamily().scored(IndexCtx(spark, path, meta), vecs)
    if margin is None:
        assigned = scored.groupBy(id_col).agg(
            F.max_by(
                "cell_id", F.struct(F.col("_as"), -F.col("cell_id"))
            ).alias("cell_id"),
            F.max("_as").alias("_s"),
        )
        cell_cols = [id_col, "cell_id"]
    else:
        top = ranked_cells(scored, id_col, 2)
        assigned = top.select(
            F.col(id_col),
            F.col("_t")[0]["cell_id"].alias("cell_id"),
            F.when(
                (F.size("_t") > 1)
                & (F.col("_t")[0]["s"] - F.col("_t")[1]["s"]
                   <= F.lit(margin)),
                F.col("_t")[1]["cell_id"],
            ).alias("cell_id_2"),
            F.col("_t")[0]["s"].alias("_s"),
        )
        cell_cols = [id_col, "cell_id", "cell_id_2"]
    assigned = assigned.localCheckpoint(eager=True)

    def _write_cells(staging: str) -> None:
        assigned.select(*cell_cols).write.mode(
            "overwrite"
        ).partitionBy("cell_id").parquet(staging)

    _replace_dir(spark, _write_cells, os.path.join(path, "cells"))
    moved = (
        assigned.select(id_col, "cell_id")
        .join(old_asg, id_col)
        .filter(F.col("cell_id") != F.col("_old"))
        .count()
    )
    n = assigned.count()
    m, p = _sim_stats(assigned.select("_s"))
    meta_new["train_sim_mean"], meta_new["train_sim_p95"] = m, p
    _write_meta_row(spark, path, meta_new)
    return {
        "k": int(k_new),
        "reassigned_rows": int(n),
        "moved_rows": int(moved),
        "train_sim_mean": m,
        "train_sim_p95": p,
    }
