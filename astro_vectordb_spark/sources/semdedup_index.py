"""Persisted SemDeDup index faces (round-13; see the module comment
below for the design).  Lives in its own module: the shared lifecycle
implementation is sources/index_lifecycle.py and these faces are thin
parameterizations of it — exactly like the minhash/RP faces in
sources/vault.py, split out so the vault module stays bounded."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from astro_vectordb_spark.session import local_frame
from astro_vectordb_spark.sources.vault import _read_maybe_swapped

# ---------------------------------------------------------------------------
# Persisted SemDeDup index — round-12 verdict item "SemDeDup
# steady-state face".  semantic_dedup (operators/dedup.py) is the
# one-shot form: every run re-assigns the WHOLE corpus to centroids and
# re-searches every cell — at 100 TB that is a full-corpus pass per
# policy run.  These faces persist the fitted centroids + per-cell
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
# rides this face).  Within-cell verification is the exact cosine;
# cross-cell near-dups are out of scope by design (SemDeDup semantics,
# Abbas et al. 2023) — that is the RP index's job.


def _semdedup_family():
    from astro_vectordb_spark.sources.index_lifecycle import SemDeDupFamily

    return SemDeDupFamily()


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
    (the refresh face's counterpart of ``vault._update_meta_n_rows``,
    which only patches ``n_rows``)."""
    from astro_vectordb_spark.sources.index_lifecycle import SemDeDupFamily
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
    face (a prior fit, a taxonomy, fixed literals for the oracle).
    Otherwise centroids fit on a bounded driver-side sample
    (``ann.ivf_build_sampled``'s deterministic NumPy Lloyd's — the
    fit never scales with the corpus).

    ``store_probe_margin`` (round 15, opt-in): persist a margin-gated
    SECOND cell per thin-margin row (``cell_id_2`` in the cells
    table, null for confidently-assigned rows) so the HISTORY-side
    faces — :func:`semdedup_index_groups` and the sweep — catch
    near-dup pairs straddling a cell boundary inside the stored
    corpus.  The batch-vs-history dial (``semdedup_match_index``'s
    ``n_probes``) cannot reach those pairs: both members are already
    stored and each lives in one argmax cell.  Storage overhead is
    bounded by the margin rule (only thin-margin rows carry a second
    id-sized value); the rule stays a deterministic function of the
    centroid literals, so the whole dial remains oracle-replayable."""
    from astro_vectordb_spark.sources.index_lifecycle import save_index

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
        df, path, _semdedup_family(), params,
        meta_values=(int(k), str(metric), str(id_col), str(vec_col),
                     int(dim), None, None, margin),
    )
    # train-time drift baseline: mean/p95 similarity-to-assigned-
    # centroid over the stored corpus — ONE join of the two compact
    # stored tables (n x 1), not a second n x k assignment pass.  The
    # append face reports each batch against this yardstick (the
    # pq_append_to_index batch-MSE pattern for the semantic family).
    from astro_vectordb_spark.sources.vault import _read_meta

    m, p, _ = _stored_assignment_stats(spark, path)
    meta = _read_meta(spark, path)
    meta["train_sim_mean"], meta["train_sim_p95"] = m, p
    _write_meta_row(spark, path, meta)


def load_semdedup_index(spark: SparkSession, path: str):
    """-> (vecs df, cells df, centroids df, meta dict)."""
    from astro_vectordb_spark.sources.index_lifecycle import load_index

    vecs, cells, meta = load_index(spark, path, _semdedup_family())
    cents = _read_maybe_swapped(spark, os.path.join(path, "centroids"))
    return vecs, cells, cents, meta


def semdedup_match_index(
    spark: SparkSession,
    path: str,
    new_rows: DataFrame,
    eps: float = 0.95,
    max_bucket_size: int | None = None,
    telemetry: dict | None = None,
    n_probes: int = 1,
    probe_margin: float = 0.05,
) -> DataFrame:
    """Match a NEW batch of vectors against the persisted SemDeDup
    index: assign the batch to the stored centroids (broadcast join +
    argmax — the batch only; the corpus is never re-assigned), join
    its cell ids against the compact cell table, verify candidates
    with the exact cosine at ``eps``.  Returns
    ``(new_id, hist_id, score)``, score rounded to 6.  Same hot-cell
    cap + telemetry contract as the sibling families (one boilerplate
    mega-cluster = one hot cell_id).

    BOUNDARY MULTI-PROBE (round 14, the RP ``n_probes`` pattern
    applied to argmax cells): SemDeDup assigns each row to exactly ONE
    cell, so a near-dup pair straddling a cell boundary is missed by
    design.  ``n_probes > 1`` lets a BATCH row whose assignment margin
    is thin also probe its runner-up cells: cells ranked by
    (similarity desc, cell_id asc — the assignment tie rule), cell j
    probed iff ``sim_1 - sim_j <= probe_margin``.  History stays
    argmax-1 (nothing is re-stored); recall rises with batch-side work
    only, extra candidate volume is bounded by the margin rule (a
    confidently-assigned row probes nothing extra), and the exact-eps
    verify is unchanged — results are a SUPERSET of the base match by
    construction.  The probed cells are a deterministic function of
    the stored centroid literals, so the whole dial stays
    DuckDB-replayable (the ``semdedup_index_multiprobe`` driver
    gate)."""
    from astro_vectordb_spark.sources.index_lifecycle import match_index

    bucketize = None
    if int(n_probes) > 1:
        bucketize = _multiprobe_bucketize(int(n_probes),
                                          float(probe_margin))
    return match_index(
        spark, path, _semdedup_family(), new_rows, threshold=eps,
        max_bucket_size=max_bucket_size, telemetry=telemetry,
        bucketize=bucketize,
    )


def _multiprobe_bucketize(n_probes: int, probe_margin: float):
    """Batch-side bucketize kernel for the boundary multi-probe: emit
    (id, cell_id) for the argmax cell plus every runner-up within the
    margin.  One map-side aggregation per id (collect k structs, sort,
    slice — k = cell count, control-plane sized), no window over
    n x k rows; the (sim desc, cell_id asc) order is the exact
    assignment tie rule, so probe slot 1 IS the stored assignment
    rule and unique-assignment pair dedup stays provably safe (a
    history id lives in ONE cell; distinct probed cells cannot emit
    one pair twice)."""

    def bucketize(ctx, primary: DataFrame) -> DataFrame:
        from astro_vectordb_spark.functions.vector import similarity

        m = ctx.meta
        id_col, vec_col, metric = m["id_col"], m["vec_col"], m["metric"]
        cents = _read_maybe_swapped(
            ctx.spark, os.path.join(ctx.path, "centroids")
        ).select("cell_id", "centroid")
        scored = (
            primary.select(id_col, vec_col)
            .crossJoin(F.broadcast(cents))
            .withColumn(
                "_as", similarity(F.col(vec_col), F.col("centroid"),
                                  metric)
            )
        )
        # descending (sim, -cell_id) == the argmax tie rule; slice to
        # the probe budget before the margin filter
        top = scored.groupBy(id_col).agg(
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
                1, n_probes,
            ).alias("_top")
        )
        probed = top.select(
            id_col,
            F.explode(
                F.filter(
                    F.col("_top"),
                    lambda e, i: (i == F.lit(0))
                    | (F.col("_top")[0]["s"] - e["s"]
                       <= F.lit(float(probe_margin))),
                )
            ).alias("_p"),
        )
        return probed.select(id_col, F.col("_p.cell_id").alias("cell_id"))

    return bucketize


def semdedup_append_to_index(
    spark: SparkSession,
    path: str,
    new_rows: DataFrame,
    batch_id: int | None = None,
    dedup_ids: bool = True,
) -> dict:
    """Incremental insert: assign the new vectors against the STORED
    centroids and append their vector + cell files — touched-files-
    only, (op='semdedup_append', batch_id) replay log, the shared
    crash-self-healing cell sync (vectors append before cells; the
    cell append derives from the stored vec-vs-cell id diff).

    DRIFT TELEMETRY (round 14): the report carries the appended
    batch's assignment-similarity stats against the train-time
    baseline persisted in ``_meta`` —
    ``{"batch_sim_mean", "batch_sim_p95", "train_sim_mean",
    "train_sim_p95"}`` (baseline None on a legacy index).  The stored
    centroids are FROZEN at save/refresh time; a batch mean sinking
    well below the baseline means the corpus has drifted off them —
    cell balance and within-cell dedup recall silently degrade — and
    the caller should schedule :func:`semdedup_refresh_index` (the
    ``pq_append_to_index`` batch-MSE contract for this family).
    Matching stays exact either way: candidates are verified with the
    true cosine; drift costs recall via worse blocking, not false
    positives."""
    from astro_vectordb_spark.sources.index_lifecycle import append_to_index

    # the drift report is the family's append_stats hook
    return append_to_index(
        spark, path, _semdedup_family(), new_rows, batch_id=batch_id,
        dedup_ids=dedup_ids,
    )


def semdedup_remove_from_index(
    spark: SparkSession,
    path: str,
    ids,
    batch_id: int | None = None,
    op: str = "semdedup_remove",
) -> dict:
    """Physical delete — file-granular on both tables, cells first
    (the shared buckets-first crash ordering)."""
    from astro_vectordb_spark.sources.index_lifecycle import (
        remove_from_index,
    )

    return remove_from_index(
        spark, path, _semdedup_family(), ids, batch_id=batch_id, op=op
    )


def semdedup_compact_index(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 4_000_000,
    min_file_ratio: float = 2.0,
) -> dict:
    """Churn-aware compaction (shared contract): staged-swap rewrite
    of both tables, cells re-derived from the compacted vectors
    against the stored centroids."""
    from astro_vectordb_spark.sources.index_lifecycle import compact_index

    return compact_index(
        spark, path, _semdedup_family(),
        target_rows_per_file=target_rows_per_file,
        min_file_ratio=min_file_ratio,
    )


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
    (:func:`semdedup_append_to_index`): when batch similarity sinks
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
    re-run the refresh (idempotent) or ``semdedup_compact_index``
    (which re-derives cells from the stored vectors + centroids);
    serving faces keep returning verified-exact pairs either way,
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
    # re-derived ``cell_id_2`` rides the identical scan.
    from astro_vectordb_spark.functions.vector import similarity

    new_cents = _read_maybe_swapped(spark, cpath)
    scored = (
        vecs.select(id_col, vec_col)
        .crossJoin(F.broadcast(new_cents.select("cell_id", "centroid")))
        .withColumn(
            "_as", similarity(F.col(vec_col), F.col("centroid"),
                              meta["metric"])
        )
    )
    if margin is None:
        assigned = scored.groupBy(id_col).agg(
            F.max_by(
                "cell_id", F.struct(F.col("_as"), -F.col("cell_id"))
            ).alias("cell_id"),
            F.max("_as").alias("_s"),
        )
        cell_cols = [id_col, "cell_id"]
    else:
        top = scored.groupBy(id_col).agg(
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
                1, 2,
            ).alias("_t")
        )
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


def semdedup_index_groups(
    spark: SparkSession,
    path: str,
    eps: float = 0.95,
    keep: str = "min_id",
    max_cluster_rows: int | None = None,
    use_stored_probes: bool = True,
) -> DataFrame:
    """Corpus-wide SemDeDup of the ALREADY-INGESTED corpus from its
    persisted index alone — the corpus is never re-assigned: the
    stored cell table self-joins within cells (a_id < b_id), the
    stored vectors verify with the exact cosine at ``eps``, connected
    components collapse transitive groups, one representative per
    group survives — ``keep='min_id'`` (the deterministic contract the
    sibling sweeps use, oracle-replayable) or ``keep='farthest'``
    (the paper's rule: the member with the LOWEST centroid cosine,
    ties by id ascending).  Singletons keep themselves; members of a
    cell capped out of the pair search (``max_cluster_rows``) keep
    themselves — the guard can only under-dedup.  Returns the KEEP
    set, one ``(id_col)`` row per surviving vector.

    BOUNDARY PROBES (round 15): an index saved (or refreshed) with
    ``store_probe_margin`` persists a margin-gated second cell per
    thin-margin row; when present (and ``use_stored_probes``), the
    pair search runs over the EXPANDED cell membership — each row
    joins within its argmax cell AND its stored runner-up — so
    near-dup pairs straddling a cell boundary inside the stored
    corpus are found (the base search misses them by design).  The
    result is a superset of the base pairs; the expanded self-join
    dedups pairs (two rows can now share both cells), and the exact
    verify at ``eps`` is unchanged."""
    from astro_vectordb_spark.functions.vector import similarity
    from astro_vectordb_spark.operators.dedup import connected_components
    from astro_vectordb_spark.sources.index_lifecycle import (
        IndexCtx,
        bucket_self_pairs,
        keep_from_pairs,
        verify_pairs,
    )

    if keep not in ("min_id", "farthest"):
        raise ValueError(f"semdedup_index_groups: unknown keep rule {keep!r}")
    fam = _semdedup_family()
    vecs, cells, cents, meta = load_semdedup_index(spark, path)
    ctx = IndexCtx(spark, path, meta)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    probed = (
        use_stored_probes
        and meta.get("probe_margin") is not None
        and "cell_id_2" in cells.columns
    )
    if probed:
        scope = cells.select(
            id_col,
            F.explode(
                F.array_distinct(
                    F.filter(
                        F.array("cell_id", "cell_id_2"),
                        lambda x: x.isNotNull(),
                    )
                )
            ).alias("cell_id"),
        )
        cand = bucket_self_pairs(
            scope, fam.bucket_keys, id_col,
            max_bucket_size=max_cluster_rows,
            unique_assignment=False,  # shared cells can repeat a pair
        )
    else:
        cand = bucket_self_pairs(
            cells, fam.bucket_keys, id_col,
            max_bucket_size=max_cluster_rows,
            unique_assignment=True,
        )
    pairs = verify_pairs(ctx, fam, cand, vecs, eps)
    if keep == "min_id":
        return keep_from_pairs(vecs, pairs, id_col)
    comp = connected_components(pairs)
    # the paper's rule: per group keep the member with the LOWEST
    # centroid cosine (the least-typical exemplar), ties id-ascending
    csim = (
        vecs.join(cells.select(id_col, "cell_id"), id_col)
        .join(F.broadcast(cents.select("cell_id", "centroid")), "cell_id")
        .withColumn(
            "_cs",
            similarity(F.col(vec_col), F.col("centroid"), meta["metric"]),
        )
        .select(F.col(id_col).alias("id"), "_cs")
    )
    from pyspark.sql import Window

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
    singletons = vecs.select(id_col).distinct().join(
        comp.select(F.col("id").alias(id_col)), id_col, "left_anti"
    )
    return survivors.unionByName(singletons)


def semdedup_apply_groups(
    spark: SparkSession,
    path: str,
    eps: float = 0.95,
    keep: str = "min_id",
    batch_id: int | None = None,
    max_cluster_rows: int | None = None,
) -> dict:
    """One-call retroactive sweep-APPLY (the shared contract): compute
    the keep set from the index alone, physically remove every loser
    from vectors AND cells (replay-logged under op='semdedup_sweep'),
    report {kept, removed_rows, skipped_replay}.  Fixpoint after."""
    from astro_vectordb_spark.sources.index_lifecycle import apply_groups

    return apply_groups(
        spark, path, _semdedup_family(),
        keep_fn=lambda: semdedup_index_groups(
            spark, path, eps=eps, keep=keep,
            max_cluster_rows=max_cluster_rows,
        ),
        batch_id=batch_id,
    )
