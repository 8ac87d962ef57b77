"""Top-K similarity search — the reference's flagship query.

Reference parity:
- ``searchKNNOptimized``  — /root/reference/hnsw.ts:241-299
  (score all candidates, ``filter(score > threshold AND NOT deleted)``,
  similarity-sorted, truncate to K)
- ``searchAstroDB``       — /root/reference/driver/driver.ts:290-307
  (public API: threshold = min(0.95, strength/100))
- top-K truncation        — hnsw.ts:294-296, pqueue.ts ordering

Spark-first physical story:

* Single query: the query vector is a one-row DataFrame broadcast into a
  cross join (Catalyst: BroadcastNestedLoopJoin with a 1-row build side
  — effectively a map-side constant).  ``ORDER BY score DESC LIMIT k``
  compiles to ``TakeOrderedAndProject``: each task keeps a local top-K
  heap and the driver merges K*numPartitions rows — **no global sort, no
  shuffle of the corpus**.  This plan scales linearly with corpus size
  on any number of executors.

* Batch of queries: broadcast the (small) query set, score |Q|x|C|
  pairs map-side, then reduce to per-query top-K.  A naive window over
  ``query_id`` shuffles all |Q|x|C| scored rows and serializes each
  query's ranking into one task (skew at large |C|); a salted window
  fixes the skew but still shuffles every scored row.  ``batch_topk``
  therefore prunes BEFORE the exchange: stage 1 keeps each input
  partition's per-query top-K map-side (Arrow-batched prune, no
  shuffle), stage 2 ranks the surviving |Q| x partitions x K rows.
  Stage-2 input is tiny by construction, so the only shuffle in the
  plan is negligible at any corpus size.

Determinism: ties broken by ascending id everywhere, and scores are
rounded to 6 decimals *for output* so an external float64 oracle hashes
identically (ranking uses the unrounded score).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from astro_vectordb_spark.functions.vector import (
    similarity,
    threshold_from_strength,
    vector_literal,
)

SCORE_DECIMALS = 6


def score_against(
    corpus: DataFrame,
    query_vector: Sequence[float] | Column,
    vec_col: str = "embedding",
    metric: str = "cosine",
    score_col: str = "score",
) -> DataFrame:
    """Append a similarity score vs one query vector (no filter/limit).

    The literal query vector is a constant expression — Catalyst folds it
    and the scoring runs fully map-side inside whole-stage codegen.
    """
    # NOTE: the fold kernel (no dim) measures ~2x faster than the
    # unrolled codegen'd kernel (dim=...) — see functions/vector_np.py
    # header — so the fold is the expression-kernel default.
    if isinstance(query_vector, Column):
        qv = query_vector
    else:
        qv = vector_literal(query_vector)
    return corpus.withColumn(score_col, similarity(F.col(vec_col), qv, metric))


def topk_search(
    corpus: DataFrame,
    query_vector: Sequence[float] | Column,
    k: int,
    strength: float = 50.0,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    deleted_col: str | None = None,
    score_col: str = "score",
    kernel: str = "expr",
) -> DataFrame:
    """Exact top-K similarity search with score threshold.

    Semantics of hnsw.ts:241-299 + driver/driver.ts:290-307, computed
    exactly (the reference is approximate only as an artifact of its
    physical graph index; its *intended* result is the top-K by
    similarity above threshold).

    ``kernel='expr'`` scores with the oracle-reproducible fold
    expression; ``kernel='numpy'`` scores with the Arrow+BLAS
    pandas_udf (~7x faster per row at scale, last-ulp summation
    differences — see functions.vector_np).

    Physical plan: scan -> score -> filter -> TakeOrderedAndProject.
    """
    if kernel == "numpy" and not isinstance(query_vector, Column):
        from astro_vectordb_spark.functions.vector_np import make_score_udf

        scored = corpus.withColumn(
            score_col, make_score_udf(query_vector, metric)(F.col(vec_col))
        )
    else:
        scored = score_against(corpus, query_vector, vec_col, metric, score_col)
    if deleted_col is not None:
        scored = scored.filter(~F.coalesce(F.col(deleted_col), F.lit(False)))
    out = top_k_rows(
        scored.filter(F.col(score_col) > threshold_from_strength(strength)),
        k, (), id_col, score_col,
    )
    return out.withColumn(score_col, F.round(F.col(score_col), SCORE_DECIMALS))


def filtered_topk(
    corpus: DataFrame,
    predicate: Column,
    query_vector: Sequence[float] | Column,
    k: int,
    strength: float = 50.0,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_col: str = "score",
    kernel: str = "expr",
) -> DataFrame:
    """Exact metadata-filtered top-K — the vector-DB "pre-filter"
    search (restrict to rows matching a metadata predicate, THEN rank
    by similarity).  The reference's public search has only the
    strength threshold (driver/driver.ts:290-307); a metadata filter
    is the first thing any real corpus query needs.

    Spark-first story: this is ``topk_search`` over ``corpus.filter``
    — Catalyst pushes the predicate into the parquet scan
    (PushedFilters, pinned by tests/test_plans.py), so the filtered
    search reads ONLY matching row groups and scores only survivors.
    Pre-filter + exact ranking is therefore free at any selectivity;
    contrast the approximate path (``hnsw_query_shards(allowed_ids=)``)
    which must over-fetch its beam.  The plan stays
    scan -> filter -> score -> TakeOrderedAndProject: no shuffle.
    """
    return topk_search(
        corpus.filter(predicate), query_vector, k,
        strength=strength, metric=metric, id_col=id_col,
        vec_col=vec_col, score_col=score_col, kernel=kernel,
    )


def top_k_rows(
    frame: DataFrame,
    k: int,
    group_cols: Sequence[str] = (),
    id_col: str = "vec_id",
    score_col: str = "score",
    rank_col: str | None = None,
) -> DataFrame:
    """The top ``k`` rows of ``frame`` by (score desc, id asc) — the one
    cut of every face that serves either one query or a query batch:
    without ``group_cols`` a global ``ORDER BY ... LIMIT k``
    (``TakeOrderedAndProject``), with them a partitioned row_number
    window per group, whose 1-based rank is kept as ``rank_col`` (or
    dropped when None)."""
    order = (F.col(score_col).desc(), F.col(id_col).asc())
    if not group_cols:
        return frame.orderBy(*order).limit(k)
    rn = rank_col or "_rn"
    out = frame.withColumn(
        rn, F.row_number().over(Window.partitionBy(*group_cols).orderBy(*order))
    ).filter(F.col(rn) <= k)
    return out if rank_col else out.drop(rn)


def rank_topk_per_query(
    scored: DataFrame,
    k: int,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    score_col: str = "score",
    num_salts: int = 8,
    round_scores: bool = True,
) -> DataFrame:
    """Two-stage per-query top-K over an already-scored frame.

    Stage 1 (``num_salts > 1``): NARROW partition-local top-K — each
    input partition keeps at most K rows per query via an Arrow-batched
    pandas prune, with NO shuffle.  Only |Q| x num_partitions x K
    survivor rows reach the stage-2 exchange, vs the full |Q| x |C|
    scored set that a per-query window (even a salted one — salting
    fixes skew, not volume) would shuffle.  Stage 2 is the global
    per-query rank over the survivors.

    Stage 1 is exact: every global top-K row is by definition in its
    own partition's per-query top-K; ties broken (score desc, id asc)
    in both stages.  ``num_salts <= 1`` skips stage 1 (right when the
    input is already tiny, e.g. per-shard HNSW hits).

    ``round_scores=False`` keeps the score column unrounded —
    selection and ranking are identical either way (both rank the raw
    score); the raw value is for consumers that do ARITHMETIC on it,
    e.g. the adaptive-refine cut comparing ADC margins, where the
    serving-contract 6-decimal round would shift the threshold.

    Returns (query_id, id_col, score, rank)."""
    if num_salts > 1:
        import pandas as pd

        narrow = scored.select(query_id_col, id_col, score_col)
        out_fields = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in narrow.schema.fields
        )

        def _partition_topk(batches):
            best: pd.DataFrame | None = None
            for pdf in batches:
                merged = pdf if best is None else pd.concat(
                    [best, pdf], ignore_index=True
                )
                best = (
                    merged.sort_values(
                        [score_col, id_col], ascending=[False, True]
                    )
                    .groupby(query_id_col, sort=False)
                    .head(k)
                )
            if best is not None and len(best):
                yield best

        scored = narrow.mapInPandas(_partition_topk, out_fields)
    # Stage 2: final per-query ranking over the survivors.
    out_score = (
        F.round(F.col(score_col), SCORE_DECIMALS).alias(score_col)
        if round_scores else F.col(score_col)
    )
    return top_k_rows(
        scored, k, [query_id_col], id_col, score_col, rank_col="rank"
    ).select(query_id_col, id_col, out_score, "rank")


def batch_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    strength: float = 0.0,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    score_col: str = "score",
    num_salts: int = 8,
) -> DataFrame:
    """Per-query top-K for a set of queries (partition-local prereduce
    + global rank).

    Returns columns: (query_id, id_col, score, rank).  Generalizes
    searchKNNOptimized to a query *set*, the shape Spark wants
    (SURVEY.md §2.1 O9 "per-query partition for batch of queries").
    """
    scored = (
        corpus.join(F.broadcast(queries))
        .withColumn(score_col, similarity(F.col(vec_col), F.col(query_vec_col), metric))
        .filter(F.col(score_col) > threshold_from_strength(strength))
    )
    return rank_topk_per_query(
        scored, k, id_col=id_col, query_id_col=query_id_col,
        score_col=score_col, num_salts=num_salts,
    )


def similarity_join(
    left: DataFrame,
    right: DataFrame | None = None,
    threshold: float = 0.9,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_col: str = "score",
    max_broadcast_rows: int | None = 1_000_000,
) -> DataFrame:
    """All pairs with similarity > threshold.

    ``right=None`` means self-join with ``a.id < b.id`` (dedup-style
    pair enumeration).  This is the exact O(n^2) baseline; the scale
    path blocks candidates first (``operators.dedup.embedding_near_dups``
    with its default RP-LSH blocking) and reuses the same scoring
    expression.

    The default ``max_broadcast_rows`` guards the broadcast with a
    bounded ``limit(cap+1)`` count probe (short-circuits after cap+1
    rows, never executes the full plan): at or below the cap the probe
    side gets a broadcast hint; above it the hint is dropped
    (Catalyst/AQE picks the strategy) and a RuntimeWarning points at
    the blocked path, because an exact all-pairs join over two large
    sides is quadratic no matter the physical plan — degrading beats
    broadcasting an arbitrarily large probe side into executor OOM.
    Pass ``max_broadcast_rows=None`` to opt into the FULLY LAZY
    unconditional hint (no probe job runs; the caller asserts the
    probe side fits executor memory).
    """
    self_join = right is None
    right = left if right is None else right
    a = left.select(
        F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_vec")
    )
    b = right.select(
        F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_vec")
    )
    if (
        max_broadcast_rows is None
        or b.limit(max_broadcast_rows + 1).count() <= max_broadcast_rows
    ):
        b = F.broadcast(b)
    else:
        import warnings

        warnings.warn(
            "similarity_join: probe side exceeds max_broadcast_rows "
            f"({max_broadcast_rows}); exact all-pairs at this size is "
            "quadratic — prefer embedding_near_dups (RP-LSH blocked) "
            "for self-join dedup",
            RuntimeWarning,
            stacklevel=2,
        )
    pairs = a.join(b)
    if self_join:
        pairs = pairs.filter(F.col("a_id") < F.col("b_id"))
    return (
        pairs.withColumn(score_col, similarity(F.col("a_vec"), F.col("b_vec"), metric))
        .filter(F.col(score_col) > F.lit(float(threshold)))
        .select(
            "a_id",
            "b_id",
            F.round(F.col(score_col), SCORE_DECIMALS).alias(score_col),
        )
    )
