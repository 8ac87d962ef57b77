"""Int8 scalar quantization for embedding tables — the storage/scan
scale lever.

A float32 embedding column dominates both the bytes on disk and the
bytes a top-K scan must move; per-vector symmetric int8 quantization
cuts it ~4x (64 tinyints + one double scale vs 64 floats) with a
bounded score error (~|x|_max/254 per coordinate).  The 100 TB plan is
two-stage:

  1. scan the COMPACT table: score against dequantized vectors
     (pure-expression fold, whole plan reads only (id, qvec, qscale) —
     ReadSchema shows the float column is never touched);
  2. exact re-rank: the top ``k * refine_factor`` candidate ids
     (driver-bounded, broadcast) join back to the full-precision table
     and the final top-K is ordered by the exact score.

Stage 2's fetch is bounded by k*refine regardless of corpus size; on
an id-sorted parquet layout the candidate IN-join prunes row groups
via min/max stats, so the expensive column is read for a handful of
rows, not the corpus.

Quantization math is chosen for cross-engine determinism (the DuckDB
oracle replays it bit-for-bit): scale ``s = max(|x|, eps)/127`` (max
is order-independent), code ``q = floor(x/s + 0.5)`` (explicit
half-up — Python/Spark/DuckDB ``round`` disagree on ties, ``floor``
does not), reconstruction ``x_hat = q * s`` in float64.

No reference counterpart (the reference stores full-precision JSON —
astrovault.ts:34-40); this is the task brief's scale path for
embedding columns.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from astro_vectordb_spark.functions.vector import (
    similarity,
    threshold_from_strength,
    vector_literal,
)
from astro_vectordb_spark.operators.topk import (
    rank_topk_per_query,
    top_k_rows,
    topk_search,
)

QSCALE_EPS = 1e-30


def _qscale(vec: Column) -> Column:
    maxabs = F.aggregate(
        vec, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v.cast("double")))
    )
    return F.greatest(maxabs, F.lit(QSCALE_EPS)) / F.lit(127.0)


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """(id, qvec ARRAY<TINYINT>, qscale DOUBLE) — per-vector symmetric
    int8 codes.  ``floor(x/s + 0.5)`` lands in [-127, 127] by
    construction of ``s``, so the tinyint cast never overflows."""
    vec = F.col(vec_col)
    s = _qscale(vec)
    qvec = F.transform(
        vec, lambda v: F.floor(v.cast("double") / s + F.lit(0.5)).cast("tinyint")
    )
    return df.select(
        id_col, *keep_cols, qvec.alias("qvec"), s.alias("qscale")
    )


def dequantize_expr(
    qvec_col: str = "qvec", scale_col: str = "qscale"
) -> Column:
    """x_hat_i = q_i * s as ARRAY<DOUBLE> — feed to any scoring
    expression in place of the float column."""
    return F.transform(
        F.col(qvec_col), lambda q: q.cast("double") * F.col(scale_col)
    )


def batch_topk_quantized(
    quantized: DataFrame,
    original: DataFrame,
    queries: DataFrame,
    k: int,
    refine_factor: int = 4,
    strength: float = 0.0,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    score_col: str = "score",
    num_salts: int = 8,
) -> DataFrame:
    """Per-query two-stage top-K over a quantized corpus — the batch
    face of ``topk_search_quantized``, reusing ``batch_topk``'s
    partition-local prereduce for stage 1: the broadcast query set
    scores against dequantized vectors map-side, each partition keeps
    its per-query top ``k*refine`` (Arrow prune, no |Q| x |C| shuffle),
    and only the surviving (query_id, id) candidates join back to the
    full-precision table for the exact re-rank.  Ranking uses the
    unrounded score in both stages (ties by id), so the DuckDB oracle
    replays it deterministically."""
    qscored = quantized.join(F.broadcast(queries)).withColumn(
        "qscore", similarity(dequantize_expr(), F.col(query_vec_col), metric)
    )
    cand = rank_topk_per_query(
        qscored, k * refine_factor, id_col=id_col,
        query_id_col=query_id_col, score_col="qscore", num_salts=num_salts,
    ).select(query_id_col, id_col)
    exact = (
        original.join(F.broadcast(cand), id_col)
        .join(F.broadcast(queries), query_id_col)
        .withColumn(
            score_col, similarity(F.col(vec_col), F.col(query_vec_col), metric)
        )
        .filter(F.col(score_col) > threshold_from_strength(strength))
    )
    return rank_topk_per_query(
        exact, k, id_col=id_col, query_id_col=query_id_col,
        score_col=score_col, num_salts=1,
    )


def topk_search_quantized(
    quantized: DataFrame,
    original: DataFrame,
    query_vector: Sequence[float] | Column,
    k: int,
    refine_factor: int = 4,
    strength: float = 0.0,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Two-stage exact-rerank top-K over a quantized corpus.

    Stage 1 scans ONLY the compact table (TakeOrderedAndProject over
    the dequantized score, ties broken by id — fully deterministic);
    stage 2 broadcasts the k*refine candidate ids into the
    full-precision table and re-ranks with the exact score.  With
    ``refine_factor`` covering the quantization error band (error per
    score is bounded by the int8 step), the result matches exact
    brute-force top-K on everything but pathological near-ties; the
    driver oracle replays both stages bit-for-bit."""
    if isinstance(query_vector, Column):
        qv = query_vector
    else:
        qv = vector_literal(query_vector)
    cand = top_k_rows(
        quantized.withColumn("qscore", similarity(dequantize_expr(), qv, metric)),
        k * refine_factor, (), id_col, "qscore",
    ).select(id_col)
    return topk_search(
        original.join(F.broadcast(cand), id_col), qv, k, strength=strength,
        metric=metric, id_col=id_col, vec_col=vec_col, score_col=score_col,
    ).select(id_col, score_col)
