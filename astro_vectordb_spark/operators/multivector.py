"""Document chunking and multi-vector (late-interaction) retrieval.

Long documents don't fit one embedding: training-data pipelines chunk
them (sliding token windows) and retrieval over chunked corpora scores
a document by LATE INTERACTION — each query vector takes its best
(max) similarity over the document's chunk vectors, and the document
score sums those maxima (the ColBERT MaxSim family, Khattab &
Zaharia 2020, reduced to a fixed small query-vector set).

Spark-first physical story:

* ``chunk_documents`` is one codegen projection + ``posexplode`` —
  token windows come from ``transform(sequence(...), slice)`` with no
  UDF, no shuffle; output rows are (doc_id, chunk_id, chunk token
  count, chunk_text), ready for the embedding hook
  (functions/embed.embed_text).

* ``maxsim_topk`` scores every chunk against the (small, literal)
  query-vector set in ONE projection — |Q| similarity columns per
  chunk row — then reduces per document with ``groupBy(doc).agg(max
  per query column)``.  The max aggregation is algebraic, so Spark
  computes partial maxima map-side and the single shuffle moves one
  tiny row per (partition, doc).  Final ranking is
  ``TakeOrderedAndProject``.  Linear in total chunks, no skew surface
  (a huge document still reduces to one row per partition).

Determinism: chunking is over lowercased whitespace tokens (the
repo-wide contract, so the DuckDB oracle reproduces chunk text
byte-for-byte); similarity is the fold kernel; output scores rounded
to 6 decimals, ranked unrounded, ties by ascending id.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from astro_vectordb_spark.functions.text import tokens
from astro_vectordb_spark.functions.vector import similarity, vector_literal

SCORE_DECIMALS = 6


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 10,
    stride: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window token chunks: windows of ``chunk_tokens`` tokens
    every ``stride`` tokens (the last window may be partial; documents
    shorter than one window yield a single chunk; empty documents
    yield none).  ``chunk_id`` is the 0-based window index.

    Output: (id_col, chunk_id int, n_tokens int, chunk_text string).
    """
    if chunk_tokens <= 0 or stride <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    from astro_vectordb_spark.functions.text import bind_once

    def _windows(tk):
        starts = F.sequence(
            F.lit(0),
            F.greatest(F.size(tk) - F.lit(chunk_tokens), F.lit(0)),
            F.lit(stride),
        )
        return F.transform(
            starts, lambda s: F.slice(tk, s + 1, chunk_tokens)
        )

    # bind the token array once: the slice inside the transform lambda
    # would otherwise re-tokenize the text per window (interpreted
    # HOFs re-evaluate outer expressions per reference)
    chunks = bind_once(tokens(F.lower(F.col(text_col))), _windows)
    out = docs.select(
        id_col,
        F.posexplode(chunks).alias("chunk_id", "_ctoks"),
    )
    return out.filter(F.size("_ctoks") > 0).select(
        id_col,
        "chunk_id",
        F.size("_ctoks").alias("n_tokens"),
        F.array_join("_ctoks", " ").alias("chunk_text"),
    )


def maxsim_score_all(
    chunk_vecs: DataFrame,
    query_vecs: Sequence[Sequence[float]],
    metric: str = "cosine",
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Per-document MaxSim score vs a small query-vector set:
    ``score(d) = sum_i max_{c in chunks(d)} sim(q_i, c)``."""
    if not query_vecs:
        raise ValueError("query_vecs must be non-empty")
    sims = [
        similarity(F.col(vec_col), vector_literal(qv), metric).alias(f"_s{i}")
        for i, qv in enumerate(query_vecs)
    ]
    scored = chunk_vecs.select(id_col, *sims)
    agg = scored.groupBy(id_col).agg(
        *[F.max(f"_s{i}").alias(f"_m{i}") for i in range(len(query_vecs))]
    )
    total = F.col("_m0")
    for i in range(1, len(query_vecs)):
        total = total + F.col(f"_m{i}")
    return agg.select(id_col, total.alias(score_col))


def maxsim_topk(
    chunk_vecs: DataFrame,
    query_vecs: Sequence[Sequence[float]],
    k: int,
    metric: str = "cosine",
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Top-K documents by late-interaction MaxSim (see module doc)."""
    scored = maxsim_score_all(
        chunk_vecs, query_vecs, metric=metric,
        id_col=id_col, vec_col=vec_col, score_col=score_col,
    )
    out = scored.orderBy(F.col(score_col).desc(), F.col(id_col).asc()).limit(k)
    return out.withColumn(score_col, F.round(F.col(score_col), SCORE_DECIMALS))
