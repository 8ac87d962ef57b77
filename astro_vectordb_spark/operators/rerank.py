"""Result-list post-processing: reciprocal-rank fusion (hybrid
search) and maximal-marginal-relevance diversification.

Both operate on BOUNDED inputs by construction — ranked lists / top-C
candidate sets produced by an upstream search — so their plans are
deliberately tiny: the corpus-scale work already happened in the
search that produced them.

``rrf_fuse`` — Cormack et al.'s reciprocal rank fusion, the standard
way to combine a lexical (BM25) ranking with a vector ranking without
score calibration: ``score(d) = sum over lists of 1 / (k_rrf +
rank_d)``.  Union + groupBy over lists whose size is bounded by C per
list — the shuffle moves at most |lists| x C rows.

``mmr_rerank`` — Carbonell & Goldstein's MMR: greedily pick the
candidate maximizing ``lam * relevance - (1 - lam) * max
similarity-to-already-picked``.  Inherently sequential in k, so it
runs as one Arrow-batched ``applyInPandas`` group per query — each
group is a top-C candidate set (O(C^2) similarity work in-memory),
and queries parallelize across tasks.  The driver never sees the
candidates.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from astro_vectordb_spark.operators.topk import top_k_rows

SCORE_DECIMALS = 6


def rrf_fuse(
    ranked_lists: Sequence[DataFrame],
    k: int,
    k_rrf: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    score_col: str = "score",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Fuse ranked lists (each: ``id_col``, 1-based ``rank_col``) into
    a top-k by reciprocal-rank score.  Ids missing from a list simply
    contribute nothing (the usual RRF convention).  Scores are exact
    rationals summed in list order, rounded to 6 decimals for output;
    ties broken by ascending id.

    ``group_cols`` generalizes to BATCH fusion: each list carries the
    grouping columns (e.g. ``["query_id"]``), ranks are per-group, and
    the top-k is taken per group via a partitioned window — the
    distributed shape for fusing a whole query batch in one plan.
    With the default empty grouping the plan is the original global
    ``ORDER BY ... LIMIT k`` (``TakeOrderedAndProject``)."""
    if not ranked_lists:
        raise ValueError("ranked_lists must be non-empty")
    gcols = list(group_cols)
    contribs = [
        df.select(
            *gcols,
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(k_rrf)) + F.col(rank_col).cast("double"))).alias("_c"),
        )
        for df in ranked_lists
    ]
    return _fused_top_k(contribs, k, gcols, id_col, score_col)


def _fold_dot(a: np.ndarray, b: np.ndarray) -> float:
    """Left-fold float64 dot product — same accumulation order as the
    SQL-expression kernel (functions/vector.dot_product) and the
    DuckDB oracle's list_reduce, so MMR scores hash-match."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def mmr_rerank(
    candidates: DataFrame,
    k: int,
    lam: float = 0.7,
    query_id_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_col: str = "score",
    kernel: str = "numpy",
) -> DataFrame:
    """Maximal-marginal-relevance re-rank of a top-C candidate set.

    Greedy: pick argmax of ``lam * rel - (1 - lam) * max_{s in
    selected} cos(cand, s)`` (the max over the empty set is 0, so the
    first pick scores ``lam * rel``); ties broken by ascending id.
    Emits (id, rank, mmr) per query — ``query_id_col=None`` treats the
    whole input as one candidate set.

    ``kernel='numpy'`` computes pairwise cosines with BLAS;
    ``kernel='fold'`` uses left-fold float64 accumulation that matches
    the SQL oracle bit-for-bit (use for oracle-checked runs; identical
    up to last-ulp summation order otherwise).

    Scale: candidates are top-C per query by construction, so each
    group is one bounded Arrow batch; the O(C^2 * dim) similarity work
    happens in-memory executor-side and queries fan out across tasks.
    """
    gcol = query_id_col
    work = candidates
    if gcol is None:
        gcol = "_q"
        work = candidates.withColumn(gcol, F.lit(0))

    out_schema = f"{gcol} long, {id_col} long, rank int, mmr double"

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n == 0:
            return pd.DataFrame(columns=[gcol, id_col, "rank", "mmr"])
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        ids = pdf[id_col].to_numpy()
        rel = pdf[rel_col].to_numpy(dtype=np.float64)
        vecs = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        if kernel == "fold":
            self_dot = np.array(
                [_fold_dot(v, v) for v in vecs], dtype=np.float64
            )
            sims = np.empty((n, n), dtype=np.float64)
            for i in range(n):
                for j in range(n):
                    sims[i, j] = _fold_dot(vecs[i], vecs[j]) / (
                        np.sqrt(self_dot[i]) * np.sqrt(self_dot[j])
                    )
        else:
            norms = np.linalg.norm(vecs, axis=1)
            norms = np.maximum(norms, 1e-30)
            sims = (vecs @ vecs.T) / np.outer(norms, norms)
        selected: list[int] = []
        scores: list[float] = []
        remaining = set(range(n))
        for _ in range(min(k, n)):
            best_i, best_m = -1, -np.inf
            # iteration in ascending-id order makes strict > the
            # tie-break (first = smallest id wins)
            for i in sorted(remaining):
                pen = max(float(sims[i, j]) for j in selected) if selected else 0.0
                m = lam * float(rel[i]) - (1.0 - lam) * pen
                if m > best_m:
                    best_i, best_m = i, m
            selected.append(best_i)
            scores.append(best_m)
            remaining.discard(best_i)
        return pd.DataFrame(
            {
                gcol: pdf[gcol].iloc[0],
                id_col: [int(ids[i]) for i in selected],
                "rank": list(range(1, len(selected) + 1)),
                "mmr": [round(s, SCORE_DECIMALS) for s in scores],
            }
        )

    out = work.groupBy(gcol).applyInPandas(_mmr, out_schema)
    if query_id_col is None:
        out = out.drop(gcol)
    return out


def score_fusion(
    scored_lists: Sequence[DataFrame],
    weights: Sequence[float],
    k: int,
    id_col: str = "doc_id",
    score_col: str = "score",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Weighted convex fusion of min-max-normalized score lists — the
    calibrated alternative to RRF when per-list score SHAPES matter
    (e.g. a steep BM25 drop-off should count for more than a flat
    cosine tail).  Each list is normalized to [0, 1] by its own
    min/max (a 1-row aggregate broadcast back — the list is already
    bounded top-C); a degenerate list whose scores are all equal
    normalizes to 1.0 for every member.  Ids missing from a list
    contribute 0.  Output rounded to 6 decimals, ties by id.

    ``group_cols`` generalizes to BATCH fusion (e.g.
    ``["query_id"]``): min/max normalization is computed PER GROUP
    (a |groups|-row aggregate broadcast-joined back) and the top-k is
    taken per group via a partitioned window — one plan for the whole
    query batch."""
    if not scored_lists:
        raise ValueError("scored_lists must be non-empty")
    if len(scored_lists) != len(weights):
        raise ValueError("one weight per list")
    gcols = list(group_cols)
    contribs = []
    for df, w in zip(scored_lists, weights):
        norm = F.when(
            F.col("_mx") > F.col("_mn"),
            (F.col(score_col) - F.col("_mn")) / (F.col("_mx") - F.col("_mn")),
        ).otherwise(F.lit(1.0))
        stats = F.broadcast(df.groupBy(*gcols).agg(
            F.min(score_col).alias("_mn"), F.max(score_col).alias("_mx")
        ))
        joined = df.join(stats, gcols) if gcols else df.crossJoin(stats)
        contribs.append(
            joined.select(
                *gcols, F.col(id_col), (F.lit(float(w)) * norm).alias("_c")
            )
        )
    return _fused_top_k(contribs, k, gcols, id_col, score_col)


def _fused_top_k(contribs, k, gcols, id_col, score_col) -> DataFrame:
    """The tail both fusions share: sum each id's ``_c`` contributions
    (per group), cut to the top ``k`` and round for output."""
    unioned = reduce(lambda a, b: a.unionByName(b), contribs)
    fused = unioned.groupBy(*gcols, id_col).agg(F.sum("_c").alias(score_col))
    out = top_k_rows(fused, k, gcols, id_col, score_col)
    return out.withColumn(score_col, F.round(F.col(score_col), SCORE_DECIMALS))


def cross_encoder_rerank(
    candidates: DataFrame,
    query_text: str | None,
    k: int,
    model: str = "hash_cross",
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str | None = None,
    query_text_col: str | None = None,
    score_col: str = "score",
    **model_config,
) -> DataFrame:
    """Cross-encoder rerank of a bounded candidate list — the last
    stage of retrieve-wide / rerank-narrow: ``candidates`` is a top-C
    set (from :func:`rrf_fuse` / a search facade, joined back to doc
    text) and every (query, doc) pair is scored JOINTLY by the
    registered pairwise model (``functions.crossenc``; the default
    ``hash_cross`` stub is oracle-replayable).

    ``query_text`` scores one query against every candidate;
    ``query_id_col`` + ``query_text_col`` instead rerank a whole
    BATCH in one plan (each row carries its query's text — the
    explode-free layout a bounded per-query candidate set already
    has), with the per-group top-k as a partitioned window.

    Scale: the expensive pairwise model runs on |C| (or |Q| x C)
    rows ONLY — never the corpus; batches move by Arrow; the kernel
    lazy-loads the model once per python worker.  Pairs the model
    scores as None (e.g. empty text under the stub) are dropped.
    Returns ``([query_id,] id, score)``, score rounded to 6 decimals,
    ties by ascending id.
    """
    from pyspark.sql.functions import pandas_udf

    from astro_vectordb_spark.functions.crossenc import cross_scorer_for

    if (query_text is None) == (query_text_col is None):
        raise ValueError(
            "pass exactly one of query_text / query_text_col"
        )
    kernel = cross_scorer_for(model, **model_config)
    udf = pandas_udf(kernel, "double")
    qcol = (
        F.col(query_text_col) if query_text_col is not None
        else F.lit(query_text)
    )
    group = [query_id_col] if query_id_col is not None else []
    scored = (
        candidates.withColumn(score_col, udf(qcol, F.col(text_col)))
        .filter(F.col(score_col).isNotNull())
        .select(*group, id_col, score_col)
    )
    out = top_k_rows(scored, k, group, id_col, score_col)
    return out.withColumn(score_col, F.round(F.col(score_col), SCORE_DECIMALS))
