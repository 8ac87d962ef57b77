"""One-call search facade over every persisted index kind.

The reference exposes a single entry point — ``searchAstroDB(query,
strength)`` loads whatever index exists and serves from it
(driver/driver.ts:290-307).  This module is that call for the Spark
engine: ``search(spark, path, query_vector, k)`` detects the index
kind from the persisted layout, loads it through the matching vault
loader (metric and shape come from the index's own ``_meta`` — never
re-guessed), and dispatches to the right serving operator.  Users
stop hand-wiring ``load_* `` + ``query_*`` pairs; the recall-gate
queries keep using the explicit operators, so the facade adds a
surface without changing any gate.

Layout detection (what each ``save_*_index`` writes):

    graph/      + _meta                        -> sharded HNSW
    codes/ + codebooks/ + centroids/ + _meta   -> IVF-PQ
    codes/ + codebooks/ + _meta                -> PQ
    vectors/ + centroids/ + _meta              -> IVF
    plain parquet (vec_id, embedding)          -> exact scan

Example::

    from astro_vectordb_spark.search import search

    hits = search(spark, "/indexes/products", qvec, k=10)        # auto
    hits = search(spark, "/tables/embeddings.parquet", qvec, 10) # exact
    # PQ / IVF-PQ re-rank against full-precision vectors:
    hits = search(spark, "/indexes/pq", qvec, 10, vectors=emb_df)

Every path returns the same contract: ``(vec_id, score)``, score
descending, at most ``k`` rows.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def detect_index_kind(spark: SparkSession, path: str) -> str:
    """'hnsw' | 'ivf_pq' | 'pq' | 'ivf' | 'exact' from the persisted
    layout (one filesystem existence probe per candidate subdir)."""
    from astro_vectordb_spark.sources.vault import _fs_exists

    def sub(name: str) -> bool:
        return _fs_exists(spark, os.path.join(path, name))

    if sub("graph"):
        return "hnsw"
    if sub("codebooks"):
        return "ivf_pq" if sub("centroids") else "pq"
    if sub("centroids") and sub("vectors"):
        return "ivf"
    return "exact"


def search(
    spark: SparkSession,
    path: str,
    query_vector: Sequence[float],
    k: int = 10,
    *,
    vectors: DataFrame | None = None,
    strength: float = 0.0,
    allowed_ids=None,
    metric: str = "cosine",
    ef_search: int = 100,
    nprobe: int | None = None,
    refine_factor: int = 32,
    max_probe_frac: float | None = None,
    adaptive_refine: bool = False,
    refine_min: int = 4,
    sigma_mult: float = 3.0,
) -> DataFrame:
    """Serve a top-``k`` query from whatever index lives at ``path``.

    - ``vectors``: full-precision table for the PQ/IVF-PQ stage-2
      re-rank (required for those kinds — the codes alone cannot give
      exact scores).
    - ``metric`` applies only to the exact path; every index kind
      reads its metric from its own persisted ``_meta``.
    - ``nprobe=None`` on the IVF *and IVF-PQ* paths selects probe
      cells adaptively from the query's centroid-similarity profile
      (``ann.choose_probe_cells_adaptive`` — same rule, same
      constants, on both kinds).  DEFAULT-CHANGE NOTE (round 10): the
      default moved from fixed ``nprobe=4`` to adaptive; when the
      profile has NO standout cell (guaranteed at k_cells <= 9, where
      the max attainable z is sqrt(k_cells-1) < 3) the adaptive rule
      probes EVERY cell — recall-first, full-corpus ADC/scan cost.
      Callers needing a predictable cost ceiling pass
      ``max_probe_frac`` (e.g. 0.25) to cap the selection at
      ceil(frac x k_cells) top-similarity cells, or pin an integer
      ``nprobe`` for the old behavior.
    - ``allowed_ids`` = metadata-filtered search on EVERY kind: exact
      and PQ pre-filter the scan; HNSW filters the beam's result set
      with selectivity-widened ef; IVF and IVF-PQ restrict candidates
      inside the probed cells with the probe count widened by
      1/selectivity (the same policy as the HNSW beam).  A small
      Python sequence routes as an isin literal; a one-column
      DataFrame allow-list routes as a broadcast semi-join
      (``operators.filtering``), so large allow-lists never inflate
      the plan (HNSW's beam filter is inherently a broadcast set and
      collects a DataFrame allow-list — keep those bounded).
      Selectivity widening reads the corpus size from the index's
      persisted ``_meta`` ``n_rows`` counter (maintained by every
      save/append/remove); only legacy indexes without it count once.
    - ``adaptive_refine`` (PQ / IVF-PQ kinds; round 14 on the batch
      companion too) = error-bound stage-2 pool sizing:
      ``refine_factor`` becomes the ceiling and each query keeps only
      the ADC candidates its own margin cannot rule out
      (``operators.pq.adaptive_refine_cut``/``_batch``).  Ignored by
      kinds with no ADC stage (exact / IVF / HNSW); legacy PQ models
      without a stored training MSE serve the fixed pool
      bit-identically.
    """
    kind = detect_index_kind(spark, path)
    if kind == "exact":
        from astro_vectordb_spark.operators.filtering import (
            restrict_to_allowed,
        )
        from astro_vectordb_spark.operators.topk import topk_search
        from astro_vectordb_spark.sources.vault import load_embeddings

        corpus = load_embeddings(spark, path)
        if allowed_ids is not None:
            corpus = restrict_to_allowed(corpus, allowed_ids)
        out = topk_search(corpus, query_vector, k, strength=strength, metric=metric)
        return out.select("vec_id", "score")

    if kind == "ivf":
        from astro_vectordb_spark.operators.ann import ivf_search
        from astro_vectordb_spark.sources.vault import load_ivf_index

        assigned, centroids, _, meta = load_ivf_index(spark, path)
        out = ivf_search(
            assigned, centroids, query_vector, k, nprobe=nprobe,
            strength=strength, metric=meta["metric"],
            allowed_ids=allowed_ids, n_total=meta.get("n_rows"),
            max_probe_frac=max_probe_frac,
        )
        return out.select("vec_id", "score")

    if kind == "hnsw":
        from astro_vectordb_spark.operators.hnsw import hnsw_query_shards
        from astro_vectordb_spark.sources.vault import load_hnsw_index

        from astro_vectordb_spark.operators.filtering import allowed_as_list

        graph, meta = load_hnsw_index(spark, path)
        out = hnsw_query_shards(
            graph, [query_vector], k=k, m=meta["m"], metric=meta["metric"],
            ef_search=ef_search, clustered=meta["clustered_safe"],
            index_cache_token=meta["cache_token"],
            allowed_ids=(
                allowed_as_list(allowed_ids) if allowed_ids is not None else None
            ),
        )
        return (
            out.select("vec_id", F.round("score", 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col("vec_id").asc())
            .limit(k)
        )

    # pq / ivf_pq: stage 2 re-ranks against full-precision vectors
    if vectors is None:
        raise ValueError(
            f"index at {path} is {kind}: pass vectors= (the full-precision "
            "table) for the exact stage-2 re-rank"
        )
    if kind == "pq":
        from astro_vectordb_spark.operators.pq import pq_topk
        from astro_vectordb_spark.sources.vault import load_pq_index

        encoded, model, _ = load_pq_index(spark, path)
        return pq_topk(
            encoded, vectors, query_vector, k, model,
            refine_factor=refine_factor, strength=strength,
            allowed_ids=allowed_ids, adaptive_refine=adaptive_refine,
            refine_min=refine_min, sigma_mult=sigma_mult,
        ).select("vec_id", "score")

    from astro_vectordb_spark.operators.pq import ivf_pq_topk
    from astro_vectordb_spark.sources.vault import load_ivf_pq_index

    encoded, centroids, model, meta = load_ivf_pq_index(spark, path)
    return ivf_pq_topk(
        encoded, centroids, vectors, query_vector, k, model,
        nprobe=nprobe,
        refine_factor=refine_factor, strength=strength,
        allowed_ids=allowed_ids, n_total=meta.get("n_rows"),
        max_probe_frac=max_probe_frac, adaptive_refine=adaptive_refine,
        refine_min=refine_min, sigma_mult=sigma_mult,
    ).select("vec_id", "score")


def search_batch(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    *,
    vectors: DataFrame | None = None,
    strength: float = 0.0,
    allowed_ids=None,
    ef_search: int = 100,
    nprobe: int | None = None,
    refine_factor: int = 32,
    max_group_rows: int | None = None,
    max_probe_frac: float | None = None,
    adaptive_refine: bool = False,
    refine_min: int = 4,
    sigma_mult: float = 3.0,
) -> DataFrame:
    """Batch companion to :func:`search`: ``queries`` is a DataFrame
    ``(query_id long, query_vec array<float>)`` of UNBOUNDED size —
    every kind dispatches to its batch face, none of which
    materializes the query set on the driver (HNSW and PQ serve
    cogrouped; exact uses the map-side prereduce; IVF probes per
    query via a bounded centroid broadcast).

    ``nprobe=None`` (default — parity with :func:`search`) selects IVF
    probe cells adaptively PER QUERY, computed as one distributed
    window over the (|Q| x k_cells) ranking table; an integer pins the
    classic fixed count.  Same DEFAULT-CHANGE NOTE as :func:`search`:
    a query with no standout cell probes every cell under the
    adaptive default — cap with ``max_probe_frac`` or pin ``nprobe``
    for a cost ceiling.

    ``allowed_ids`` = metadata-filtered batch search on every kind
    (parity with :func:`search`, including the sequence-vs-DataFrame
    routing): exact/PQ/IVF-PQ restrict the scanned corpus to the
    allowed set; HNSW filters each beam's result set with the
    selectivity-widened ef; IVF and IVF-PQ widen every query's probe
    count by 1/selectivity, reading the corpus size from the index's
    ``_meta`` ``n_rows`` counter (no per-call count job; legacy
    indexes without the counter count once).

    Returns ``(query_id, vec_id, score)``, at most ``k`` rows per
    query.  IVF-PQ batch serves CELL-PROBED (``ivf_pq_batch_topk_cogrouped``):
    each query ADC-scans only its probed cells — ``nprobe`` fixed or
    ``None`` for the per-query adaptive rule — so batch ADC work drops
    to the probed fraction.

    ``max_group_rows`` (IVF-PQ kind) = skew-bounded serving: salts
    each cell's cogroup into ``ceil(cell_rows / max_group_rows)``
    sub-tasks so a giant or hot cell can never become one straggler
    task; results identical to the unsalted face (see
    ``ivf_pq_batch_topk_cogrouped``).
    """
    kind = detect_index_kind(spark, path)
    if kind == "exact":
        from astro_vectordb_spark.operators.filtering import (
            restrict_to_allowed,
        )
        from astro_vectordb_spark.operators.topk import batch_topk
        from astro_vectordb_spark.sources.vault import load_embeddings

        corpus = load_embeddings(spark, path)
        if allowed_ids is not None:
            corpus = restrict_to_allowed(corpus, allowed_ids)
        return batch_topk(corpus, queries, k, strength=strength).select(
            "query_id", "vec_id", "score"
        )

    if kind == "ivf":
        from astro_vectordb_spark.operators.ann import ivf_batch_search
        from astro_vectordb_spark.sources.vault import load_ivf_index

        assigned, centroids, _, meta = load_ivf_index(spark, path)
        return ivf_batch_search(
            assigned, centroids, queries, k, nprobe=nprobe,
            metric=meta["metric"], allowed_ids=allowed_ids,
            n_total=meta.get("n_rows"), max_probe_frac=max_probe_frac,
        ).select("query_id", "vec_id", "score")

    if kind == "hnsw":
        from astro_vectordb_spark.operators.filtering import allowed_as_list
        from astro_vectordb_spark.operators.hnsw import hnsw_query_shards
        from astro_vectordb_spark.sources.vault import load_hnsw_index

        graph, meta = load_hnsw_index(spark, path)
        return hnsw_query_shards(
            graph, queries, k=k, m=meta["m"], metric=meta["metric"],
            ef_search=ef_search, clustered=meta["clustered_safe"],
            index_cache_token=meta["cache_token"],
            allowed_ids=(
                allowed_as_list(allowed_ids) if allowed_ids is not None else None
            ),
        ).select("query_id", "vec_id", "score")

    if vectors is None:
        raise ValueError(
            f"index at {path} is {kind}: pass vectors= (the full-precision "
            "table) for the exact stage-2 re-rank"
        )
    if kind == "pq":
        from astro_vectordb_spark.operators.filtering import (
            restrict_to_allowed,
        )
        from astro_vectordb_spark.operators.pq import pq_batch_topk_cogrouped
        from astro_vectordb_spark.sources.vault import load_pq_index

        encoded, model, _ = load_pq_index(spark, path)
        if allowed_ids is not None:
            # no cell structure to prune — restricting the scanned
            # codes to the allowed set IS the exact filtered search
            # (stage 2 re-ranks the allowed candidates exactly)
            encoded = restrict_to_allowed(encoded, allowed_ids)
        return pq_batch_topk_cogrouped(
            encoded, vectors, queries, k, model,
            refine_factor=refine_factor, strength=strength,
            adaptive_refine=adaptive_refine, refine_min=refine_min,
            sigma_mult=sigma_mult,
        ).select("query_id", "vec_id", "score")

    # ivf_pq: cell-probed batch ADC — each query scans only its
    # probed cells; the operator owns the filtered-search policy
    # (codes restricted, per-query probe counts widened by
    # 1/selectivity) with the corpus size from _meta
    from astro_vectordb_spark.operators.pq import (
        ivf_pq_batch_topk_cogrouped,
    )
    from astro_vectordb_spark.sources.vault import load_ivf_pq_index

    encoded, centroids, model, meta = load_ivf_pq_index(spark, path)
    return ivf_pq_batch_topk_cogrouped(
        encoded, centroids, vectors, queries, k, model,
        nprobe=nprobe, refine_factor=refine_factor,
        strength=strength, allowed_ids=allowed_ids,
        n_total=meta.get("n_rows"), max_group_rows=max_group_rows,
        max_probe_frac=max_probe_frac, adaptive_refine=adaptive_refine,
        refine_min=refine_min, sigma_mult=sigma_mult,
    ).select("query_id", "vec_id", "score")


def hybrid_search(
    spark: SparkSession,
    vector_index_path: str,
    bm25_index_path: str,
    docs: DataFrame,
    query_vector: Sequence[float],
    query_terms: Sequence[str],
    k: int = 10,
    *,
    fetch_k: int | None = None,
    k_rrf: int = 60,
    fusion: str = "rrf",
    weights: Sequence[float] = (0.5, 0.5),
    allowed_ids=None,
    vectors: DataFrame | None = None,
    metric: str = "cosine",
    ef_search: int = 100,
    nprobe: int | None = None,
    refine_factor: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    _bm25_df_map: dict[str, int] | None = None,
) -> DataFrame:
    """One-call HYBRID retrieval — the front door of a production
    retrieval stack: the vector list served from whatever index lives
    at ``vector_index_path`` (:func:`search` — kind auto-detected),
    the lexical list priced from the persisted BM25 statistics at
    ``bm25_index_path`` (``bm25_topk_indexed`` — |terms|-row stats
    lookup + ONE corpus scan over ``docs``), fused per ``fusion``:

    - ``"rrf"`` (default): reciprocal-rank fusion — each list ranked
      on its ROUNDED output scores (6 decimals, ascending-id ties;
      the determinism contract that makes the fusion
      hash-reproducible across engines), score ``sum(1 / (k_rrf +
      rank))``.
    - ``"weighted"``: min-max-normalized convex fusion
      (``rerank.score_fusion``) with ``weights = (lexical, vector)``
      — calibrated by score shape instead of rank.

    Each list is fetched to depth ``fetch_k`` (default ``4 * k``,
    floor 20).  Returns ``(doc_id, score)``, rounded to 6 decimals,
    top ``k`` with ascending-id ties.

    ``allowed_ids`` = metadata-filtered hybrid search: the vector
    list filters through :func:`search`'s per-kind policy and the
    lexical list restricts the scanned corpus to the allowed set;
    BM25 statistics stay INDEX-level (idf prices against the whole
    index, the standard filtered-search semantics — a filter narrows
    the candidates, not the collection).

    The document ids in the vector index (``vec_id``) and the corpus
    (``id_col``) must agree — the usual one-embedding-per-document
    layout.  ``vectors``/``nprobe``/``ef_search``/``refine_factor``
    pass through to :func:`search` for the respective index kinds.
    """
    from pyspark.sql import Window

    from astro_vectordb_spark.operators.keyword import bm25_topk_indexed
    from astro_vectordb_spark.operators.rerank import rrf_fuse, score_fusion
    from astro_vectordb_spark.sources.vault import load_bm25_index

    if fusion not in ("rrf", "weighted"):
        raise ValueError(f"unknown fusion: {fusion!r} (rrf | weighted)")
    fetch = fetch_k if fetch_k is not None else max(4 * k, 20)

    vec_list = search(
        spark, vector_index_path, query_vector, fetch,
        vectors=vectors, metric=metric, ef_search=ef_search,
        nprobe=nprobe, refine_factor=refine_factor,
        allowed_ids=allowed_ids,
    ).select(F.col("vec_id").alias(id_col), "score")

    term_stats, corpus_stats = load_bm25_index(spark, bm25_index_path)
    lex_docs = docs
    if allowed_ids is not None:
        from astro_vectordb_spark.operators.filtering import (
            restrict_to_allowed,
        )

        lex_docs = restrict_to_allowed(docs, allowed_ids, id_col=id_col)
    lex_list = bm25_topk_indexed(
        lex_docs, term_stats, corpus_stats, query_terms, fetch,
        id_col=id_col, text_col=text_col, _df_map=_bm25_df_map,
    )

    if fusion == "weighted":
        return score_fusion(
            [lex_list, vec_list], list(weights), k, id_col=id_col
        )
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return rrf_fuse(
        [lex_list.withColumn("rank", F.row_number().over(w)),
         vec_list.withColumn("rank", F.row_number().over(w))],
        k, k_rrf=k_rrf, id_col=id_col,
    )


def hybrid_search_batch(
    spark: SparkSession,
    vector_index_path: str,
    bm25_index_path: str,
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    fetch_k: int | None = None,
    k_rrf: int = 60,
    fusion: str = "rrf",
    weights: Sequence[float] = (0.5, 0.5),
    allowed_ids=None,
    vectors: DataFrame | None = None,
    ef_search: int = 100,
    nprobe: int | None = None,
    refine_factor: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    terms_col: str = "terms",
) -> DataFrame:
    """Batch companion to :func:`hybrid_search`: ``queries`` is a
    DataFrame ``(query_id long, query_vec array<float>, terms
    array<string>)`` and the WHOLE batch is served as one plan — the
    vector lists via :func:`search_batch` (every kind's batch face,
    none materializing the query set on the driver), the lexical
    lists via ``bm25_batch_topk_indexed`` (one corpus scan for all
    queries), fused per query with grouped RRF (or grouped weighted
    ``score_fusion`` when ``fusion="weighted"`` — min/max normalized
    PER QUERY, ``weights = (lexical, vector)``).

    Per-query semantics are identical to :func:`hybrid_search` (same
    fetch depth, same rank-on-rounded-scores determinism contract,
    same fusion arithmetic, same ``allowed_ids`` policy); per-query
    ranks are partitioned windows, so nothing single-partitions on
    the batch axis.  Returns ``(query_id, doc_id, score)``, at most
    ``k`` rows per query.
    """
    from pyspark.sql import Window

    from astro_vectordb_spark.operators.keyword import (
        bm25_batch_topk_indexed,
    )
    from astro_vectordb_spark.operators.rerank import rrf_fuse, score_fusion
    from astro_vectordb_spark.sources.vault import load_bm25_index

    if fusion not in ("rrf", "weighted"):
        raise ValueError(f"unknown fusion: {fusion!r} (rrf | weighted)")
    fetch = fetch_k if fetch_k is not None else max(4 * k, 20)

    vec_list = search_batch(
        spark, vector_index_path,
        queries.select(query_id_col, query_vec_col), fetch,
        vectors=vectors, ef_search=ef_search, nprobe=nprobe,
        refine_factor=refine_factor, allowed_ids=allowed_ids,
    ).select(query_id_col, F.col("vec_id").alias(id_col), "score")

    term_stats, corpus_stats = load_bm25_index(spark, bm25_index_path)
    lex_docs = docs
    if allowed_ids is not None:
        from astro_vectordb_spark.operators.filtering import (
            restrict_to_allowed,
        )

        lex_docs = restrict_to_allowed(docs, allowed_ids, id_col=id_col)
    lex_list = bm25_batch_topk_indexed(
        lex_docs, term_stats, corpus_stats,
        queries.select(query_id_col, terms_col), fetch,
        id_col=id_col, text_col=text_col, query_id_col=query_id_col,
        terms_col=terms_col,
    ).select(query_id_col, id_col, "score")

    if fusion == "weighted":
        return score_fusion(
            [lex_list, vec_list], list(weights), k, id_col=id_col,
            group_cols=[query_id_col],
        )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return rrf_fuse(
        [lex_list.withColumn("rank", F.row_number().over(w)),
         vec_list.withColumn("rank", F.row_number().over(w))],
        k, k_rrf=k_rrf, id_col=id_col, group_cols=[query_id_col],
    )


def _query_tokens(text: str) -> list[str]:
    """The repo-wide tokenization contract (functions/text.tokens)
    applied driver-side to one query string."""
    import re

    return [t for t in re.split(r"\s+", str(text).strip().lower()) if t]


def search_text(
    spark: SparkSession,
    path: str,
    query_text: str,
    k: int = 10,
    *,
    dim: int = 64,
    model: str | None = None,
    embed_fn=None,
    **search_kwargs,
) -> DataFrame:
    """Text-in front door for :func:`search`: embed ``query_text``
    driver-side through the encoder registry (``model=`` /
    ``embed_fn=``; hash stub default — swap in the registered
    production encoder) and serve from whatever index lives at
    ``path``.  All :func:`search` options pass through."""
    from astro_vectordb_spark.functions.embed import embed_query_text

    qv = embed_query_text(
        query_text, dim=dim, model=model, embed_fn=embed_fn
    )
    return search(spark, path, qv, k, **search_kwargs)


def search_text_batch(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    *,
    dim: int = 64,
    model: str | None = None,
    embed_fn=None,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    **search_kwargs,
) -> DataFrame:
    """Batch text-in front door for :func:`search_batch` — the
    vector-only sibling of :func:`hybrid_search_text_batch`:
    ``queries`` is ``(query_id long, query_text string)`` of UNBOUNDED
    size, every string embedded DISTRIBUTED through the encoder
    registry (``embed.embed_text``: Arrow-batched pandas_udf, lazy
    per-worker model load), then the whole batch serves through
    :func:`search_batch` as one plan.  Per-query results equal
    ``search_text(query_text)`` (pinned by test); all
    :func:`search_batch` options pass through."""
    from astro_vectordb_spark.functions.embed import embed_text

    prepared = embed_text(
        queries.select(query_id_col, query_text_col),
        text_col=query_text_col, out_col="query_vec", dim=dim,
        model=model, embed_fn=embed_fn,
    ).select(F.col(query_id_col).alias("query_id"), "query_vec")
    return search_batch(spark, path, prepared, k, **search_kwargs)


def hybrid_search_text(
    spark: SparkSession,
    vector_index_path: str,
    bm25_index_path: str,
    docs: DataFrame,
    query_text: str,
    k: int = 10,
    *,
    dim: int = 64,
    model: str | None = None,
    embed_fn=None,
    terms: Sequence[str] | None = None,
    prf: bool = False,
    n_feedback: int = 10,
    n_expand: int = 5,
    rerank: bool = False,
    rerank_model: str = "hash_cross",
    rerank_depth: int | None = None,
    rerank_config: dict | None = None,
    snippets: bool = False,
    snippet_window: int = 16,
    **hybrid_kwargs,
) -> DataFrame:
    """Text-in front door for :func:`hybrid_search`: ONE query string
    drives both lists — the vector side embeds it through the encoder
    registry, the lexical side prices its whitespace tokens (the
    repo-wide tokenization contract; repeated tokens count twice, the
    usual bag-of-words semantics).  ``terms=`` overrides the derived
    token list (e.g. after stopword removal).  All
    :func:`hybrid_search` options pass through.

    This is the full retrieve -> expand -> fuse -> highlight loop in
    one call:

    - ``prf=True`` runs pseudo-relevance-feedback expansion first
      (``keyword.prf_expand_terms``: top ``n_feedback`` BM25 docs ->
      top ``n_expand`` characteristic terms) and prices the LEXICAL
      leg with the expanded term list (original + expansion; the
      vector leg keeps the raw query embedding — expansion is a
      lexical-recall device).  The expansion's corpus-scale work is
      one extra indexed BM25 scan; the term selection runs on the
      bounded feedback slice.  ``allowed_ids`` (if given) restricts
      the feedback pool too, so expansion can't learn terms from
      filtered-out documents.
    - ``rerank=True`` inserts the cross-encoder stage between fuse
      and highlight (retrieve-wide / rerank-narrow): the fused top
      ``rerank_depth`` (default ``3*k``) joins back its doc text —
      a bounded broadcast semi-join, never a second corpus scan —
      and every (query, doc) pair is scored JOINTLY by the
      registered pairwise model (``rerank_model`` /
      ``rerank_config`` through ``functions.crossenc``; Arrow
      batches, lazy per-worker model load).  The RAW query string is
      the cross-encoder's query side (PRF expansion is a
      lexical-recall device, not a semantic rewrite), and the
      returned ``score`` becomes the CROSS score — fusion decided
      who gets reranked, the cross-encoder decides the final order.
    - ``snippets=True`` appends search-highlighting columns: the
      best ``snippet_window``-token span per fused hit
      (``keyword.snippet_extract`` over ONLY the k result docs —
      a bounded semi-join, never a second corpus scan), as
      ``(start, snippet)`` with ``start=0, snippet=''`` for hits
      whose text contains no query term (pure vector hits).
      Snippets are highlighted against the FINAL term list (after
      PRF expansion) — what the lexical leg actually matched.

    Returns ``(doc_id, score)``, plus ``(start, snippet)`` when
    ``snippets=True``; top ``k`` by (score desc, id asc) unchanged
    by the extra columns."""
    from astro_vectordb_spark.functions.embed import embed_query_text

    qv = embed_query_text(
        query_text, dim=dim, model=model, embed_fn=embed_fn
    )
    qterms = list(terms) if terms is not None else _query_tokens(query_text)
    if not qterms:
        raise ValueError("query_text has no tokens and no terms given")
    id_col = hybrid_kwargs.get("id_col", "doc_id")
    text_col = hybrid_kwargs.get("text_col", "text")
    if prf:
        from astro_vectordb_spark.operators.keyword import prf_expand_terms
        from astro_vectordb_spark.sources.vault import load_bm25_index

        term_stats, corpus_stats = load_bm25_index(spark, bm25_index_path)
        fb_docs = docs
        if hybrid_kwargs.get("allowed_ids") is not None:
            from astro_vectordb_spark.operators.filtering import (
                restrict_to_allowed,
            )

            fb_docs = restrict_to_allowed(
                docs, hybrid_kwargs["allowed_ids"], id_col=id_col
            )
        # ONE stats-collect for the whole PRF loop (round-16 §5
        # job-count cut): the original terms' df feed the feedback
        # query AND the final lexical leg; the expansion terms' df
        # ride the expansion collect itself (with_df=True) — three
        # bounded pricing jobs become one, values byte-identical
        # (same committed snapshot, df=0 for unindexed terms either
        # way).
        low_terms = [str(t).lower() for t in qterms]
        df_map = {
            r["term"]: int(r["df"])
            for r in term_stats.filter(
                F.col("term").isin(low_terms)
            ).collect()
        }
        expanded = prf_expand_terms(
            fb_docs, term_stats, corpus_stats, qterms,
            n_feedback=n_feedback, n_expand=n_expand,
            id_col=id_col, text_col=text_col,
            with_df=True, _df_map=df_map,
        )
        # bounded collect: n_expand rows by construction
        for r in expanded.collect():
            qterms = qterms + [r["term"]]
            df_map[str(r["term"]).lower()] = int(r["df"])
        hybrid_kwargs["_bm25_df_map"] = df_map
    fused = hybrid_search(
        spark, vector_index_path, bm25_index_path, docs, qv, qterms,
        (rerank_depth if rerank_depth is not None else 3 * k) if rerank else k,
        **hybrid_kwargs,
    )
    if rerank:
        from astro_vectordb_spark.operators.rerank import (
            cross_encoder_rerank,
        )

        cand = docs.select(id_col, text_col).join(
            F.broadcast(fused.select(id_col)), id_col, "left_semi"
        )
        fused = cross_encoder_rerank(
            cand, query_text, k, model=rerank_model,
            id_col=id_col, text_col=text_col,
            **(rerank_config or {}),
        )
    if not snippets:
        return fused
    from astro_vectordb_spark.operators.keyword import snippet_extract

    # k rows — materialize once so the snippet semi-join doesn't
    # re-execute the whole fused retrieval plan
    fused = fused.localCheckpoint(eager=True)
    hit_docs = docs.join(
        F.broadcast(fused.select(id_col)), id_col, "left_semi"
    )
    snips = snippet_extract(
        hit_docs, qterms, window=snippet_window,
        id_col=id_col, text_col=text_col,
    )
    return (
        fused.join(
            F.broadcast(snips.select(id_col, "start", "snippet")),
            id_col, "left",
        )
        .select(
            id_col, "score",
            F.coalesce(F.col("start"), F.lit(0)).alias("start"),
            F.coalesce(F.col("snippet"), F.lit("")).alias("snippet"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
    )


def hybrid_search_text_batch(
    spark: SparkSession,
    vector_index_path: str,
    bm25_index_path: str,
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    dim: int = 64,
    model: str | None = None,
    embed_fn=None,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    prf: bool = False,
    n_feedback: int = 10,
    n_expand: int = 5,
    rerank: bool = False,
    rerank_model: str = "hash_cross",
    rerank_depth: int | None = None,
    rerank_config: dict | None = None,
    snippets: bool = False,
    snippet_window: int = 16,
    **hybrid_kwargs,
) -> DataFrame:
    """Batch text-in front door: ``queries`` is ``(query_id long,
    query_text string)`` of UNBOUNDED size — every query string is
    embedded DISTRIBUTED through the encoder registry
    (``embed.embed_text``: Arrow-batched pandas_udf, lazy per-worker
    model load) and tokenized in codegen (the repo contract), then the
    whole batch serves through :func:`hybrid_search_batch` as one
    plan.  Per-query semantics equal
    ``hybrid_search_text(query_text)`` (pinned by test, per option).
    All :func:`hybrid_search_batch` options pass through.

    The single face's full option set is mirrored:

    - ``prf=True``: per-query pseudo-relevance-feedback expansion as
      ONE plan (``keyword.prf_expand_terms_batch`` — the batch BM25
      scan feeds every query's feedback set together; the per-query
      top-``n_expand`` term cut is a partitioned window).  Expansion
      terms append to each query's LEXICAL term list in the single
      face's selection order; the vector leg keeps the raw query
      embedding; ``allowed_ids`` restricts the feedback pool.
    - ``rerank=True`` = the batch face of the single call's
      cross-encoder stage: each query's fused top ``rerank_depth``
      (default ``3*k``) joins back its doc text AND its raw query
      text (plain keyed joins — the candidate set is |Q| x depth
      rows, so nothing is broadcast or driver-materialized at
      unbounded |Q|), and ``rerank.cross_encoder_rerank``'s batch
      face scores every (query, doc) pair jointly with the per-query
      top-k as one partitioned window; ``score`` becomes the cross
      score.
    - ``snippets=True``: each hit highlighted against ITS query's
      FINAL term list (after PRF) via
      ``keyword.snippet_extract_batch`` over only the |Q| x k result
      rows, with ``(start, snippet)`` defaulting to ``(0, '')`` for
      pure vector hits — exactly the single face's contract."""
    from astro_vectordb_spark.functions.embed import embed_text
    from astro_vectordb_spark.functions.text import tokens

    id_col = hybrid_kwargs.get("id_col", "doc_id")
    text_col = hybrid_kwargs.get("text_col", "text")
    prepared = embed_text(
        queries.select(query_id_col, query_text_col),
        text_col=query_text_col, out_col="query_vec", dim=dim,
        model=model, embed_fn=embed_fn,
    ).select(
        query_id_col,
        "query_vec",
        tokens(F.lower(F.col(query_text_col))).alias("terms"),
    )
    if prf:
        from astro_vectordb_spark.operators.keyword import (
            prf_expand_terms_batch,
        )
        from astro_vectordb_spark.sources.vault import load_bm25_index

        term_stats, corpus_stats = load_bm25_index(spark, bm25_index_path)
        fb_docs = docs
        if hybrid_kwargs.get("allowed_ids") is not None:
            from astro_vectordb_spark.operators.filtering import (
                restrict_to_allowed,
            )

            fb_docs = restrict_to_allowed(
                docs, hybrid_kwargs["allowed_ids"], id_col=id_col
            )
        expanded = prf_expand_terms_batch(
            fb_docs, term_stats, corpus_stats,
            prepared.select(query_id_col, "terms"),
            n_feedback=n_feedback, n_expand=n_expand,
            id_col=id_col, text_col=text_col,
            query_id_col=query_id_col,
        )
        # regroup per query in SELECTION order (rank asc = the order
        # the single face appends expansion terms — the BM25 fold is
        # order-sensitive)
        exp_arr = expanded.groupBy(query_id_col).agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rank", "term"))
                ),
                lambda s: s["term"],
            ).alias("_exp")
        )
        prepared = (
            prepared.join(exp_arr, query_id_col, "left")
            .withColumn(
                "terms",
                F.concat(
                    "terms",
                    F.coalesce(
                        F.col("_exp"), F.array().cast("array<string>")
                    ),
                ),
            )
            .drop("_exp")
            # |Q| rows — pin the expansion ONCE: the vector leg, the
            # lexical leg, and the snippet join each consume
            # ``prepared``, and without this every consumer re-runs
            # the whole PRF sub-plan (feedback corpus scan + window)
            .localCheckpoint(eager=True)
        )
    fused = hybrid_search_batch(
        spark, vector_index_path, bm25_index_path, docs, prepared,
        (rerank_depth if rerank_depth is not None else 3 * k)
        if rerank else k,
        query_id_col=query_id_col, **hybrid_kwargs,
    )
    if rerank:
        from astro_vectordb_spark.operators.rerank import (
            cross_encoder_rerank,
        )

        cand = (
            fused.select(query_id_col, id_col)
            .join(docs.select(id_col, text_col), id_col)
            .join(
                queries.select(query_id_col, query_text_col), query_id_col
            )
        )
        fused = cross_encoder_rerank(
            cand, None, k, model=rerank_model, id_col=id_col,
            text_col=text_col, query_id_col=query_id_col,
            query_text_col=query_text_col, **(rerank_config or {}),
        )
    if not snippets:
        return fused
    from astro_vectordb_spark.operators.keyword import snippet_extract_batch

    # |Q| x k rows — materialize once so the snippet joins don't
    # re-execute the whole fused (and possibly reranked) plan
    fused = fused.localCheckpoint(eager=True)
    hits = (
        fused.select(query_id_col, id_col)
        .join(docs.select(id_col, text_col), id_col)
        .join(prepared.select(query_id_col, "terms"), query_id_col)
    )
    snips = snippet_extract_batch(
        hits, window=snippet_window, id_col=id_col, text_col=text_col,
        query_id_col=query_id_col,
    )
    return (
        fused.join(
            snips.select(query_id_col, id_col, "start", "snippet"),
            [query_id_col, id_col], "left",
        )
        .select(
            query_id_col, id_col, "score",
            F.coalesce(F.col("start"), F.lit(0)).alias("start"),
            F.coalesce(F.col("snippet"), F.lit("")).alias("snippet"),
        )
        .orderBy(
            F.col(query_id_col).asc(),
            F.col("score").desc(),
            F.col(id_col).asc(),
        )
    )
