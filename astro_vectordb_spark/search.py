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
from functools import partial

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
    - ``strength`` (0-100, the reference's knob) keeps hits with
      ``score > min(0.95, strength / 100)`` on every kind.
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
      inside the probed cells with the probe count widened to
      ceil(n / selectivity) (the same policy as the HNSW beam).  A
      small Python sequence routes as an isin literal; a one-column
      DataFrame allow-list routes as a broadcast semi-join
      (``operators.filtering``), so large allow-lists never inflate
      the plan (HNSW's beam filter is inherently a broadcast set and
      collects a DataFrame allow-list — keep those bounded).
      Selectivity widening reads the corpus size from the index's
      persisted ``_meta`` ``n_rows`` counter (maintained by every
      save/append/remove); only legacy indexes without it count once.
    - ``adaptive_refine`` (PQ / IVF-PQ kinds) = error-bound stage-2
      pool sizing: ``refine_factor`` becomes the ceiling and each
      query keeps only the ADC candidates its own margin cannot rule
      out (``operators.pq.adaptive_refine_cut``/``_batch``).  Ignored
      by kinds with no ADC stage (exact / IVF / HNSW); legacy PQ
      models without a stored training MSE serve the fixed pool
      bit-identically.
    """
    return _serve(
        spark, path, query_vector, k, False, vectors=vectors,
        strength=strength, allowed_ids=allowed_ids, metric=metric,
        ef_search=ef_search, nprobe=nprobe, refine_factor=refine_factor,
        max_probe_frac=max_probe_frac, adaptive_refine=adaptive_refine,
        refine_min=refine_min, sigma_mult=sigma_mult,
    )


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
    """Batch face of :func:`search`: ``queries`` is a DataFrame
    ``(query_id long, query_vec array<float>)`` of UNBOUNDED size,
    served through the same per-kind dispatch and options, each kind
    by its batch operator — none materializes the query set on the
    driver (HNSW and PQ serve cogrouped; exact uses the map-side
    prereduce; IVF and IVF-PQ probe per query through the distributed
    probe table).  Returns ``(query_id, vec_id, score)``, at most
    ``k`` rows per query.

    ``max_group_rows`` (IVF-PQ kind) = skew-bounded serving: salts
    each cell's cogroup into ``ceil(cell_rows / max_group_rows)``
    sub-tasks so a giant or hot cell can never become one straggler
    task; results identical to the unsalted face (see
    ``ivf_pq_batch_topk_cogrouped``).
    """
    return _serve(
        spark, path, queries, k, True, vectors=vectors, strength=strength,
        allowed_ids=allowed_ids, metric="cosine", ef_search=ef_search,
        nprobe=nprobe, refine_factor=refine_factor,
        max_probe_frac=max_probe_frac, adaptive_refine=adaptive_refine,
        refine_min=refine_min, sigma_mult=sigma_mult,
        max_group_rows=max_group_rows,
    )


def _serve(
    spark: SparkSession,
    path: str,
    query,
    k: int,
    batch: bool,
    *,
    vectors: DataFrame | None,
    strength: float,
    allowed_ids,
    metric: str,
    ef_search: int,
    nprobe: int | None,
    refine_factor: int,
    max_probe_frac: float | None,
    adaptive_refine: bool,
    refine_min: int,
    sigma_mult: float,
    max_group_rows: int | None = None,
) -> DataFrame:
    """The per-kind dispatch of both faces: load the index, route
    ``allowed_ids``, apply ``strength``, and call the kind's single
    operator on a query vector or its batch operator on a query frame
    (``batch``) — the two faces differ only in that call."""
    from astro_vectordb_spark.functions.vector import threshold_from_strength
    from astro_vectordb_spark.operators import ann, hnsw, pq, topk
    from astro_vectordb_spark.operators.filtering import (
        allowed_as_list,
        restrict_to_allowed,
    )
    from astro_vectordb_spark.sources import vault

    kind = detect_index_kind(spark, path)
    if kind in ("pq", "ivf_pq") and vectors is None:
        raise ValueError(
            f"index at {path} is {kind}: pass vectors= (the full-precision "
            "table) for the exact stage-2 re-rank"
        )
    probe = dict(
        nprobe=nprobe, allowed_ids=allowed_ids, max_probe_frac=max_probe_frac
    )
    refine = dict(
        refine_factor=refine_factor, adaptive_refine=adaptive_refine,
        refine_min=refine_min, sigma_mult=sigma_mult,
    )
    if kind == "exact":
        corpus = vault.load_embeddings(spark, path)
        if allowed_ids is not None:
            corpus = restrict_to_allowed(corpus, allowed_ids)
        serve = topk.batch_topk if batch else topk.topk_search
        out = serve(corpus, query, k, strength=0.0, metric=metric)
    elif kind == "ivf":
        assigned, centroids, _, meta = vault.load_ivf_index(spark, path)
        serve = ann.ivf_batch_search if batch else ann.ivf_search
        out = serve(
            assigned, centroids, query, k, metric=meta["metric"],
            n_total=meta.get("n_rows"), **probe,
        )
    elif kind == "hnsw":
        graph, meta = vault.load_hnsw_index(spark, path)
        out = hnsw.hnsw_query_shards(
            graph, query if batch else [query], k=k, m=meta["m"],
            metric=meta["metric"], ef_search=ef_search,
            clustered=meta["clustered_safe"],
            index_cache_token=meta["cache_token"],
            allowed_ids=(
                allowed_as_list(allowed_ids) if allowed_ids is not None else None
            ),
        )
        if not batch:
            out = topk.top_k_rows(out, k)
    elif kind == "pq":
        encoded, model, _ = vault.load_pq_index(spark, path)
        if allowed_ids is not None:
            # no cell structure to prune — restricting the scanned
            # codes to the allowed set IS the exact filtered search
            # (stage 2 re-ranks the allowed candidates exactly)
            encoded = restrict_to_allowed(encoded, allowed_ids)
        serve = pq.pq_batch_topk_cogrouped if batch else pq.pq_topk
        out = serve(encoded, vectors, query, k, model, **refine)
    else:
        encoded, centroids, model, meta = vault.load_ivf_pq_index(spark, path)
        if batch:
            serve = partial(
                pq.ivf_pq_batch_topk_cogrouped, max_group_rows=max_group_rows
            )
        else:
            serve = pq.ivf_pq_topk
        out = serve(
            encoded, centroids, vectors, query, k, model,
            n_total=meta.get("n_rows"), **probe, **refine,
        )
    # one threshold for every kind and face, on the served score (the
    # operators keep only their own score > 0 floor)
    return out.filter(F.col("score") > threshold_from_strength(strength)).select(
        *(["query_id"] if batch else []), "vec_id", "score"
    )


def hybrid_search(
    spark: SparkSession,
    vector_index_path: str,
    bm25_index_path: str,
    docs: DataFrame,
    query_vector: Sequence[float],
    query_terms: Sequence,
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
) -> DataFrame:
    """One-call HYBRID retrieval — the front door of a production
    retrieval stack: the vector list served from whatever index lives
    at ``vector_index_path`` (:func:`search` — kind auto-detected),
    the lexical list priced from the persisted BM25 statistics at
    ``bm25_index_path`` (``bm25_topk_indexed`` — |terms|-row stats
    lookup + ONE corpus scan over ``docs``; ``query_terms`` may
    already be priced ``(term, df)`` pairs, see
    ``keyword.price_terms``), fused per ``fusion``:

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
    return _hybrid(
        spark, vector_index_path, bm25_index_path, docs, k,
        query_vector, query_terms, fetch_k=fetch_k, k_rrf=k_rrf,
        fusion=fusion, weights=weights, allowed_ids=allowed_ids,
        id_col=id_col, text_col=text_col,
        search_kwargs=dict(
            vectors=vectors, metric=metric, ef_search=ef_search,
            nprobe=nprobe, refine_factor=refine_factor,
        ),
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
    """Batch face of :func:`hybrid_search`: ``queries`` is a DataFrame
    ``(query_id long, query_vec array<float>, terms array<string>)``
    and the WHOLE batch is served as one plan — the vector lists via
    :func:`search_batch`, the lexical lists via
    ``bm25_batch_topk_indexed`` (one corpus scan for all queries) —
    through the same fusion step grouped by query (per-query ranks
    and min/max are partitioned windows, so nothing single-partitions
    on the batch axis).  Options and per-query semantics are the
    single face's.  Returns ``(query_id, doc_id, score)``, at most
    ``k`` rows per query.
    """
    return _hybrid(
        spark, vector_index_path, bm25_index_path, docs, k,
        queries.select(query_id_col, query_vec_col),
        queries.select(query_id_col, terms_col), fetch_k=fetch_k,
        k_rrf=k_rrf, fusion=fusion, weights=weights,
        allowed_ids=allowed_ids, id_col=id_col, text_col=text_col,
        search_kwargs=dict(
            vectors=vectors, ef_search=ef_search, nprobe=nprobe,
            refine_factor=refine_factor,
        ),
        query_id_col=query_id_col, terms_col=terms_col,
    )


def _hybrid(
    spark: SparkSession,
    vector_index_path: str,
    bm25_index_path: str,
    docs: DataFrame,
    k: int,
    vec_query,
    lex_query,
    *,
    fetch_k: int | None,
    k_rrf: int,
    fusion: str,
    weights: Sequence[float],
    allowed_ids,
    id_col: str,
    text_col: str,
    search_kwargs: dict,
    query_id_col: str | None = None,
    terms_col: str = "terms",
) -> DataFrame:
    """The fusion step of both hybrid faces: fetch the vector and the
    lexical list to the same depth (``allowed_ids`` restricting each),
    rank each on its rounded scores, and fuse by RRF or weighted score
    fusion — per query when ``query_id_col`` names the batch face's
    query frames, else over the single face's one query."""
    from pyspark.sql import Window

    from astro_vectordb_spark.operators.filtering import restrict_to_allowed
    from astro_vectordb_spark.operators.keyword import (
        bm25_batch_topk_indexed,
        bm25_topk_indexed,
    )
    from astro_vectordb_spark.operators.rerank import rrf_fuse, score_fusion
    from astro_vectordb_spark.sources.vault import load_bm25_index

    if fusion not in ("rrf", "weighted"):
        raise ValueError(f"unknown fusion: {fusion!r} (rrf | weighted)")
    fetch = fetch_k if fetch_k is not None else max(4 * k, 20)
    group = (query_id_col,) if query_id_col else ()
    serve = search_batch if group else search
    vec_list = serve(
        spark, vector_index_path, vec_query, fetch, allowed_ids=allowed_ids,
        **search_kwargs,
    ).select(*group, F.col("vec_id").alias(id_col), "score")

    term_stats, corpus_stats = load_bm25_index(spark, bm25_index_path)
    if allowed_ids is not None:
        docs = restrict_to_allowed(docs, allowed_ids, id_col=id_col)
    if group:
        lex_list = bm25_batch_topk_indexed(
            docs, term_stats, corpus_stats, lex_query, fetch, id_col=id_col,
            text_col=text_col, query_id_col=query_id_col,
            terms_col=terms_col,
        ).select(query_id_col, id_col, "score")
    else:
        lex_list = bm25_topk_indexed(
            docs, term_stats, corpus_stats, lex_query, fetch,
            id_col=id_col, text_col=text_col,
        )

    if fusion == "weighted":
        return score_fusion(
            [lex_list, vec_list], list(weights), k, id_col=id_col,
            group_cols=group,
        )
    w = Window.partitionBy(*group).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return rrf_fuse(
        [lex_list.withColumn("rank", F.row_number().over(w)),
         vec_list.withColumn("rank", F.row_number().over(w))],
        k, k_rrf=k_rrf, id_col=id_col, group_cols=group,
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
    """Batch face of :func:`search_text`: ``queries`` is ``(query_id
    long, query_text string)`` of UNBOUNDED size, every string
    embedded DISTRIBUTED through the encoder registry
    (``embed.embed_text``), then served through :func:`search_batch`
    as one plan.  Per-query results equal ``search_text(query_text)``
    (pinned by test); all :func:`search_batch` options pass through."""
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
    from astro_vectordb_spark.operators.keyword import (
        prf_expand_terms,
        price_terms,
    )
    from astro_vectordb_spark.sources.vault import load_bm25_index

    qv = embed_query_text(
        query_text, dim=dim, model=model, embed_fn=embed_fn
    )
    qterms = list(terms) if terms is not None else _query_tokens(query_text)
    if not qterms:
        raise ValueError("query_text has no tokens and no terms given")
    id_col = hybrid_kwargs.get("id_col", "doc_id")
    text_col = hybrid_kwargs.get("text_col", "text")
    term_stats, corpus_stats = load_bm25_index(spark, bm25_index_path)
    # ONE stats lookup for the whole loop: the priced list feeds the
    # feedback query AND the final lexical leg, and the expansion terms
    # arrive priced from the expansion collect itself
    priced = price_terms(term_stats, qterms)
    if prf:
        expanded = prf_expand_terms(
            _feedback_pool(docs, hybrid_kwargs, id_col), term_stats,
            corpus_stats, priced, n_feedback=n_feedback, n_expand=n_expand,
            id_col=id_col, text_col=text_col,
        )
        # bounded collect: n_expand rows by construction
        priced += [(r["term"], int(r["df"])) for r in expanded.collect()]
    fused = hybrid_search(
        spark, vector_index_path, bm25_index_path, docs, qv, priced,
        _fused_depth(k, rerank, rerank_depth), **hybrid_kwargs,
    )
    return _text_tail(
        fused, docs, k, (), query_text, [t for t, _ in priced],
        rerank=rerank, rerank_model=rerank_model,
        rerank_config=rerank_config, snippets=snippets,
        snippet_window=snippet_window, id_col=id_col, text_col=text_col,
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
    """Batch face of :func:`hybrid_search_text`: ``queries`` is
    ``(query_id long, query_text string)`` of UNBOUNDED size — every
    query string is embedded DISTRIBUTED through the encoder registry
    (``embed.embed_text``: Arrow-batched pandas_udf, lazy per-worker
    model load) and tokenized in codegen (the repo contract), then the
    whole batch serves through :func:`hybrid_search_batch` and the
    single face's expand -> fuse -> rerank -> highlight steps as one
    plan: PRF through ``keyword.prf_expand_terms_batch`` (expansion
    terms appended in the single face's selection order), rerank and
    snippets by keyed joins over the |Q| x depth rows.  Per-query
    results equal ``hybrid_search_text(query_text)`` (pinned by test,
    per option); all :func:`hybrid_search_batch` options pass
    through."""
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

        expanded = prf_expand_terms_batch(
            _feedback_pool(docs, hybrid_kwargs, id_col),
            *load_bm25_index(spark, bm25_index_path),
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
        _fused_depth(k, rerank, rerank_depth),
        query_id_col=query_id_col, **hybrid_kwargs,
    )
    return _text_tail(
        fused, docs, k, (query_id_col,),
        queries.select(query_id_col, query_text_col),
        prepared.select(query_id_col, "terms"), rerank=rerank,
        rerank_model=rerank_model, rerank_config=rerank_config,
        snippets=snippets, snippet_window=snippet_window, id_col=id_col,
        text_col=text_col, query_text_col=query_text_col,
    )


def _feedback_pool(docs: DataFrame, hybrid_kwargs: dict, id_col: str):
    """The PRF feedback pool of both text faces: ``allowed_ids`` (if
    given) restricts it, so expansion can't learn terms from
    filtered-out documents."""
    if hybrid_kwargs.get("allowed_ids") is None:
        return docs
    from astro_vectordb_spark.operators.filtering import restrict_to_allowed

    return restrict_to_allowed(
        docs, hybrid_kwargs["allowed_ids"], id_col=id_col
    )


def _fused_depth(k: int, rerank: bool, rerank_depth: int | None) -> int:
    """How deep the fused list goes: ``k``, or the rerank pool
    (default ``3*k``) that the cross-encoder narrows back to ``k``."""
    if not rerank:
        return k
    return rerank_depth if rerank_depth is not None else 3 * k


def _text_tail(
    fused: DataFrame,
    docs: DataFrame,
    k: int,
    group: tuple[str, ...],
    query_text,
    terms,
    *,
    rerank: bool,
    rerank_model: str,
    rerank_config: dict | None,
    snippets: bool,
    snippet_window: int,
    id_col: str,
    text_col: str,
    query_text_col: str | None = None,
) -> DataFrame:
    """The rerank -> snippet tail of both text faces.  ``query_text``
    is the cross-encoder's query side (the raw text: PRF expansion is
    a lexical-recall device, not a semantic rewrite) and ``terms`` the
    FINAL term list the snippets highlight — for the single face
    (``group=()``) a string and a list, for the batch face
    (``group=(query_id,)``) ``(query_id, query_text)`` and ``(query_id,
    terms)`` frames.  Each face keeps its plan shape: the single face
    reaches its k docs by broadcast semi-joins, the batch face by
    plain keyed joins, so its |Q| x depth rows are never broadcast or
    driver-materialized."""
    from astro_vectordb_spark.operators.keyword import (
        snippet_extract,
        snippet_extract_batch,
    )
    from astro_vectordb_spark.operators.rerank import cross_encoder_rerank

    keys = [*group, id_col]

    def with_text(hits: DataFrame) -> DataFrame:
        if group:
            return hits.select(*keys).join(
                docs.select(id_col, text_col), id_col
            )
        return docs.select(id_col, text_col).join(
            F.broadcast(hits.select(id_col)), id_col, "left_semi"
        )

    if rerank:
        cand, per_query = with_text(fused), {}
        if group:
            cand = cand.join(query_text, group[0])
            per_query = dict(
                query_id_col=group[0], query_text_col=query_text_col
            )
        fused = cross_encoder_rerank(
            cand, None if group else query_text, k, model=rerank_model,
            id_col=id_col, text_col=text_col, **per_query,
            **(rerank_config or {}),
        )
    if not snippets:
        return fused
    # k (or |Q| x k) rows — materialize once so the snippet joins don't
    # re-execute the whole fused (and possibly reranked) plan
    fused = fused.localCheckpoint(eager=True)
    if group:
        snips = snippet_extract_batch(
            with_text(fused).join(terms, group[0]), window=snippet_window,
            id_col=id_col, text_col=text_col, query_id_col=group[0],
        )
    else:
        snips = F.broadcast(snippet_extract(
            with_text(fused), terms, window=snippet_window, id_col=id_col,
            text_col=text_col,
        ))
    return (
        fused.join(snips.select(*keys, "start", "snippet"), keys, "left")
        .select(
            *keys, "score",
            F.coalesce(F.col("start"), F.lit(0)).alias("start"),
            F.coalesce(F.col("snippet"), F.lit("")).alias("snippet"),
        )
        .orderBy(
            *[F.col(c).asc() for c in group],
            F.col("score").desc(), F.col(id_col).asc(),
        )
    )
