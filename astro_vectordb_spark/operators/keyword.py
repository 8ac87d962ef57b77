"""Keyword (lexical) search — BM25 ranking over the documents table.

The reference is a pure vector store; every production retrieval stack
in front of an LLM pairs it with lexical search and fuses the two
(hybrid search).  This module supplies the lexical half; fusion lives
in ``operators.rerank.rrf_fuse``.

Spark-first physical story — **zero shuffles on the corpus**:

The query's term list is a small literal, so per-document term
frequencies are computed as ONE projection: ``tfs[i] = size(filter(
tokens, t -> t == term_i))`` — no explode, no (doc, term) groupBy, no
tf x doclen join (the shapes a row-store engine is forced into).  The
corpus-level statistics BM25 needs (N, avgdl, per-term document
frequencies) reduce to a single 1-row aggregate over that same
projection, which re-enters the plan as a broadcast cross join.  The
final ranking is ``ORDER BY score DESC LIMIT k`` =
``TakeOrderedAndProject``: per-task heaps, driver merges
K x numPartitions rows.  Plan: scan -> project -> (1-row agg) ->
broadcast -> score -> TakeOrderedAndProject.  Linear in corpus size,
embarrassingly parallel, no skew surface.

Scoring is Lucene's BM25 variant: ``idf = ln(1 + (N - df + 0.5) /
(df + 0.5))`` (never negative), ``tf_norm = tf * (k1 + 1) / (tf + k1 *
(1 - b + b * dl / avgdl))``.  Tokenization is the repo-wide contract
(functions/text.py: whitespace split of trimmed lowercased text, empty
tokens dropped), so the DuckDB oracle reproduces scores bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from astro_vectordb_spark.functions.text import tokens
from astro_vectordb_spark.operators.topk import top_k_rows

SCORE_DECIMALS = 6


def bm25_score_all(
    docs: DataFrame,
    query_terms: Sequence[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_col: str = "score",
) -> DataFrame:
    """Append an (unrounded) BM25 score vs ``query_terms`` to every
    document.  See module docstring for the plan shape."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [str(t).lower() for t in query_terms]

    def _eq(term: str):
        # NB: a plain `lambda x, t=t:` has two parameters, which
        # F.filter treats as the (element, index) form — the closure
        # keeps the signature unary
        return lambda x: x == F.lit(term)

    base = docs.select(
        id_col, tokens(F.lower(F.col(text_col))).alias("_tk")
    ).select(
        id_col,
        "_tk",
        F.size("_tk").alias("_dl"),
        F.array(
            *[F.size(F.filter("_tk", _eq(t))) for t in terms]
        ).alias("_tfs"),
    )

    # 1-row corpus statistics; re-enters as a broadcast cross join so
    # the whole query stays a single scan lineage with no driver action
    stats = base.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg("_dl").alias("_avgdl"),
        *[
            F.sum((F.col("_tfs")[i] > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    tinfo = F.array(*[
        F.struct(
            F.lit(t).alias("term"),
            _idf(F.col("_n").cast("double"),
                 F.col(f"_df{i}").cast("double")).alias("idf"),
        )
        for i, t in enumerate(terms)
    ])
    return base.crossJoin(F.broadcast(stats)).select(
        id_col, _bm25_fold(tinfo, F.col("_avgdl"), k1, b).alias(score_col)
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: Sequence[str],
    k: int,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_col: str = "score",
) -> DataFrame:
    """Top-K documents by BM25 (score > 0 — a doc matching no query
    term is not a hit).  Ties broken by ascending id; scores rounded
    to 6 decimals for output (oracle-hashable), ranked unrounded."""
    scored = bm25_score_all(
        docs, query_terms, k1=k1, b=b,
        id_col=id_col, text_col=text_col, score_col=score_col,
    )
    out = top_k_rows(
        scored.filter(F.col(score_col) > 0), k, (), id_col, score_col
    )
    return out.withColumn(score_col, F.round(F.col(score_col), SCORE_DECIMALS))


def bm25_term_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """The lexical-index analogue: full-vocabulary document
    frequencies plus corpus size / average doc length, built ONCE and
    persisted (parquet), so every subsequent query prices its terms
    with a |terms|-row lookup instead of re-aggregating the corpus.

    Returns ``(term_stats, corpus_stats)``: ``term_stats(term, df)``
    (one shuffle: explode distinct terms -> groupBy term, map-side
    partial counts, vocabulary-sized output) and 1-row
    ``corpus_stats(n, avgdl)``.
    """
    toks = tokens(F.lower(F.col(text_col)))
    base = docs.select(id_col, F.array_distinct(toks).alias("_terms"),
                       F.size(toks).alias("_dl"))
    term_stats = (
        base.select(F.explode("_terms").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    # total_dl is the mergeable form (exact integer sum): appends add
    # batch totals and re-derive avgdl = total_dl / n, bit-identical
    # to a full rebuild (integer sums < 2^53 are exact in doubles)
    corpus_stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_dl").cast("long").alias("total_dl"),
    ).select(
        "n",
        "total_dl",
        (F.col("total_dl").cast("double") / F.col("n")).alias("avgdl"),
    )
    return term_stats, corpus_stats


def bm25_append_stats(
    term_stats: DataFrame,
    corpus_stats: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Merge a new-document batch into existing BM25 statistics —
    the lexical index's incremental-insert face (the PQ/IVF/HNSW
    append family's pattern applied to term stats).

    Document frequencies are ADDITIVE (df' = df + df_batch: a union +
    one vocabulary-sized groupBy-sum), and the corpus stats merge from
    exact integer totals (n' = n + n_batch, total_dl' = total_dl +
    batch total, avgdl re-derived as total'/n') — so append-then-query
    equals full-rebuild bit-for-bit (pinned by test).  Cost is
    O(batch + vocabulary), the corpus is never rescanned.
    """
    new_ts, new_cs = bm25_term_stats(new_docs, id_col=id_col, text_col=text_col)
    merged_terms = (
        term_stats.select("term", "df")
        .unionByName(new_ts)
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
    )
    merged_corpus = (
        corpus_stats.select("n", "total_dl")
        .unionByName(new_cs.select("n", "total_dl"))
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("total_dl").cast("long").alias("total_dl"),
        )
        .select(
            "n",
            "total_dl",
            (F.col("total_dl").cast("double") / F.col("n")).alias("avgdl"),
        )
    )
    return merged_terms, merged_corpus


def bm25_remove_stats(
    term_stats: DataFrame,
    corpus_stats: DataFrame,
    removed_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    strict: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Subtract a removed-document batch from existing BM25 statistics
    — the lexical index's delete face, completing the build → append →
    **remove** lifecycle every vector index kind already has.

    BM25 statistics are exactly decrementable: document frequencies
    subtract (``df' = df - df_removed``; terms reaching 0 drop out of
    the vocabulary) and the corpus stats subtract from exact integer
    totals (``n' = n - n_removed``, ``total_dl' = total_dl - batch
    total``, avgdl re-derived) — so remove-then-query equals a full
    rebuild over the surviving corpus bit-for-bit (pinned by test).
    Cost is O(batch + vocabulary); the corpus is never rescanned.

    The caller must pass the documents' ORIGINAL (id, text) rows — the
    statistics store no per-document postings, so the text is the only
    record of what each doc contributed (the corpus table is the
    source of truth; an erasure flow reads the rows there before
    deleting them).  ``strict=True`` (default) runs one
    vocabulary-sized check and raises ValueError if any df would go
    negative or the corpus totals underflow — the signature of
    removing a document that was never appended (a double-remove to
    exactly 0 is undetectable; the contract is the caller's).
    """
    rem_ts, rem_cs = bm25_term_stats(
        removed_docs, id_col=id_col, text_col=text_col
    )
    decremented = (
        term_stats.select("term", "df")
        .join(
            rem_ts.withColumnRenamed("df", "_df_rem"), "term", "left"
        )
        .select(
            "term",
            (F.col("df") - F.coalesce(F.col("_df_rem"), F.lit(0)))
            .cast("long")
            .alias("df"),
        )
        # terms only in the removed batch (never appended) surface as
        # negative rows via a right-side union so strict mode sees them
        .unionByName(
            rem_ts.join(term_stats.select("term"), "term", "left_anti")
            .select("term", (-F.col("df")).cast("long").alias("df"))
        )
    )
    merged_corpus = (
        corpus_stats.select("n", "total_dl")
        .unionByName(
            rem_cs.select(
                (-F.col("n")).cast("long").alias("n"),
                (-F.col("total_dl")).cast("long").alias("total_dl"),
            )
        )
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("total_dl").cast("long").alias("total_dl"),
        )
        .select(
            "n",
            "total_dl",
            F.when(F.col("n") > 0,
                   F.col("total_dl").cast("double") / F.col("n"))
            .otherwise(F.lit(0.0))
            .alias("avgdl"),
        )
    )
    if strict:
        bad = decremented.filter(F.col("df") < 0).limit(1).count()
        if bad:
            raise ValueError(
                "bm25_remove_stats: a term's document frequency would go "
                "negative — the removed batch contains documents (or text) "
                "that were never appended to this index"
            )
        row = merged_corpus.first()
        if int(row["n"]) < 0 or int(row["total_dl"]) < 0:
            raise ValueError(
                "bm25_remove_stats: corpus totals would underflow — "
                "removing more documents/tokens than the index contains"
            )
    return decremented.filter(F.col("df") > 0), merged_corpus


def _idf(n, df: Column) -> Column:
    """The one BM25 term pricing: Lucene's ``idf = ln(1 + (N - df +
    0.5) / (df + 0.5))`` as a float64 expression (``n`` a float or a
    column; evaluated engine-side either way, so every face prices a
    term bit-identically)."""
    return F.log(
        F.lit(1.0) + (F.lit(n) - df + F.lit(0.5)) / (df + F.lit(0.5))
    )


def _bm25_fold(
    tinfo: Column, avgdl: float | Column, k1: float, b: float
) -> Column:
    """The one BM25 sum: a left-to-right fold over ``tinfo`` (an array
    of ``(term, idf)`` structs in query-term order) against the row's
    token array ``_tk`` — tf via a nested ``filter`` (pure codegen, no
    explode, no (doc, term) shuffle).  The single face passes a
    literal array, the batch face its broadcast per-query column,
    ``bm25_score_all`` an array priced from its in-plan statistics."""
    dlnorm = F.lit(k1) * (
        F.lit(1.0 - b)
        + F.lit(b) * F.size("_tk").cast("double") / F.lit(avgdl)
    )

    def _step(acc, t):
        tf = F.size(
            F.filter(F.col("_tk"), lambda x: x == t["term"])
        ).cast("double")
        return acc + t["idf"] * tf * F.lit(k1 + 1.0) / (tf + dlnorm)

    return F.aggregate(tinfo, F.lit(0.0), _step)


def _corpus(corpus_stats: DataFrame) -> tuple[float, float]:
    """``(n, avgdl)`` of the 1-row corpus statistics (a memoized
    control-plane read for a persisted index)."""
    cs = corpus_stats.first()
    if cs is None:
        raise ValueError("corpus_stats is empty")
    return float(cs["n"]), float(cs["avgdl"])


def _priced(
    frame: DataFrame, term_stats: DataFrame, terms: DataFrame
) -> DataFrame:
    """``frame`` with ``df``, the index document frequency of its
    ``term`` (0 outside the index) — the plan-side form of
    :func:`price_terms`: the vocabulary scan restricted to ``terms``
    by a broadcast inner join, then LEFT-joined back."""
    stats = term_stats.join(F.broadcast(terms), "term")
    return frame.join(F.broadcast(stats), "term", "left").withColumn(
        "df", F.coalesce(F.col("df"), F.lit(0)).cast("long")
    )


def price_terms(
    term_stats: DataFrame, query_terms: Sequence
) -> list[tuple[str, int]]:
    """The priced-term list ``[(term, df), ...]`` of ``query_terms``
    (lowercased, in order; df=0 for terms outside the index) — a
    |terms|-row filter on the stats table, collected driver-side (the
    bounded control plane of the IVF-centroid pattern).  Entries that
    are already ``(term, df)`` pairs pass through without a job, so a
    caller that prices once (e.g. the PRF loop, whose expansion terms
    arrive priced from ``prf_expand_terms``) reuses the list for every
    later query over the same committed stats snapshot."""
    if query_terms and all(isinstance(t, tuple) for t in query_terms):
        return [(str(t).lower(), int(df)) for t, df in query_terms]
    terms = [str(t).lower() for t in query_terms]
    df_map = {
        r["term"]: int(r["df"])
        for r in term_stats.filter(F.col("term").isin(terms)).collect()
    }
    return [(t, df_map.get(t, 0)) for t in terms]


def bm25_topk_indexed(
    docs: DataFrame,
    term_stats: DataFrame,
    corpus_stats: DataFrame,
    query_terms: Sequence,
    k: int,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_col: str = "score",
) -> DataFrame:
    """BM25 top-K against PRE-BUILT statistics: the per-query plan is
    a |terms|-row stats lookup (:func:`price_terms`; skipped when
    ``query_terms`` are already priced ``(term, df)`` pairs) plus ONE
    corpus scan for term frequencies.  Scores are identical to
    ``bm25_topk`` (same float64 expression tree; df/n/avgdl enter as
    literals, idf still computed engine-side), so the same oracle
    hash-matches both paths.  At 100 TB this halves per-query corpus
    work and is the right shape for a query service."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    priced = price_terms(term_stats, query_terms)
    n, avgdl = _corpus(corpus_stats)
    tinfo = F.array(*[
        F.struct(F.lit(t).alias("term"),
                 _idf(n, F.lit(float(df))).alias("idf"))
        for t, df in priced
    ])
    toks = tokens(F.lower(F.col(text_col)))
    score = _bm25_fold(tinfo, avgdl, k1, b)
    # top-k THEN the score > 0 filter: every matching doc (score > 0,
    # NaN included) sorts ahead of every other one, so this is the
    # top-k of the matches.  Filtering first lets Spark fold the filter
    # into a local docs relation; with at most k matches it then drops
    # the limit, and the sort becomes a range-partitioned global sort
    # (three more jobs) instead of a TakeOrderedAndProject.  The k rows
    # sit in one partition either way (a folded local relation would
    # spread them), so a consumer that ranks them adds no exchange
    out = (
        docs.select(id_col, toks.alias("_tk"))
        .select(id_col, score.alias(score_col))
        .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        .limit(k)
        .filter(F.col(score_col) > 0)
        .coalesce(1)
    )
    return out.withColumn(score_col, F.round(F.col(score_col), SCORE_DECIMALS))


def bm25_batch_topk_indexed(
    docs: DataFrame,
    term_stats: DataFrame,
    corpus_stats: DataFrame,
    queries: DataFrame,
    k: int,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    score_col: str = "score",
    num_salts: int = 8,
) -> DataFrame:
    """Batch face of :func:`bm25_topk_indexed`: ``queries`` is a
    DataFrame ``(query_id long, terms array<string>)``.  One corpus
    scan serves EVERY query with the single face's pricing and fold,
    so per-query scores are bit-identical.

    Plan (no driver-side per-query loop): explode query terms
    (position kept) and price them — the stats scan restricted to the
    needed terms by an inner join against the broadcast distinct-term
    set, then a LEFT join so terms absent from the index price with
    df = 0; regroup per query into a position-sorted ``(pos, term,
    idf)`` array (|Q| rows, broadcast); cross-join it to the
    tokenized corpus and fold; per-query top-K via
    ``rank_topk_per_query`` (partition-local prereduce, then the
    global per-query rank).

    Returns ``(query_id, doc_id, score, rank)``, score rounded to 6
    decimals, at most ``k`` rows per query; queries none of whose
    terms hit any document simply produce no rows (the single face's
    ``score > 0`` convention).
    """
    from astro_vectordb_spark.operators.topk import rank_topk_per_query

    n, avgdl = _corpus(corpus_stats)
    qt = queries.select(
        query_id_col,
        F.posexplode(
            F.transform(F.col(terms_col), lambda t: F.lower(t))
        ).alias("_pos", "term"),
    )
    qinfo = (
        _priced(qt, term_stats, qt.select("term").distinct())
        .select(
            query_id_col,
            F.struct(
                F.col("_pos").alias("pos"),
                F.col("term").alias("term"),
                _idf(n, F.col("df").cast("double")).alias("idf"),
            ).alias("_ti"),
        )
        .groupBy(query_id_col)
        .agg(F.array_sort(F.collect_list("_ti")).alias("_tinfo"))
    )

    toks = tokens(F.lower(F.col(text_col)))
    scored = (
        docs.select(id_col, toks.alias("_tk"))
        .join(F.broadcast(qinfo))
        .withColumn(score_col, _bm25_fold(F.col("_tinfo"), avgdl, k1, b))
        .filter(F.col(score_col) > 0)
        .select(query_id_col, id_col, score_col)
    )
    return rank_topk_per_query(
        scored, k, id_col=id_col, query_id_col=query_id_col,
        score_col=score_col, num_salts=num_salts,
    )


def snippet_extract(
    docs: DataFrame,
    query_terms: Sequence[str],
    window: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Best-window snippet (search highlighting) per document: the
    contiguous ``window``-token span containing the most query-term
    occurrences, earliest span on ties — what a search UI shows under
    each hit.

    Pure higher-order expressions over the token array, with the
    scan restricted to CANDIDATE starts: a window's hit count only
    increases where a hit token ENTERS at its right edge, so the
    earliest maximal window starts at 1 or at ``p - window + 1`` for
    some hit position ``p`` — |hits|+1 candidates instead of every
    position (identical result to the full scan, which the oracle
    replays).  Hit tests run ONCE per token (an int 0/1 array);
    per-candidate scoring sums a ``window``-slice of ints.  Per-doc
    work is O(n + hits x window); the plan is a narrow projection
    with NO shuffle, so it composes with a bounded candidate list or
    runs corpus-wide, scan-linear.

    Returns ``(id, n_hits, start, snippet)``: ``start`` is the
    1-based token offset of the window, ``snippet`` the space-joined
    tokens, ``n_hits`` the query-term occurrences inside it.  Docs
    with zero hits anywhere are dropped.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    term_arr = F.array(*[F.lit(str(t).lower()) for t in query_terms])
    return _snippets(docs, [id_col], term_arr, window, text_col)


def snippet_extract_batch(
    hits: DataFrame,
    window: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
) -> DataFrame:
    """Batch face of :func:`snippet_extract`: ``hits`` carries
    ``(query_id, doc_id, terms array<string>, text)`` — each row is
    highlighted against ITS OWN query's term list (per-query lists
    diverge under PRF expansion) over the (|Q| x k)-bounded hit set.
    Returns ``(query_id, doc_id, n_hits, start, snippet)``."""
    term_arr = F.transform(F.col(terms_col), lambda t: F.lower(t))
    return _snippets(
        hits, [query_id_col, id_col], term_arr, window, text_col
    )


def _snippets(
    frame: DataFrame, keys: list[str], term_arr: Column, window: int,
    text_col: str,
) -> DataFrame:
    """The snippet projection of both faces: ``keys`` + ``(n_hits,
    start, snippet)`` of each row's best window against ``term_arr``,
    zero-hit rows dropped (the caller left-joins and coalesces)."""
    toks = tokens(F.lower(F.col(text_col)))
    scored = (
        frame.select(*keys, toks.alias("_tk"), term_arr.alias("_terms"))
        .withColumn(
            "_pick", _snippet_pick(F.col("_tk"), F.col("_terms"), window)
        )
        .filter(F.col("_pick.nh") > 0)
    )
    return scored.select(
        *keys,
        F.col("_pick.nh").cast("long").alias("n_hits"),
        F.col("_pick.st").cast("long").alias("start"),
        F.array_join(
            F.slice(F.col("_tk"), F.col("_pick.st"), F.lit(window)), " "
        ).alias("snippet"),
    )


def _snippet_pick(tk, term_arr, window: int):
    """The best-window picker shared by the single and batch snippet
    faces: struct(nh, st) of the max-hit ``window``-token span of
    ``tk`` against ``term_arr`` (a literal array or a per-row terms
    column), earliest span on ties."""
    if window < 1:
        raise ValueError("window must be >= 1")

    def _bind(expr, fn):
        # evaluate `expr` ONCE per row by binding it as a lambda
        # variable: ProjectCollapse inlines withColumn temporaries
        # into every consumer, and higher-order functions run
        # interpreted — without the binding, the hits/starts/scores
        # arrays would each be recomputed per reference (measured 2x
        # slower than even the naive full scan)
        return F.element_at(F.transform(F.array(expr), fn), 1)

    hits_of = lambda tk: F.transform(  # noqa: E731
        tk, lambda x: F.array_contains(term_arr, x).cast("int")
    )

    def pick(tk):
        def with_hits(h):
            hitpos = F.when(
                F.size(tk) < 1, F.array().cast("array<int>")
            ).otherwise(
                F.filter(
                    F.sequence(F.lit(1), F.size(tk)),
                    lambda i: F.element_at(h, i) == 1,
                )
            )
            starts = F.array_distinct(
                F.concat(
                    F.array(F.lit(1)),
                    F.transform(
                        hitpos,
                        lambda p: F.greatest(
                            F.lit(1), p - F.lit(window - 1)
                        ),
                    ),
                )
            )

            def with_starts(st):
                scores = F.transform(
                    st,
                    lambda s: F.aggregate(
                        F.slice(h, s, F.lit(window)),
                        F.lit(0),
                        lambda a, x: a + x,
                    ),
                )

                def with_scores(sc):
                    mx = F.array_max(sc)
                    return F.struct(
                        mx.alias("nh"),
                        F.element_at(
                            st, F.array_position(sc, mx).cast("int")
                        ).alias("st"),
                    )

                return _bind(scores, lambda sc: with_scores(sc))

            return _bind(starts, lambda st: with_starts(st))

        return _bind(hits_of(tk), lambda h: with_hits(h))

    return pick(tk)


def prf_expand_terms(
    docs: DataFrame,
    term_stats: DataFrame,
    corpus_stats: DataFrame,
    query_terms: Sequence,
    n_feedback: int = 10,
    n_expand: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion: run the indexed
    BM25 query, take the top ``n_feedback`` documents as a relevance
    sample, and score every term they contain by ``df_feedback *
    idf_corpus`` — how characteristic of the feedback set a term is,
    discounted by how common it is corpus-wide (the classic
    RM/Rocchio-style tf-idf selection, made deterministic: integer
    feedback df x the index's float64 idf, no sampling).  Original
    query terms are excluded.

    Scale: the feedback set is ``n_feedback`` rows by construction —
    the explode/groupBy runs on a BOUNDED slice, never the corpus;
    the corpus-scale work is the one indexed BM25 scan that produced
    the feedback.  ``query_terms`` may be priced ``(term, df)`` pairs
    (:func:`price_terms`), which skips the feedback query's stats
    lookup.

    Returns ``(term, score, df)``, top ``n_expand`` by (score desc,
    term asc), score rounded to 6 decimals, ``df`` the corpus document
    frequency the term was priced with (0 outside the index) — so the
    rows are the expansion's priced-term list, ready for
    ``bm25_topk_indexed`` without another stats lookup."""
    priced = price_terms(term_stats, query_terms)
    fb = bm25_topk_indexed(
        docs, term_stats, corpus_stats, priced, n_feedback,
        k1=k1, b=b, id_col=id_col, text_col=text_col,
    ).select(id_col)
    return _prf_expansion(
        fb, docs, term_stats, corpus_stats, [t for t, _ in priced], (),
        n_expand, id_col, text_col,
    )


def prf_expand_terms_batch(
    docs: DataFrame,
    term_stats: DataFrame,
    corpus_stats: DataFrame,
    queries: DataFrame,
    n_feedback: int = 10,
    n_expand: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
) -> DataFrame:
    """Batch face of :func:`prf_expand_terms`: ``queries`` is
    ``(query_id, terms array<string>)`` of unbounded size; every
    query's feedback comes from one batch indexed BM25 scan, the
    shared term scoring runs grouped by query, and the per-query
    top-``n_expand`` cut is a partitioned window — per-query results
    are bit-identical to the single face (pinned by test).

    Returns ``(query_id, term, score, rank)`` with rank 1..n_expand in
    selection order (the order the single face appends expansion
    terms)."""
    fb = bm25_batch_topk_indexed(
        docs, term_stats, corpus_stats, queries, n_feedback,
        k1=k1, b=b, id_col=id_col, text_col=text_col,
        query_id_col=query_id_col, terms_col=terms_col,
    ).select(query_id_col, id_col)
    own = queries.select(
        query_id_col,
        F.explode(
            F.transform(F.col(terms_col), lambda t: F.lower(t))
        ).alias("term"),
    ).distinct()
    return _prf_expansion(
        fb, docs, term_stats, corpus_stats, own, (query_id_col,), n_expand,
        id_col, text_col,
    ).select(query_id_col, "term", "score", "rank")


def _prf_expansion(
    fb: DataFrame,
    docs: DataFrame,
    term_stats: DataFrame,
    corpus_stats: DataFrame,
    own,
    group: tuple[str, ...],
    n_expand: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """The one PRF term-selection core: the top ``n_expand`` terms (per
    ``group``; ``rank`` kept when grouped) of the feedback docs ``fb``
    (``group..., id``) outside the query's own terms ``own`` (the
    single face's lowercased list, or the batch face's ``(query_id,
    term)`` frame), scored ``df_feedback x idf`` and cut by (score desc,
    term asc) -> ``(group..., term, score, df)``, score rounded.  The
    explode/groupBy runs on the bounded feedback slice; pricing
    restricts the vocabulary scan to the feedback terms."""
    n, _ = _corpus(corpus_stats)
    fb_df = (
        fb.join(docs.select(id_col, text_col), id_col)
        .select(
            *group,
            F.explode(
                F.array_distinct(tokens(F.lower(F.col(text_col))))
            ).alias("term"),
        )
        .groupBy(*group, "term")
        .agg(F.count(F.lit(1)).cast("double").alias("_dffb"))
    )
    if isinstance(own, DataFrame):
        fb_df = fb_df.join(own, [*group, "term"], "left_anti")
        fb_terms = fb_df.select("term").distinct()
    else:
        fb_df = fb_df.filter(~F.col("term").isin(own))
        fb_terms = fb_df.select("term")
    scored = _priced(fb_df, term_stats, fb_terms).select(
        *group,
        "term",
        (F.col("_dffb") * _idf(n, F.col("df").cast("double"))).alias("score"),
        "df",
    )
    out = top_k_rows(
        scored, int(n_expand), group, "term", rank_col="rank" if group else None
    )
    return out.withColumn("score", F.round(F.col("score"), SCORE_DECIMALS))
