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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from astro_vectordb_spark.functions.text import tokens

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

    toks = tokens(F.lower(F.col(text_col)))
    base = docs.select(
        id_col,
        F.size(toks).alias("_dl"),
        F.array(
            *[F.size(F.filter(toks, _eq(t))) for t in terms]
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

    scored = base.crossJoin(F.broadcast(stats))
    per_term = []
    for i in range(len(terms)):
        tf = F.col("_tfs")[i].cast("double")
        df_t = F.col(f"_df{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n").cast("double") - df_t + F.lit(0.5)) / (df_t + F.lit(0.5))
        )
        denom = tf + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col("_dl").cast("double") / F.col("_avgdl")
        )
        per_term.append(idf * tf * F.lit(k1 + 1.0) / denom)
    score = per_term[0]
    for p in per_term[1:]:
        score = score + p
    return scored.select(id_col, score.alias(score_col))


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
    out = (
        scored.filter(F.col(score_col) > 0)
        .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        .limit(k)
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


def bm25_topk_indexed(
    docs: DataFrame,
    term_stats: DataFrame,
    corpus_stats: DataFrame,
    query_terms: Sequence[str],
    k: int,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_col: str = "score",
    _df_map: dict[str, int] | None = None,
) -> DataFrame:
    """BM25 top-K against PRE-BUILT statistics: the per-query plan is
    a |terms|-row filter on the stats table (driver-side, bounded
    control plane — the IVF-centroid pattern) plus ONE corpus scan
    for term frequencies.  Scores are identical to ``bm25_topk``
    (same float64 expression tree; df/n/avgdl enter as literals, idf
    still computed engine-side), so the same oracle hash-matches
    both paths.  At 100 TB this halves per-query corpus work and is
    the right shape for a query service.

    ``_df_map`` (private, round-16 §5 job-count cut): a caller that
    already holds the terms' document frequencies (e.g. the PRF loop,
    which prices the SAME original terms twice and learns the
    expansion terms' df from the expansion collect) passes them here
    and skips this call's stats-collect job.  Values must come from
    the same committed stats snapshot; missing terms price df=0
    exactly like the collected path."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [str(t).lower() for t in query_terms]
    df_map = _df_map if _df_map is not None else {
        r["term"]: int(r["df"])
        for r in term_stats.filter(F.col("term").isin(terms)).collect()
    }
    cs = corpus_stats.first()
    n, avgdl = float(cs["n"]), float(cs["avgdl"])

    def _eq(term: str):
        return lambda x: x == F.lit(term)

    toks = tokens(F.lower(F.col(text_col)))
    base = docs.select(
        id_col,
        F.size(toks).alias("_dl"),
        *[F.size(F.filter(toks, _eq(t))).alias(f"_tf{i}")
          for i, t in enumerate(terms)],
    )
    per_term = []
    for i, t in enumerate(terms):
        tf = F.col(f"_tf{i}").cast("double")
        df_t = float(df_map.get(t, 0))
        idf = F.log(
            F.lit(1.0) + (F.lit(n) - F.lit(df_t) + F.lit(0.5))
            / (F.lit(df_t) + F.lit(0.5))
        )
        denom = tf + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col("_dl").cast("double") / F.lit(avgdl)
        )
        per_term.append(idf * tf * F.lit(k1 + 1.0) / denom)
    score = per_term[0]
    for p in per_term[1:]:
        score = score + p
    # top-k THEN the score > 0 filter: every matching doc (score > 0,
    # NaN included) sorts ahead of every other one, so this is the
    # top-k of the matches.  Filtering first lets Spark fold the filter
    # into a local docs relation; with at most k matches it then drops
    # the limit, and the sort becomes a range-partitioned global sort
    # (three more jobs) instead of a TakeOrderedAndProject.  The k rows
    # sit in one partition either way (a folded local relation would
    # spread them), so a consumer that ranks them adds no exchange
    out = (
        base.select(id_col, score.alias(score_col))
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
    """Batch companion to :func:`bm25_topk_indexed`: ``queries`` is a
    DataFrame ``(query_id long, terms array<string>)`` — the lexical
    analogue of ``topk.batch_topk``'s query set.  One corpus scan
    serves EVERY query; per-query scores are bit-identical to the
    single-query face (same float64 expression tree, same
    left-to-right accumulation in the query's term order).

    Physical story (no driver-side per-query loop):

    1. Explode query terms (position kept) and price them: the stats
       scan is first restricted to the needed terms by an inner join
       against the broadcast distinct-term set (|Q| x terms rows —
       the scan prunes, the vocabulary never shuffles), then the
       exploded query side LEFT-joins the restricted stats so terms
       absent from the index price with df = 0, exactly like the
       single face's ``df_map.get(t, 0)``.
    2. Regroup per query into a position-sorted ``array<struct<pos,
       term, idf>>`` — |Q| rows, broadcast.
    3. ONE corpus scan: tokenize, cross-join the broadcast query
       array, and fold the BM25 sum with ``F.aggregate`` over the
       term array (tf via a nested ``filter`` on the token array —
       pure codegen, no explode, no (doc, term) shuffle).
    4. Per-query top-K via ``rank_topk_per_query`` (partition-local
       prereduce, then the global per-query rank) — only
       |Q| x partitions x K survivor rows reach the exchange.

    Returns ``(query_id, doc_id, score, rank)``, score rounded to 6
    decimals, at most ``k`` rows per query; queries none of whose
    terms hit any document simply produce no rows (the single face's
    ``score > 0`` convention).
    """
    from astro_vectordb_spark.operators.topk import rank_topk_per_query

    cs = corpus_stats.first()
    if cs is None:
        raise ValueError("corpus_stats is empty")
    n, avgdl = float(cs["n"]), float(cs["avgdl"])

    qt = queries.select(
        query_id_col,
        F.posexplode(
            F.transform(F.col(terms_col), lambda t: F.lower(t))
        ).alias("_pos", "term"),
    )
    needed = qt.select("term").distinct()
    stats_small = term_stats.join(F.broadcast(needed), "term")
    priced = qt.join(F.broadcast(stats_small), "term", "left")
    df_t = F.coalesce(F.col("df").cast("double"), F.lit(0.0))
    idf = F.log(
        F.lit(1.0) + (F.lit(n) - df_t + F.lit(0.5)) / (df_t + F.lit(0.5))
    )
    qinfo = (
        priced.select(
            query_id_col,
            F.struct(
                F.col("_pos").alias("pos"),
                F.col("term").alias("term"),
                idf.alias("idf"),
            ).alias("_ti"),
        )
        .groupBy(query_id_col)
        .agg(F.array_sort(F.collect_list("_ti")).alias("_tinfo"))
    )

    toks = tokens(F.lower(F.col(text_col)))
    base = docs.select(id_col, toks.alias("_tk")).withColumn(
        "_dl", F.size("_tk")
    )
    dlnorm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("_dl").cast("double") / F.lit(avgdl)
    )

    def _step(acc, t):
        tf = F.size(
            F.filter(F.col("_tk"), lambda x: x == t["term"])
        ).cast("double")
        return acc + t["idf"] * tf * F.lit(k1 + 1.0) / (tf + dlnorm)

    scored = (
        base.join(F.broadcast(qinfo))
        .withColumn(score_col, F.aggregate("_tinfo", F.lit(0.0), _step))
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
    terms = [str(t).lower() for t in query_terms]
    term_arr = F.array(*[F.lit(t) for t in terms])
    toks = tokens(F.lower(F.col(text_col)))
    scored = (
        docs.select(id_col, toks.alias("_tk"))
        .withColumn("_pick", _snippet_pick(F.col("_tk"), term_arr, window))
        .filter(F.col("_pick.nh") > 0)
    )
    return scored.select(
        id_col,
        F.col("_pick.nh").cast("long").alias("n_hits"),
        F.col("_pick.st").cast("long").alias("start"),
        F.array_join(
            F.slice(F.col("_tk"), F.col("_pick.st"), F.lit(window)), " "
        ).alias("snippet"),
    )


def snippet_extract_batch(
    hits: DataFrame,
    window: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
) -> DataFrame:
    """Batch companion to :func:`snippet_extract`: ``hits`` carries
    ``(query_id, doc_id, terms array<string>, text)`` — each row is
    highlighted against ITS OWN query's term list (per-query lists
    diverge under PRF expansion), same candidate-starts scan and the
    same earliest-maximal-window tie rule, as one narrow no-shuffle
    projection over the (|Q| x k)-bounded hit set.  Returns
    ``(query_id, doc_id, n_hits, start, snippet)``; zero-hit rows are
    dropped (the caller left-joins and coalesces, exactly like the
    single face)."""
    term_arr = F.transform(F.col(terms_col), lambda t: F.lower(t))
    toks = tokens(F.lower(F.col(text_col)))
    scored = (
        hits.select(query_id_col, id_col, toks.alias("_tk"), terms_col)
        .withColumn("_pick", _snippet_pick(F.col("_tk"), term_arr, window))
        .filter(F.col("_pick.nh") > 0)
    )
    return scored.select(
        query_id_col,
        id_col,
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
    """Batch companion to :func:`prf_expand_terms`: ``queries`` is
    ``(query_id, terms array<string>)`` of unbounded size; every
    query's pseudo-relevance feedback runs in ONE plan — the batch
    indexed BM25 scan produces all feedback sets together, the
    explode/groupBy runs on the |Q| x n_feedback bounded slice, term
    pricing restricts the vocabulary scan to the union of feedback
    terms (broadcast), and the per-query top-``n_expand`` cut is a
    partitioned window.  Per-query results are bit-identical to the
    single face (same integer feedback df x float64 corpus idf, same
    (score desc, term asc) order; pinned by test).

    Returns ``(query_id, term, score, rank)`` with rank 1..n_expand in
    selection order (the order the single face appends expansion
    terms)."""
    from pyspark.sql import Window

    cs = corpus_stats.first()
    if cs is None:
        raise ValueError("corpus_stats is empty")
    n = float(cs["n"])

    fb = bm25_batch_topk_indexed(
        docs, term_stats, corpus_stats, queries, n_feedback,
        k1=k1, b=b, id_col=id_col, text_col=text_col,
        query_id_col=query_id_col, terms_col=terms_col,
    ).select(query_id_col, id_col)
    fb_docs = fb.join(docs.select(id_col, text_col), id_col)
    fb_df = (
        fb_docs.select(
            query_id_col,
            F.explode(
                F.array_distinct(tokens(F.lower(F.col(text_col))))
            ).alias("term"),
        )
        .groupBy(query_id_col, "term")
        .agg(F.count(F.lit(1)).cast("double").alias("_dffb"))
    )
    # exclude each query's OWN terms (the single face's isin filter,
    # keyed per query)
    own = queries.select(
        query_id_col,
        F.explode(
            F.transform(F.col(terms_col), lambda t: F.lower(t))
        ).alias("term"),
    ).distinct()
    fb_df = fb_df.join(own, [query_id_col, "term"], "left_anti")
    stats_small = term_stats.join(
        F.broadcast(fb_df.select("term").distinct()), "term"
    )
    priced = fb_df.join(F.broadcast(stats_small), "term", "left")
    df_t = F.coalesce(F.col("df").cast("double"), F.lit(0.0))
    idf = F.log(
        F.lit(1.0) + (F.lit(n) - df_t + F.lit(0.5)) / (df_t + F.lit(0.5))
    )
    scored = priced.select(
        query_id_col, "term", (F.col("_dffb") * idf).alias("score")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(n_expand))
        .withColumn("score", F.round(F.col("score"), SCORE_DECIMALS))
        .select(query_id_col, "term", "score", "rank")
    )


def prf_expand_terms(
    docs: DataFrame,
    term_stats: DataFrame,
    corpus_stats: DataFrame,
    query_terms: Sequence[str],
    n_feedback: int = 10,
    n_expand: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_df: bool = False,
    _df_map: dict[str, int] | None = None,
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
    the feedback.  Returns ``(term, score)``, top ``n_expand`` by
    (score desc, term asc), score rounded to 6 decimals — feed the
    terms back into ``bm25_topk_indexed`` for the expanded query.

    ``with_df=True`` (round-16 §5 job-count cut) appends the corpus
    ``df`` each expansion term was priced with (0 for terms outside
    the index) so the caller's follow-up ``bm25_topk_indexed`` over
    the expanded list can price WITHOUT its own stats-collect job;
    the default output schema is unchanged (the ``prf_expand`` oracle
    pins it).  ``_df_map`` passes the original terms' already-known
    frequencies through to the feedback query (same contract as
    ``bm25_topk_indexed._df_map``)."""
    terms = [str(t).lower() for t in query_terms]
    cs = corpus_stats.first()
    if cs is None:
        raise ValueError("corpus_stats is empty")
    n = float(cs["n"])

    fb = bm25_topk_indexed(
        docs, term_stats, corpus_stats, terms, n_feedback,
        k1=k1, b=b, id_col=id_col, text_col=text_col,
        _df_map=_df_map,
    ).select(id_col)
    fb_docs = fb.join(docs.select(id_col, text_col), id_col)
    fb_df = (
        fb_docs.select(
            F.explode(
                F.array_distinct(tokens(F.lower(F.col(text_col))))
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("_dffb"))
        .filter(~F.col("term").isin(terms))
    )
    # restrict the vocabulary scan to the feedback terms (broadcast
    # semi-style inner join), then LEFT join back so terms outside the
    # index price with df = 0 — the bm25_batch_topk_indexed pattern
    stats_small = term_stats.join(
        F.broadcast(fb_df.select("term")), "term"
    )
    priced = fb_df.join(F.broadcast(stats_small), "term", "left")
    df_t = F.coalesce(F.col("df").cast("double"), F.lit(0.0))
    idf = F.log(
        F.lit(1.0) + (F.lit(n) - df_t + F.lit(0.5)) / (df_t + F.lit(0.5))
    )
    extra = (
        [F.coalesce(F.col("df"), F.lit(0)).cast("long").alias("df")]
        if with_df else []
    )
    out = (
        priced.select(
            "term", (F.col("_dffb") * idf).alias("score"), *extra
        )
        .orderBy(F.col("score").desc(), F.col("term").asc())
        .limit(n_expand)
    )
    return out.withColumn("score", F.round(F.col("score"), SCORE_DECIMALS))
