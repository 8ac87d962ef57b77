"""Corpus-curation operators: repetition statistics, Gopher-style
quality gating, and benchmark decontamination.

These are the document-level *filter* stage of a 100 TB training-data
pipeline (task brief: text analysis / quality scoring / dedup family).
The reference has no text surface at all (it delegates embedding to an
external model, README.md:99-109); this module covers what its users
would run *before* vectors exist.

Scale notes
-----------
- ``repetition_stats`` is two linear aggregations keyed by
  ``(doc_id, n, gram)`` then ``doc_id`` — both benefit from map-side
  partial aggregation, neither ever holds more state per key than a
  handful of longs.  N-gram construction is pure whole-stage codegen
  (``sequence`` + ``slice`` + ``concat_ws``), no UDFs.
- ``decontaminate`` broadcasts the *benchmark* n-gram set (benchmarks
  are small by definition — MMLU/GSM8K-class suites are a few hundred
  thousand grams); the 100 TB corpus side stays a linear explode +
  broadcast semi-join.  Never shuffle the corpus by gram.
- ``gopher_filter`` composes the stats into one boolean projection —
  filters on its output push down to the stats aggregation.

Oracle contract: tokenization is whitespace-split on trimmed text with
empty tokens dropped (same as functions/text.tokens); n-grams are
space-joined token windows; every fraction is float64 rounded at
output.  DuckDB replays all of it (see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from astro_vectordb_spark.functions import text as T

STAT_DECIMALS = 6


def ngrams(toks: Column, n: int) -> Column:
    """Space-joined token ``n``-grams as ARRAY<STRING> (empty when the
    document has fewer than ``n`` tokens), order and multiplicity
    preserved.

    Built as n aligned slices + (n-1) zip_with concats — O(tokens)
    total work, same shape as functions/text.word_shingles.  The
    transform-with-slice-per-position form this replaced re-slices the
    token array once per output gram (O(tokens * n) allocations,
    interpreted): measured 6.0 -> 1.6 s for the full 1/2/3-gram
    explode over 5k docs at sf0.1."""
    if n == 1:
        return toks

    def build(tk: Column) -> Column:
        m = F.size(tk) - n + 1
        grams = F.slice(tk, 1, m)
        for i in range(1, n):
            grams = F.zip_with(
                grams,
                F.slice(tk, i + 1, m),
                lambda x, y: F.concat(x, F.lit(" "), y),
            )
        return F.when(F.size(tk) >= n, grams).otherwise(
            F.array().cast("array<string>")
        )

    # callers pass the raw tokenization EXPRESSION; the n slices +
    # 2 size() checks would re-evaluate it per reference (interpreted
    # HOFs + ProjectCollapse) — bind it once per row
    return T.bind_once(toks, build)


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style repetition profile per document.

    Output columns:
      - ``n_tokens``        total whitespace tokens
      - ``top_unigram_frac``  count of the most frequent token / n_tokens
      - ``top_bigram_frac``   most frequent bigram count / bigram count
      - ``dup_trigram_frac``  fraction of trigram occurrences whose gram
                              appears more than once
    Documents too short for an n-gram get 0.0 for that fraction (the
    honest "no evidence of repetition" value, and what a downstream
    ``frac <= cap`` filter wants).

    Plan: one exploded (doc_id, n, gram) stream -> count per gram ->
    conditional re-aggregate per doc -> left join back so every input
    document appears exactly once.  Two shuffles, both with map-side
    partials; state per (doc, n) is three longs.
    """
    toks = T.tokens(F.col(text_col))

    # NOTE: must be a closure factory, not `lambda g, n=n: ...` — a
    # two-argument lambda makes F.transform pass (element, index) and
    # the default would silently shadow n with the array index.
    def _tag(n: int):
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram"))

    tagged = F.flatten(
        F.array(*[F.transform(ngrams(toks, n), _tag(n)) for n in (1, 2, 3)])
    )
    exploded = df.select(F.col(id_col), F.explode(tagged).alias("tg")).select(
        id_col, F.col("tg.n").alias("n"), F.col("tg.gram").alias("gram")
    )
    per_gram = exploded.groupBy(id_col, "n", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )

    def _agg(n: int, expr: Column) -> Column:
        return F.coalesce(F.sum(F.when(F.col("n") == n, expr)), F.lit(0))

    per_doc = per_gram.groupBy(id_col).agg(
        _agg(1, F.col("cnt")).alias("tot1"),
        F.coalesce(F.max(F.when(F.col("n") == 1, F.col("cnt"))), F.lit(0)).alias(
            "top1"
        ),
        _agg(2, F.col("cnt")).alias("tot2"),
        F.coalesce(F.max(F.when(F.col("n") == 2, F.col("cnt"))), F.lit(0)).alias(
            "top2"
        ),
        _agg(3, F.col("cnt")).alias("tot3"),
        _agg(3, F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(F.lit(0))).alias(
            "dup3"
        ),
    )

    def _frac(num: str, den: str) -> Column:
        return F.round(
            F.when(
                F.col(den) > 0, F.col(num).cast("double") / F.col(den)
            ).otherwise(F.lit(0.0)),
            STAT_DECIMALS,
        )

    stats = per_doc.select(
        F.col(id_col),
        F.col("tot1").cast("long").alias("n_tokens"),
        _frac("top1", "tot1").alias("top_unigram_frac"),
        _frac("top2", "tot2").alias("top_bigram_frac"),
        _frac("dup3", "tot3").alias("dup_trigram_frac"),
    )
    return (
        df.select(id_col)
        .join(stats, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("top_unigram_frac", F.lit(0.0)).alias("top_unigram_frac"),
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
            F.coalesce("dup_trigram_frac", F.lit(0.0)).alias("dup_trigram_frac"),
        )
    )


def line_repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Line-level repetition profile per document — the remaining
    Gopher §A1.1 repetition rules (Rae et al. 2021) that
    ``repetition_stats`` (n-gram level) does not cover: boilerplate
    pages repeat whole LINES (nav bars, cookie banners, templated
    listings) that n-gram dominance under-detects.

    Lines are ``\\n``-split and trimmed; empty lines are dropped.
    Output columns (house convention — same occurrences-with-count>1
    numerator as ``dup_trigram_frac``):

      - ``n_lines``             non-empty lines in the document
      - ``dup_line_frac``       line occurrences whose trimmed value
                                appears more than once / n_lines
      - ``dup_line_char_frac``  same, weighted by line characters

    Docs with no non-empty lines (or NULL text) get 0.0 / 0 — the
    honest "no evidence" value a ``frac <= cap`` filter wants.

    Plan: one split+explode -> per-(doc, line) count with map-side
    partials -> per-doc conditional re-aggregate -> left join back so
    every input doc appears exactly once.  Two shuffles, no UDFs.
    """
    lines = F.filter(
        F.transform(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n"),
            lambda s: F.trim(s),
        ),
        lambda s: s != "",
    )
    exploded = df.select(F.col(id_col), F.explode(lines).alias("line"))
    per_line = exploded.groupBy(id_col, "line").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_doc = per_line.groupBy(id_col).agg(
        F.sum("cnt").alias("tot"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias("dup"),
        F.sum(F.col("cnt") * F.length("line")).alias("tot_chars"),
        F.sum(
            F.when(F.col("cnt") > 1, F.col("cnt") * F.length("line"))
            .otherwise(0)
        ).alias("dup_chars"),
    )

    def _frac(num: str, den: str):
        return F.round(
            F.when(F.col(den) > 0, F.col(num).cast("double") / F.col(den))
            .otherwise(F.lit(0.0)),
            STAT_DECIMALS,
        )

    stats = per_doc.select(
        F.col(id_col),
        F.col("tot").cast("long").alias("n_lines"),
        _frac("dup", "tot").alias("dup_line_frac"),
        _frac("dup_chars", "tot_chars").alias("dup_line_char_frac"),
    )
    return (
        df.select(id_col)
        .join(stats, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("dup_line_frac", F.lit(0.0)).alias("dup_line_frac"),
            F.coalesce("dup_line_char_frac", F.lit(0.0)).alias(
                "dup_line_char_frac"
            ),
        )
    )


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    min_avg_token_len: float = 2.0,
    max_avg_token_len: float = 12.0,
    max_top_unigram_frac: float = 0.30,
    max_dup_trigram_frac: float = 0.60,
    max_symbol_ratio: float = 0.10,
) -> DataFrame:
    """Gopher-rules quality gate (Rae et al. 2021 §A1.1 family):
    length bounds, mean-word-length band, most-common-word dominance,
    duplicated-trigram dominance, symbol-to-word ratio.

    Returns one row per document with each rule as a boolean column and
    ``keep`` as their conjunction — keep the flags, not just the
    verdict, so curation dashboards can attribute rejections.  A
    production run filters ``WHERE keep`` and the predicate pushes into
    the stats aggregation.
    """
    # Single-pass shape: every rule's raw statistic is derivable from
    # the (doc, n, gram) count stream — token count = unigram total,
    # summed token chars = sum(len(gram) * cnt), punctuation chars live
    # inside tokens (the class is non-whitespace) so they sum the same
    # way.  One corpus scan, the same two map-side-combined shuffles as
    # repetition_stats, instead of a second stats scan + join.
    toks = T.tokens(F.col(text_col))

    def _tag(n: int):
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram"))

    tagged = F.flatten(
        F.array(*[F.transform(ngrams(toks, n), _tag(n)) for n in (1, 3)])
    )
    exploded = df.select(F.col(id_col), F.explode(tagged).alias("tg")).select(
        id_col, F.col("tg.n").alias("n"), F.col("tg.gram").alias("gram")
    )
    per_gram = exploded.groupBy(id_col, "n", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )

    def _sum1(expr: Column) -> Column:
        return F.coalesce(F.sum(F.when(F.col("n") == 1, expr)), F.lit(0))

    per_doc = per_gram.groupBy(id_col).agg(
        _sum1(F.col("cnt")).alias("tc"),
        _sum1(F.col("cnt") * F.length("gram")).alias("tok_chars"),
        _sum1(
            F.col("cnt") * F.regexp_count(F.col("gram"), F.lit(T.PUNCT_CLASS))
        ).alias("punct"),
        F.coalesce(F.max(F.when(F.col("n") == 1, F.col("cnt"))), F.lit(0)).alias(
            "top1"
        ),
        F.coalesce(F.sum(F.when(F.col("n") == 3, F.col("cnt"))), F.lit(0)).alias(
            "tot3"
        ),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("n") == 3) & (F.col("cnt") > 1), F.col("cnt")
                ).otherwise(F.lit(0))
            ),
            F.lit(0),
        ).alias("dup3"),
    )
    stats = per_doc.select(
        F.col(id_col),
        F.col("tc"),
        F.when(
            F.col("tc") > 0, F.col("tok_chars").cast("double") / F.col("tc")
        ).otherwise(F.lit(0.0)).alias("atl"),
        F.col("punct"),
        F.round(
            F.when(
                F.col("tc") > 0, F.col("top1").cast("double") / F.col("tc")
            ).otherwise(F.lit(0.0)),
            STAT_DECIMALS,
        ).alias("uni_frac"),
        F.round(
            F.when(
                F.col("tot3") > 0, F.col("dup3").cast("double") / F.col("tot3")
            ).otherwise(F.lit(0.0)),
            STAT_DECIMALS,
        ).alias("tri_frac"),
    )
    withall = (
        df.select(id_col)
        .join(stats, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("tc", F.lit(0)).alias("tc"),
            F.coalesce("atl", F.lit(0.0)).alias("atl"),
            F.coalesce("punct", F.lit(0)).alias("punct"),
            F.coalesce("uni_frac", F.lit(0.0)).alias("uni_frac"),
            F.coalesce("tri_frac", F.lit(0.0)).alias("tri_frac"),
        )
    )
    flags = withall.select(
        F.col(id_col),
        ((F.col("tc") >= min_tokens) & (F.col("tc") <= max_tokens)).alias(
            "len_ok"
        ),
        (
            (F.col("atl") >= min_avg_token_len)
            & (F.col("atl") <= max_avg_token_len)
        ).alias("word_len_ok"),
        (F.col("uni_frac") <= max_top_unigram_frac).alias("unigram_ok"),
        (F.col("tri_frac") <= max_dup_trigram_frac).alias("trigram_ok"),
        (
            F.col("punct").cast("double")
            / F.greatest(F.col("tc"), F.lit(1)).cast("double")
            <= max_symbol_ratio
        ).alias("symbol_ok"),
    )
    return flags.select(
        id_col,
        "len_ok",
        "word_len_ok",
        "unigram_ok",
        "trigram_ok",
        "symbol_ok",
        (
            F.col("len_ok")
            & F.col("word_len_ok")
            & F.col("unigram_ok")
            & F.col("trigram_ok")
            & F.col("symbol_ok")
        ).alias("keep"),
    )


def doc_ngram_set(
    df: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct (id, gram) token n-grams per document."""
    toks = T.tokens(F.col(text_col))
    return (
        df.select(F.col(id_col), F.explode(ngrams(toks, n)).alias("gram"))
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag training documents that share any token ``n``-gram with a
    held-out benchmark set (the standard LLM eval-decontamination
    sweep; 8-13 gram overlap is the published convention).

    Returns (id, n_hits, contaminated) for every input document, where
    ``n_hits`` counts DISTINCT overlapping grams.  The benchmark's
    distinct gram set is the broadcast side — benchmarks are small by
    construction; the corpus side is one linear explode + broadcast
    join + per-doc count, no corpus-keyed-by-gram shuffle ever.
    """
    bench_grams = (
        doc_ngram_set(benchmark, n, text_col=text_col, id_col=id_col)
        .select("gram")
        .distinct()
    )
    hits = (
        doc_ngram_set(docs, n, text_col=text_col, id_col=id_col)
        .join(F.broadcast(bench_grams), on="gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        docs.select(id_col)
        .join(hits, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate_fuzzy(
    docs: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fuzzy benchmark decontamination: flag training documents whose
    token-``n``-gram shingle set has Jaccard >= ``threshold`` with ANY
    benchmark document.  Exact-gram membership (``decontaminate``)
    misses paraphrased leakage — a handful of substituted words breaks
    every long gram while the document remains ~the benchmark item;
    MinHash banding catches it at any edit density the threshold
    admits.

    Machinery is the SQL-safe MinHash family from
    ``dedup.minhash_lsh_pairs_sql_safe`` (hash_i(s) = ((2i+1)·polyhash
    + 7919i) mod 2^31-1, banded base-1000003 folds), so the whole
    pipeline — signatures, bands, candidate buckets, exact-Jaccard
    verification — is replayable by the DuckDB oracle.  The default
    banding is RECALL-biased relative to dedup's (16 bands of 2 vs 8
    of 4): a paraphrase worth catching sits near j~0.45, where r=2
    banding catches ~97% per benchmark doc and r=4 only ~28%; the
    false-candidate rate at j~0.01 stays ~0.2% and verification keeps
    precision exact.

    Scale shape: the benchmark side (bands and shingle sets) is
    BROADCAST — benchmarks are small by construction; the corpus is
    touched linearly (one shingle explode + ``num_hashes`` partial-MIN
    aggregates) and candidates are verified exactly, so cost is
    O(corpus + candidates), never a corpus-keyed-by-gram shuffle.

    Output, one row per input doc: (id, n_matches, max_jaccard,
    contaminated) where ``n_matches`` counts benchmark docs at or
    above the threshold and ``max_jaccard`` is 0.0 for clean docs.
    """
    from astro_vectordb_spark.functions.text import word_shingles
    from astro_vectordb_spark.operators.dedup import (
        _MINHASH_SQL_SAFE,
        _jaccard,
        _scoped_cache,
    )

    def _banded(frame: DataFrame, out_id: str):
        # cached (pooled, bounded LRU): the shingle table feeds BOTH the
        # banding aggregate and the exact-Jaccard verification join
        base = _scoped_cache(frame.select(
            F.col(id_col).alias(out_id),
            word_shingles(F.col(text_col), n).alias("_sh"),
        ), frame)
        return base, _MINHASH_SQL_SAFE.banded(base, num_hashes, bands, out_id)

    doc_sets, doc_bands = _banded(docs, id_col)
    bench_sets, bench_bands = _banded(benchmark, "__bench_id")
    cands = (
        doc_bands.join(
            F.broadcast(bench_bands), on=["band_idx", "band_sig"]
        )
        .select(id_col, "__bench_id")
        .distinct()
    )
    verified = (
        cands.join(doc_sets, id_col)
        .join(
            F.broadcast(
                bench_sets.withColumnRenamed("_sh", "_shb")
            ),
            "__bench_id",
        )
        .withColumn("_j", _jaccard("_sh", "_shb"))
        .filter(F.col("_j") >= F.lit(float(threshold)))
    )
    hits = verified.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.max("_j").alias("max_jaccard"),
    )
    return (
        docs.select(id_col)
        .join(hits, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
            F.coalesce("max_jaccard", F.lit(0.0)).alias("max_jaccard"),
            (F.coalesce("n_matches", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def pack_documents(
    df: DataFrame,
    max_tokens: int,
    n_buckets: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sequence packing for LLM training: assign each document to a
    fixed-token-budget pack.

    Documents are split into ``n_buckets`` independent streams
    (``doc_id % n_buckets`` — deterministic and oracle-replayable),
    ordered by id within each stream, and filled contiguously: a doc
    whose running-start offset lands in token bin ``k`` joins pack
    ``(bucket, k)``.  Contiguous fill (vs bin-capacity greedy) is the
    shape that scales: the only state is a per-bucket windowed
    cumulative sum, each bucket's window is an independent partition,
    and no pack assignment depends on any other bucket.  A global
    single-stream packing would serialize the corpus through one
    window partition — the classic 100 TB scale-killer this layout
    avoids.

    Output: (id, bucket, pack_id, n_tokens, start_offset) — training
    loaders group by (bucket, pack_id) and concatenate in id order.
    """
    from pyspark.sql import Window

    toks = T.token_count(F.col(text_col)).cast("long")
    base = df.select(
        F.col(id_col),
        (F.col(id_col) % n_buckets).cast("int").alias("bucket"),
        toks.alias("n_tokens"),
    )
    w = Window.partitionBy("bucket").orderBy(id_col)
    with_off = base.withColumn(
        "start_offset",
        F.coalesce(
            F.sum("n_tokens").over(w) - F.col("n_tokens"), F.lit(0)
        ).cast("long"),
    )
    return with_off.select(
        id_col,
        "bucket",
        F.floor(F.col("start_offset") / F.lit(max_tokens))
        .cast("long")
        .alias("pack_id"),
        "n_tokens",
        "start_offset",
    )


PACK_ROWS_PER_BUCKET = 250_000


def pack_documents_strict(
    df: DataFrame,
    max_tokens: int,
    n_buckets: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Capacity-strict sequence packing: greedy next-fit per bucket —
    a document that would overflow the running pack opens a new one,
    so **no pack exceeds ``max_tokens``** (the hard budget training
    loaders need) except a single oversized document, which next-fit
    naturally isolates in its own pack (its fill already exceeds the
    budget, so the following document always opens fresh).

    Contrast with ``pack_documents``: the contiguous fill there is one
    window cumsum (cheapest, fully closed-form) but lets one
    straddling document overflow a pack; this strict variant pays a
    sequential per-bucket pass for the hard guarantee.  Scale shape:
    rows are hash-repartitioned by bucket and sorted within
    partitions, then a ``mapInPandas`` pass streams each partition in
    Arrow batches keeping ONE (pack_id, fill) counter per bucket —
    no whole-bucket materialization, memory is O(batch +
    buckets-per-partition).  Buckets are independent streams, so the
    corpus never serializes through a single partition.

    ``n_buckets=None`` (default) AUTO-SIZES the task width from one
    row-count aggregate: ceil(rows / PACK_ROWS_PER_BUCKET) buckets,
    floored at 32 — a fixed knob was a real ceiling at 100 TB (32
    sequential streams no matter the corpus; round-7 verdict), while
    the derived width keeps each bucket's sequential pass at a sane
    ~250k rows and state at O(buckets).  Pass an explicit value when
    the bucket count itself is part of the contract (e.g. the driver
    oracle replays 8 fixed streams).

    The greedy is id-ordered and deterministic — the DuckDB oracle
    replays it exactly with a recursive CTE (driver query
    ``pack_strict``).  Output: (id, bucket, pack_id, n_tokens).
    """
    from collections.abc import Iterator

    import pandas as pd

    if n_buckets is None:
        n_rows = df.count()
        n_buckets = max(32, -(-n_rows // PACK_ROWS_PER_BUCKET))

    toks = T.token_count(F.col(text_col)).cast("long")
    base = df.select(
        F.col(id_col),
        (F.col(id_col) % n_buckets).cast("int").alias("bucket"),
        toks.alias("n_tokens"),
    )
    part = base.repartition(F.col("bucket")).sortWithinPartitions(
        "bucket", id_col
    )

    def _pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-bucket running state survives across Arrow batches of
        # the same partition (the generator is one task)
        state: dict[int, tuple[int, int]] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            packs = []
            for b, n in zip(pdf["bucket"].to_numpy(), pdf["n_tokens"].to_numpy()):
                pack_id, fill = state.get(int(b), (0, 0))
                if fill > 0 and fill + int(n) > max_tokens:
                    pack_id += 1
                    fill = 0
                fill += int(n)
                state[int(b)] = (pack_id, fill)
                packs.append(pack_id)
            out = pdf[[id_col, "bucket", "n_tokens"]].copy()
            out["pack_id"] = pd.Series(packs, index=pdf.index, dtype="int64")
            yield out[[id_col, "bucket", "pack_id", "n_tokens"]]

    return part.mapInPandas(
        _pack, f"{id_col} long, bucket int, pack_id long, n_tokens long"
    )


# Patterns restricted to constructs whose semantics agree between Java
# regex (Spark) and RE2-ish engines (DuckDB oracle): no backrefs, no
# lookaround.  Order matters: emails contain digit runs, so email
# redaction runs before phone redaction.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"),
    ("phone", r"\+?[0-9][0-9()\-\s]{7,}[0-9]"),
)


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: tuple = PII_PATTERNS,
) -> DataFrame:
    """Scrub common PII shapes from document text — the compliance
    stage of a training-data pipeline.

    Each pattern is replaced by ``[CATEGORY]`` and counted; output is
    (id, text_redacted, n_<category>..., n_pii).  One narrow
    projection, zero shuffles, whole-stage codegen regexes — filters
    like ``n_pii = 0`` push down to the scan.  Redaction is sequential
    in the declared order (emails before phones: an email's digit run
    must not be half-eaten by the phone pattern first).
    """
    t = F.col(text_col)
    counts = []
    redacted = t
    for name, pat in patterns:
        counts.append(
            F.regexp_count(redacted, F.lit(pat)).cast("long").alias(f"n_{name}")
        )
        redacted = F.regexp_replace(redacted, pat, f"[{name.upper()}]")
    out = df.select(F.col(id_col), redacted.alias("text_redacted"), *counts)
    total = None
    for name, _ in patterns:
        c = F.col(f"n_{name}")
        total = c if total is None else total + c
    return out.withColumn("n_pii", total.cast("long"))


def corpus_summary(
    df: DataFrame,
    text_col: str = "text",
    group_cols: tuple = ("lang", "source"),
) -> DataFrame:
    """Per-(lang, source) corpus dashboard: doc/token/char volumes and
    quality aggregates — the first thing a curation run reports and
    the input to mixture-weight decisions (how much of each source to
    keep).  One map-side-combined aggregation keyed by the small
    (lang, source) domain; cardinality = |langs| x |sources|, tiny at
    any corpus size."""
    # Every ratio is a quotient of INTEGER sums (token counts, char
    # counts) — float summation order differs between engines, integer
    # sums do not, so the oracle hash-matches bit-for-bit.
    t = F.col(text_col)
    toks = T.tokens(t)
    tok_chars = F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x))
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(toks)).cast("long").alias("n_tokens"),
        F.sum(F.length(t)).cast("long").alias("n_chars"),
        F.sum(tok_chars).cast("long").alias("_tok_chars"),
        F.min(F.length(t)).cast("long").alias("min_chars"),
        F.max(F.length(t)).cast("long").alias("max_chars"),
    )
    return agg.select(
        *group_cols,
        "n_docs",
        "n_tokens",
        "n_chars",
        F.round(
            F.col("n_tokens").cast("double") / F.col("n_docs"), STAT_DECIMALS
        ).alias("avg_tokens"),
        F.round(
            F.when(
                F.col("n_tokens") > 0,
                F.col("_tok_chars").cast("double") / F.col("n_tokens"),
            ).otherwise(F.lit(0.0)),
            STAT_DECIMALS,
        ).alias("avg_token_len"),
        "min_chars",
        "max_chars",
    )


def mixture_weights(
    df: DataFrame,
    target_shares: dict,
    text_col: str = "text",
    group_col: str = "lang",
    default_share: float = 0.0,
) -> DataFrame:
    """Domain-mixing math: per-group downsampling fractions that move
    the corpus toward ``target_shares`` (group -> desired share of the
    kept token budget).

    The kept budget is the largest T such that every group can supply
    its share from what it has: T = min_g(tokens_g / share_g).  Then
    ``frac_g = share_g * T / tokens_g`` (exactly 1.0 for the binding
    group), and `stratified_sample(df, group_col, fracs)` applies it
    shuffle-free.  All inputs are integer token sums, the arithmetic
    is a fixed sequence of float64 ops, and the output rounds at 6 —
    bit-reproducible by the oracle.

    Groups absent from ``target_shares`` get ``default_share`` (0.0 =
    drop).  Output: (group, n_tokens, target_share, frac).
    """
    toks = T.tokens(F.col(text_col))
    per_group = df.groupBy(group_col).agg(
        F.sum(F.size(toks)).cast("long").alias("n_tokens")
    )
    share = F.lit(default_share)
    for g, s in sorted(target_shares.items()):
        share = F.when(F.col(group_col) == g, F.lit(float(s))).otherwise(share)
    with_share = per_group.select(
        group_col, "n_tokens", share.alias("target_share")
    )
    # T = min over groups with positive share of tokens/share; compute
    # as a 1-row aggregate joined back (broadcast — |groups| rows)
    budget = with_share.filter(F.col("target_share") > 0).agg(
        F.min(
            F.col("n_tokens").cast("double") / F.col("target_share")
        ).alias("_budget")
    )
    return (
        with_share.crossJoin(F.broadcast(budget))
        .select(
            group_col,
            "n_tokens",
            "target_share",
            F.round(
                F.when(
                    (F.col("target_share") > 0) & (F.col("n_tokens") > 0),
                    F.least(
                        F.lit(1.0),
                        F.col("target_share")
                        * F.col("_budget")
                        / F.col("n_tokens").cast("double"),
                    ),
                ).otherwise(F.lit(0.0)),
                STAT_DECIMALS,
            ).alias("frac"),
        )
    )


def dup_rate_by_source(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source duplication dashboard: which ingestion sources are
    feeding the corpus duplicates.

    Exact content fingerprints (md5 of normalized text — the same
    identity as ``exact_dedup``) aggregated per source: total docs,
    distinct contents, and the duplicate fraction.  All counts are
    integers, so the oracle hash-matches.  One map-side-combined
    aggregation keyed by (source, fingerprint) then source."""
    fp = T.fingerprint(F.col(text_col))
    per = (
        df.select(F.col(source_col), fp.alias("_fp"))
        .groupBy(source_col, "_fp")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        per.groupBy(source_col)
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_unique"),
        )
        .select(
            source_col,
            "n_docs",
            "n_unique",
            F.round(
                (F.col("n_docs") - F.col("n_unique")).cast("double")
                / F.col("n_docs"),
                STAT_DECIMALS,
            ).alias("dup_rate"),
        )
    )
