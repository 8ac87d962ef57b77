"""Deduplication operators for training-data pipelines.

Extended capability set (task brief + SURVEY.md §7 step 5): the
reference's similarity search generalizes to near-duplicate detection
over documents.  Five family members, all DataFrame -> DataFrame:

- exact_dedup          — hash-groupBy on a normalized fingerprint
- ngram_jaccard_pairs  — exact n-gram Jaccard via shingle inverted index
- minhash_lsh_pairs    — MinHash + banded LSH candidate generation,
                         exact-Jaccard verification of candidates
- simhash_pairs        — 64-bit SimHash with pigeonhole band blocking
                         on Hamming distance
- *_sql_safe twins     — the same MinHash/SimHash pipelines under the
                         SQL-safe char-poly hash family, which the
                         DuckDB oracle replays bit for bit

Hash families live only here: one record per scheme and family
(``_MINHASH_NATIVE``/``_MINHASH_SQL_SAFE``, ``_SIMHASH["native64"]``/
``_SIMHASH["sql_safe31"]``) holds what differs (token hash, signature
builder, band fold or chunk layout, bit width, distance check), and
each pipeline is written once with the record passed in.  Fuzzy
decontamination and the persisted MinHash/SimHash indexes use the same
records (the indexes by their stored ``hash_family`` string).
- embedding_near_dups  — cosine threshold on embeddings: RP-LSH
                         blocked by default (rp_block_pairs), exact
                         similarity_join for small frames

Scale notes (100 TB):
* Everything blocks candidate pairs before scoring — the O(n^2) cross
  product never materializes.  The per-string/per-pair inner kernels
  (char-poly hash, exact cosine verify) run as Arrow-batched kernels
  bit-identical to their expression twins (guide §4.2; pins in
  tests/test_exact_kernels_r16.py); all blocking/banding/grouping
  stays expression-level.
* The shingle inverted index (explode -> join on shingle) shuffles
  O(total shingles); hot shingles are bounded by ``max_shingle_df``
  (document-frequency cap), the standard guard against the
  stop-shingle skew that would otherwise quadratically blow up a
  single reducer.
* MinHash bands shrink the join key space to b buckets/doc; candidate
  verification is a semi-join back to the exact Jaccard — the classic
  LSH recall/cost dial (b bands x r rows = k hashes).
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from astro_vectordb_spark.functions.text import fingerprint, tokens, word_shingles
from astro_vectordb_spark.operators.topk import similarity_join

JACCARD_DECIMALS = 6

# --------------------------------------------------------------------------
# Bounded intermediate-cache pool.  The near-dup operators cache their
# corpus-sized shingle tables because several plan branches read them
# (freq/prefix/verify); the cache must outlive the call to serve the
# returned LAZY result, so it cannot be unpersisted inside the
# operator.  Left alone, every call leaked one such cache until LRU
# block eviction — the largest intermediates in the pipeline
# accumulating as executor-memory pressure across a long session
# (round-7 verdict).
#
# The fix is a capacity-bounded LRU pool keyed by the frame's SEMANTIC
# hash plus its source's input files (see _scoped_cache): registering an intermediate whose logical plan is already
# pooled reuses the live cache (so repeated identical calls — warm
# reruns, retries, oracle double-evaluation — stay cheap), a new plan
# evicts-and-unpersists the least-recently-used entry once the pool
# is full.  Cached footprint is therefore bounded by
# ``CACHE_POOL_CAPACITY`` intermediates regardless of how many
# operator calls the session makes — set it to 1 (or call
# ``release_caches()`` between pipeline stages) on memory-tight
# clusters; an evicted intermediate consumed later just recomputes
# (caches are an optimization, never a correctness dependency).

# The pool is MODULE-GLOBAL and plan-keyed: a long-lived driver
# process serving several users/sessions shares the one
# CACHE_POOL_CAPACITY budget across all of them (a busy tenant can
# evict another's warm cache — a throughput matter only, never
# correctness).  Per-tenant isolation = one Python process per
# tenant, or raise the capacity for a deliberately shared driver.
_CACHE_POOL: dict[int, tuple[DataFrame, tuple[str, ...]]] = {}
CACHE_POOL_CAPACITY = 8


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass  # session torn down — nothing to release


def release_caches() -> int:
    """Unpersist every pooled dedup/curation intermediate cache;
    returns how many were released.  The explicit handle for callers
    that want the executor memory back immediately (e.g. between
    stages of a long pipeline)."""
    n = len(_CACHE_POOL)
    for df, _ in _CACHE_POOL.values():
        _unpersist(df)
    _CACHE_POOL.clear()
    return n


def _scoped_cache(df: DataFrame, source: DataFrame) -> DataFrame:
    """Cache ``df`` through the bounded pool (reuse on identical
    logical plan over the same input files, LRU-evict-and-unpersist
    beyond capacity).

    ``source`` is the frame ``df`` derives from.  A re-read of a path
    whose directory was swapped has the SAME logical plan as the read
    before the swap, so the plan hash alone would serve the old rows;
    the key therefore also holds the source's input file list.  It is
    read from ``source``, not ``df``: while the old entry is cached,
    Spark substitutes it into ``df``'s plan and ``df.inputFiles()``
    is empty.  A same-plan entry over other files is unpersisted
    before caching again, since Spark's own cache lookup would still
    match the old relation."""
    try:
        key = df.semanticHash()
        files = tuple(sorted(source.inputFiles()))
        hit = _CACHE_POOL.pop(key, None)
    except Exception:
        return df.cache()  # pool unavailable (torn-down session)
    if hit is not None:
        if hit[1] == files and hit[0].schema == df.schema:
            _CACHE_POOL[key] = hit  # refresh recency (insertion order)
            return hit[0]
        _unpersist(hit[0])
    out = df.cache()
    _CACHE_POOL[key] = (out, files)
    while len(_CACHE_POOL) > CACHE_POOL_CAPACITY:
        _unpersist(_CACHE_POOL.pop(next(iter(_CACHE_POOL)))[0])
    return out


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "min",
) -> DataFrame:
    """Keep one representative per exact (whitespace/case-normalized)
    duplicate group.  Map-side partial agg -> single shuffle on the
    128-bit fingerprint; no skew (fingerprints are uniform)."""
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    keep_ids = (
        df.withColumn("_fp", fingerprint(F.col(text_col)))
        .groupBy("_fp")
        .agg(agg.alias(id_col))
        .select(id_col)
    )
    return df.join(keep_ids, on=id_col, how="left_semi")


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
    algorithm: str = "auto",
) -> DataFrame:
    """Exact n-gram Jaccard pairs at ``jaccard >= threshold``.
    Returns (a_id, b_id, jaccard), a_id < b_id.

    Two exact physical strategies:

    * ``allpairs`` (default for threshold >= 0.5): prefix filtering
      (Bayardo et al., WWW'07 "Scaling Up All Pairs Similarity
      Search").  Each doc indexes only its L = |X| - ceil(t|X|) + 1
      globally-rarest shingles; any pair with J >= t provably collides
      within those prefixes.  Candidates are verified with a full
      ``array_intersect``.  On corpora with hot shingles this generates
      orders of magnitude fewer candidate rows than the full inverted
      index — the difference between quadratic and near-linear at 100 TB.

    * ``naive``: full inverted-index self-join + intersection counting.
      Right when threshold is low/zero (prefixes degenerate to whole
      sets) or for tiny inputs.
    """
    if algorithm == "auto":
        algorithm = "allpairs" if threshold >= 0.5 else "naive"
    if algorithm == "allpairs":
        return _jaccard_allpairs(df, threshold, n, text_col, id_col)
    return _jaccard_naive(df, threshold, n, text_col, id_col, max_shingle_df)


def _jaccard_allpairs(
    df: DataFrame, threshold: float, n: int, text_col: str, id_col: str
) -> DataFrame:
    t = float(threshold)
    base = df.select(
        F.col(id_col), word_shingles(F.col(text_col), n).alias("_sh")
    ).withColumn("_sz", F.size("_sh"))
    # the shingle table feeds four plan branches (freq, prefix, and both
    # verify sides); materialize it once instead of recomputing the
    # tokenize+shingle expression per branch (pooled: bounded LRU,
    # released on eviction or release_caches())
    base = _scoped_cache(base, df)
    idx = base.select(
        F.col(id_col), "_sz", F.explode("_sh").alias("shingle")
    )
    freq = idx.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    # Per-doc prefix: the L rarest shingles under the global
    # (_df, shingle) total order — no global rank materialization, the
    # sort key itself is the order.
    prefix_len = (F.col("_sz") - F.ceil(t * F.col("_sz")) + 1).cast("int")
    w = Window.partitionBy(id_col).orderBy(F.col("_df").asc(), F.col("shingle").asc())
    prefix = (
        idx.join(freq, on="shingle")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= prefix_len)
        .select(id_col, "_sz", "_rn", "shingle")
    )
    a = prefix.select(
        F.col(id_col).alias("a_id"), F.col("_sz").alias("_sa"),
        F.col("_rn").alias("_pa"), "shingle",
    )
    b = prefix.select(
        F.col(id_col).alias("b_id"), F.col("_sz").alias("_sb"),
        F.col("_rn").alias("_pb"), "shingle",
    )
    # positional filter (PPJoin, Xiao et al. WWW'08): a match at 1-based
    # positions (i, j) of the canonical rarity order bounds the total
    # overlap of the pair's FIRST common shingle by
    # 1 + min(|A| - i, |B| - j); J >= t needs overlap >=
    # ceil(t/(1+t) * (|A|+|B|)).  Rows failing the bound are pruned —
    # exact-preserving because a true pair's first-common-shingle row
    # always satisfies it (1e-9 slack keeps float ceil from
    # over-pruning integral boundaries).
    overlap_need = F.ceil(
        F.lit(t / (1.0 + t)) * (F.col("_sa") + F.col("_sb")) - F.lit(1e-9)
    )
    overlap_bound = F.lit(1) + F.least(
        F.col("_sa") - F.col("_pa"), F.col("_sb") - F.col("_pb")
    )
    cands = (
        a.join(b, on="shingle")
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (F.col("_sa") >= t * F.col("_sb"))   # length filter
            & (F.col("_sb") >= t * F.col("_sa"))
            & (overlap_bound >= overlap_need)      # positional filter
        )
        .select("a_id", "b_id")
        .distinct()
    )
    return _verify_jaccard(cands, base, id_col, t)


def _jaccard(a_sh: str, b_sh: str):
    """Exact Jaccard of two shingle-set columns, rounded to
    ``JACCARD_DECIMALS`` — the one verify formula of the text near-dup
    family (all-pairs, both MinHash faces, fuzzy decontamination)."""
    inter = F.size(F.array_intersect(a_sh, b_sh))
    union = F.size(a_sh) + F.size(b_sh) - inter
    return F.round(inter.cast("double") / union, JACCARD_DECIMALS)


def _verify_jaccard(
    cands: DataFrame, sets_: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Verify ONLY the candidate ``(a_id, b_id)`` pairs: join each
    side's shingle set in from ``sets_`` (``id_col``, ``_sh``) and keep
    exact Jaccard >= ``threshold`` — work is O(candidates), not
    O(co-shingled pairs)."""
    a_sets = sets_.select(F.col(id_col).alias("a_id"), F.col("_sh").alias("_sha"))
    b_sets = sets_.select(F.col(id_col).alias("b_id"), F.col("_sh").alias("_shb"))
    return (
        cands.join(a_sets, "a_id")
        .join(b_sets, "b_id")
        .withColumn("jaccard", _jaccard("_sha", "_shb"))
        .filter(F.col("jaccard") >= F.lit(float(threshold)))
        .select("a_id", "b_id", "jaccard")
    )


def _bucket_self_join(
    buckets: DataFrame, id_col: str, keys: list[str], value: str | None = None
) -> DataFrame:
    """``(keys..., a_id[, a_<value>], b_id[, b_<value>])``: every pair of
    rows sharing a bucket key, ``a_id < b_id`` — the candidate stage of
    every blocked near-dup pipeline (band, chunk and RP-cell buckets).
    ``value`` names a column carried along each side."""

    def side(s: str) -> DataFrame:
        cols = [F.col(id_col).alias(f"{s}_id"), *keys]
        if value is not None:
            cols.append(F.col(value).alias(f"{s}_{value}"))
        return buckets.select(*cols)

    return side("a").join(side("b"), on=keys).filter(
        F.col("a_id") < F.col("b_id")
    )


def _jaccard_naive(
    df: DataFrame,
    threshold: float,
    n: int,
    text_col: str,
    id_col: str,
    max_shingle_df: int | None,
) -> DataFrame:
    # size is known before the explode, so each index row carries its
    # doc's set size — no join back to a sizes table later.
    base = df.select(F.col(id_col), word_shingles(F.col(text_col), n).alias("_sh"))
    idx = base.select(
        F.col(id_col),
        F.size("_sh").alias("_sz"),
        F.explode("_sh").alias("shingle"),
    )
    if max_shingle_df is not None:
        hot = (
            idx.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_shingle_df)
            .select("shingle")
        )
        idx = idx.join(F.broadcast(hot), on="shingle", how="left_anti")
    a = idx.select(
        F.col(id_col).alias("a_id"), F.col("_sz").alias("_sa"), "shingle"
    )
    b = idx.select(
        F.col(id_col).alias("b_id"), F.col("_sz").alias("_sb"), "shingle"
    )
    pair_cond = [F.col("a_id") < F.col("b_id")]
    if threshold > 0:
        # length filter (exact-preserving): J(A,B) >= t implies
        # t*|B| <= |A| and t*|A| <= |B| — prunes pairs BEFORE the
        # intersection count aggregation.
        t = float(threshold)
        pair_cond.append(F.col("_sa") >= t * F.col("_sb"))
        pair_cond.append(F.col("_sb") >= t * F.col("_sa"))
    cond = pair_cond[0]
    for c in pair_cond[1:]:
        cond = cond & c
    inter = (
        a.join(b, on="shingle")
        .filter(cond)
        .groupBy("a_id", "b_id", "_sa", "_sb")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("_inter").cast("double")
                / (F.col("_sa") + F.col("_sb") - F.col("_inter")),
                JACCARD_DECIMALS,
            ),
        )
        .filter(F.col("jaccard") >= F.lit(float(threshold)))
        .select("a_id", "b_id", "jaccard")
    )


POLY_MOD = 2_147_483_647  # 2^31 - 1
BAND_BASE = 1_000_003


def _char_poly_hash_expr(s):
    """Char-level polynomial hash as a PURE EXPRESSION — ANSI-SQL
    reproducible (DuckDB list_reduce twin), unlike xxhash64.  This is
    the semantic definition (and the reference side of the bitwise pin
    in tests/test_exact_kernels_r16.py); the serving form is the
    Arrow kernel below, which reproduces the same integers exactly."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.ascii(F.substr(s, i, F.lit(1))).cast("long"),
    )
    return F.aggregate(
        chars, F.lit(0).cast("long"), lambda acc, x: (acc * 131 + x) % POLY_MOD
    )


# string -> 31-bit poly hash, memoized per python worker: shingle and
# token streams repeat strings heavily, so the Horner loop runs once
# per DISTINCT string per worker (the embed._token_u pattern, guide
# §4.5).  Module-level so a reused worker keeps it across tasks;
# bounded so a 100 TB vocabulary can't grow worker RSS without limit.
_POLY_HASH_CACHE: dict[str, int] = {}
_POLY_HASH_CACHE_MAX = 1 << 20


def _char_poly_hash_py(s: str) -> int:
    """Python twin of ``_char_poly_hash_expr``: Spark ``ascii()``
    returns the first CODE POINT (incl. astral plane — empirically
    pinned for ü/日/🎉 in tests/test_exact_kernels_r16.py), and
    ``substr`` counts code points exactly like Python string
    iteration, so ``ord`` per char + the same Horner recurrence in
    unbounded Python ints reproduces the int64 arithmetic exactly
    (acc < 2^31, acc*131 + cp < 2^63: no overflow on either side)."""
    h = _POLY_HASH_CACHE.get(s)
    if h is None:
        h = 0
        for c in s:
            h = (h * 131 + ord(c)) % POLY_MOD
        if len(_POLY_HASH_CACHE) >= _POLY_HASH_CACHE_MAX:
            _POLY_HASH_CACHE.clear()
        _POLY_HASH_CACHE[s] = h
    return h


def _char_poly_hash(s):
    """Serving form of the char-level polynomial hash: an
    Arrow-batched pandas_udf computing the identical integers (guide
    §4.2 — the expression form is an interpreted per-char fold whose
    ``substr(s, i, 1)`` is O(i) on UTF8String, i.e. O(len^2) per
    string; the kernel is O(len) per DISTINCT string and O(1) on
    memo hits).  NULL in -> NULL out, '' -> 0, both matching the
    expression fold; bit-equality pinned by
    tests/test_exact_kernels_r16.py over corpus tokens, shingles and
    non-ASCII synthetics."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _poly(col: pd.Series) -> pd.Series:
        return pd.Series(
            [None if v is None else _char_poly_hash_py(v) for v in col],
            dtype="Int64",
        )

    return _poly(s)


def _collapse_exact_texts(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> tuple[DataFrame, DataFrame]:
    """Hot-bucket guard shared by the LSH pair operators: collapse
    exact-text duplicates to a min-id representative BEFORE banding.

    Identical text yields an identical shingle array, hence identical
    minhash signature, identical band buckets, and identical Jaccard
    against any third doc — so a cluster of d boilerplate copies puts
    d rows into every one of its band buckets and the candidate
    self-join emits O(d^2 x bands) rows through one hot key before
    ``distinct()`` even runs.  Collapsing to one representative makes
    that O(1) per bucket; the members re-attach as a linear STAR of
    (rep, member) edges — O(d), jaccard exactly 1.0 — which preserves
    connected-component connectivity for dedup grouping (same
    contract as ``rp_block_pairs``'s over-cap chain).

    Returns ``(rep_rows, star)``: the representative subset of ``df``
    and the (a_id, b_id) star edges (a_id = rep < b_id = member,
    restricted to shingleable docs — sub-n-token texts never pair in
    the exact pipeline and must not pair here)."""
    reps_ids = df.groupBy(text_col).agg(F.min(id_col).alias(id_col))
    rep_rows = df.join(reps_ids, [text_col, id_col], "left_semi")
    star = (
        df.select(F.col(id_col), F.col(text_col))
        .filter(F.size(word_shingles(F.col(text_col), n)) > 0)
        .join(
            reps_ids.withColumnRenamed(id_col, "_rep"), text_col
        )
        .filter(F.col(id_col) != F.col("_rep"))
        .select(F.col("_rep").alias("a_id"), F.col(id_col).alias("b_id"))
        .distinct()
    )
    return rep_rows, star


# --------------------------------------------------------------------------
# Hash families.  Each near-dup scheme has two: the native one (xxhash64,
# the production discrimination) and the SQL-safe one (the char-poly
# hash, integer arithmetic the DuckDB oracle replays bit for bit).  A
# family record holds only what differs between the two; each pipeline
# below is written once and takes the record.  This module is the only
# place that knows a family: the persisted indexes look theirs up by the
# stored ``hash_family`` string (:func:`_simhash_hashes`).


@dataclass(frozen=True)
class _MinhashHashes:
    """A MinHash hash family: ``token_hash`` maps each shingle to the
    ``_h`` column ``min_hash`` reads (None: ``min_hash`` hashes the
    shingle string ``_s`` itself); ``min_hash(i)`` is the SQL of hash i
    for one shingle row; ``band_fold(sig, start, r)`` is the SQL of the
    band signature over ``r`` signature entries from 1-based ``start``.
    Every aggregate and fold is one parsed SQL expression (one JVM call
    each, not a Column tree)."""

    token_hash: Callable[[Column], Column] | None
    min_hash: Callable[[int], str]
    band_fold: Callable[[str, int, int], str]

    def signatures(
        self, shingles: DataFrame, num_hashes: int, id_col: str, sig_col: str
    ) -> DataFrame:
        """``(id_col, sig_col array<bigint>)`` from an ``(id_col, _sh)``
        shingle table: explode once, then ``num_hashes`` partial MIN
        aggregates — map-side combining, so the shuffle carries one row
        per doc per partition.  Docs with no shingles get no row."""
        ex = shingles.select(F.col(id_col), F.explode("_sh").alias("_s"))
        if self.token_hash is not None:
            ex = ex.withColumn("_h", self.token_hash(F.col("_s")))
        mins = ex.groupBy(id_col).agg(
            *[
                F.expr(f"min({self.min_hash(i)}) AS _h{i}")
                for i in range(num_hashes)
            ]
        )
        return mins.selectExpr(
            f"`{id_col}`",
            f"array({', '.join(f'_h{i}' for i in range(num_hashes))}) AS {sig_col}",
        )

    def bands(
        self,
        sigs: DataFrame,
        num_hashes: int,
        bands: int,
        id_col: str,
        sig_col: str,
    ) -> DataFrame:
        """``(id_col, ..., band_idx, band_sig)``: one row per band of
        r = num_hashes / bands signature entries.  Every input column
        but ``sig_col`` passes through (id first, see :func:`_carried`)."""
        assert num_hashes % bands == 0, "bands must divide num_hashes"
        r = num_hashes // bands
        folds = ", ".join(
            self.band_fold(sig_col, b * r + 1, r) for b in range(bands)
        )
        return sigs.selectExpr(
            *[f"`{c}`" for c in _carried(sigs, id_col, sig_col)],
            f"posexplode(array({folds})) AS (band_idx, band_sig)",
        )

    def banded(
        self, shingles: DataFrame, num_hashes: int, bands: int, id_col: str
    ) -> DataFrame:
        """``(id_col, band_idx, band_sig)`` straight from a shingle table."""
        return self.bands(
            self.signatures(shingles, num_hashes, id_col, "_sig"),
            num_hashes, bands, id_col, "_sig",
        )


# hash_i(s) = xxhash64(i, s); band signature = xxhash64 of the band's slice
_MINHASH_NATIVE = _MinhashHashes(
    token_hash=None,
    min_hash=lambda i: f"xxhash64({i}, _s)",
    band_fold=lambda sig, start, r: f"xxhash64(slice(`{sig}`, {start}, {r}))",
)
# hash_i(s) = ((2i+1) * polyhash(s) + 7919 i) mod (2^31-1); band
# signature = left fold of the band's entries base BAND_BASE mod POLY_MOD.
# Int literals times the bigint hash: the oracle's types and arithmetic.
_MINHASH_SQL_SAFE = _MinhashHashes(
    token_hash=_char_poly_hash,
    min_hash=lambda i: f"({2 * i + 1} * _h + {7919 * i}) % {POLY_MOD}",
    band_fold=lambda sig, start, r: (
        f"aggregate(slice(`{sig}`, {start}, {r}), CAST(0 AS BIGINT), "
        f"(acc, x) -> (acc * {BAND_BASE} + x) % {POLY_MOD})"
    ),
)


SIMHASH_SQL_BITS = 31  # char-poly hashes are < 2^31
SIMHASH_SQL_CHUNKS = [(0, 255), (8, 255), (16, 255), (24, 127)]  # (offset, mask)


def native_simhash_chunks(max_hamming: int) -> list[tuple[int, int]]:
    """Even-width (offset, mask) chunk layout over 64 bits for the
    native signature family: max_hamming + 1 chunks."""
    n = max_hamming + 1
    width = 64 // n
    return [(c * width, (1 << width) - 1) for c in range(n)]


@dataclass(frozen=True)
class _SimhashHashes:
    """A SimHash hash family: ``name`` is the ``hash_family`` string a
    persisted index stores; ``token_hash`` maps each distinct token to
    a bigint whose low ``bits`` bits vote; ``fixed_chunks`` is the
    family's fixed pigeonhole layout (None: ``max_hamming + 1``
    even-width chunks over the bits); ``hamming_type`` is the type the
    one-shot pair face reports the distance in."""

    name: str
    bits: int
    token_hash: Callable[[Column], Column]
    fixed_chunks: list[tuple[int, int]] | None
    hamming_type: str

    def signatures(
        self, df: DataFrame, text_col: str, id_col: str
    ) -> DataFrame:
        """``(id_col, sim bigint)``: explode distinct tokens once, hash
        each token once, then ``bits`` partial-SUM aggregates of the
        per-bit +/-1 votes (map-side combining, one shuffle of one row
        per doc per partition); bit j of ``sim`` is set iff its vote
        sum is positive."""
        ex = df.select(
            F.col(id_col),
            F.explode(F.array_distinct(tokens(F.lower(F.col(text_col))))).alias("_t"),
        ).withColumn("_h", self.token_hash(F.col("_t")))
        votes = ex.groupBy(id_col).agg(
            *[
                F.expr(f"sum(IF((shiftright(_h, {j}) & 1) = 1, 1, -1)) AS _b{j}")
                for j in range(self.bits)
            ]
        )
        sim = " | ".join(
            f"IF(_b{j} > 0, shiftleft(1L, {j}), 0L)" for j in range(self.bits)
        )
        return votes.selectExpr(f"`{id_col}`", f"{sim} AS sim")

    def chunks(self, max_hamming: int) -> list[tuple[int, int]]:
        """The (offset, mask) pigeonhole layout for ``max_hamming``:
        any pair within that distance shares at least one exact chunk.
        A fixed layout of c chunks covers distances up to c - 1 only,
        so a larger one raises ValueError instead of dropping pairs."""
        mh = int(max_hamming)
        if self.fixed_chunks is None:
            return native_simhash_chunks(mh)
        if mh >= len(self.fixed_chunks):
            raise ValueError(
                f"{self.name} simhash supports max_hamming <= "
                f"{len(self.fixed_chunks) - 1} (its fixed "
                f"{len(self.fixed_chunks)}-chunk SQL-replayable layout "
                "pigeonholes exactly that far); use the native64 family "
                "(simhash_pairs, or hash_family='native64' for an index) "
                f"for larger distances (got max_hamming={max_hamming})"
            )
        return self.fixed_chunks


_SIMHASH = {
    h.name: h
    for h in (
        _SimhashHashes("native64", 64, F.xxhash64, None, "int"),
        _SimhashHashes(
            "sql_safe31", SIMHASH_SQL_BITS, _char_poly_hash,
            SIMHASH_SQL_CHUNKS, "long",
        ),
    )
}


def _simhash_hashes(hash_family: str) -> _SimhashHashes:
    """The SimHash family record for a ``hash_family`` string."""
    try:
        return _SIMHASH[hash_family]
    except KeyError:
        raise ValueError(f"unknown simhash hash_family {hash_family!r}") from None


def _carried(sigs: DataFrame, id_col: str, sig_col: str) -> list[str]:
    """The columns a bucket kernel passes through: the id first, then
    every other input column except the signature it buckets."""
    return [id_col] + [c for c in sigs.columns if c not in (id_col, sig_col)]


def _shingle_table(df: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    return df.select(F.col(id_col), word_shingles(F.col(text_col), n).alias("_sh"))


def _minhash_pairs(
    df: DataFrame,
    threshold: float,
    num_hashes: int,
    bands: int,
    n: int,
    text_col: str,
    id_col: str,
    collapse_exact: bool,
    hashes: _MinhashHashes,
) -> DataFrame:
    """The one MinHash LSH pipeline: shingle table -> signatures ->
    band buckets -> candidate self-join -> exact-Jaccard verify ->
    optional ``collapse_exact`` star union."""
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    star = None
    if collapse_exact:
        df, star = _collapse_exact_texts(df, id_col, text_col, n)
    # cached (pooled, bounded LRU): the signatures and both verify
    # sides read it
    sets_ = _scoped_cache(_shingle_table(df, n, text_col, id_col), df)
    cands = (
        _bucket_self_join(
            hashes.banded(sets_, num_hashes, bands, id_col),
            id_col, ["band_idx", "band_sig"],
        )
        .select("a_id", "b_id")
        .distinct()
    )
    out = _verify_jaccard(cands, sets_, id_col, threshold)
    if star is not None:
        t = float(threshold)
        out = out.unionByName(
            star.withColumn("jaccard", F.lit(1.0)).filter(F.lit(1.0) >= F.lit(t))
        )
    return out


def _simhash_pairs(
    df: DataFrame,
    max_hamming: int,
    text_col: str,
    id_col: str,
    hashes: _SimhashHashes,
) -> DataFrame:
    """The one SimHash pipeline: signatures -> pigeonhole chunk
    buckets -> candidate self-join -> popcount verify."""
    chunks = hashes.chunks(max_hamming)
    sigs = hashes.signatures(df, text_col, id_col)
    blocked = sigs.select(
        F.col(id_col), "sim",
        F.posexplode(_chunk_values(chunks, "sim")).alias("chunk_idx", "chunk_val"),
    )
    ham = F.bit_count(F.col("a_sim").bitwiseXOR(F.col("b_sim")))
    return (
        _bucket_self_join(blocked, id_col, ["chunk_idx", "chunk_val"], "sim")
        .select("a_id", "b_id", ham.cast(hashes.hamming_type).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _chunk_values(chunks: list[tuple[int, int]], sig_col: str):
    """array of chunk values, chunk c = (sig >>> offset) & mask."""
    return F.array(
        *[
            F.shiftrightunsigned(F.col(sig_col), off).bitwiseAND(
                F.lit(mask).cast("long")
            )
            for off, mask in chunks
        ]
    )


def minhash_lsh_pairs_sql_safe(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    collapse_exact: bool = False,
) -> DataFrame:
    """MinHash + banded LSH with a fully SQL-expressible hash family —
    the ENTIRE approximate pipeline (signatures -> bands -> candidate
    buckets -> exact-Jaccard verification) is reproducible by the
    DuckDB oracle, so even the approximate dedup path is hash-checked,
    not just rows-counted.

    hash_i(s) = ((2i+1) * polyhash(s) + 7919 i) mod (2^31-1); band
    signature = left fold of its r member minhashes base 1000003.
    The same pipeline as minhash_lsh_pairs (explode once, partial-MIN
    aggs, band-bucket join, candidate-only verification) with the
    SQL-safe hash family passed in.

    ``collapse_exact`` (opt-in, the boilerplate-cluster guard): exact
    text duplicates are collapsed to a min-id representative before
    banding and re-attached as (rep, member, 1.0) star edges — the
    candidate stage drops from O(d^2) to O(d) for a d-copy cluster
    while connected-component grouping sees the same components.  The
    default (False) keeps the exact all-pairs contract the DuckDB
    oracle replays (member-member edges included).
    """
    return _minhash_pairs(
        df, threshold, num_hashes, bands, n, text_col, id_col,
        collapse_exact, _MINHASH_SQL_SAFE,
    )


def minhash_signature(
    df: DataFrame,
    num_hashes: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature (array<bigint>, length ``num_hashes``) per doc.

    hash_i(s) = xxhash64(i, s); minhash_i = min over the doc's shingles.
    Shape: explode shingles once, then ``num_hashes`` partial MIN
    aggregates — the expensive tokenize/shingle expression is evaluated
    exactly once per document (a naive nested ``transform`` re-evaluates
    it per hash function), and the groupBy is map-side-combining, so the
    shuffle carries one row per doc per partition.  All JVM-side."""
    return _MINHASH_NATIVE.signatures(
        _shingle_table(df, n, text_col, id_col), num_hashes, id_col, "signature"
    )


def minhash_signatures_sql_safe(
    df: DataFrame,
    num_hashes: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id_col, sig array<long>)`` under the SQL-expressible hash
    family of :func:`minhash_lsh_pairs_sql_safe` (hash_i(s) = ((2i+1)
    * polyhash(s) + 7919 i) mod (2^31-1)) — the signature form the
    PERSISTED near-dup index stores, so index matching is replayable
    by the DuckDB oracle bit-for-bit.  Same one-explode / partial-MIN
    plan shape as :func:`minhash_signature`.  Docs with fewer than
    ``n`` tokens have no shingles and are dropped (they cannot
    near-dup under this family)."""
    return _MINHASH_SQL_SAFE.signatures(
        _shingle_table(df, n, text_col, id_col).filter(F.size("_sh") > 0),
        num_hashes, id_col, "sig",
    )


def minhash_band_table(
    sigs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    id_col: str = "doc_id",
    sig_col: str = "sig",
) -> DataFrame:
    """``(id_col, band_idx, band_sig)`` from array-form signatures:
    band_sig = left fold of the band's r = num_hashes/bands member
    minhashes base ``BAND_BASE`` mod ``POLY_MOD`` — the SQL-safe
    family's band fold, the same one :func:`minhash_lsh_pairs_sql_safe`
    and the oracle's list_reduce apply, so bands computed from STORED
    signatures equal bands computed from text.  Every input column but
    ``sig_col`` passes through (id first, see :func:`_carried`), so a
    caller can carry a batch's values along its bucket rows."""
    return _MINHASH_SQL_SAFE.bands(sigs, num_hashes, bands, id_col, sig_col)


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    collapse_exact: bool = False,
) -> DataFrame:
    """Near-dup pairs via MinHash + banded LSH.

    ``num_hashes`` hashes split into ``bands`` bands of r = k/b rows;
    docs colliding in >= 1 band become candidates (P[collide] =
    1-(1-j^r)^b).  Candidates are checked with exact n-gram Jaccard,
    so output = exact pairs *restricted to LSH candidates*: same schema
    as ngram_jaccard_pairs, recall < 1 by design, cost ~linear.  Scale:
    band buckets are the join key — O(docs x bands) rows shuffle, never
    O(n^2).

    ``collapse_exact`` (opt-in): collapse exact-text duplicates to a
    min-id representative before banding and re-attach them as
    (rep, member) star edges — O(d) instead of O(d^2) candidates for
    a d-copy boilerplate cluster, connectivity-equivalent for dedup
    grouping (see :func:`_collapse_exact_texts`)."""
    return _minhash_pairs(
        df, threshold, num_hashes, bands, n, text_col, id_col,
        collapse_exact, _MINHASH_NATIVE,
    )


def _mask(j: int) -> int:
    """int64 bit mask for bit j (bit 63 is the sign bit)."""
    return (1 << j) if j < 63 else -(1 << 63)


def simhash64(text_col, n: int = 1):
    """64-bit SimHash of a document as an expression.

    bit_j = 1 iff sum over tokens of sign(bit_j(xxhash64(token))) > 0.
    The 64 bit tests are generated Python-side with static masks
    (PySpark's shift functions only take literal shift amounts), so the
    whole signature is one codegen'd projection — no UDF."""
    units = F.array_distinct(tokens(F.lower(text_col))) if n == 1 else word_shingles(
        text_col, n
    )
    hashes = F.transform(units, lambda t: F.xxhash64(t))
    def _vote(m):
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        )

    sig = F.lit(0).cast("long")
    for j in range(64):
        m = F.lit(_mask(j)).cast("long")
        sig = sig.bitwiseXOR(
            F.when(_vote(m) > 0, m).otherwise(F.lit(0).cast("long"))
        )
    return sig


def hamming64(a, b):
    """Hamming distance between two 64-bit signatures — a single JVM
    popcount intrinsic (Long.bitCount) on the XOR."""
    return F.bit_count(a.bitwiseXOR(b)).cast("int")


def simhash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, sim BIGINT) SimHash signatures, computed the scalable way.

    Explode distinct tokens once, hash each token once, then take 64
    partial-SUM aggregates of the per-bit +/-1 votes (map-side
    combining, one shuffle of one row per doc per partition).  The
    expression-only ``simhash64`` re-walks the token array per bit —
    fine for a single row, wrong shape for a corpus scan."""
    return _SIMHASH["native64"].signatures(df, text_col, id_col)


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= max_hamming.

    Blocking: split the 64-bit signature into ``max_hamming + 1``
    chunks; by pigeonhole, any pair within distance d shares at least
    one exact chunk — so the join key is (chunk_idx, chunk_value) and
    recall is exactly 1.0 at O(docs x chunks) shuffle (Manku et al.,
    WWW'07 pattern)."""
    return _simhash_pairs(df, max_hamming, text_col, id_col, _SIMHASH["native64"])


def simhash_sql_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, sim BIGINT) 31-bit SQL-safe SimHash signatures — the
    char-polynomial token hash + partial-SUM bit votes, exactly the
    arithmetic the DuckDB twin replays (see simhash_pairs_sql_safe's
    discrimination-gap note for why this family coexists with the
    native 64-bit one).  Shared by the one-shot pair face and the
    persisted SimHash index (``hash_family='sql_safe31'``)."""
    return _SIMHASH["sql_safe31"].signatures(df, text_col, id_col)


def simhash_chunk_table(
    sigs: DataFrame,
    chunks: list[tuple[int, int]],
    id_col: str = "doc_id",
    sig_col: str = "sim",
) -> DataFrame:
    """(id, chunk_idx, chunk_val) pigeonhole blocking table: chunk c =
    (sig >> offset) & mask.  Any pair within hamming d shares at least
    one exact chunk when len(chunks) == d + 1 (Manku et al., WWW'07).
    ``chunks`` is a list of (offset, mask) so the SQL-safe 31-bit
    layout and the native even-width 64-bit layout share one kernel.
    Every other input column passes through, as in
    :func:`minhash_band_table`."""
    return sigs.select(
        *_carried(sigs, id_col, sig_col),
        F.posexplode(_chunk_values(chunks, sig_col)).alias("chunk_idx", "chunk_val"),
    )


def simhash_pairs_sql_safe(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-dup pairs with an ANSI-SQL-expressible hash — the
    whole pipeline (token hashes -> 31-bit signature -> pigeonhole
    chunks -> hamming verify) is reproducible by the DuckDB oracle.

    The same pipeline as simhash_pairs: explode distinct tokens once,
    31 partial-SUM bit votes, chunk-bucket join, popcount verify.
    Its FIXED 4-chunk layout (``SIMHASH_SQL_CHUNKS``) covers hamming
    <= 3 with recall exactly 1.0; ``max_hamming > 3`` raises
    ValueError (use :func:`simhash_pairs`).

    DISCRIMINATION GAP vs the native (xxhash64, 64-bit) variant — this
    is intentional and load-bearing, do not "align" the two: at the
    same nominal ``max_hamming=3``, the SQL-safe signature emits ~9x
    more pairs than the native one (e.g. 10,700 vs 1,176 on the
    sf0.001 documents corpus).  Two compounding causes: (a) a 31-bit
    signature leaves a far coarser space — matching within hamming 3
    of 31 bits is a much weaker statement than 3 of 64; (b) the
    char-polynomial token hash has correlated low-order bits (last
    characters dominate), so unrelated tokens vote the same way on
    more bits than a well-mixed hash would.  The native variant is the
    production path; the SQL-safe twin exists so the PLAN SHAPE
    (explode -> bit votes -> pigeonhole chunk join -> verify) is
    hash-oracled end-to-end.  ``tests/test_dedup.py::
    test_simhash_family_discrimination_gap`` pins the ratio band so a
    silent hash-family regression in either variant fails loudly."""
    return _simhash_pairs(df, max_hamming, text_col, id_col, _SIMHASH["sql_safe31"])


def _rp_plane(seed: int, table: int, plane: int, dim: int) -> list[float]:
    """Deterministic random-hyperplane coefficients, shared verbatim by
    the Spark expression and the DuckDB oracle twin (the SQL generator
    imports this function and embeds the same float64 literals)."""
    import hashlib
    import struct as _struct

    vals = []
    for i in range(dim):
        h = hashlib.md5(f"{seed}:{table}:{plane}:{i}".encode()).digest()
        (u,) = _struct.unpack("<Q", h[:8])
        vals.append(u / 2**64 - 0.5)
    return vals


def rp_cell_table(
    df: DataFrame,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_refine: int | None = None,
) -> DataFrame:
    """(id, tbl, cell[, rcell]) multi-table random-hyperplane bucket
    assignment — the blocking primitive shared by :func:`rp_block_pairs`
    (one-shot self-join dedup) and the PERSISTED embedding near-dup
    index (``vault.save_rp_index`` / ``NearDupIndex.match``), so a batch
    bucketed today joins an index built last month bit-identically.

    The kernel is an Arrow-batched pandas_udf, NOT a SQL expression:
    the transform/aggregate/zip_with fold never whole-stage-codegens
    (~3 s of interpreted lambda dispatch at sf0.1), and a fully
    unrolled Add chain (n_planes*n_tables*dim ~ 4.6k nodes) sends the
    Catalyst optimizer quadratic (measured 28 s on 150 rows).  It
    accumulates the hyperplane dots ELEMENT-AT-A-TIME in float64 —
    ``acc += v[i] * c[i]`` for i = 0..dim-1 — bit-identical to the
    DuckDB oracle twin's left-fold ``list_reduce(...)``, so every sign
    bit (and therefore the bucket set) matches the SQL twin exactly; a
    BLAS matmul would not guarantee that (pairwise summation reorders
    the adds).

    ``n_refine is not None`` appends a shared refinement cell column
    (``rcell``, table namespace -1) used by the hot-bucket guard —
    n_refine=0 yields a constant rcell of 0 (the guard machinery still
    applies, refinement just cannot split anything), matching the
    pre-extraction kernel's behavior."""
    if dim is None:
        dim = df.select(F.size(vec_col).alias("d")).first()["d"]
    guarded = n_refine is not None
    n_refine = n_refine or 0
    # cells are int32 (persisted bucket-table schema): 2^31 overflows,
    # and 2^31-1 planes of signal is far past any useful LSH width —
    # fail fast instead of silently wrapping bucket ids
    if not (0 < n_planes <= 31):
        raise ValueError(f"rp_cell_table: n_planes must be in [1, 31], got {n_planes}")
    if not (0 <= n_refine <= 31):
        raise ValueError(f"rp_cell_table: n_refine must be in [0, 31], got {n_refine}")
    plane_keys = [(t, p) for t in range(n_tables) for p in range(n_planes)]
    if guarded:
        # refinement planes live in table namespace -1 so they never
        # collide with a blocking table's planes
        plane_keys += [(-1, p) for p in range(n_refine)]
    planes_t = np.array(
        [_rp_plane(seed, t, p, dim) for t, p in plane_keys], dtype=np.float64
    ).T.copy()  # (dim, n_all_planes)
    n_all = len(plane_keys)
    pow2 = np.array([2 ** p for p in range(n_planes)], dtype=np.int64)
    rpow2 = np.array([2 ** p for p in range(n_refine)], dtype=np.int64)
    _nt, _np_, _nr, _dim, _g = n_tables, n_planes, n_refine, dim, guarded

    @F.pandas_udf("array<int>")
    def rp_cells(s: pd.Series) -> pd.Series:
        n = len(s)
        # ragged-safe fill: elements past a short vector stay NaN, so
        # the accumulated dot is NaN and NaN > 0 is False — the same
        # all-zero-bits cell the SQL twin's NULL propagation yields
        V = np.full((n, _dim), np.nan, dtype=np.float64)
        for r, v in enumerate(s):
            if v is None:
                continue
            a = np.asarray(v, dtype=np.float64)[:_dim]
            V[r, : a.shape[0]] = a
        acc = np.zeros((n, n_all), dtype=np.float64)
        for i in range(_dim):
            acc += V[:, i : i + 1] * planes_t[i][None, :]
        bits = acc > 0  # (n, n_all); NaN compares False
        out = np.empty((n, _nt + (1 if _g else 0)), dtype=np.int32)
        for t in range(_nt):
            out[:, t] = bits[:, t * _np_ : (t + 1) * _np_] @ pow2
        if _g:
            out[:, _nt] = bits[:, _nt * _np_ : _nt * _np_ + _nr] @ rpow2
        return pd.Series(list(out))

    proj = df.select(F.col(id_col), rp_cells(F.col(vec_col)).alias("_c"))
    return proj.select(
        F.col(id_col),
        F.posexplode(F.slice("_c", 1, n_tables)).alias("tbl", "cell"),
        *(
            [F.element_at("_c", n_tables + 1).alias("rcell")]
            if guarded
            else []
        ),
    )


def rp_block_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 8,
    n_tables: int = 8,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
    n_refine: int = 8,
    chain_width: int = 4,
) -> DataFrame:
    """Embedding near-dup pairs via multi-table random-hyperplane
    blocking + exact verification — the scale path for self-join dedup.

    Each vector gets ``n_tables`` bucket keys (one per hash table; key =
    ``n_planes`` sign bits of seeded hyperplane projections, a pure
    codegen-friendly expression).  Candidates are pairs sharing ANY
    bucket — an id-only shuffle join on (table, bucket), never a cross
    join and never a corpus broadcast.  Distinct candidate ids then
    fetch their vectors back by key and are verified with the exact
    cosine.  Recall for pairs at angle theta is
    ``1 - (1 - (1 - theta/pi)^n_planes)^n_tables`` (~0.94 at cosine
    0.9, ~0.997 at 0.97, with the defaults); candidate volume is
    ~n_tables/2^n_planes of all pairs on spread-out data (measured
    0.04 at sf0.01 with 8 planes).

    Bucket-skew guard (``max_bucket_size``, the 100 TB safety valve):
    the within-bucket self-join is quadratic, so a degenerate corpus
    (mass near-identical vectors, or zero vectors all signing to one
    cell) would put O(N) ids into one ``(tbl, cell)`` and emit O(N^2)
    candidates in a single straggler task.  Buckets over the cap are
    re-blocked on ``n_refine`` extra shared hyperplane sign bits
    (splits hash-degenerate-but-diverse buckets); buckets STILL over
    the cap after refinement are, with overwhelming probability, true
    near-identical clusters — for those we emit a linear id-ordered
    chain (each id paired with its next ``chain_width`` neighbors)
    instead of all pairs, which preserves connected-component
    connectivity for dedup grouping at O(N * chain_width) cost.  All
    guard-path candidates still pass the exact-cosine verification, so
    the guard can only drop redundant intra-cluster pairs, never emit
    false positives.  When no bucket exceeds the cap the output is
    identical to the unguarded plan (``max_bucket_size=None``).

    Reference analogue: searchLayer's candidate pruning
    (hnsw.ts:306-375) re-expressed as LSH blocking for the all-pairs
    shape (SURVEY.md §2 dedup family).
    """
    from astro_vectordb_spark.functions.vector import similarity

    if metric != "cosine":
        raise ValueError("rp_block_pairs blocks by angle; metric must be cosine")
    if dim is None:
        dim = df.select(F.size(vec_col).alias("d")).first()["d"]

    guarded = max_bucket_size is not None
    # bucket assignment via the shared kernel (see rp_cell_table for
    # the pandas_udf-vs-SQL-expression and float64-left-fold rationale)
    cells = rp_cell_table(
        df, n_planes=n_planes, n_tables=n_tables, seed=seed,
        id_col=id_col, vec_col=vec_col, dim=dim,
        n_refine=n_refine if guarded else None,
    )

    def _self_join(c: DataFrame, keys: list[str]) -> DataFrame:
        return _bucket_self_join(c, id_col, keys).select("a_id", "b_id")

    if not guarded:
        cand = _self_join(cells, ["tbl", "cell"]).distinct()
    else:
        # Window counts instead of groupBy+join: one exchange of cells
        # hash-partitioned on (tbl, cell) carries BOTH size columns —
        # the finer (tbl, cell, rcell) window is satisfied by the same
        # partitioning (subset-of-clustering rule), so the expensive
        # projection runs once map-side and every branch below reuses
        # the exchange instead of recomputing the hyperplane dots.
        wb = Window.partitionBy("tbl", "cell")
        wr = Window.partitionBy("tbl", "cell", "rcell")
        sized = cells.withColumn(
            "_bsz", F.count(F.lit(1)).over(wb)
        ).withColumn("_rsz", F.count(F.lit(1)).over(wr))
        cold = sized.filter(F.col("_bsz") <= max_bucket_size)
        hot = sized.filter(F.col("_bsz") > max_bucket_size)
        # hash-degenerate-but-diverse hot buckets split on the shared
        # refinement bits; the second size column catches the truly
        # near-identical clusters the refinement cannot split
        subcold = hot.filter(F.col("_rsz") <= max_bucket_size)
        subhot = hot.filter(F.col("_rsz") > max_bucket_size)
        # linear chain inside still-hot buckets: id-ordered window,
        # each id paired with its next chain_width neighbors — O(N*W)
        # pairs, connectivity-preserving for true duplicate clusters
        w = Window.partitionBy("tbl", "cell", "rcell").orderBy(id_col)
        chain = subhot.select(
            F.col(id_col).alias("a_id"),
            *[
                F.lead(id_col, j).over(w).alias(f"_n{j}")
                for j in range(1, chain_width + 1)
            ],
        )
        chain_pairs = (
            chain.select(
                "a_id",
                F.explode(
                    F.array(*[f"_n{j}" for j in range(1, chain_width + 1)])
                ).alias("b_id"),
            )
            .filter(F.col("b_id").isNotNull())
        )
        cand = (
            _self_join(cold, ["tbl", "cell"])
            .unionByName(_self_join(subcold, ["tbl", "cell", "rcell"]))
            .unionByName(chain_pairs)
            .distinct()
        )
    from astro_vectordb_spark.functions.vector_np import (
        make_exact_pair_score_udf,
    )

    ea = df.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_vec"))
    eb = df.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_vec"))
    return (
        cand.join(ea, on="a_id")
        .join(eb, on="b_id")
        # Arrow exact-fold verify (round 16): bit-identical to the
        # interpreted fold (same float64 products, same sequential
        # accumulation — vector_np._fold_dot_rows), ~7x its per-core
        # throughput.  The r15 note that the FOLD beats the unrolled
        # codegen chain at these dims still holds (91 s fold vs
        # unrolled not finishing 7 min at dim=32) — this swaps the
        # fold for a vectorized kernel, not for the unrolled chain.
        # Pinned bitwise by tests/test_exact_kernels_r16.py.
        .withColumn(
            "score",
            make_exact_pair_score_udf(metric)(
                F.col("a_vec"), F.col("b_vec")
            ),
        )
        .filter(F.col("score") > F.lit(float(threshold)))
        .select("a_id", "b_id", F.round("score", JACCARD_DECIMALS).alias("score"))
    )


_WARNED_BLOCKED_DEFAULT = False


def embedding_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str | None = None,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (score > threshold).

    ``method='blocked'`` (the default) runs the RP-LSH blocked pipeline
    — no cross join, no corpus broadcast, the only 100 TB-safe shape.
    NOTE the blocked default is APPROXIMATE: pair recall follows
    ``1 - (1 - (1 - theta/pi)^n_planes)^n_tables`` (~0.94 at cosine
    0.9 with the defaults) — callers needing the complete pair set on
    small frames must pass ``method='exact'``, the O(n^2)
    similarity_join baseline used by the recall oracles.  Relying on
    the default (``method=None``) emits a one-time RuntimeWarning
    stating the recall contract, since the default changed from exact
    to blocked; pass either method explicitly to silence it."""
    if method is None:
        global _WARNED_BLOCKED_DEFAULT
        if not _WARNED_BLOCKED_DEFAULT:
            import warnings

            warnings.warn(
                "embedding_near_dups defaults to the APPROXIMATE "
                "RP-LSH blocked path (~0.94 pair recall at cosine 0.9 "
                "with the default 8 planes / 8 tables; exact recall "
                "formula in the docstring). Pass method='blocked' to "
                "accept, or method='exact' for the complete O(n^2) "
                "pair set on small frames. This notice prints once.",
                RuntimeWarning,
                stacklevel=2,
            )
            _WARNED_BLOCKED_DEFAULT = True
        method = "blocked"
    if method == "exact":
        return similarity_join(
            df, threshold=threshold, id_col=id_col, vec_col=vec_col
        )
    return rp_block_pairs(
        df, threshold=threshold, n_planes=n_planes, n_tables=n_tables,
        id_col=id_col, vec_col=vec_col, seed=seed, dim=dim,
        max_bucket_size=max_bucket_size,
    )


def connected_components(
    pairs: DataFrame,
    max_iter: int | None = None,
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """Connected components over the near-dup pair graph by iterative
    min-label propagation: component(x) = min id reachable from x.

    Returns (id, component).  Each iteration is one join + one groupBy
    (both keyed shuffles) and the iterate is localCheckpointed so the
    lineage stays flat.  Convergence is detected from a changed-flag
    computed INSIDE the update select (no extra old-vs-new join per
    round).  By default the loop runs until no label changes, which
    takes at most diameter + 1 rounds (every change lowers a label;
    near-dup clusters are shallow — a handful of rounds), so the labels
    returned are the components.  A caller-set ``max_iter`` caps the
    rounds; if it is exhausted with changes still flowing, a
    RuntimeWarning reports the non-converged state instead of silently
    returning split components.  Adversarial long-chain graphs need
    rounds equal to their diameter; large-star/small-star contraction
    (Kiveris et al., SoCC'14) bounds that at O(log^2 n) and is the
    escape if such graphs ever matter — near-dup graphs have not
    needed it.  (r15 note: a pointer-jumping variant — label(label(x))
    per round for O(log diameter) convergence — was tried and MEASURED
    NEUTRAL TO SLOWER on the bench graphs: their diameters are already
    2-4, so the extra labels self-join per round cost more than the
    saved round.  Reverted.)

    This is the correct closure for transitive duplicate groups, vs the
    one-pass greedy ``dedup_keep_representatives`` (which can split a
    chain a-b-c when (a,c) wasn't emitted as a pair)."""
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    changed = 1
    for _ in itertools.count() if max_iter is None else range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("component").alias("_nbr"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("_nbr"), F.col("component"))
                ).alias("component"),
                # flag rows whose label improved this round — read back
                # from the (already materialized) checkpoint, no
                # old-vs-new join needed
                F.coalesce(
                    F.col("_nbr") < F.col("component"), F.lit(False)
                ).alias("_chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("_chg")).limit(1).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    if changed != 0:
        import warnings

        warnings.warn(
            f"connected_components did not converge in max_iter={max_iter} "
            "rounds; returned labels may split components — raise max_iter "
            "for long-chain graphs",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def dedup_groups(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one representative (min id) per connected near-dup
    component; singletons (docs in no pair) keep themselves."""
    comp = connected_components(pairs)
    keep = comp.filter(F.col("id") == F.col("component")).select(
        F.col("id").alias(id_col)
    )
    in_graph = comp.select(F.col("id").alias(id_col))
    singletons = df.select(id_col).join(in_graph, id_col, "left_anti")
    return df.join(
        keep.unionByName(singletons), on=id_col, how="left_semi"
    )


def duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring-level duplication accounting (the operator behind
    "deduplicate repeated spans, not just whole documents"): for every
    document, count the k-token window positions whose exact k-gram
    also appears in at least one OTHER document.

    Whole-document dedup (exact/MinHash/SimHash) misses the dominant
    duplication mode in web corpora — long spans (boilerplate,
    licenses, quoted passages) repeated inside otherwise-distinct
    pages.  The span-level statistic is what a substring-dedup pass
    (suffix-array style) would remove; here it is computed exactly via
    the same shingle inverted index the near-dup family uses.

    Returns one row per input document: ``(doc_id, n_spans,
    dup_spans, dup_span_frac)`` where ``n_spans = max(0, tokens-k+1)``
    and ``dup_span_frac = dup_spans / n_spans`` (0.0 for docs shorter
    than k tokens), rounded half-up at 6 decimals.

    Physical shape (100 TB-safe): positional k-grams via aligned
    slice + zip_with (O(tokens) per doc, pure codegen) -> explode ->
    ONE groupBy (doc, gram) with map-side combine -> document
    frequency as a WINDOW count over gram (rows are already distinct
    (doc, gram) pairs, so df is a plain count — and the window keeps
    it a single pass over the pre-aggregated pairs instead of a
    vocabulary groupBy + self-join, which would recompute the explode
    lineage per branch) -> id-keyed aggregation + join back to the
    per-doc span counts.  Three keyed shuffles on shrinking data; no
    driver action, no UDF, no all-pairs product anywhere.  Hot grams
    cost one window partition each (bounded by corpus df, the same
    exposure as the near-dup family's shingle index).
    """
    base = docs.select(
        F.col(id_col),
        word_shingles(F.col(text_col), k, distinct=False).alias("_spans"),
    )
    per = (
        base.select(id_col, F.explode("_spans").alias("_gram"))
        .groupBy(id_col, "_gram")
        .agg(F.count(F.lit(1)).alias("_pos"))
    )
    w = Window.partitionBy("_gram")
    dup = (
        per.withColumn("_nd", F.count(F.lit(1)).over(w))
        .filter(F.col("_nd") >= 2)
        .groupBy(id_col)
        .agg(F.sum("_pos").cast("long").alias("_dup"))
    )
    frac = (
        F.col("dup_spans").cast("double")
        / F.col("n_spans").cast("double")
    )
    return (
        base.select(id_col, F.size("_spans").cast("long").alias("n_spans"))
        .join(dup, id_col, "left")
        .select(
            id_col,
            "n_spans",
            F.coalesce(F.col("_dup"), F.lit(0)).cast("long")
            .alias("dup_spans"),
        )
        .withColumn(
            "dup_span_frac",
            F.when(
                F.col("n_spans") > 0,
                F.floor(frac * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
            ).otherwise(F.lit(0.0)),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact substring-level dedup TRANSFORM — the acting counterpart
    of ``duplicate_spans``: rewrite every document dropping the tokens
    covered by k-gram spans that also appear in another document,
    keeping the span only in its first (minimum-id) document.

    Deterministic keeper policy: for every cross-document k-gram, the
    document with the smallest id keeps ALL its occurrences; every
    other document drops the k tokens under each occurrence (union of
    covered positions — overlapping duplicated spans merge).  This is
    the document-stable variant of suffix-array substring dedup
    ("drop all but one occurrence of every long repeated substring"):
    id-ordered instead of offset-ordered, so the result is
    reproducible under any partitioning.

    Returns ``(doc_id, text, n_tokens, n_removed)`` where ``text`` is
    the surviving tokens joined with single spaces (note: original
    whitespace is NOT preserved — the transform operates on the token
    stream, like the tokenize-dedup-detokenize pipelines it models).

    Physical shape: positional grams (aligned slice + zip_with) ->
    posexplode -> distinct (doc, gram) -> window (df + keeper) over
    gram -> position join back -> per-doc covered-position sets ->
    token filter via higher-order functions (pure codegen, no UDF).
    Shuffles are keyed on gram / (doc, gram) / doc — the same shapes
    as the near-dup family; nothing is all-pairs, nothing collects.
    """
    toks_col = tokens(F.lower(F.col(text_col)))
    base = docs.select(
        F.col(id_col),
        toks_col.alias("_toks"),
        word_shingles(F.col(text_col), k, distinct=False).alias("_spans"),
    )
    pos = base.select(
        id_col, F.posexplode("_spans").alias("_pos", "_gram")
    )
    w = Window.partitionBy("_gram")
    # (doc, gram) pairs where this doc must drop the gram's spans:
    # the gram crosses documents and this doc is not the keeper
    droppers = (
        pos.select(id_col, "_gram")
        .distinct()
        .withColumn("_nd", F.count(F.lit(1)).over(w))
        .withColumn("_keeper", F.min(id_col).over(w))
        .filter((F.col("_nd") >= 2) & (F.col(id_col) != F.col("_keeper")))
        .select(id_col, "_gram")
    )
    covered = (
        pos.join(droppers, [id_col, "_gram"])
        .groupBy(id_col)
        .agg(F.collect_set("_pos").alias("_starts"))
    )
    starts_arr = F.coalesce(F.col("_starts"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("_toks"),
        # token i survives unless some removed span start s covers it
        # (s <= i <= s + k - 1); O(tokens x removed spans) per doc,
        # interpreted HOF — referenced exactly ONCE below (a second
        # reference would re-evaluate it: ProjectCollapse + no codegen
        # for higher-order functions)
        lambda t, i: ~F.exists(
            starts_arr,
            lambda s: (s <= i) & (i <= s + F.lit(k - 1)),
        ),
    )
    # n_removed = |union of covered positions|: every span start s
    # satisfies 0 <= s <= n-k (positional grams), so sequences never
    # clip and the distinct-flatten count equals size(_toks)-size(kept)
    # at O(spans x k) instead of re-running the token filter
    n_removed = F.size(
        F.array_distinct(
            F.flatten(
                F.transform(
                    starts_arr,
                    lambda s: F.sequence(s, s + F.lit(k - 1)),
                )
            )
        )
    )
    return (
        base.join(covered, id_col, "left")
        .select(
            id_col,
            F.array_join(kept, " ").alias(text_col),
            F.size("_toks").cast("long").alias("n_tokens"),
            n_removed.cast("long").alias("n_removed"),
        )
    )


def dedup_keep_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop the higher id of every near-dup pair (greedy min-id keep).

    Not full connected components (which needs iteration); the greedy
    rule removes every doc that is similar to some lower-id doc — the
    common one-pass policy in dedup pipelines."""
    drop = pairs.select(F.col("b_id").alias(id_col)).distinct()
    return df.join(drop, on=id_col, how="left_anti")


def rp_probe_cell_table(
    df: DataFrame,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_probes: int = 2,
) -> DataFrame:
    """Multi-probe bucket assignment for the QUERY/BATCH side of an
    RP-LSH lookup (Lv et al., VLDB 2007 "Multi-Probe LSH"): per hash
    table, emit the base cell PLUS ``n_probes`` perturbed cells, each
    flipping ONE sign bit — chosen in ascending |projection| order
    (the hyperplanes this vector sits closest to, i.e. the bits most
    likely to differ on a true near-neighbor).

    Why this exists at 100 TB: raising recall by adding hash TABLES
    multiplies the persisted index (corpus-sized storage and build),
    while probing costs only batch-side work against the SAME stored
    table — the steady-state index keeps 8 tables forever and callers
    dial recall per lookup.  Probing can only ADD candidate buckets,
    and the exact-cosine verify unchanged downstream means extra
    probes can never create false positives.

    Same deterministic plane family and float64 element-at-a-time fold
    as :func:`rp_cell_table` (margins derive from the identical dots),
    so base cells match the persisted index bit-for-bit."""
    if dim is None:
        dim = df.select(F.size(vec_col).alias("d")).first()["d"]
    if not (0 < n_planes <= 31):  # int32 cell schema — see rp_cell_table
        raise ValueError(
            f"rp_probe_cell_table: n_planes must be in [1, 31], got {n_planes}"
        )
    n_probes = min(int(n_probes), n_planes)
    plane_keys = [(t, p) for t in range(n_tables) for p in range(n_planes)]
    planes_t = np.array(
        [_rp_plane(seed, t, p, dim) for t, p in plane_keys], dtype=np.float64
    ).T.copy()
    n_all = len(plane_keys)
    pow2 = np.array([2 ** p for p in range(n_planes)], dtype=np.int64)
    _nt, _np_, _npr, _dim = n_tables, n_planes, n_probes, dim

    @F.pandas_udf("array<int>")
    def rp_probe_cells(s: pd.Series) -> pd.Series:
        n = len(s)
        V = np.full((n, _dim), np.nan, dtype=np.float64)
        for r, v in enumerate(s):
            if v is None:
                continue
            a = np.asarray(v, dtype=np.float64)[:_dim]
            V[r, : a.shape[0]] = a
        acc = np.zeros((n, n_all), dtype=np.float64)
        for i in range(_dim):
            acc += V[:, i : i + 1] * planes_t[i][None, :]
        bits = acc > 0  # NaN compares False (matches rp_cell_table)
        out = np.empty((n, _nt * (1 + _npr)), dtype=np.int32)
        for t in range(_nt):
            sl = slice(t * _np_, (t + 1) * _np_)
            base = bits[:, sl] @ pow2
            out[:, t * (1 + _npr)] = base
            if _npr:
                # ascending |projection|: the planes this vector is
                # closest to; NaN margins sort last (never flipped
                # before a real margin)
                margins = np.abs(acc[:, sl])
                margins = np.where(np.isnan(margins), np.inf, margins)
                order = np.argsort(margins, axis=1, kind="stable")
                for j in range(_npr):
                    flip = pow2[order[:, j]]
                    out[:, t * (1 + _npr) + 1 + j] = base ^ flip
        return pd.Series(list(out))

    proj = df.select(F.col(id_col), rp_probe_cells(F.col(vec_col)).alias("_c"))
    # explode to (id, tbl, cell); probe duplicates collapse downstream
    # via the candidate distinct
    idx = F.posexplode("_c")
    return (
        proj.select(F.col(id_col), idx.alias("_i", "cell"))
        .select(
            id_col,
            (F.col("_i") / (1 + n_probes)).cast("int").alias("tbl"),
            "cell",
        )
        .dropDuplicates([id_col, "tbl", "cell"])
    )


def semantic_dedup(
    df: DataFrame,
    eps: float = 0.95,
    k_cells: int = 64,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_cluster_rows: int | None = 20_000,
    keep: str = "farthest",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embedding corpus, find near-duplicate groups WITHIN each cluster
    (cosine > ``eps``), and keep ONE representative per group — by the
    paper's rule the member with the LOWEST cosine to its cluster
    centroid (``keep='farthest'``: retains the least-typical exemplar,
    which the paper found best for downstream training), or
    ``keep='min_id'`` for the deterministic-id contract the other
    dedup faces use.  Returns the KEEP set, one ``(id_col)`` row per
    surviving vector (singletons keep themselves).

    Spark mapping (the scale-correct split, reusing the IVF machinery):
    centroids fit on a bounded driver-side sample
    (``ann.ivf_build_sampled`` — deterministic NumPy Lloyd's), the
    corpus assigns distributed, and the quadratic pair search runs
    WITHIN clusters only — a self-join keyed on ``cell_id``, never a
    cross join.  Pair volume is sum_c |c|^2; pick ``k_cells`` so
    clusters stay ~sqrt-sized (the paper runs k in the tens of
    thousands at web scale).  ``max_cluster_rows`` is the skew valve:
    a cluster larger than the cap contributes only its id-ascending
    first ``max_cluster_rows`` members to the PAIR SEARCH (capped
    members keep themselves — the guard can only under-dedup, never
    drop a vector that joined no group), bounding any single cluster's
    join at cap^2 instead of letting one mega-cluster go quadratic.

    Within-cluster grouping is connected components over the eps-pairs
    (transitive, like the paper's implementation); cross-cluster
    near-dups are out of scope by design — that is
    :func:`rp_block_pairs` / the persisted RP index's job.  Duplicate
    detection is exact within clusters (true pairwise cosine, no LSH
    recall loss).

    ``centroids`` (opt-in): a caller-supplied ``(cell_id, centroid)``
    DataFrame replaces the kmeans fit — the bring-your-own-centroids
    face (a prior fit, a taxonomy, a fixed grid).  Assignment then
    runs through the EXPRESSION similarity kernel (broadcast centroid
    join + per-vector window argmax, ties by cell_id ascending)
    instead of the BLAS pandas_udf: bit-identical to the DuckDB
    fold, so the whole pipeline becomes oracle-replayable — the
    driver gate rides this face.  The kmeans path keeps the fast
    BLAS assigner (its centroids aren't SQL-derivable anyway)."""
    from astro_vectordb_spark.functions.vector import similarity
    from astro_vectordb_spark.operators.ann import ivf_build_sampled

    if keep not in ("farthest", "min_id"):
        raise ValueError(f"semantic_dedup: unknown keep rule {keep!r}")
    if centroids is not None:
        scored = (
            df.select(id_col, vec_col)
            .crossJoin(
                F.broadcast(centroids.select("cell_id", "centroid"))
            )
            .withColumn(
                "_as", similarity(F.col(vec_col), F.col("centroid"), metric)
            )
        )
        wa = Window.partitionBy(id_col).orderBy(
            F.col("_as").desc(), F.col("cell_id").asc()
        )
        assigned = (
            scored.withColumn("_ar", F.row_number().over(wa))
            .filter(F.col("_ar") == 1)
            .select(id_col, "cell_id", vec_col)
        )
    else:
        assigned, centroids = ivf_build_sampled(
            df.select(id_col, vec_col), k_cells=k_cells, metric=metric,
            id_col=id_col, vec_col=vec_col, seed=seed,
        )
        assigned = assigned.select(id_col, "cell_id", vec_col)
    scope = assigned
    if max_cluster_rows is not None:
        w = Window.partitionBy("cell_id").orderBy(id_col)
        scope = (
            assigned.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= int(max_cluster_rows))
            .drop("_rn")
        )
    a = scope.select(
        F.col(id_col).alias("a_id"), "cell_id", F.col(vec_col).alias("_av")
    )
    b = scope.select(
        F.col(id_col).alias("b_id"), "cell_id", F.col(vec_col).alias("_bv")
    )
    from astro_vectordb_spark.functions.vector_np import (
        make_exact_pair_score_udf,
    )

    pairs = (
        a.join(b, "cell_id")
        .filter(F.col("a_id") < F.col("b_id"))
        # Arrow exact-fold verify: bit-identical to the interpreted
        # fold, vectorized (see rp_block_pairs note + the bitwise pin
        # in tests/test_exact_kernels_r16.py)
        .withColumn(
            "_s",
            make_exact_pair_score_udf(metric)(F.col("_av"), F.col("_bv")),
        )
        .filter(F.col("_s") > F.lit(float(eps)))
        .select("a_id", "b_id")
    )
    comp = connected_components(pairs)
    if keep == "min_id":
        survivors = comp.filter(F.col("id") == F.col("component")).select(
            F.col("id").alias(id_col)
        )
    else:
        # the paper's rule: per group keep the member with the LOWEST
        # centroid cosine (ties by id ascending — deterministic)
        csim = (
            assigned.join(
                F.broadcast(centroids.select("cell_id", "centroid")),
                "cell_id",
            )
            .withColumn(
                "_cs", similarity(F.col(vec_col), F.col("centroid"), metric)
            )
            .select(F.col(id_col).alias("id"), "_cs")
        )
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
    singletons = df.select(id_col).distinct().join(
        comp.select(F.col("id").alias(id_col)), id_col, "left_anti"
    )
    return survivors.unionByName(singletons)
