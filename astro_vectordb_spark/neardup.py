"""Unified near-dup index facade — round-14 verdict item 5.

ANN serving has one entry point (:func:`astro_vectordb_spark.search.
search` auto-detects the index kind from ``_meta``); the four
persisted near-dup families — MinHash text fingerprints, SimHash
signatures, RP-LSH embedding buckets, SemDeDup centroid cells — used
to expose 4 x 8 parallel ``<family>_match_index`` /
``<family>_append_to_index`` / ... functions with no dispatch, even
though every index already persists its family parameters in
``_meta``.  :func:`open` is the dedup analogue of ``search.search``:

    idx = neardup.open(spark, path)       # family auto-detected
    idx.match(new_docs)                   # batch vs history
    idx.append(new_docs, batch_id=7)      # replay-logged insert
    idx.remove([3, 5], batch_id=8)        # physical delete
    idx.groups()                          # retroactive keep set
    idx.apply_sweep(batch_id=9)           # sweep-APPLY (fixpoint)
    idx.compact()                         # churn-aware rewrite
    idx.stream_ingest(stream_df)          # foreachBatch dedup-at-ingest

Every method forwards family-specific keywords verbatim (``threshold``
for minhash/rp, ``eps`` for semdedup, ``max_hamming`` for simhash,
``n_probes`` for the RP multi-probe dial, ...) — the handle binds
(spark, path) and dispatches; semantics, replay contracts, and oracle
parity are the underlying faces', documented there.  Detection reads
ONE one-row parquet (``_meta``, through ``vault._read_meta``, which
remembers it per version — a warm ``open`` runs no Spark job); the
handle is stateless beyond it.

The reference has a single in-memory index and no dedup lifecycle at
all (astrovault.ts persists one JSON blob); this facade exists because
this engine has four — a user should not need to know which blocking
scheme built an index on disk to maintain it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

__all__ = ["open", "NearDupIndex"]

# family -> (detector columns, module, function prefix)
_FAMILIES = {
    "minhash": ("num_hashes", "bands"),
    "simhash": ("bits", "hash_family"),
    "rp": ("n_planes", "n_tables"),
    "semdedup": ("k", "vec_col"),
}
# family -> (similarity knob, its default) for dedup-at-ingest
_KNOB = {
    "minhash": ("threshold", 0.8),
    "simhash": ("max_hamming", None),
    "rp": ("threshold", 0.9),
    "semdedup": ("eps", 0.95),
}


def _detect(meta: dict) -> str:
    # order matters only for semdedup, whose detector columns are the
    # least specific — every other family is disjoint by construction
    for fam in ("minhash", "simhash", "rp", "semdedup"):
        if all(c in meta for c in _FAMILIES[fam]):
            return fam
    raise ValueError(
        f"not a near-dup index (_meta columns {sorted(meta)} match no "
        "family: minhash/simhash/rp/semdedup); ANN/BM25 indexes are "
        "served by astro_vectordb_spark.search.search"
    )


class NearDupIndex:
    """A family-dispatched handle over one persisted near-dup index.

    Attributes: ``family`` (one of ``minhash | simhash | rp |
    semdedup``), ``path``, ``meta`` (the ``_meta`` dict as read at
    open time — reopen after a refresh/compact to see updated
    parameters)."""

    def __init__(self, spark: SparkSession, path: str, family: str,
                 meta: dict) -> None:
        self.spark = spark
        self.path = path
        self.family = family
        self.meta = meta

    def _fn(self, suffix: str):
        if self.family == "semdedup":
            from astro_vectordb_spark.sources import semdedup_index as mod
        else:
            from astro_vectordb_spark.sources import vault as mod
        name = f"{self.family}_{suffix}"
        fn = getattr(mod, name, None)
        if fn is None:
            raise AttributeError(
                f"{self.family} index has no '{suffix}' face"
            )
        return fn

    # -- lifecycle -------------------------------------------------------
    def match(self, new_rows: DataFrame, **kw) -> DataFrame:
        """Batch-vs-history match; returns the family's pair frame
        ((new_id, hist_id, est_jaccard | hamming | score))."""
        return self._fn("match_index")(self.spark, self.path, new_rows,
                                       **kw)

    def append(self, new_rows: DataFrame, batch_id: int | None = None,
               **kw) -> dict:
        """Replay-logged incremental insert (+ the family's append
        telemetry, e.g. the SemDeDup drift report)."""
        return self._fn("append_to_index")(
            self.spark, self.path, new_rows, batch_id=batch_id, **kw
        )

    def remove(self, ids, batch_id: int | None = None, **kw) -> dict:
        """Physical delete, file-granular on both tables."""
        return self._fn("remove_from_index")(
            self.spark, self.path, ids, batch_id=batch_id, **kw
        )

    def compact(self, **kw) -> dict:
        """Churn-aware staged-swap rewrite of both tables."""
        return self._fn("compact_index")(self.spark, self.path, **kw)

    def groups(self, **kw) -> DataFrame:
        """Retroactive corpus-wide keep set from the index alone."""
        return self._fn("index_groups")(self.spark, self.path, **kw)

    def apply_sweep(self, batch_id: int | None = None, **kw) -> dict:
        """Sweep-APPLY: remove every groups() loser; fixpoint after."""
        return self._fn("apply_groups")(
            self.spark, self.path, batch_id=batch_id, **kw
        )

    def refresh(self, **kw) -> dict:
        """Retrain-in-place (SemDeDup only: refit centroids + staged
        reassign; other families have no trained state to drift)."""
        if self.family != "semdedup":
            raise ValueError(
                f"{self.family} indexes have no trained state to "
                "refresh (hash families are fixed at save time)"
            )
        rep = self._fn("refresh_index")(self.spark, self.path, **kw)
        self.meta = _read_meta(self.spark, self.path)
        return rep

    def gc(self, **kw) -> dict:
        """Compact the replay log (vault.gc, lease-guarded)."""
        from astro_vectordb_spark.sources.vault import gc as _gc

        return _gc(self.spark, self.path, **kw)

    def stream_ingest(
        self,
        stream_df: DataFrame,
        checkpoint: str | None = None,
        query_name: str | None = None,
        drop_dups: bool = True,
        threshold: float | None = None,
        eps: float | None = None,
        max_hamming: int | None = None,
        max_bucket_size: int | None = None,
        gc_every: int | None = None,
    ):
        """Start continuous dedup-at-ingest into this index through the
        shared ``streaming.upsert.run_stream`` runner.  Each
        micro-batch runs ``index_lifecycle.ingest_batch``: with
        ``drop_dups`` it collapses near-copies WITHIN the batch, drops
        rows matching EVERYTHING already ingested (only the compact
        bucket/primary tables are read, never the corpus), and appends
        the rest under the micro-batch's ``batch_id``, so a redelivered
        batch is a no-op.  Returns the StreamingQuery.

        The similarity floor is the family's own knob, with its match
        default: ``threshold`` for minhash (0.8) and rp (0.9), ``eps``
        for semdedup (0.95), ``max_hamming`` for simhash (the build
        distance).  ``max_bucket_size`` caps per-bucket witnesses (the
        match face's hot-bucket valve).

        ``gc_every=N``: after every Nth applied batch, compact the
        replay log (:meth:`gc`) scoped to this stream's own op
        namespace (``ops=[<family>_append]``) — a horizon is only sound
        against the owning stream's micro-batch ordering, so a sibling
        stream on the same index (e.g. a paired remove stream) keeps
        its rows verbatim, and a sibling commit racing the swap is
        detected and carried (vault.gc).  Without gc a months-long
        ingest accretes one tiny log file per micro-batch."""
        from astro_vectordb_spark.sources.index_lifecycle import (
            FAMILIES,
            ingest_batch,
        )
        from astro_vectordb_spark.streaming.upsert import run_stream

        knob, default = _KNOB[self.family]
        given = {"threshold": threshold, "eps": eps,
                 "max_hamming": max_hamming}
        stray = sorted(k for k, v in given.items()
                       if v is not None and k != knob)
        if stray:
            raise ValueError(
                f"{self.family} indexes take {knob}=, not {stray}"
            )
        value = default if given[knob] is None else given[knob]
        if self.family == "simhash":
            from astro_vectordb_spark.sources.vault import _simhash_thr

            value = _simhash_thr(self.meta, value)[1]
        op = FAMILIES[self.family].append_op

        def apply(b, bid):
            # a fresh family object per batch: SemDeDup memoizes its
            # centroid table, which a refresh may swap mid-stream
            return ingest_batch(
                self.spark, self.path, FAMILIES[self.family](), b, bid,
                value, drop_dups=drop_dups, max_bucket_size=max_bucket_size,
            )

        return run_stream(
            stream_df, apply, query_name or f"astro_{self.family}_ingest",
            checkpoint=checkpoint, every=gc_every,
            maintain=lambda: self.gc(ops=[op]),
        )

    def __repr__(self) -> str:  # pragma: no cover - debug sugar
        return (f"NearDupIndex(family={self.family!r}, "
                f"path={self.path!r}, n_rows={self.meta.get('n_rows')})")


def _read_meta(spark: SparkSession, path: str) -> dict:
    from astro_vectordb_spark.sources.vault import _read_meta as rm

    return rm(spark, path)


def open(spark: SparkSession, path: str) -> NearDupIndex:  # noqa: A001
    """Open a persisted near-dup index of ANY family: reads ``_meta``,
    detects the family from its parameter columns (minhash:
    num_hashes/bands; simhash: bits/hash_family; rp: n_planes/
    n_tables; semdedup: k/vec_col + centroids table), returns a
    :class:`NearDupIndex` handle whose match/append/remove/compact/
    groups/apply_sweep delegate to that family's faces."""
    meta = _read_meta(spark, path)
    return NearDupIndex(spark, path, _detect(meta), meta)
