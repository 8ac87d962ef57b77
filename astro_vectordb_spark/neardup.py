"""Unified near-dup index facade — round-14 verdict item 5.

ANN serving has one entry point (:func:`astro_vectordb_spark.search.
search` auto-detects the index kind from ``_meta``); the four
persisted near-dup families — MinHash text fingerprints, SimHash
signatures, RP-LSH embedding buckets, SemDeDup centroid cells — share
one lifecycle (``sources/index_lifecycle.py``) and every index
persists its family parameters in ``_meta``.  :func:`open` is the
dedup analogue of ``search.search`` and the one maintenance surface:

    idx = neardup.open(spark, path)       # family auto-detected
    idx.match(new_docs)                   # batch vs history
    idx.append(new_docs, batch_id=7)      # replay-logged insert
    idx.remove([3, 5], batch_id=8)        # physical delete
    idx.groups()                          # retroactive keep set
    idx.apply_sweep(batch_id=9)           # sweep-APPLY (fixpoint)
    idx.compact()                         # churn-aware rewrite
    idx.stream_ingest(stream_df)          # foreachBatch dedup-at-ingest

Each method calls the shared lifecycle op with a fresh family object
(``index_lifecycle.FAMILIES``); the family carries what differs — its
similarity keyword (``threshold`` for minhash/rp, ``eps`` for
semdedup, ``max_hamming`` for simhash), the multi-probe dials, the
keep-set rule.  An unknown keyword raises TypeError.  Detection reads
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

from astro_vectordb_spark.sources import index_lifecycle as lc

__all__ = ["open", "NearDupIndex"]


def _detect(meta: dict) -> str:
    # FAMILIES order puts semdedup, whose detector columns are the
    # least specific, last — every other family is disjoint by
    # construction
    for name, fam in lc.FAMILIES.items():
        if all(c in meta for c in fam.detector):
            return name
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
    parameters).

    Replay contract shared by every write: the index's ``_batches``
    log is namespaced by op — ``<family>_append``, ``<family>_remove``
    and ``<family>_sweep`` — so a redelivered ``batch_id`` is a no-op
    (``skipped_replay``) within its namespace, and a remove stream and
    a scheduled sweep number their batches independently."""

    def __init__(self, spark: SparkSession, path: str, family: str,
                 meta: dict) -> None:
        self.spark = spark
        self.path = path
        self.family = family
        self.meta = meta

    def _family(self, kw: dict | None = None) -> lc.BucketIndexFamily:
        # a fresh family object per call: SemDeDup memoizes its
        # centroid table, which a refresh may swap.  ``text_col`` is a
        # constructor keyword of the text families only
        text = {}
        if kw and "text_col" in kw:
            text["text_col"] = kw.pop("text_col")
        return lc.FAMILIES[self.family](**text)

    def _floor(self, fam: lc.BucketIndexFamily, kw: dict) -> float:
        return fam.threshold(self.meta, kw.pop(fam.knob, fam.knob_default))

    # -- lifecycle -------------------------------------------------------
    def match(self, new_rows: DataFrame, max_bucket_size: int | None = None,
              telemetry: dict | None = None, **kw) -> DataFrame:
        """Match a NEW batch against history without touching the
        historical corpus: encode and bucket the BATCH only under the
        stored family, keyed join against the compact bucket table,
        verify every candidate exactly against the stored values.
        Deterministic end to end, so the path is oracle-hashable.

        Returns ``(new_id, hist_id, <score>)``: minhash ``est_jaccard``
        (signature agreement k/num_hashes — the unbiased Jaccard
        estimate, rounded to 6, kept at >= ``threshold``, default 0.8);
        rp ``score`` (exact cosine > ``threshold``, default 0.9);
        semdedup ``score`` (exact cosine > ``eps``, default 0.95, within
        the batch row's cell); simhash ``hamming`` (<= ``max_hamming``,
        default the build distance; a larger one raises ValueError —
        the stored chunks pigeonhole recall only that far).  Text
        families take ``text_col`` (default ``"text"``).

        ``max_bucket_size`` (opt-in hot-bucket valve): a cluster of d
        copies puts d witnesses in each of its buckets; history is
        first pruned to the batch's buckets by a keyed semi-join, then
        capped at the first N witnesses per bucket, id-ascending.
        Lossless for exact-duplicate clusters (every witness scores the
        same), the usual LSH recall trade otherwise; None keeps the
        exact contract the oracle replays.  ``telemetry`` (opt-in dict,
        filled in place): PRE-cap witness skew over the buckets this
        batch touches — ``max/p99/p50_bucket_witnesses``,
        ``n_buckets``, ``n_witness_rows`` — the signal to set the valve
        before a hot bucket becomes a straggler.

        Multi-probe recall dials (batch-side work only; results are a
        superset of the base match, with the exact verify unchanged):
        rp ``n_probes`` (default 0) also probes, per table, the buckets
        one sign flip away on the lowest-|projection| planes; semdedup
        ``n_probes`` (default 1) / ``probe_margin`` (0.05) also probes
        each runner-up cell j with ``sim_1 - sim_j <= probe_margin``."""
        fam = self._family(kw)
        thr = self._floor(fam, kw)
        return lc.match_index(
            self.spark, self.path, fam, new_rows, thr,
            max_bucket_size=max_bucket_size, telemetry=telemetry,
            bucketize=fam.match_bucketize(**kw),
        )

    def append(self, new_rows: DataFrame, batch_id: int | None = None,
               **kw) -> dict:
        """Replay-logged incremental insert (``dedup_ids=True`` skips
        ids already indexed; text families take ``text_col``).  Crash
        consistency: primary rows append BEFORE bucket rows, and the
        bucket append derives from the stored primary-vs-bucket id diff
        — a crash between the two is repaired by the next append, and
        a replayed batch whose primary rows landed still completes its
        buckets.  Returns ``{appended_rows, repaired_rows,
        skipped_replay}``.

        SemDeDup adds a drift report — ``batch_sim_mean``,
        ``batch_sim_p95`` against the train-time ``train_sim_mean`` /
        ``train_sim_p95`` (None on a legacy index).  Its centroids are
        frozen at save/refresh; a batch mean sinking below the baseline
        means blocking recall is degrading, and :meth:`refresh` is due.
        Matching stays exact either way."""
        fam = self._family(kw)
        return lc.append_to_index(self.spark, self.path, fam, new_rows,
                                  batch_id=batch_id, **kw)

    def remove(self, ids, batch_id: int | None = None, **kw) -> dict:
        """Physical delete, file-granular on both tables (touched files
        only) and buckets FIRST, so bucket ids stay a subset of primary
        ids at every instant (a crash leaves primary rows without
        buckets, which the next append re-buckets).  ``ids`` is an
        iterable or a one-column DataFrame, pinned with an eager
        ``localCheckpoint`` first (a lazy plan reading this index would
        see its own deletions).  ``op`` (default ``<family>_remove``)
        names the replay namespace.  Returns ``{removed_docs |
        removed_rows, skipped_replay}``; ``n_rows`` drops by the
        distinct ids removed."""
        return lc.remove_from_index(self.spark, self.path, self._family(),
                                    ids, batch_id=batch_id, **kw)

    def compact(self, **kw) -> dict:
        """Churn-aware compaction: a no-op below ``min_file_ratio``
        (2.0) x the ideal file count (rows / ``target_rows_per_file``,
        4M); otherwise both tables rewrite through the crash-safe
        staged swap (an interrupted earlier swap is repaired first),
        dropping duplicate ids and re-deriving buckets from the
        compacted primary.  Returns ``{compacted, files, files_before,
        rows[, target_files]}``."""
        return lc.compact_index(self.spark, self.path, self._family(), **kw)

    def groups(self, **kw) -> DataFrame:
        """Retroactive corpus-wide keep set from the index alone (no
        corpus re-read): bucket self-join candidates (a_id < b_id),
        exact verify at the family's similarity keyword, connected
        components, one min-id representative per component;
        singletons keep themselves.  One ``(id_col)`` row per survivor.

        minhash: exact-duplicate collapse first (always on, lossless —
        one min-id representative per distinct signature, so a d-copy
        boilerplate cluster costs O(d) candidates, not O(d^2 x bands)).
        rp, simhash: ``max_bucket_size`` caps each bucket at its first
        N ids (exact-dup clusters keep their connectivity at any cap
        >= 2).  semdedup: ``keep`` (``"min_id"`` or ``"farthest"``, the
        paper's lowest-centroid-similarity rule), ``max_cluster_rows``
        (per-cell cap) and ``use_stored_probes`` (default True: with a
        stored probe margin each row also joins its runner-up cell)."""
        fam = self._family()
        thr = self._floor(fam, kw)
        return lc.index_groups(self.spark, self.path, fam, thr, **kw)

    def apply_sweep(self, batch_id: int | None = None, **kw) -> dict:
        """Sweep-APPLY: compute :meth:`groups` (same keywords, except
        semdedup's ``use_stored_probes``) and physically remove every
        loser under the ``<family>_sweep`` replay namespace.  The keep
        set is deterministic, so a replayed ``batch_id`` is a no-op,
        and the index is a fixpoint after.  Returns ``{kept,
        removed_docs | removed_rows, skipped_replay}``.  File
        compaction (:meth:`compact`) is orthogonal."""
        fam = self._family()
        thr = self._floor(fam, kw)
        return lc.apply_groups(self.spark, self.path, fam, thr,
                               batch_id=batch_id, **kw)

    def refresh(self, **kw) -> dict:
        """Retrain-in-place (SemDeDup only: refit centroids + staged
        reassign, ``semdedup_index.semdedup_refresh_index``; other
        families have no trained state to drift)."""
        rep = self._family().refresh(self.spark, self.path, **kw)
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
        match hot-bucket valve).

        ``gc_every=N``: after every Nth applied batch, compact the
        replay log (:meth:`gc`) scoped to this stream's own op
        namespace (``ops=[<family>_append]``) — a horizon is only sound
        against the owning stream's micro-batch ordering, so a sibling
        stream on the same index (e.g. a paired remove stream) keeps
        its rows verbatim, and a sibling commit racing the swap is
        detected and carried (vault.gc).  Without gc a months-long
        ingest accretes one tiny log file per micro-batch."""
        from astro_vectordb_spark.streaming.upsert import run_stream

        cls = lc.FAMILIES[self.family]
        given = {"threshold": threshold, "eps": eps,
                 "max_hamming": max_hamming}
        stray = sorted(k for k, v in given.items()
                       if v is not None and k != cls.knob)
        if stray:
            raise ValueError(
                f"{self.family} indexes take {cls.knob}=, not {stray}"
            )
        value = given[cls.knob]
        value = cls().threshold(
            self.meta, cls.knob_default if value is None else value
        )

        def apply(b, bid):
            return lc.ingest_batch(
                self.spark, self.path, self._family(), b, bid, value,
                drop_dups=drop_dups, max_bucket_size=max_bucket_size,
            )

        return run_stream(
            stream_df, apply, query_name or f"astro_{self.family}_ingest",
            checkpoint=checkpoint, every=gc_every,
            maintain=lambda: self.gc(ops=[cls.append_op]),
        )

    def __repr__(self) -> str:  # pragma: no cover - debug sugar
        return (f"NearDupIndex(family={self.family!r}, "
                f"path={self.path!r}, n_rows={self.meta.get('n_rows')})")


def _read_meta(spark: SparkSession, path: str) -> dict:
    from astro_vectordb_spark.sources.vault import _read_meta as rm

    return rm(spark, path)


def open(spark: SparkSession, path: str) -> NearDupIndex:  # noqa: A001
    """Open a persisted near-dup index of ANY family: reads ``_meta``,
    detects the family from its parameter columns (each family's
    ``detector``: minhash num_hashes/bands; simhash bits/hash_family;
    rp n_planes/n_tables; semdedup k/vec_col), returns a
    :class:`NearDupIndex` handle whose methods call the shared
    lifecycle with that family."""
    meta = _read_meta(spark, path)
    return NearDupIndex(spark, path, _detect(meta), meta)
