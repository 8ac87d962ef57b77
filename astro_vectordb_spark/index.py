"""One maintenance handle for every persisted retrieval index.

Serving has one entry point (:func:`astro_vectordb_spark.search.search`
auto-detects the kind) and the four near-dup families one maintenance
handle (:func:`astro_vectordb_spark.neardup.open`).  :func:`open` is the
same for the five retrieval index kinds — IVF, sharded HNSW, flat PQ,
IVF-PQ, BM25 — and the ONLY place they are maintained:

    idx = index.open(spark, path)      # kind auto-detected from layout
    idx.append(new_rows, batch_id=7)   # incremental insert
    idx.remove([3, 5], batch_id=8)     # physical delete
    idx.compact()                      # churn-aware rewrite (PQ kinds)
    idx.rebalance()                    # shard re-split (HNSW)
    idx.health()                       # operational stats (HNSW)
    idx.refresh(vectors=corpus)        # codebook retrain (PQ kinds)
    idx.gc()                           # replay-log compaction
    idx.stream_ingest(stream_df)       # foreachBatch appends
    idx.stream_remove(stream_df)       # foreachBatch deletes
    idx.search([...], k=10)            # serving, via search.search

Each method calls the kind object of the detected kind (``KINDS``, the
one registry).  Its methods carry the kind's own keywords and defaults
(``spill`` for IVF, ``seed``/``on_conflict`` for HNSW,
``batch_id``/``dedup_ids`` for the PQ appends, ``id_col``/``text_col``
for BM25, ...): an unknown keyword raises TypeError, and a method the
kind lacks raises ValueError naming the kind's alternative.  Kind
objects hold no state; storage — loads, saves, the staged directory
swap, the ``_batches`` replay log, the ``_meta`` ``n_rows`` counter —
stays in ``sources.vault``.  Detection is one filesystem existence
probe per candidate subdir (the ``search.detect_index_kind`` rule plus
the BM25 layouts).

The reference keeps one in-memory HNSW, maintained through
``addPoint``/``removePoint``/``updatePoint`` (hnsw.ts:82-226) and
persisted whole by astrovault.ts; this engine persists five kinds, and
an operator should not need to know which one a path holds.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from astro_vectordb_spark.session import local_frame
from astro_vectordb_spark.sources import vault

__all__ = ["open", "MaintainedIndex"]


def _detect_kind(spark: SparkSession, path: str) -> str:
    from astro_vectordb_spark.search import detect_index_kind

    # BM25 first: its layouts (versioned stats/ multi-table, or the
    # legacy split term_stats/ + corpus_stats/) are disjoint from the
    # vector kinds' subdirs
    if vault._fs_exists(spark, os.path.join(path, "stats")) or vault._fs_exists(
        spark, os.path.join(path, "term_stats")
    ):
        return "bm25"
    kind = detect_index_kind(spark, path)
    if kind == "exact":
        raise ValueError(
            f"no maintained index found at {path!r} (layout matches "
            "none of ivf/hnsw/pq/ivf_pq/bm25); plain vector tables are "
            "maintained via sources.vault save/upsert faces, near-dup "
            "indexes via astro_vectordb_spark.neardup.open"
        )
    return kind


# -- shared steps ---------------------------------------------------------
def _replayed(spark, path, op: str, batch_id, hit: dict, apply) -> dict:
    """``apply()`` once per ``(op, batch_id)`` of the index's
    ``_batches`` log: a batch the log holds returns ``hit`` and touches
    nothing; otherwise the batch is recorded AFTER ``apply`` returns,
    so a crash in between re-applies it on redelivery (removing gone
    ids is a no-op, and the PQ appends skip stored ids by default).
    ``batch_id=None`` always applies and records nothing."""
    if vault._batch_already_committed(spark, path, batch_id, op=op):
        return hit
    out = apply()
    vault._record_batch(spark, path, batch_id, op=op)
    return out


def _swap_write(spark: SparkSession, df: DataFrame, path: str) -> None:
    """Replace the parquet dir ``path`` with ``df`` through the
    crash-safe staged swap (``vault._replace_dir``): ``df`` may read
    the live files it replaces."""
    vault._replace_dir(
        spark, lambda staging: df.write.mode("overwrite").parquet(staging),
        path,
    )


def _remove_ids(spark: SparkSession, path: str, table: str, vec_ids):
    """Touched-files-only delete of ``vec_ids`` from ``<path>/<table>``
    (``vault._remove_rows_by_file``), then ``n_rows`` drops by the
    distinct ids removed.  -> (rows removed, touched file paths)."""
    removed, touched, n_ids = vault._remove_rows_by_file(
        spark, os.path.join(path, table), vault._as_ids_df(spark, vec_ids)
    )
    if n_ids:
        vault._update_meta_n_rows(spark, path, delta=-n_ids)
    return removed, touched


def _cell_column(centroids: DataFrame, metric: str, spill: int = 1):
    """Each row's ``cell_id`` (exploded: ``spill`` cells per row) under
    the stored centroids, collected to the driver (k_cells rows)."""
    import numpy as np

    from astro_vectordb_spark.operators.ann import make_cell_assigner

    cents = centroids.orderBy("cell_id").collect()
    assign = make_cell_assigner(
        np.array([r["centroid"] for r in cents], dtype=np.float64),
        metric=metric, spill=spill,
        cell_ids=np.array([r["cell_id"] for r in cents]),
    )
    return F.explode(assign(F.col("embedding")))


def _dedup_ids_deterministic(df: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """One row per id, picked DETERMINISTICALLY: min by the struct of
    the remaining columns.  ``dropDuplicates`` keeps a partition-order-
    arbitrary row, so a batch carrying one id twice with different
    embeddings could persist DIFFERENT codes across two replays of the
    same logical batch."""
    others = [c for c in df.columns if c != id_col]
    if not others:
        return df.distinct()
    return (
        df.groupBy(id_col)
        .agg(F.min(F.struct(*others)).alias("_r"))
        .select(id_col, *[F.col(f"_r.{c}").alias(c) for c in others])
    )


def _union(parts: list[DataFrame]) -> DataFrame | None:
    return functools.reduce(DataFrame.unionByName, parts) if parts else None


# -- kinds ------------------------------------------------------------------
class _Kind:
    """What one index kind does for each handle method.  A method the
    kind lacks raises ValueError before reading any keyword.  Streaming
    capabilities: ``ingest_query`` (None: append keeps no replay log,
    so the kind cannot stream-ingest), ``remove_query``, ``seeded``
    (HNSW's append seed and remove options), ``compacts`` (PQ kinds),
    ``lexical`` (BM25: removes and serves by documents)."""

    name = ""
    seeded = compacts = lexical = False

    @property
    def ingest_query(self) -> str | None:
        return f"astro_{self.name}_ingest"

    @property
    def remove_query(self) -> str:
        return f"astro_{self.name}_remove"

    def compact(self, spark, path, **kw):
        raise ValueError(f"compact: the {self.name} kind has no compaction face")

    def rebalance(self, spark, path, **kw):
        raise ValueError(
            f"rebalance is an HNSW face; the {self.name} kind "
            "maintains layout via compact()/refresh()"
        )

    def health(self, spark, path, **kw):
        raise ValueError(
            f"health stats are an HNSW face; {self.name} drift "
            "telemetry rides the append report (batch_mse)"
        )

    def refresh(self, spark, path, vectors, **kw):
        raise ValueError(
            f"the {self.name} kind has no refresh face (IVF "
            "centroid drift -> rebuild_index; HNSW -> rebalance; "
            "BM25 statistics are exact by construction)"
        )


class _IVF(_Kind):
    name = "ivf"
    ingest_query = None

    def append(self, spark, path, new_rows, spill: int = 1) -> None:
        from astro_vectordb_spark.operators.ann import ivf_cell_stats

        vectors = os.path.join(path, "vectors")
        centroids = spark.read.parquet(os.path.join(path, "centroids"))
        metric = vault._read_meta(spark, path)["metric"]
        appended = new_rows.withColumn(
            "cell_id", _cell_column(centroids, metric, spill)
        )
        existing_cols = spark.read.parquet(vectors).columns
        missing = set(existing_cols) - set(appended.columns)
        if missing:
            raise ValueError(
                f"new_rows lacks columns {sorted(missing)} of the persisted "
                "vector table — align schemas before appending"
            )
        appended = appended.select(*existing_cols)
        appended.repartition("cell_id").write.mode("append").partitionBy(
            "cell_id"
        ).parquet(vectors)
        stats_path = os.path.join(path, "cell_stats")
        vault._recover_swap(spark, stats_path)
        if vault._fs_exists(spark, stats_path):
            # a stale radius after an append would prune true hits:
            # merge the batch's radii in (min cosine / max distance)
            merge = (
                F.min("min_sim").alias("min_sim") if metric == "cosine"
                else F.max("max_dist").alias("max_dist")
            )
            _swap_write(
                spark,
                spark.read.parquet(stats_path)
                .unionByName(ivf_cell_stats(appended, centroids, metric=metric))
                .groupBy("cell_id").agg(merge),
                stats_path,
            )
        # insert-new-only contract: distinct new ids == ids added
        vault._update_meta_n_rows(
            spark, path, delta=new_rows.select("vec_id").distinct().count()
        )

    def remove(self, spark, path, vec_ids, batch_id: int | None = None) -> dict:
        return _replayed(
            spark, path, "ivf_remove", batch_id,
            {"removed_rows": 0, "touched_files": 0, "skipped_replay": True},
            lambda: self._remove(spark, path, vec_ids),
        )

    def _remove(self, spark, path, vec_ids) -> dict:
        from astro_vectordb_spark.operators.ann import ivf_cell_stats

        stats_path = os.path.join(path, "cell_stats")
        vault._recover_swap(spark, stats_path)
        # read before the n_rows update rewrites _meta (a memo hit now)
        metric = vault._read_meta(spark, path)["metric"]
        removed, touched = _remove_ids(spark, path, "vectors", vec_ids)
        cells = sorted({
            int(seg.split("=", 1)[1])
            for f in touched for seg in f.split("/")
            if seg.startswith("cell_id=")
        })
        if cells and vault._fs_exists(spark, stats_path):
            # recompute the touched cells' radii from their survivors
            # (a stale post-delete radius is only loose); emptied cells
            # lose their stats row
            survivors = spark.read.parquet(
                os.path.join(path, "vectors")
            ).filter(F.col("cell_id").isin(cells))
            fresh = ivf_cell_stats(
                survivors, spark.read.parquet(os.path.join(path, "centroids")),
                metric=metric,
            )
            _swap_write(
                spark,
                spark.read.parquet(stats_path)
                .filter(~F.col("cell_id").isin(cells)).unionByName(fresh),
                stats_path,
            )
        return {"removed_rows": removed, "touched_files": len(touched),
                "touched_cells": cells}


def _dequantized(graph: DataFrame) -> DataFrame:
    """``(vec_id, shard_id, embedding)`` of graph rows, a quantized
    graph's codes dequantized — re-quantizing on emit is bit-stable
    (max|code| = 127 recovers the exact scale), so codes survive a
    rebuild."""
    emb = F.col("embedding")
    if "qvec" in graph.columns:
        emb = F.transform(
            F.col("qvec"),
            lambda q: (q.cast("double") * F.col("qscale")).cast("float"),
        )
    return graph.select("vec_id", "shard_id", emb.alias("embedding"))


def _rebuild_shard(rows, sid: int, new_ids: list[int], meta: dict,
                   seed: int, quantize: bool) -> DataFrame:
    """Shard ``sid`` of ``rows`` (:func:`_dequantized`) rebuilt from its
    vectors at full construction quality into ``len(new_ids)`` shards
    named ``new_ids`` — the first keeps ``sid``, so the dynamic
    overwrite replaces its files."""
    from astro_vectordb_spark.operators.hnsw import hnsw_build_shards

    split = hnsw_build_shards(
        rows.filter(F.col("shard_id") == sid).select("vec_id", "embedding"),
        num_shards=len(new_ids), m=meta["m"], metric=meta["metric"],
        seed=seed + sid, quantize=quantize,
    )
    mapping = F.array(*[F.lit(int(x)) for x in new_ids])
    return split.withColumn(
        "shard_id", F.element_at(mapping, F.col("shard_id") + 1).cast("int")
    )


def _shard_stats(graph: DataFrame) -> dict:
    """``{shard_id: (rows, mean level-0 out-degree, max level)}`` in
    one aggregation (|shards| result rows)."""
    return {
        r["shard_id"]: (r["n"], float(r["deg"]), r["lvl"])
        for r in graph.groupBy("shard_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.size(F.element_at("neighbors", 1))).alias("deg"),
            F.max("level").alias("lvl"),
        ).collect()
    }


class _HNSW(_Kind):
    name = "hnsw"
    seeded = True
    ingest_query = "astro_index_ingest"

    def append(self, spark, path, new_rows, seed: int = 42,
               on_conflict: str = "skip") -> list[int]:
        from astro_vectordb_spark.operators.hnsw import hnsw_insert_shards

        graph, meta, before = vault._load_hnsw(spark, path)
        updated = hnsw_insert_shards(
            graph, new_rows, m=meta["m"], metric=meta["metric"], seed=seed,
            on_conflict=on_conflict, shard_ids=meta["shard_ids"],
        )
        _, after = vault._commit_graph_shards(
            spark, os.path.join(path, "graph"), graph.schema, updated
        )
        # the dynamic overwrite gives every partition it writes new part
        # files (per-write UUID names) and leaves the others' files alone,
        # so the touched shards are those holding files the old listing lacks
        old = {f[0] for f in before[1]}
        return vault._graph_file_stats(
            f for f in (after[1] if after else ()) if f[0] not in old
        )[0]

    def remove(self, spark, path, vec_ids, batch_id: int | None = None,
               seed: int = 42, mode: str = "auto",
               sweep_max_frac: float = 0.2, max_sweep_ids: int = 100_000,
               min_degree_frac: float = 0.5,
               auto_repair: bool = False) -> dict:
        if mode not in ("auto", "sweep", "rebuild"):
            raise ValueError(
                f"mode must be 'auto', 'sweep' or 'rebuild', got {mode!r}"
            )
        return _replayed(
            spark, path, "hnsw_remove", batch_id,
            {"removed_rows": 0, "touched_shards": [], "skipped_replay": True},
            lambda: self._remove(
                spark, path, vec_ids, seed, mode, sweep_max_frac,
                max_sweep_ids, min_degree_frac, auto_repair,
            ),
        )

    def _remove(self, spark, path, vec_ids, seed, mode, sweep_max_frac,
                max_sweep_ids, min_degree_frac, auto_repair) -> dict:
        from astro_vectordb_spark.operators.hnsw import (
            hnsw_remove_shards,
            hnsw_shard_health,
        )

        # a driver-side id collection stays a driver-side (deduplicated)
        # list: the sweep guard is its len() and the sweep ships it as is
        rm_ids = (
            None if isinstance(vec_ids, DataFrame)
            else list(dict.fromkeys(int(v) for v in vec_ids))
        )
        ids = vault._as_ids_df(spark, vec_ids if rm_ids is None else rm_ids)
        graph, meta, _ = vault._load_hnsw(spark, path)
        # one aggregation pass: per-shard totals + hit counts -> touched
        # set, removal fractions, emptied detection — no survivor rescans
        totals, hits = {}, {}
        for r in (
            graph.select("vec_id", "shard_id")
            .join(ids.withColumn("_hit", F.lit(1)), "vec_id", "left")
            .groupBy("shard_id")
            .agg(F.count(F.lit(1)).alias("n"), F.count("_hit").alias("hits"))
            .collect()
        ):
            totals[r["shard_id"]] = r["n"]
            if r["hits"]:
                hits[r["shard_id"]] = r["hits"]
        touched = sorted(hits)
        if not touched:
            return {"removed_rows": 0, "touched_shards": []}
        emptied = [s for s in touched if hits[s] >= totals[s]]
        live = [s for s in touched if s not in emptied]
        sweep = {
            "sweep": live,
            "rebuild": [],
            "auto": [s for s in live if hits[s] / totals[s] <= sweep_max_frac],
        }[mode]
        rebuild = [s for s in live if s not in sweep]
        # the sweep ships the id set in every shard task: a set above
        # max_sweep_ids forces rebuild mode, which anti-joins distributed
        if sweep and (
            len(rm_ids) if rm_ids is not None
            else ids.limit(max_sweep_ids + 1).count()
        ) > max_sweep_ids:
            rebuild, sweep = sorted(set(rebuild) | set(sweep)), []
        parts = []
        if sweep:
            if rm_ids is None:
                rm_ids = [r["vec_id"] for r in ids.collect()]  # bounded batch
            parts.append(hnsw_remove_shards(
                graph.filter(F.col("shard_id").isin(sweep)),
                rm_ids, m=meta["m"], metric=meta["metric"],
            ))
        if rebuild:
            survivors = _dequantized(
                graph.filter(F.col("shard_id").isin(rebuild))
                .join(ids, "vec_id", "left_anti")
            ).localCheckpoint(eager=True)
            quantize = "qvec" in graph.columns
            parts += [_rebuild_shard(survivors, sid, [sid], meta, seed, quantize)
                      for sid in rebuild]
        updated, _ = vault._commit_graph_shards(
            spark, os.path.join(path, "graph"), graph.schema, _union(parts),
            drop_shards=emptied,
        )
        health = []
        if parts:
            health = [
                r.asDict() for r in hnsw_shard_health(
                    updated, m=meta["m"], min_degree_frac=min_degree_frac
                ).orderBy("shard_id").collect()
            ]
        needs_repair = [h["shard_id"] for h in health if h["needs_repair"]]
        repaired = (
            self.rebalance(spark, path, seed=seed,
                           min_degree_frac=min_degree_frac)
            if auto_repair and needs_repair else {}
        )
        return {
            "removed_rows": int(sum(hits.values())),
            "touched_shards": touched,
            "swept_shards": sweep,
            "rebuilt_shards": rebuild,
            "emptied_shards": emptied,
            "health": health,
            "needs_repair": needs_repair,
            "repaired": repaired,
        }

    def compact(self, spark, path, **kw):
        raise ValueError("compact: use rebalance() for HNSW shard maintenance")

    def rebalance(self, spark, path, target_rows_per_shard: int = 250_000,
                  skew_threshold: float = 2.0, seed: int = 42,
                  min_degree_frac: float | None = None) -> dict:
        graph, meta, _ = vault._load_hnsw(spark, path)
        stats = _shard_stats(graph)
        oversized = {s for s, (n, _, _) in stats.items()
                     if n > skew_threshold * target_rows_per_shard}
        degraded = set()
        if min_degree_frac is not None:
            # shards with n <= m rows are exempt: degree is bounded by n-1
            floor = float(min_degree_frac) * meta["m"]
            degraded = {s for s, (n, deg, _) in stats.items()
                        if s not in oversized and n > meta["m"] and deg < floor}
        if not oversized and not degraded:
            return {}
        rows, quantize = _dequantized(graph), "qvec" in graph.columns
        next_id = max(stats) + 1
        result, parts = {}, []
        for sid in sorted(oversized | degraded):
            k = -(-stats[sid][0] // target_rows_per_shard) if sid in oversized else 1
            result[sid] = [sid] + list(range(next_id, next_id + k - 1))
            next_id += k - 1
            parts.append(_rebuild_shard(rows, sid, result[sid], meta, seed,
                                        quantize))
        vault._commit_graph_shards(
            spark, os.path.join(path, "graph"), graph.schema, _union(parts)
        )
        return result

    def health(self, spark, path) -> dict:
        graph, meta, listing = vault._load_hnsw(spark, path)
        shards = {
            int(s): {"rows": int(n), "mean_degree_l0": round(deg, 2),
                     "max_level": int(lvl)}
            for s, (n, deg, lvl) in _shard_stats(graph).items()
        }
        rows = [s["rows"] for s in shards.values()]
        return {
            "path": path,
            "m": meta["m"],
            "metric": meta["metric"],
            "quantized": "qvec" in graph.columns,
            "clustered_safe": meta["clustered_safe"],
            "num_shards": len(shards),
            "total_rows": sum(rows),
            "max_shard_rows": max(rows, default=0),
            "min_shard_rows": min(rows, default=0),
            "graph_file_bytes": vault._graph_file_stats(listing[1])[4],
            "mean_degree_l0": round(
                sum(s["mean_degree_l0"] * s["rows"] for s in shards.values())
                / max(sum(rows), 1),
                2,
            ),
            "shards": shards,
        }


class _PQ(_Kind):
    """Flat PQ; :class:`_IVFPQ` adds the cell assignment and keeps the
    codes partitioned by cell.  Both share the ``pq_remove`` replay
    namespace and the codes-table compaction."""

    name = "pq"
    compacts = True

    def _load(self, spark, path):
        """-> (codes, centroids | None, model, meta)."""
        encoded, model, meta = vault.load_pq_index(spark, path)
        return encoded, None, model, meta

    def _hit(self) -> dict:
        return {"appended_rows": 0, "skipped_replay": True}

    def _shape(self, meta: dict) -> dict:
        return {"m": meta["m"], "ks": meta["ks"]}

    def _assign(self, rows, centroids, meta):
        return rows

    def _batch_mse(self, rows, assigned, centroids, model, meta):
        from astro_vectordb_spark.operators.pq import pq_reconstruction_mse

        return pq_reconstruction_mse(rows, model)

    def _encode(self, rows, assigned, centroids, model):
        from astro_vectordb_spark.operators.pq import pq_encode

        return pq_encode(rows, model)

    def _count(self, new_rows, assigned, dedup_ids) -> tuple[int, dict]:
        """-> (rows the append adds, kind report keys)."""
        return (new_rows.count() if dedup_ids
                else new_rows.select("vec_id").distinct().count()), {}

    def _append_codes(self, codes: DataFrame, path: str) -> None:
        codes.write.mode("append").parquet(os.path.join(path, "codes"))

    def append(self, spark, path, new_rows, batch_id: int | None = None,
               dedup_ids: bool = True) -> dict:
        return _replayed(
            spark, path, f"{self.name}_append", batch_id, self._hit(),
            lambda: self._append(spark, path, new_rows, dedup_ids),
        )

    def _append(self, spark, path, new_rows, dedup_ids) -> dict:
        existing, centroids, model, meta = self._load(spark, path)
        if dedup_ids:
            # insert-new-only: stored ids are skipped and intra-batch
            # duplicates collapse (deterministically), so the codes table
            # stays duplicate-free and n_rows (DISTINCT ids) exact
            new_rows = _dedup_ids_deterministic(new_rows).join(
                existing.select("vec_id"), on="vec_id", how="left_anti"
            )
        assigned = self._assign(new_rows, centroids, meta)
        n, counted = self._count(new_rows, assigned, dedup_ids)
        rep = {"appended_rows": n, "batch_mse": None, **self._shape(meta)}
        if n:
            rep["batch_mse"] = self._batch_mse(new_rows, assigned, centroids,
                                               model, meta)
            self._append_codes(
                self._encode(new_rows, assigned, centroids, model), path)
            rep.update(counted)
            vault._update_meta_n_rows(spark, path, delta=n)
        return {**rep, "skipped_replay": False}

    def remove(self, spark, path, vec_ids, batch_id: int | None = None) -> dict:
        def _apply():
            vault._recover_swap(spark, os.path.join(path, "codes"))
            removed, touched = _remove_ids(spark, path, "codes", vec_ids)
            return {"removed_rows": removed, "touched_files": len(touched)}

        return _replayed(
            spark, path, "pq_remove", batch_id,
            {"removed_rows": 0, "touched_files": 0, "skipped_replay": True},
            _apply,
        )

    def compact(self, spark, path, target_rows_per_file: int = 4_000_000,
                min_file_ratio: float = 2.0) -> dict:
        codes_path = os.path.join(path, "codes")
        vault._recover_swap(spark, codes_path)
        codes = spark.read.parquet(codes_path)
        n_files = codes.select(F.col("_metadata.file_path")).distinct().count()
        n_rows = codes.count()
        ideal = max(1, -(-n_rows // target_rows_per_file))
        if n_files <= min_file_ratio * ideal:
            return {"compacted": False, "files": n_files, "rows": n_rows}
        partitioned = "cell_id" in codes.columns
        survivors = codes.dropDuplicates(
            ["vec_id", "cell_id"] if partitioned else ["vec_id"]
        )

        def _write(staging: str) -> None:
            writer = (
                survivors.repartition(ideal, "cell_id")
                .write.mode("overwrite").partitionBy("cell_id")
                if partitioned
                else survivors.repartition(ideal).write.mode("overwrite")
            )
            writer.parquet(staging)

        vault._replace_dir(spark, _write, codes_path)
        return {"compacted": True, "files_before": n_files, "rows": n_rows,
                "target_files": ideal}

    # -- refresh hooks: the stored ids, the refit and the codes write
    def _stored(self, encoded: DataFrame, id_col: str) -> DataFrame:
        return encoded.select(id_col).distinct()

    def _retrain(self, train, corpus, stored, centroids, old, meta,
                 id_col, vec_col):
        from astro_vectordb_spark.operators.pq import pq_encode

        model = train(corpus, metric=meta["metric"])
        return model, pq_encode(corpus, model, id_col=id_col, vec_col=vec_col)

    def _codes_writer(self, fresh: DataFrame):
        return fresh.write.mode("overwrite")

    def refresh(self, spark, path, vectors, id_col: str = "vec_id",
                vec_col: str = "embedding", max_rows: int = 50_000,
                seed: int = 42, opq_iters: int | None = None) -> dict:
        from astro_vectordb_spark.operators.pq import pq_train

        codes_path = os.path.join(path, "codes")
        vault._recover_swap(spark, codes_path)
        encoded, centroids, old, meta = self._load(spark, path)
        stored = self._stored(encoded, id_col).localCheckpoint(eager=True)
        ids = stored.select(id_col)
        # the codes table defines membership: every stored id needs its
        # float vector, or the refresh would shrink the index
        corpus = _dedup_ids_deterministic(vectors, id_col=id_col).join(
            ids, id_col
        )
        n_stored, n_corpus = ids.count(), corpus.count()
        if n_corpus < n_stored:
            raise ValueError(
                f"{self.name} refresh: vectors frame covers "
                f"{n_corpus}/{n_stored} stored ids — every id in the codes "
                "table needs its float vector to re-encode (pass the same "
                "corpus the index was built and appended from)"
            )
        train = functools.partial(
            pq_train, m=int(meta["m"]), ks=int(meta["ks"]), vec_col=vec_col,
            id_col=id_col, max_rows=max_rows, seed=seed,
            # None keeps the family: an OPQ-rotated model refreshes with OPQ
            opq_iters=(8 if old.rotation is not None else 0)
            if opq_iters is None else opq_iters,
        )
        model, fresh = self._retrain(train, corpus, stored, centroids, old,
                                     meta, id_col, vec_col)
        vault._replace_dir(
            spark, lambda staging: self._codes_writer(fresh).parquet(staging),
            codes_path,
        )
        vault._write_codebooks(spark, model, path)
        return {
            "reencoded_rows": int(stored.count()),
            "train_mse_before": old.train_mse,
            "train_mse_after": model.train_mse,
            "rotation": model.rotation is not None,
            **self._refresh_report(old),
        }

    def _refresh_report(self, old) -> dict:
        return {}


class _IVFPQ(_PQ):
    name = "ivf_pq"
    remove_query = "astro_pq_remove"

    def _load(self, spark, path):
        return vault.load_ivf_pq_index(spark, path)

    def _hit(self) -> dict:
        return {"appended_rows": 0, "touched_cells": [], "skipped_replay": True}

    def _shape(self, meta: dict) -> dict:
        return {"touched_cells": []}

    def _assign(self, rows, centroids, meta):
        return rows.withColumn("cell_id", _cell_column(centroids, meta["metric"]))

    def _batch_mse(self, rows, assigned, centroids, model, meta):
        from astro_vectordb_spark.operators.pq import (
            PQModel,
            ivf_pq_residual_frame,
            pq_reconstruction_mse,
        )

        if not model.residual:
            return super()._batch_mse(rows, assigned, centroids, model, meta)
        # a residual index is measured in RESIDUAL space, the space its
        # train_mse baseline was measured in
        return pq_reconstruction_mse(
            ivf_pq_residual_frame(assigned, centroids, meta["metric"]),
            PQModel(model.codebooks, metric="dot", dim=model.dim,
                    rotation=model.rotation),
        )

    def _encode(self, rows, assigned, centroids, model):
        from astro_vectordb_spark.operators.pq import ivf_pq_encode_residual

        if model.residual:
            return ivf_pq_encode_residual(assigned, model, centroids)
        return assigned.select("vec_id", "cell_id").join(
            super()._encode(rows, assigned, centroids, model), on="vec_id"
        )

    def _count(self, new_rows, assigned, dedup_ids) -> tuple[int, dict]:
        # the touched cells ride the row count's one aggregation over
        # the cell assignment, so the encode plan runs only in the write
        row = assigned.agg(
            (F.count(F.lit(1)) if dedup_ids
             else F.count_distinct("vec_id")).alias("n"),
            F.sort_array(F.collect_set("cell_id")).alias("cells"),
        ).first()
        return int(row["n"]), {"touched_cells": list(row["cells"])}

    def _append_codes(self, codes: DataFrame, path: str) -> None:
        codes.write.mode("append").partitionBy("cell_id").parquet(
            os.path.join(path, "codes")
        )

    def _stored(self, encoded: DataFrame, id_col: str) -> DataFrame:
        # one row per id with its frozen cell (duplicate code rows from
        # at-least-once appends collapse to the min cell)
        return encoded.groupBy(id_col).agg(F.min("cell_id").alias("cell_id"))

    def _retrain(self, train, corpus, stored, centroids, old, meta,
                 id_col, vec_col):
        from astro_vectordb_spark.operators.pq import (
            PQModel,
            ivf_pq_encode_residual,
            ivf_pq_residual_frame,
        )

        assigned = corpus.join(stored, id_col)
        if not old.residual:
            model, codes = super()._retrain(train, corpus, stored, centroids,
                                            old, meta, id_col, vec_col)
            return model, assigned.select(id_col, "cell_id").join(codes, id_col)
        base = train(
            ivf_pq_residual_frame(assigned, centroids, meta["metric"],
                                  id_col=id_col, vec_col=vec_col),
            metric="dot",
        )
        model = PQModel(
            base.codebooks, metric=meta["metric"], dim=base.dim,
            residual=True, rotation=base.rotation, train_mse=base.train_mse,
        )
        return model, ivf_pq_encode_residual(
            assigned, model, centroids, id_col=id_col, vec_col=vec_col
        )

    def _codes_writer(self, fresh: DataFrame):
        return fresh.repartition("cell_id").write.mode("overwrite").partitionBy(
            "cell_id"
        )

    def _refresh_report(self, old) -> dict:
        return {"residual": bool(old.residual)}


class _BM25(_Kind):
    name = "bm25"
    lexical = True

    def append(self, spark, path, new_docs, batch_id: int | None = None,
               id_col: str = "doc_id", text_col: str = "text") -> dict:
        from astro_vectordb_spark.operators.keyword import bm25_append_stats

        return self._commit(
            spark, path, new_docs, batch_id, "append", "appended_docs",
            lambda ts, cs: bm25_append_stats(ts, cs, new_docs, id_col=id_col,
                                             text_col=text_col),
        )

    def remove(self, spark, path, removed_docs, batch_id: int | None = None,
               id_col: str = "doc_id", text_col: str = "text",
               strict: bool = True) -> dict:
        from astro_vectordb_spark.operators.keyword import bm25_remove_stats

        return self._commit(
            spark, path, removed_docs, batch_id, "remove", "removed_docs",
            lambda ts, cs: bm25_remove_stats(ts, cs, removed_docs,
                                             id_col=id_col, text_col=text_col,
                                             strict=strict),
        )

    def _commit(self, spark, path, docs, batch_id, op, count_key,
                merge_fn) -> dict:
        """Read the live tables (a legacy layout migrates on this
        commit), check the op-namespaced log, apply ``merge_fn`` and
        commit stats + log as ONE version: a single pointer swap, so a
        replayed ``(op, batch_id)`` is either fully applied or not."""
        from astro_vectordb_spark.sources.versioned import (
            commit_version_multi,
            current_version,
        )

        stats_path = os.path.join(path, "stats")
        tables = vault._read_bm25_tables(spark, path)
        if tables is None:
            raise FileNotFoundError(f"no committed BM25 index at {path}")
        log = tables.get("batches")
        if log is not None and "op" not in log.columns:
            # legacy log rows predate op-namespacing: null op = match-any
            log = log.withColumn("op", F.lit(None).cast("string"))
        if (
            batch_id is not None
            and log is not None
            and log.filter(
                (F.col("batch_id") == int(batch_id))
                & (F.col("op").isNull() | (F.col("op") == op))
            ).limit(1).count()
            > 0
        ):
            return {count_key: 0, "skipped_replay": True}
        ts, cs = tables["term_stats"], tables["corpus_stats"]
        n_docs = docs.count()
        if n_docs == 0 and batch_id is None:
            return {count_key: 0}
        mts, mcs = merge_fn(ts, cs) if n_docs else (ts, cs)
        schema = "batch_id long, op string"
        if log is None:
            log = local_frame(spark, [], schema)
        if batch_id is not None:
            log = log.unionByName(
                local_frame(spark, [(int(batch_id), op)], schema)
            )
        # materialize BEFORE the swap: the merge plans read the live
        # version the commit is about to garbage-collect
        mats = [t.cache() for t in (mts, mcs, log)]
        for t in mats:
            t.count()
        try:
            v = int((current_version(stats_path) or "v0")[1:]) + 1
            commit_version_multi(
                {"term_stats": mats[0], "corpus_stats": mats[1],
                 "batches": mats[2]},
                stats_path, v,
            )
        finally:
            for t in mats:
                t.unpersist()
        return {count_key: n_docs}


KINDS = {k.name: k for k in (_IVF(), _HNSW(), _PQ(), _IVFPQ(), _BM25())}


class MaintainedIndex:
    """A maintenance handle over one persisted retrieval index.
    Attributes: ``kind`` (one of ``ivf | hnsw | pq | ivf_pq | bm25``),
    ``path``.

    Contract shared by every write: maintenance is single-writer per
    index.  Replay-logged writes (the PQ kinds' appends, every vector
    remove, BM25 both ways) take ``batch_id``: the index's ``_batches``
    log is namespaced by op (``pq_append``, ``ivf_pq_append``,
    ``pq_remove`` for both PQ kinds, ``ivf_remove``, ``hnsw_remove``;
    BM25 ``append``/``remove`` in a log committed with its statistics),
    so a redelivered batch is a no-op (``skipped_replay``) and an ingest
    and a remove stream never mask each other's batch numbers.  Every
    rewrite of a live directory (cell stats, ``_meta``, a codes table,
    codebooks) goes through the staged swap that a crash cannot leave
    missing (``vault._replace_dir``; the next op repairs an interrupted
    one), and row deletes are write-then-delete."""

    def __init__(self, spark: SparkSession, path: str, kind: str) -> None:
        self.spark = spark
        self.path = path
        self.kind = kind
        self._kind = KINDS[kind]

    # -- lifecycle -------------------------------------------------------
    def append(self, new_rows: DataFrame, **kw):
        """Incremental insert that rewrites only what the batch touches.

        - ivf (``spill=1``): rows are assigned under the stored
          centroids and their files APPEND into the touched cell
          partitions; the cell radius stats merge the batch's radii (a
          stale radius would prune true hits).  Centroids stay frozen —
          ``rebuild_index`` when they drift.  No replay log.  Returns
          None.
        - hnsw (``seed=42``, ``on_conflict="skip"``): the reference's
          ``addPoint`` at storage level — only the shards receiving
          rows are rewritten (dynamic partition overwrite);
          ``on_conflict="update"`` replaces a stored id's vector in
          place (``updatePoint``; see ``hnsw_insert_shards``).  Returns
          the touched shard ids.
        - pq / ivf_pq (``batch_id=None``, ``dedup_ids=True``): rows
          encode under the stored codebooks (ivf_pq: after cell
          assignment) and APPEND to the codes table; ``dedup_ids``
          skips stored ids and collapses intra-batch duplicates by a
          deterministic pick.  Returns ``{appended_rows, batch_mse,
          skipped_replay}`` plus ``m``/``ks`` (pq) or ``touched_cells``
          (ivf_pq).  ``batch_mse`` is the batch's quantization error
          (residual space on a residual IVF-PQ index): far above the
          codebooks' ``train_mse`` means the data drifted off them —
          search stays correct (stage 2 re-ranks exactly), stage-1
          ordering degrades, and :meth:`refresh` restores it.
        - bm25 (``batch_id=None``, ``id_col="doc_id"``,
          ``text_col="text"``): the batch's term/corpus statistics merge
          (additive, exact integers) and commit as a new version with
          the log entry — vocabulary-sized, never corpus-sized.
          Returns ``{appended_docs[, skipped_replay]}``.

        Every vector append moves ``n_rows`` by the distinct ids
        added."""
        return self._kind.append(self.spark, self.path, new_rows, **kw)

    def remove(self, ids_or_docs, **kw) -> dict:
        """Physical delete, replay-logged (``batch_id=None``).  Vector
        kinds take an id collection or a ``vec_id`` frame; BM25 the
        removed documents' ORIGINAL ``(id, text)`` rows (statistics
        store no postings).

        - ivf / pq / ivf_pq: touched-files-only — the hidden
          ``_metadata.file_path`` column finds the files holding the
          ids, their survivors are appended as fresh files, then the
          old files are deleted (a crash in between leaves duplicate
          survivors, never lost rows; serving dedups candidates and
          :meth:`compact` repairs).  ivf recomputes the touched cells'
          radius stats.  Returns ``{removed_rows, touched_files}``
          (+ ``touched_cells`` for ivf).
        - hnsw (``seed=42``, ``mode="auto"``, ``sweep_max_frac=0.2``,
          ``max_sweep_ids=100_000``, ``min_degree_frac=0.5``,
          ``auto_repair=False``): per touched shard, a **sweep**
          unlinks the ids and re-emits survivors (cheap; wiring erodes
          a little each time) or a **rebuild** reconstructs the shard
          from its survivors at full quality.  ``auto`` sweeps shards
          losing at most ``sweep_max_frac`` of their rows;
          ``sweep``/``rebuild`` force one; an id set above
          ``max_sweep_ids`` forces rebuild.  Emptied shards lose their
          directory.  The report's ``health`` block gives each touched
          shard's mean live level-0 degree and a ``needs_repair``
          verdict (mean below ``min_degree_frac * m``, the rule
          :meth:`rebalance` repairs by); ``auto_repair=True`` runs that
          rebalance at once.  Returns ``{removed_rows, touched_shards,
          swept_shards, rebuilt_shards, emptied_shards, health,
          needs_repair, repaired}``.
        - bm25 (``id_col="doc_id"``, ``text_col="text"``,
          ``strict=True``): exact statistic decrements
          (remove-then-query == rebuild-on-survivors); ``strict`` fails
          the commit if a document frequency would go negative.
          Returns ``{removed_docs[, skipped_replay]}``.

        Vector removes drop ``n_rows`` by the distinct ids removed."""
        return self._kind.remove(self.spark, self.path, ids_or_docs, **kw)

    def compact(self, **kw) -> dict:
        """Codes-table compaction (PQ kinds; ``target_rows_per_file=
        4_000_000``, ``min_file_ratio=2.0``): a no-op while the file
        count is at most ``min_file_ratio`` x the ideal (rows /
        ``target_rows_per_file``); otherwise the table rewrites to the
        ideal count (per cell for ivf_pq) through the staged swap,
        dropping duplicate ids.  Returns ``{compacted, files |
        files_before, rows[, target_files]}``.  HNSW compacts via
        :meth:`rebalance`."""
        return self._kind.compact(self.spark, self.path, **kw)

    def rebalance(self, **kw) -> dict:
        """HNSW shard repair (``target_rows_per_shard=250_000``,
        ``skew_threshold=2.0``, ``seed=42``, ``min_degree_frac=None``):
        a shard above ``skew_threshold * target_rows_per_shard`` rows
        splits into ceil(n / target) shards rebuilt from its vectors
        (the first keeps its id, the rest get fresh ids); with
        ``min_degree_frac``, a shard whose mean level-0 degree fell
        below ``min_degree_frac * m`` rebuilds in place (shards of at
        most m rows are exempt).  Other shards keep their files.
        Returns ``{old shard: [new shard ids]}`` (empty: nothing to
        do)."""
        return self._kind.rebalance(self.spark, self.path, **kw)

    def health(self, **kw) -> dict:
        """HNSW operational report — what decides WHEN to
        :meth:`rebalance`: per-shard rows, mean level-0 degree and max
        level, plus ``m``, ``metric``, ``quantized``,
        ``clustered_safe`` and on-disk graph bytes.  Cost: the memoized
        index load and one aggregation over the graph."""
        return self._kind.health(self.spark, self.path, **kw)

    def refresh(self, vectors: DataFrame, **kw) -> dict:
        """Codebook retrain in place (PQ kinds; ``id_col="vec_id"``,
        ``vec_col="embedding"``, ``max_rows=50_000``, ``seed=42``,
        ``opq_iters=None``) — the answer to the append report's
        ``batch_mse`` drift: refit on a bounded sample of ``vectors``
        (which must cover every stored id; checked), re-encode the
        codes table and swap it in, then swap the codebooks.  ivf_pq
        keeps the centroids and every row's cell (fits on residuals
        when the model is residual).  ``opq_iters=None`` keeps the
        model's family (OPQ models refresh with 8 alternations);
        ``m``/``ks``/``metric`` never change.  The float vectors and
        the replay log are untouched.  A crash between the two swaps
        mismatches codes and codebooks until a re-run (deterministic)
        heals it.  Returns ``{reencoded_rows, train_mse_before,
        train_mse_after, rotation}`` (+ ``residual`` for ivf_pq)."""
        return self._kind.refresh(self.spark, self.path, vectors, **kw)

    def gc(self, **kw) -> dict:
        """Compact the ``_batches`` replay log (vault.gc,
        lease-guarded).  BM25 versions its log inside the stats
        commit, so its gc is a no-op here."""
        return vault.gc(self.spark, self.path, **kw)

    # -- streaming -------------------------------------------------------
    def stream_ingest(
        self,
        stream_df: DataFrame,
        checkpoint: str | None = None,
        query_name: str | None = None,
        seed: int = 42,
    ):
        """Start a Structured-Streaming ingest into this index: each
        micro-batch runs :meth:`append` through the shared
        ``streaming.upsert.run_stream`` runner.  Returns the
        StreamingQuery.

        foreachBatch is at-least-once, so a kind streams only if a
        redelivered micro-batch is a no-op: pq / ivf_pq / bm25 append
        with ``batch_id`` (the replay log), HNSW with its default
        ``on_conflict="skip"`` (stored ids win) and the level-draw
        ``seed`` offset by ``batch_id`` so batches don't correlate.
        IVF's append has no replay log — a redelivered batch would
        insert twice — so IVF raises; drive :meth:`append` from your
        own foreachBatch if duplicates are acceptable."""
        from astro_vectordb_spark.streaming.upsert import run_stream

        kind = self._kind
        if seed != 42 and not kind.seeded:
            raise ValueError(f"seed is an HNSW option, not {self.kind}")
        if kind.ingest_query is None:
            raise ValueError(
                f"the {self.kind} kind has no streaming-ingest face (its "
                "append keeps no replay log, so a redelivered micro-batch "
                "would insert twice); drive append() from your own "
                "foreachBatch"
            )
        if kind.seeded:
            def apply(b, bid):
                return {"touched_shards": self.append(b, seed=seed + bid)}
        else:
            def apply(b, bid):
                return self.append(b, batch_id=bid)
        return run_stream(stream_df, apply, query_name or kind.ingest_query,
                          checkpoint=checkpoint)

    def stream_remove(
        self,
        stream_df: DataFrame,
        checkpoint: str | None = None,
        query_name: str | None = None,
        compact_every: int | None = None,
        mode: str = "auto",
        min_degree_frac: float = 0.5,
        auto_repair: bool = False,
        repair_every: int | None = None,
        health_threshold: float | None = None,
    ):
        """Start a streaming DELETE into this index: each micro-batch
        runs :meth:`remove` with its ``batch_id`` (the op-namespaced
        replay log makes redelivery a no-op and lets an ingest stream
        share the index).  Vector kinds read the batch's ``vec_id``
        column; BM25 takes the removed ``(doc_id, text)`` rows — the
        statistics need the ORIGINAL text.  Returns the StreamingQuery.

        Maintenance rides the stream (after every Nth applied batch):

        * PQ kinds, ``compact_every=N``: :meth:`compact` — each remove
          rewrites its touched files into fresh ones, so delete
          traffic grows the file count without bound;
        * HNSW, ``repair_every=N``: a full-index :meth:`rebalance`
          rebuilding every shard whose mean live level-0 degree fell
          below ``health_threshold * m`` (default
          ``min_degree_frac``) — catches erosion that accrues below
          the per-batch ``auto_repair`` check (which only examines the
          touched shards) across many batches.  ``mode``,
          ``min_degree_frac`` and ``auto_repair`` pass to each remove
          (see :meth:`remove`)."""
        from astro_vectordb_spark.streaming.upsert import run_stream

        kind = self._kind
        if compact_every is not None and not kind.compacts:
            raise ValueError(
                f"compact_every is a PQ-kind option, not {self.kind}"
            )
        hnsw_opts = (mode, min_degree_frac, auto_repair, repair_every,
                     health_threshold)
        if not kind.seeded and hnsw_opts != ("auto", 0.5, False, None, None):
            raise ValueError(
                "mode/min_degree_frac/auto_repair/repair_every/"
                f"health_threshold are HNSW options, not {self.kind}"
            )
        every, maintain, kw = None, None, {}
        if kind.seeded:
            kw = {"mode": mode, "min_degree_frac": min_degree_frac,
                  "auto_repair": auto_repair}
            floor = (min_degree_frac if health_threshold is None
                     else health_threshold)
            every = repair_every
            maintain = lambda: self.rebalance(  # noqa: E731
                min_degree_frac=float(floor)
            )
        elif compact_every:
            every, maintain = compact_every, self.compact

        def apply(b, bid):
            ids = b if kind.lexical else b.select("vec_id")
            return self.remove(ids, batch_id=bid, **kw)

        return run_stream(stream_df, apply, query_name or kind.remove_query,
                          checkpoint=checkpoint, every=every, maintain=maintain)

    # -- serving ---------------------------------------------------------
    def search(self, query, k: int = 10, *, docs: DataFrame | None = None,
               **kw) -> DataFrame:
        """Serve one query through this index.  Vector kinds route to
        the kind-detecting ``search.search`` (a string query embeds
        first via ``search.search_text``).  A BM25 index serves the
        query's terms against its persisted statistics
        (``bm25_topk_indexed``) — pass ``docs=`` (the corpus frame;
        the index stores vocabulary-sized statistics, never the
        text)."""
        from astro_vectordb_spark import search as s

        if self._kind.lexical:
            if docs is None:
                raise ValueError(
                    "bm25 search needs docs= (the corpus frame; the "
                    "index persists statistics only)"
                )
            from astro_vectordb_spark.operators.keyword import (
                bm25_topk_indexed,
            )

            ts, cs = vault.load_bm25_index(self.spark, self.path)
            terms = (
                s._query_tokens(query) if isinstance(query, str)
                else [str(t) for t in query]
            )
            return bm25_topk_indexed(docs, ts, cs, terms, k, **kw)
        if isinstance(query, str):
            return s.search_text(self.spark, self.path, query, k, **kw)
        return s.search(self.spark, self.path, query, k, **kw)

    def search_batch(self, queries: DataFrame, k: int = 10,
                     **kw) -> DataFrame:
        """Serve a query batch: a frame with a string ``query_text``
        column routes to ``search.search_text_batch``; a vector
        ``query_vec`` frame routes to ``search.search_batch``."""
        from pyspark.sql.types import StringType

        from astro_vectordb_spark import search as s

        text = any(
            f.name == "query_text" and isinstance(f.dataType, StringType)
            for f in queries.schema.fields
        )
        if text:
            return s.search_text_batch(self.spark, self.path, queries, k,
                                       **kw)
        return s.search_batch(self.spark, self.path, queries, k, **kw)

    def __repr__(self) -> str:  # pragma: no cover - debug sugar
        return f"MaintainedIndex(kind={self.kind!r}, path={self.path!r})"


def open(spark: SparkSession, path: str) -> MaintainedIndex:  # noqa: A001
    """Open a persisted retrieval index of ANY kind: detects ``ivf |
    hnsw | pq | ivf_pq | bm25`` from the on-disk layout and returns a
    :class:`MaintainedIndex` whose methods call that kind's object."""
    return MaintainedIndex(spark, path, _detect_kind(spark, path))
