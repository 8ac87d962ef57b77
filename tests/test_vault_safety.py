"""Round-9 crash-safety + replay-log fixes (ADVICE r8).

- The ``_batches`` replay-dedup log is NAMESPACED per operation: an
  ingest stream and a remove stream sharing one index each number their
  micro-batches from 0, so batch_id alone collides — the remove's batch
  N was silently skipped because the INGEST had recorded N (dropping a
  GDPR erasure), and the reverse masked appends.
- PQ ``compact()`` / the IVF ``cell_stats`` merges replace live
  directories via a staged write + two renames (``_replace_dir``)
  instead of an in-place ``mode('overwrite')`` that clears files before
  the new write commits.
- the HNSW ``remove()`` sweep path force-rebuilds when the
  remove-id set exceeds a closure-safe size instead of collecting it
  unbounded to the driver.
- ``load_bm25_index`` falls back to the legacy (pre-multi-commit)
  ``term_stats/`` + ``corpus_stats/`` layout; the first append migrates.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from astro_vectordb_spark import index

N, DIM = 400, 16


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.RandomState(9)
    pts = rng.normal(size=(N, DIM)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(N)],
        "vec_id long, embedding array<float>",
    ).cache()
    df.count()
    yield df
    df.unpersist()


def _mk_pq(spark, vecs, path: str):
    from astro_vectordb_spark.operators.pq import pq_encode, pq_train
    from astro_vectordb_spark.sources.vault import save_pq_index

    model = pq_train(vecs, m=4, ks=16, metric="cosine", max_rows=N, seed=3)
    save_pq_index(pq_encode(vecs, model), model, path)
    return model


class TestReplayLogNamespacing:
    def test_remove_not_masked_by_append_batch_id(self, spark, vecs, tmp_path):
        """The r8 bug: ingest records batch 0, remove's batch 0 was then
        skipped as a replay and the deletion silently dropped."""

        path = str(tmp_path / "pq")
        _mk_pq(spark, vecs.filter(F.col("vec_id") < 300), path)
        extra = vecs.filter(F.col("vec_id") >= 300)
        rep_a = index.open(spark, path).append(extra, batch_id=0)
        assert rep_a["appended_rows"] == 100

        rep_r = index.open(spark, path).remove(
            list(range(0, 20)), batch_id=0
        )
        assert not rep_r.get("skipped_replay", False)
        assert rep_r["removed_rows"] == 20
        live = spark.read.parquet(os.path.join(path, "codes"))
        assert live.filter(F.col("vec_id") < 20).count() == 0

        # replays of each op under its OWN namespace stay no-ops
        assert index.open(spark, path).remove(
            list(range(0, 20)), batch_id=0
        )["skipped_replay"]
        assert index.open(spark, path).append(extra, batch_id=0)[
            "skipped_replay"
        ]

    def test_legacy_unnamespaced_rows_grandfathered(self, spark, tmp_path):
        """Rows written before the op column existed (batch_id-only
        schema) keep their historical match-any-op behavior."""
        from astro_vectordb_spark.sources.vault import (
            _batch_already_committed,
            _record_batch,
        )

        path = str(tmp_path / "idx")
        os.makedirs(path)
        spark.createDataFrame([(7,)], "batch_id long").write.mode(
            "append"
        ).parquet(os.path.join(path, "_batches"))
        assert _batch_already_committed(spark, path, 7, op="pq_remove")
        assert _batch_already_committed(spark, path, 7, op="pq_append")
        assert not _batch_already_committed(spark, path, 8, op="pq_remove")
        # a new namespaced row coexists with the legacy file (mergeSchema)
        _record_batch(spark, path, 8, op="pq_remove")
        assert _batch_already_committed(spark, path, 8, op="pq_remove")
        assert not _batch_already_committed(spark, path, 8, op="pq_append")


class TestReplaceDirSwap:
    def test_swap_replaces_and_cleans(self, spark, tmp_path):
        from astro_vectordb_spark.sources.vault import _replace_dir

        path = str(tmp_path / "t")
        spark.createDataFrame([(1,)], "x long").write.parquet(path)

        def _write(staging):
            spark.createDataFrame([(2,)], "x long").write.mode(
                "overwrite"
            ).parquet(staging)

        _replace_dir(spark, _write, path)
        assert [r.x for r in spark.read.parquet(path).collect()] == [2]
        assert not os.path.exists(path + ".__swap_new")
        assert not os.path.exists(path + ".__swap_old")

    def test_recover_rolls_back_mid_swap_crash(self, spark, tmp_path):
        """Crash between the two renames: live dir missing, retired
        original present, staging present — recovery restores the
        original and drops the staging leftovers."""
        from astro_vectordb_spark.sources.vault import _recover_swap

        path = str(tmp_path / "t2")
        spark.createDataFrame([(1,)], "x long").write.parquet(path)
        os.rename(path, path + ".__swap_old")
        spark.createDataFrame([(2,)], "x long").write.parquet(
            path + ".__swap_new"
        )
        _recover_swap(spark, path)
        assert [r.x for r in spark.read.parquet(path).collect()] == [1]
        assert not os.path.exists(path + ".__swap_new")
        assert not os.path.exists(path + ".__swap_old")

    def test_loaders_read_through_crashed_swap(self, spark, vecs, tmp_path):
        """A reader between the crash and the next maintenance op sees
        the retired original (read-only fallback)."""
        from astro_vectordb_spark.sources.vault import load_pq_index

        path = str(tmp_path / "pq3")
        _mk_pq(spark, vecs, path)
        codes = os.path.join(path, "codes")
        os.rename(codes, codes + ".__swap_old")
        encoded, _, _ = load_pq_index(spark, path)
        assert encoded.count() == N

    def test_compact_recovers_then_compacts(self, spark, vecs, tmp_path):
        path = str(tmp_path / "pq4")
        _mk_pq(spark, vecs.filter(F.col("vec_id") < 200), path)
        for i in range(4):  # fragment the codes table
            index.open(spark, path).append(
                vecs.filter(F.col("vec_id") % 4 == i).filter(
                    F.col("vec_id") >= 200
                ),
            )
        codes = os.path.join(path, "codes")
        os.rename(codes, codes + ".__swap_old")  # simulated crash state
        rep = index.open(spark, path).compact(target_rows_per_file=10_000)
        assert rep["compacted"]
        live = spark.read.parquet(codes)
        assert live.count() == N
        assert live.select("vec_id").distinct().count() == N


class TestMetaCrashSafety:
    """Round-11 ADVICE: the one-row ``_meta`` rewrite goes through the
    crash-safe staged swap, and append deltas count DISTINCT ids."""

    def test_meta_readable_through_crashed_swap_and_repaired(
        self, spark, vecs, tmp_path
    ):
        """A crash between _update_meta_n_rows' two renames used to
        leave _meta missing, making every subsequent load fail.  Now:
        readers fall back to the retired copy; the next meta-writing op
        repairs the live path."""
        from astro_vectordb_spark.sources.vault import load_pq_index

        path = str(tmp_path / "pqm")
        _mk_pq(spark, vecs, path)
        mp = os.path.join(path, "_meta")
        os.rename(mp, mp + ".__swap_old")  # simulated mid-swap crash
        _, _, meta = load_pq_index(spark, path)  # still loadable
        assert int(meta["n_rows"]) == N
        rep = index.open(spark, path).remove([0, 1], batch_id=0)
        assert rep["removed_rows"] == 2
        assert os.path.exists(mp)  # live path repaired by the update
        assert not os.path.exists(mp + ".__swap_old")
        _, _, meta = load_pq_index(spark, path)
        assert int(meta["n_rows"]) == N - 2

    def test_meta_update_is_staged_not_in_place(self, spark, vecs, tmp_path):
        """The rewrite must never clear the live _meta before the new
        copy commits: poison the staged write and check the original
        row survives intact."""
        import astro_vectordb_spark.sources.vault as vault

        path = str(tmp_path / "pqs")
        _mk_pq(spark, vecs, path)
        mp = os.path.join(path, "_meta")

        orig = vault._replace_dir

        def _boom(spark_, write_fn, p):
            if p == mp:
                raise RuntimeError("injected staging failure")
            return orig(spark_, write_fn, p)

        vault._replace_dir, real = _boom, vault._replace_dir
        try:
            with pytest.raises(RuntimeError, match="injected"):
                vault._update_meta_n_rows(spark, path, delta=-5)
        finally:
            vault._replace_dir = real
        _, _, meta = vault.load_pq_index(spark, path)
        assert int(meta["n_rows"]) == N  # untouched by the failed update

    def test_intra_batch_duplicate_ids_do_not_inflate_counter(
        self, spark, vecs, tmp_path
    ):
        """pq_append fed a batch carrying each id twice: the duplicate
        rows collapse before encoding, so neither the codes table nor
        the DISTINCT-id n_rows counter inflates."""
        from astro_vectordb_spark.sources.vault import load_pq_index

        path = str(tmp_path / "pqd")
        _mk_pq(spark, vecs.filter(F.col("vec_id") < 300), path)
        extra = vecs.filter(F.col("vec_id") >= 300)
        doubled = extra.unionAll(extra)
        rep = index.open(spark, path).append(doubled, batch_id=7)
        assert rep["appended_rows"] == 100
        encoded, _, meta = load_pq_index(spark, path)
        assert int(meta["n_rows"]) == N
        assert encoded.count() == N  # no duplicate code rows landed
        assert encoded.select("vec_id").distinct().count() == N

    def test_ivf_pq_intra_batch_duplicates_collapse(
        self, spark, vecs, tmp_path
    ):
        from astro_vectordb_spark.operators.pq import ivf_pq_build
        from astro_vectordb_spark.sources.vault import (
            load_ivf_pq_index,
            save_ivf_pq_index,
        )

        path = str(tmp_path / "ivfpqd")
        encoded, centroids, model = ivf_pq_build(
            vecs.filter(F.col("vec_id") < 300),
            k_cells=4, m=4, ks=16, metric="cosine", seed=3,
        )
        save_ivf_pq_index(encoded, centroids, model, path)
        extra = vecs.filter(F.col("vec_id") >= 300)
        rep = index.open(spark, path).append(
            extra.unionAll(extra), batch_id=1
        )
        assert rep["appended_rows"] == 100
        codes, _, _, meta = load_ivf_pq_index(spark, path)
        assert int(meta["n_rows"]) == N
        assert codes.select("vec_id").distinct().count() == N
        assert codes.count() == N


class TestHnswSweepGuard:
    def test_oversized_id_set_forces_rebuild(self, spark, vecs, tmp_path):
        from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
        from astro_vectordb_spark.sources.vault import save_hnsw_index

        path = str(tmp_path / "hnsw")
        graph = hnsw_build_shards(vecs, num_shards=2, m=8, seed=4)
        save_hnsw_index(graph, path, m=8, metric="cosine")
        rep = index.open(spark, path).remove(
            [1, 2, 3], mode="sweep", max_sweep_ids=2
        )
        assert rep["swept_shards"] == []
        assert rep["rebuilt_shards"]
        assert rep["removed_rows"] == 3
        live = spark.read.parquet(os.path.join(path, "graph"))
        assert live.filter(F.col("vec_id").isin([1, 2, 3])).count() == 0


class TestHnswChurnHealth:
    """Verdict r8 item 2: edge-sweep removes erode wiring with no
    measurement — every remove now reports per-shard health (mean live
    level-0 degree, under-wired fraction, needs_repair) and can trigger
    the rebalance repair automatically."""

    @pytest.fixture(scope="class")
    def churned(self, spark, tmp_path_factory):
        from astro_vectordb_spark.operators.hnsw import (
            hnsw_build_shards,
            hnsw_shard_health,
        )
        from astro_vectordb_spark.sources.vault import (
            load_hnsw_index,
            save_hnsw_index,
        )

        rng = np.random.RandomState(31)
        C = rng.normal(size=(6, DIM))
        C /= np.linalg.norm(C, axis=1, keepdims=True)
        pts = (C[np.arange(600) % 6] + 0.05 * rng.normal(size=(600, DIM))
               ).astype(np.float32)
        df = spark.createDataFrame(
            [(i, [float(x) for x in pts[i]]) for i in range(600)],
            "vec_id long, embedding array<float>",
        ).cache()
        df.count()
        path = str(tmp_path_factory.mktemp("hnsw_churn") / "idx")
        graph = hnsw_build_shards(df, num_shards=2, m=8, seed=7)
        save_hnsw_index(graph, path, m=8, metric="cosine")

        fresh_graph, _ = load_hnsw_index(spark, path)
        fresh = {
            r["shard_id"]: r["mean_degree"]
            for r in hnsw_shard_health(fresh_graph, m=8).collect()
        }
        # churn: every row removed by a sweep and re-appended once —
        # each cycle loses the removed nodes' pruned incoming edges
        last_rep = None
        for kmod in range(5):
            batch = df.filter(F.col("vec_id") % 5 == kmod)
            ids = [r["vec_id"] for r in batch.select("vec_id").collect()]
            last_rep = index.open(spark, path).remove(ids, mode="sweep")
            index.open(spark, path).append(batch, seed=100 + kmod)
        return df, pts, path, fresh, last_rep

    def test_health_reported_and_degrades(self, spark, churned):
        _, _, _, fresh, last_rep = churned
        assert last_rep["health"], "remove report must carry health rows"
        for h in last_rep["health"]:
            assert {"shard_id", "n_rows", "mean_degree", "frac_below",
                    "needs_repair"} <= set(h)
            assert h["mean_degree"] < fresh[h["shard_id"]], (
                "five sweep-remove cycles must erode mean live degree"
            )

    def test_threshold_flags_and_rebalance_restores(self, spark, churned):
        from astro_vectordb_spark.operators.hnsw import (
            hnsw_query_shards,
            hnsw_shard_health,
        )
        from astro_vectordb_spark.operators.topk import topk_search
        from astro_vectordb_spark.sources.vault import load_hnsw_index

        df, pts, path, fresh, _ = churned
        graph, meta = load_hnsw_index(spark, path)
        eroded = {
            r["shard_id"]: r["mean_degree"]
            for r in hnsw_shard_health(graph, m=8).collect()
        }
        # a threshold between the churned and fresh mean degrees flags
        # every churned shard and passes every fresh one
        mid = (max(eroded.values()) + min(fresh.values())) / 2
        frac = mid / meta["m"]
        flagged = hnsw_shard_health(graph, m=8, min_degree_frac=frac)
        assert all(r["needs_repair"] for r in flagged.collect())

        repaired = index.open(spark, path).rebalance(min_degree_frac=frac)
        assert repaired, "degraded shards must be rebuilt"
        graph2, meta2 = load_hnsw_index(spark, path)
        healed = hnsw_shard_health(graph2, m=8, min_degree_frac=frac)
        assert not any(r["needs_repair"] for r in healed.collect())

        # recall restored: full top-10 at a moderate beam after repair
        qv = [float(x) for x in pts[3]]
        exact = {
            r["vec_id"]
            for r in topk_search(df, qv, 10, strength=0).collect()
        }
        queries = spark.createDataFrame(
            [(0, qv)], "query_id long, query_vec array<float>"
        )
        got = {
            r["vec_id"]
            for r in hnsw_query_shards(
                graph2, queries, k=10, m=meta2["m"], metric=meta2["metric"],
                ef_search=100,
            ).collect()
        }
        assert len(got & exact) >= 9

    def test_auto_repair_triggers_rebalance(self, spark, tmp_path):
        from astro_vectordb_spark.operators.hnsw import hnsw_build_shards
        from astro_vectordb_spark.sources.vault import save_hnsw_index

        rng = np.random.RandomState(5)
        pts = rng.normal(size=(200, DIM)).astype(np.float32)
        df = spark.createDataFrame(
            [(i, [float(x) for x in pts[i]]) for i in range(200)],
            "vec_id long, embedding array<float>",
        )
        path = str(tmp_path / "idx")
        graph = hnsw_build_shards(df, num_shards=1, m=8, seed=7)
        save_hnsw_index(graph, path, m=8, metric="cosine")
        # min_degree_frac=1.0: any realistic shard is "degraded", so the
        # trigger mechanics are observable without deep churn
        rep = index.open(spark, path).remove(
            [0, 1], mode="sweep",
            min_degree_frac=1.0, auto_repair=True,
        )
        assert rep["needs_repair"]
        assert rep["repaired"], "auto_repair must run the rebalance"


class TestBm25LegacyLayout:
    def _legacy_index(self, spark, docs, path: str):
        """Persist BM25 stats under the PRE-r8 layout: separate
        versioned term_stats/ + corpus_stats/ tables."""
        from astro_vectordb_spark.operators.keyword import bm25_term_stats
        from astro_vectordb_spark.sources.versioned import commit_version

        ts, cs = bm25_term_stats(docs)
        commit_version(ts, os.path.join(path, "term_stats"), 0)
        commit_version(cs, os.path.join(path, "corpus_stats"), 0)
        return ts, cs

    def test_legacy_loads_and_first_append_migrates(self, spark, tmp_path):
        from astro_vectordb_spark.sources.vault import load_bm25_index

        docs = spark.createDataFrame(
            [(i, f"alpha beta doc {i}") for i in range(20)],
            "doc_id long, text string",
        )
        path = str(tmp_path / "bm25")
        self._legacy_index(spark, docs, path)

        ts, cs = load_bm25_index(spark, path)  # would raise before the fix
        n0 = cs.first()["n"]
        assert n0 == 20

        new = spark.createDataFrame(
            [(100 + i, f"gamma doc {i}") for i in range(5)],
            "doc_id long, text string",
        )
        rep = index.open(spark, path).append(new, batch_id=1)
        assert rep["appended_docs"] == 5
        ts2, cs2 = load_bm25_index(spark, path)
        assert cs2.first()["n"] == 25
        # migrated into the multi-table layout
        assert os.path.exists(os.path.join(path, "stats", "_CURRENT"))
        # replay of the migrating batch is a no-op
        assert index.open(spark, path).append(new, batch_id=1)[
            "skipped_replay"
        ]


class TestDeterministicDupPick:
    def test_duplicate_id_pick_is_order_independent(
        self, spark, vecs, tmp_path
    ):
        """A batch carrying one id twice with DIFFERENT embeddings must
        persist the same code regardless of row arrival order (the
        deterministic-replay contract; dropDuplicates kept an
        arbitrary row)."""
        from astro_vectordb_spark.sources.vault import load_pq_index

        e1 = [float(i) / 100 for i in range(DIM)]
        e2 = [float(DIM - i) / 100 for i in range(DIM)]
        codes = []
        for order in ([e1, e2], [e2, e1]):
            path = str(tmp_path / f"pq_{codes and 'b' or 'a'}")
            _mk_pq(spark, vecs.filter(F.col("vec_id") < 300), path)
            batch = spark.createDataFrame(
                [(9999, order[0]), (9999, order[1])],
                "vec_id long, embedding array<float>",
            ).repartition(2)
            index.open(spark, path).append(batch, batch_id=1)
            enc, _, _ = load_pq_index(spark, path)
            rows = enc.filter(F.col("vec_id") == 9999).collect()
            assert len(rows) == 1
            codes.append(list(rows[0]["pq_code"]))
        assert codes[0] == codes[1]
