"""Persisted embedding near-dup index (RP-LSH) — round-12 verdict
item 4: the minhash index's steady-state lifecycle (save -> match ->
append -> remove -> compact) for the embedding family.

Contract under test: a batch matched against the persisted index must
find exactly the pairs the one-shot rp_block_pairs face would find
between batch and history (same hash family, same buckets, same exact
cosine verify); appends bucket only the new rows; removes are
file-granular and replay-safe; compaction is drift-healing.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from astro_vectordb_spark.operators.dedup import rp_cell_table
from astro_vectordb_spark import neardup
from astro_vectordb_spark.sources.vault import load_rp_index, save_rp_index

DIM = 16
N = 400


def _vectors(seed=5, n=N, dim=DIM):
    rng = np.random.RandomState(seed)
    C = rng.randn(20, dim)
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    X = C[rng.randint(0, 20, n)] + 0.05 * rng.randn(n, dim)
    return X.astype(np.float64)


@pytest.fixture(scope="module")
def data(spark):
    X = _vectors()
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(N)],
        "vec_id long, embedding array<double>",
    ).cache()
    df.count()
    yield df, X
    df.unpersist()


@pytest.fixture()
def index(spark, data, tmp_path):
    df, _ = data
    path = str(tmp_path / "rp_idx")
    hist = df.filter(F.col("vec_id") < 300)
    save_rp_index(hist, path, n_planes=6, n_tables=8, seed=11)
    return path, hist


class TestSaveLoad:
    def test_layout_and_meta(self, spark, index):
        path, hist = index
        vecs, buckets, meta = load_rp_index(spark, path)
        assert vecs.count() == 300
        assert meta["n_planes"] == 6 and meta["n_tables"] == 8
        assert meta["n_rows"] == 300
        assert set(buckets.columns) == {"vec_id", "tbl", "cell"}
        # one bucket row per (id, table)
        assert buckets.count() == 300 * 8

    def test_buckets_match_fresh_projection(self, spark, index):
        path, hist = index
        _, buckets, meta = load_rp_index(spark, path)
        fresh = rp_cell_table(
            hist, n_planes=6, n_tables=8, seed=11, dim=DIM
        )
        stored = {(r["vec_id"], r["tbl"], r["cell"])
                  for r in buckets.collect()}
        want = {(r["vec_id"], r["tbl"], r["cell"])
                for r in fresh.collect()}
        assert stored == want


class TestMatch:
    def test_planted_copy_matches_at_one(self, spark, data, index):
        df, X = data
        path, _ = index
        # batch = copies of historical vectors under new ids
        batch = df.filter(F.col("vec_id") < 5).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
        got = neardup.open(spark, path).match(batch, threshold=0.99)
        pairs = {(r["new_id"], r["hist_id"], r["score"])
                 for r in got.collect()}
        for i in range(5):
            assert (100000 + i, i, 1.0) in pairs

    def test_matches_oneshot_face_between_slices(self, spark, data, index):
        from astro_vectordb_spark.operators.dedup import rp_block_pairs

        df, _ = data
        path, hist = index
        batch = df.filter(F.col("vec_id") >= 300)
        got = {
            (r["new_id"], r["hist_id"], r["score"])
            for r in neardup.open(spark, path).match(
                batch, threshold=0.95,
            ).collect()
        }
        # one-shot face over the union, restricted to cross pairs,
        # same family parameters
        allp = rp_block_pairs(
            df, threshold=0.95, n_planes=6, n_tables=8, seed=11,
            max_bucket_size=None,
        )
        want = {
            (max(r["a_id"], r["b_id"]), min(r["a_id"], r["b_id"]),
             r["score"])
            for r in allp.collect()
            if (r["a_id"] >= 300) != (r["b_id"] >= 300)
        }
        assert got == want

    def test_telemetry_and_cap(self, spark, data, index, tmp_path):
        df, X = data
        path2 = str(tmp_path / "rp_hot")
        # plant a hot cluster: 60 exact copies of vector 0
        hot = df.filter(F.col("vec_id") == 0).select("embedding")
        copies = (
            spark.range(60)
            .crossJoin(F.broadcast(hot))
            .select((F.col("id") + 1000).alias("vec_id"), "embedding")
        )
        save_rp_index(
            df.filter(F.col("vec_id") < 50).unionByName(copies),
            path2, n_planes=6, n_tables=8, seed=11,
        )
        batch = df.filter(F.col("vec_id") == 0).select(
            (F.col("vec_id") + 99999).alias("vec_id"), "embedding"
        )
        tel: dict = {}
        full = neardup.open(spark, path2).match(
            batch, threshold=0.99, telemetry=tel,
        )
        n_full = full.count()
        assert tel["max_bucket_witnesses"] >= 60
        capped = neardup.open(spark, path2).match(
            batch, threshold=0.99, max_bucket_size=10,
        )
        n_capped = capped.count()
        assert 0 < n_capped < n_full


class TestAppend:
    def test_append_then_match(self, spark, data, index):
        df, _ = data
        path, _ = index
        newbies = df.filter(
            (F.col("vec_id") >= 300) & (F.col("vec_id") < 350)
        )
        rep = neardup.open(spark, path).append(newbies, batch_id=1)
        assert rep["appended_rows"] == 50
        assert rep["skipped_replay"] is False
        _, _, meta = load_rp_index(spark, path)
        assert meta["n_rows"] == 350
        # an appended row is now HISTORY: a copy of it must match
        probe = newbies.limit(1).select(
            (F.col("vec_id") + 500000).alias("vec_id"), "embedding"
        )
        got = neardup.open(spark, path).match(probe, threshold=0.99)
        assert got.count() >= 1

    def test_append_replay_noop(self, spark, data, index):
        df, _ = data
        path, _ = index
        newbies = df.filter(
            (F.col("vec_id") >= 300) & (F.col("vec_id") < 320)
        )
        neardup.open(spark, path).append(newbies, batch_id=7)
        rep = neardup.open(spark, path).append(newbies, batch_id=7)
        assert rep["skipped_replay"] is True
        _, _, meta = load_rp_index(spark, path)
        assert meta["n_rows"] == 320

    def test_append_dedups_known_ids(self, spark, data, index):
        df, _ = data
        path, _ = index
        rep = neardup.open(spark, path).append(
            df.filter(F.col("vec_id") < 10), batch_id=2,
        )
        assert rep["appended_rows"] == 0
        _, _, meta = load_rp_index(spark, path)
        assert meta["n_rows"] == 300

    def test_crash_repair(self, spark, data, index):
        import shutil

        df, _ = data
        path, _ = index
        # simulate a crash: vectors landed, buckets did not — write
        # vecs directly without buckets
        orphans = df.filter(
            (F.col("vec_id") >= 390) & (F.col("vec_id") < 395)
        )
        orphans.select("vec_id", "embedding").write.mode("append").parquet(
            f"{path}/vecs"
        )
        rep = neardup.open(spark, path).append(
            df.filter((F.col("vec_id") >= 380) & (F.col("vec_id") < 382)),
            batch_id=9,
        )
        assert rep["repaired_rows"] == 5
        assert rep["appended_rows"] == 2
        vecs, buckets, meta = load_rp_index(spark, path)
        assert (
            buckets.select("vec_id").distinct().count()
            == vecs.select("vec_id").distinct().count()
        )


class TestRemoveCompact:
    def test_remove_then_no_match(self, spark, data, index):
        df, _ = data
        path, _ = index
        rep = neardup.open(spark, path).remove([0, 1, 2], batch_id=3)
        assert rep["removed_rows"] == 3
        _, _, meta = load_rp_index(spark, path)
        assert meta["n_rows"] == 297
        probe = df.filter(F.col("vec_id") == 0).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
        got = neardup.open(spark, path).match(probe, threshold=0.999999)
        assert got.filter(F.col("hist_id").isin([0, 1, 2])).count() == 0

    def test_remove_replay_noop(self, spark, index):
        path, _ = index
        neardup.open(spark, path).remove([5], batch_id=4)
        rep = neardup.open(spark, path).remove([5], batch_id=4)
        assert rep["skipped_replay"] is True

    def test_compact_dedups_and_heals(self, spark, data, index):
        df, _ = data
        path, _ = index
        # many tiny appends -> file growth
        for b in range(5):
            neardup.open(spark, path).append(
                df.filter(F.col("vec_id") == 300 + b), batch_id=100 + b,
            )
        rep = neardup.open(spark, path).compact(
            target_rows_per_file=10_000, min_file_ratio=1.0,
        )
        assert rep["compacted"] is True
        vecs, buckets, meta = load_rp_index(spark, path)
        n = vecs.select("vec_id").distinct().count()
        assert vecs.count() == n  # no duplicate ids survive
        assert buckets.count() == n * 8
        assert meta["n_rows"] == n
        # matching still works post-compaction
        probe = df.filter(F.col("vec_id") == 300).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
        assert neardup.open(spark, path).match(
            probe, threshold=0.99,
        ).count() >= 1


class TestStreamingIngest:
    def test_stream_ingest_end_to_end(self, spark, data, index,
                                      parquet_stream):
        """Stream integration: streamed vectors become matchable in the
        persisted index (the per-batch semantics are pinned by
        test_neardup_facade.TestIngestBatch)."""
        df, X = data
        path, _ = index
        fixed = [float(x) for x in X[399]]
        stream = parquet_stream(
            "vec_id long, embedding array<double>",
            [(600_000 + i, fixed) for i in range(3)],
            [(600_003 + i, fixed) for i in range(3)],
        )
        q = neardup.open(spark, path).stream_ingest(
            stream, drop_dups=True, threshold=0.99
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        probe = spark.createDataFrame(
            [(950_000, fixed)], "vec_id long, embedding array<double>"
        )
        assert neardup.open(spark, path).match(
            probe, threshold=0.99,
        ).limit(1).count()


class TestGroupsApply:
    def test_groups_match_oneshot_dedup(self, spark, data, tmp_path):
        """The keep set from the index alone equals the one-shot
        rp_block_pairs -> CC -> min-id pipeline over the same corpus
        and family."""
        from astro_vectordb_spark.operators.dedup import (
            connected_components,
            rp_block_pairs,
        )
        from astro_vectordb_spark.sources.vault import save_rp_index

        df, _ = data
        # plant duplicate clusters: copies of vectors 0..4
        copies = df.filter(F.col("vec_id") < 5).select(
            (F.col("vec_id") + 5000).alias("vec_id"), "embedding"
        )
        corpus = df.filter(F.col("vec_id") < 100).unionByName(copies)
        path = str(tmp_path / "rp_grp")
        save_rp_index(corpus, path, n_planes=6, n_tables=8, seed=11)
        got = {
            r["vec_id"]
            for r in neardup.open(spark, path).groups(threshold=0.98).collect()
        }
        pairs = rp_block_pairs(
            corpus, threshold=0.98, n_planes=6, n_tables=8, seed=11,
            max_bucket_size=None,
        )
        comp = connected_components(pairs)
        keep = {
            r["id"]
            for r in comp.filter(
                F.col("id") == F.col("component")
            ).collect()
        }
        in_comp = {r["id"] for r in comp.collect()}
        singles = {
            r["vec_id"] for r in corpus.select("vec_id").collect()
        } - in_comp
        assert got == keep | singles
        # every planted copy lost to its original
        for i in range(5):
            assert 5000 + i not in got and i in got

    def test_apply_sweep_fixpoint(self, spark, data, tmp_path):
        from astro_vectordb_spark.sources.vault import (
            load_rp_index,
            save_rp_index,
        )

        df, _ = data
        copies = df.filter(F.col("vec_id") < 8).select(
            (F.col("vec_id") + 5000).alias("vec_id"), "embedding"
        )
        corpus = df.filter(F.col("vec_id") < 60).unionByName(copies)
        path = str(tmp_path / "rp_sweep")
        save_rp_index(corpus, path, n_planes=6, n_tables=8, seed=11)
        # threshold above any natural same-cluster cosine (sigma 0.05)
        # so ONLY the 8 exact planted copies are losers
        rep = neardup.open(spark, path).apply_sweep(
            threshold=0.9999, batch_id=1,
        )
        assert rep["removed_rows"] == 8
        assert rep["kept"] == 60
        vecs, buckets, meta = load_rp_index(spark, path)
        assert meta["n_rows"] == 60
        assert buckets.filter(F.col("vec_id") >= 5000).count() == 0
        # fixpoint: a second sweep (new batch id) removes nothing
        rep2 = neardup.open(spark, path).apply_sweep(
            threshold=0.9999, batch_id=2,
        )
        assert rep2["removed_rows"] == 0
        # replay of the FIRST sweep is a no-op
        rep3 = neardup.open(spark, path).apply_sweep(
            threshold=0.9999, batch_id=1,
        )
        assert rep3["skipped_replay"] is True


class TestReviewRegressions:
    def test_rp_block_pairs_guarded_zero_refine(self, spark, data):
        """max_bucket_size with n_refine=0 must work (the guard
        machinery applies with a constant refinement cell) — the
        rp_cell_table extraction briefly broke this combination."""
        from astro_vectordb_spark.operators.dedup import rp_block_pairs

        df, _ = data
        small = df.filter(F.col("vec_id") < 80)
        got = {
            (r["a_id"], r["b_id"])
            for r in rp_block_pairs(
                small, threshold=0.98, n_planes=6, n_tables=8, seed=11,
                max_bucket_size=5, n_refine=0,
            ).collect()
        }
        want = {
            (r["a_id"], r["b_id"])
            for r in rp_block_pairs(
                small, threshold=0.98, n_planes=6, n_tables=8, seed=11,
                max_bucket_size=None,
            ).collect()
        }
        # guard can only drop redundant pairs, never invent them
        assert got <= want

    def test_crashed_remove_then_reappend_rebuckets(
        self, spark, data, index
    ):
        """Remove order is buckets-first: a crash between the two
        deletes leaves a vector WITHOUT buckets (repairable), never
        stale buckets that would block re-bucketing a re-appended id."""
        from astro_vectordb_spark.sources.vault import (
            _remove_rows_by_file,
        )

        df, _ = data
        path, _ = index
        # simulate the crash window: buckets removed, vecs not
        ids_df = spark.createDataFrame([(3,)], "vec_id long")
        _remove_rows_by_file(spark, f"{path}/buckets", ids_df)
        vecs, buckets, _ = load_rp_index(spark, path)
        assert buckets.filter(F.col("vec_id") == 3).count() == 0
        assert vecs.filter(F.col("vec_id") == 3).count() == 1
        # the next append's self-heal re-buckets the orphaned vector
        rep = neardup.open(spark, path).append(
            df.filter(F.col("vec_id") == 399), batch_id=77,
        )
        assert rep["repaired_rows"] == 1
        _, buckets2, _ = load_rp_index(spark, path)
        assert buckets2.filter(F.col("vec_id") == 3).count() == 8
        # and a copy of vector 3 matches again
        probe = df.filter(F.col("vec_id") == 3).select(
            (F.col("vec_id") + 880000).alias("vec_id"), "embedding"
        )
        got = neardup.open(spark, path).match(probe, threshold=0.999999)
        assert got.filter(F.col("hist_id") == 3).count() == 1


class TestMultiProbe:
    def test_probe_cells_superset_and_base_identical(self, spark, data):
        """Per (id, tbl): the multi-probe cell set contains the base
        cell, has at most 1+n_probes members, and each probe is one
        bit-flip away from the base."""
        from astro_vectordb_spark.operators.dedup import (
            rp_cell_table,
            rp_probe_cell_table,
        )

        df, _ = data
        small = df.filter(F.col("vec_id") < 40)
        base = {
            (r["vec_id"], r["tbl"]): r["cell"]
            for r in rp_cell_table(
                small, n_planes=6, n_tables=4, seed=11, dim=DIM
            ).collect()
        }
        probed: dict = {}
        for r in rp_probe_cell_table(
            small, n_planes=6, n_tables=4, seed=11, dim=DIM, n_probes=2
        ).collect():
            probed.setdefault((r["vec_id"], r["tbl"]), set()).add(r["cell"])
        assert set(probed) == set(base)
        for key, cells in probed.items():
            b = base[key]
            assert b in cells
            assert len(cells) <= 3
            for c in cells - {b}:
                x = c ^ b
                assert x and (x & (x - 1)) == 0  # exactly one bit flipped

    def test_match_recall_superset_and_improved(self, spark, data,
                                                tmp_path):
        """Multi-probe matching returns a superset of the base match
        (guaranteed) and strictly improves recall of true near-dup
        pairs on this corpus (measured vs the exact O(n^2) ground
        truth)."""
        from astro_vectordb_spark.operators.dedup import similarity_join
        from astro_vectordb_spark.sources.vault import save_rp_index

        df, _ = data
        hist = df.filter(F.col("vec_id") < 300)
        batch = df.filter(F.col("vec_id") >= 300)
        path = str(tmp_path / "rp_mp")
        # few planes/tables so the base family misses some true pairs
        save_rp_index(hist, path, n_planes=8, n_tables=2, seed=11)
        base = {
            (r["new_id"], r["hist_id"])
            for r in neardup.open(spark, path).match(
                batch, threshold=0.95,
            ).collect()
        }
        probed = {
            (r["new_id"], r["hist_id"])
            for r in neardup.open(spark, path).match(
                batch, threshold=0.95, n_probes=3,
            ).collect()
        }
        assert base <= probed
        # exact cross-slice ground truth
        truth = {
            (max(r["a_id"], r["b_id"]), min(r["a_id"], r["b_id"]))
            for r in similarity_join(df, threshold=0.95).collect()
            if (r["a_id"] >= 300) != (r["b_id"] >= 300)
        }
        assert probed <= truth  # exact verify: no false positives
        rec_base = len(base & truth) / max(len(truth), 1)
        rec_probe = len(probed & truth) / max(len(truth), 1)
        assert rec_probe > rec_base
