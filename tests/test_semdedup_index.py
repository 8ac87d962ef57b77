"""Persisted SemDeDup index — round-13: the steady-state lifecycle
(save -> match -> append -> remove -> sweep-apply -> compact) for the
semantic-dedup family, built as the third face over the shared
index-lifecycle core (sources/index_lifecycle.py).

Contract under test: assignment against STORED centroids matches the
one-shot ``semantic_dedup(centroids=...)`` face exactly (same argmax
tie rule, same exact-cosine verify); a new batch assigns only itself;
removes are file-granular and replay-safe; the sweep collapses every
within-cell eps-group to one representative and is a fixpoint.
"""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from astro_vectordb_spark import neardup
from astro_vectordb_spark.sources.semdedup_index import (
    load_semdedup_index,
    save_semdedup_index,
)

DIM = 16
N = 300
K = 8


def _corpus(seed=7):
    """K well-separated unit centroids; vectors = centroid + small
    noise, plus planted exact-duplicate pairs (i, i+1000)."""
    rng = np.random.RandomState(seed)
    C = rng.randn(K, DIM)
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    X = C[rng.randint(0, K, N)] + 0.02 * rng.randn(N, DIM)
    return C, X


@pytest.fixture(scope="module")
def data(spark):
    C, X = _corpus()
    rows = [(i, [float(x) for x in X[i]]) for i in range(N)]
    # planted exact duplicates of the first 10 vectors
    rows += [(1000 + i, [float(x) for x in X[i]]) for i in range(10)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).cache()
    df.count()
    cents = spark.createDataFrame(
        [(k, [float(x) for x in C[k]]) for k in range(K)],
        "cell_id int, centroid array<double>",
    ).cache()
    cents.count()
    yield df, cents
    df.unpersist()
    cents.unpersist()


@pytest.fixture()
def index(spark, data, tmp_path):
    df, cents = data
    path = str(tmp_path / "sd_idx")
    hist = df.filter(F.col("vec_id") < 200)
    save_semdedup_index(hist, path, centroids=cents)
    return path, hist


class TestSaveLoad:
    def test_layout_and_meta(self, spark, index):
        path, hist = index
        vecs, cells, cents, meta = load_semdedup_index(spark, path)
        assert vecs.count() == 200
        assert cells.count() == 200  # exactly one cell per vector
        assert cents.count() == K
        assert meta["k"] == K and meta["n_rows"] == 200
        assert meta["metric"] == "cosine" and meta["dim"] == DIM

    def test_assignment_matches_one_shot_face(self, spark, data, index):
        """Stored assignments == the argmax rule semantic_dedup's
        bring-your-own-centroids face uses (sim desc, cell_id asc)."""
        df, cents = data
        path, hist = index
        from astro_vectordb_spark.functions.vector import similarity
        from pyspark.sql import Window

        _, cells, _, _ = load_semdedup_index(spark, path)
        w = Window.partitionBy("vec_id").orderBy(
            F.col("_as").desc(), F.col("cell_id").asc()
        )
        want = (
            hist.crossJoin(F.broadcast(cents))
            .withColumn(
                "_as", similarity(F.col("embedding"), F.col("centroid"),
                                  "cosine")
            )
            .withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .select("vec_id", "cell_id")
        )
        got = {(r["vec_id"], r["cell_id"]) for r in cells.collect()}
        exp = {(r["vec_id"], r["cell_id"]) for r in want.collect()}
        assert got == exp

    def test_kmeans_fit_face(self, spark, data, tmp_path):
        df, _ = data
        path = str(tmp_path / "sd_fit")
        save_semdedup_index(
            df.filter(F.col("vec_id") < 100), path, k_cells=4, seed=3
        )
        vecs, cells, cents, meta = load_semdedup_index(spark, path)
        assert meta["k"] == 4 and cents.count() == 4
        assert cells.count() == 100


class TestMatch:
    def test_planted_duplicates_surface_at_one(self, spark, data, index):
        df, _ = data
        path, _ = index
        probe = df.filter(F.col("vec_id") >= 1000)  # copies of 0..9
        got = neardup.open(spark, path).match(probe, eps=0.999)
        pairs = {(r["new_id"], r["hist_id"], r["score"])
                 for r in got.collect()}
        for i in range(10):
            assert (1000 + i, i, 1.0) in pairs

    def test_non_dup_batch_matches_nothing_strict(self, spark, data,
                                                  index):
        df, _ = data
        path, _ = index
        probe = df.filter(
            (F.col("vec_id") >= 200) & (F.col("vec_id") < 220)
        )
        got = neardup.open(spark, path).match(probe, eps=0.99999)
        assert got.count() == 0

    def test_telemetry_and_cap(self, spark, data, index):
        df, _ = data
        path, _ = index
        probe = df.filter(F.col("vec_id") >= 1000)
        tel = {}
        neardup.open(spark, path).match(
            probe, eps=0.999, telemetry=tel,
        ).count()
        assert tel["n_buckets"] >= 1
        assert tel["max_bucket_witnesses"] >= tel["p50_bucket_witnesses"]
        capped = neardup.open(spark, path).match(
            probe, eps=0.999, max_bucket_size=1,
        )
        full = neardup.open(spark, path).match(probe, eps=0.999)
        assert capped.count() <= full.count()


class TestAppendRemove:
    def test_append_assigns_only_batch_and_replays_noop(self, spark,
                                                        data, index):
        df, _ = data
        path, _ = index
        batch = df.filter(
            (F.col("vec_id") >= 200) & (F.col("vec_id") < 250)
        )
        rep = neardup.open(spark, path).append(batch, batch_id=1)
        assert rep["appended_rows"] == 50 and not rep["skipped_replay"]
        vecs, cells, _, meta = load_semdedup_index(spark, path)
        assert meta["n_rows"] == 250 and cells.count() == 250
        rep2 = neardup.open(spark, path).append(batch, batch_id=1)
        assert rep2["skipped_replay"]
        # appended vectors are now matchable history
        probe = batch.select(
            (F.col("vec_id") + 5000).alias("vec_id"), "embedding"
        )
        got = neardup.open(spark, path).match(probe, eps=0.999)
        assert got.filter(
            F.col("new_id") - 5000 == F.col("hist_id")
        ).count() == 50

    def test_remove_is_physical_and_replay_safe(self, spark, data,
                                                index):
        df, _ = data
        path, _ = index
        rep = neardup.open(spark, path).remove([0, 1, 2], batch_id=0)
        assert rep["removed_rows"] == 3
        vecs, cells, _, meta = load_semdedup_index(spark, path)
        assert meta["n_rows"] == 197
        assert vecs.filter(F.col("vec_id") < 3).count() == 0
        assert cells.filter(F.col("vec_id") < 3).count() == 0
        rep2 = neardup.open(spark, path).remove([3], batch_id=0)
        assert rep2["skipped_replay"]


class TestDriftAndRefresh:
    """Round-14 verdict item 2: append-time drift telemetry (the
    PQ appends' batch-MSE pattern) + the staged-swap retrain
    face."""

    def test_save_persists_baseline_and_append_reports_drift(
            self, spark, data, index):
        df, _ = data
        path, _ = index
        _, _, _, meta = load_semdedup_index(spark, path)
        # corpus = centroid + 0.02 noise: baseline close to 1
        assert meta["train_sim_mean"] > 0.95
        assert meta["train_sim_p95"] >= meta["train_sim_mean"]
        # an in-distribution batch reports ~baseline similarity
        rep = neardup.open(spark, path).append(
            df.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 250)),
            batch_id=1,
        )
        assert rep["train_sim_mean"] == pytest.approx(
            meta["train_sim_mean"])
        assert rep["batch_sim_mean"] > 0.95
        # an OFF-distribution batch sinks well below the baseline —
        # the retrain signal
        rng = np.random.RandomState(99)
        far = rng.randn(40, DIM)
        drifted = spark.createDataFrame(
            [(5000 + i, [float(x) for x in far[i]]) for i in range(40)],
            "vec_id long, embedding array<double>",
        )
        rep2 = neardup.open(spark, path).append(drifted, batch_id=2)
        assert rep2["batch_sim_mean"] < rep2["train_sim_mean"] - 0.2
        # replay-skipped batches never recompute stats
        rep3 = neardup.open(spark, path).append(drifted, batch_id=2)
        assert rep3["skipped_replay"] and "batch_sim_mean" not in rep3

    def test_legacy_index_reports_none_baseline(self, spark, data,
                                                tmp_path):
        """An index saved before the baseline columns existed still
        appends fine; the report's baseline is None."""
        df, cents = data
        path = str(tmp_path / "sd_legacy")
        save_semdedup_index(df.filter(F.col("vec_id") < 100), path,
                            centroids=cents)
        # strip the baseline columns — the pre-round-14 _meta shape
        mp = os.path.join(path, "_meta")
        legacy = spark.read.parquet(mp).select(
            "k", "metric", "id_col", "vec_col", "dim", "n_rows"
        ).collect()
        spark.createDataFrame(
            legacy,
            "k int, metric string, id_col string, vec_col string, "
            "dim int, n_rows long",
        ).coalesce(1).write.mode("overwrite").parquet(mp)
        rep = neardup.open(spark, path).append(
            df.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 120)),
            batch_id=1,
        )
        assert rep["appended_rows"] == 20
        assert rep["train_sim_mean"] is None
        assert rep["batch_sim_mean"] is not None

    def test_refresh_equivalence_with_fresh_build(self, spark, data,
                                                  tmp_path):
        """Refreshed index == an index freshly BUILT under the same
        new centroids: identical cells, identical groups served."""
        from astro_vectordb_spark.sources.semdedup_index import (
            semdedup_refresh_index,
        )

        df, cents = data
        hist = df.filter(F.col("vec_id") < 200)
        p_ref = str(tmp_path / "sd_refresh")
        # build under DELIBERATELY bad centroids (random planes), then
        # refresh with the true ones
        rng = np.random.RandomState(3)
        bad = spark.createDataFrame(
            [(k, [float(x) for x in rng.randn(DIM)]) for k in range(K)],
            "cell_id int, centroid array<double>",
        )
        save_semdedup_index(hist, p_ref, centroids=bad)
        base = load_semdedup_index(spark, p_ref)[3]["train_sim_mean"]
        rep = semdedup_refresh_index(spark, p_ref, centroids=cents)
        assert rep["reassigned_rows"] == 200
        assert rep["moved_rows"] > 0
        assert rep["train_sim_mean"] > base  # refit restored fit
        p_fresh = str(tmp_path / "sd_fresh")
        save_semdedup_index(hist, p_fresh, centroids=cents)
        got = load_semdedup_index(spark, p_ref)
        want = load_semdedup_index(spark, p_fresh)
        assert (
            {tuple(r) for r in got[1].select("vec_id", "cell_id").collect()}
            == {tuple(r) for r in
                want[1].select("vec_id", "cell_id").collect()}
        )
        g_ref = {r["vec_id"] for r in neardup.open(spark, p_ref).groups(
            eps=0.95,
        ).collect()}
        g_fresh = {r["vec_id"] for r in neardup.open(spark, p_fresh).groups(
            eps=0.95,
        ).collect()}
        assert g_ref == g_fresh
        # replay log preserved through the refresh: vectors untouched
        assert got[0].count() == 200

    def test_refresh_preserves_replay_log(self, spark, data, tmp_path):
        from astro_vectordb_spark.sources.semdedup_index import (
            semdedup_refresh_index,
        )
        from astro_vectordb_spark.sources.vault import (
            _batch_already_committed,
        )

        df, cents = data
        path = str(tmp_path / "sd_log")
        save_semdedup_index(df.filter(F.col("vec_id") < 100), path,
                            centroids=cents)
        neardup.open(spark, path).append(
            df.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 150)),
            batch_id=7,
        )
        semdedup_refresh_index(spark, path, k_cells=K, seed=5)
        assert _batch_already_committed(spark, path, 7,
                                        op="semdedup_append")
        rep = neardup.open(spark, path).append(
            df.filter(F.col("vec_id") < 150), batch_id=7,
        )
        assert rep["skipped_replay"]
        _, _, _, meta = load_semdedup_index(spark, path)
        assert meta["n_rows"] == 150


class TestGroupsAndSweep:
    def test_groups_collapse_planted_dups_min_id(self, spark, data,
                                                 tmp_path):
        df, cents = data
        path = str(tmp_path / "sd_grp")
        save_semdedup_index(df, path, centroids=cents)  # incl. planted
        keep = neardup.open(spark, path).groups(eps=0.999, keep="min_id")
        kept = {r["vec_id"] for r in keep.collect()}
        for i in range(10):
            assert i in kept and (1000 + i) not in kept
        # total = everything minus the 10 planted losers
        assert len(kept) == N + 10 - 10

    def test_groups_farthest_keeps_least_typical(self, spark, data,
                                                 tmp_path):
        df, cents = data
        path = str(tmp_path / "sd_far")
        save_semdedup_index(df, path, centroids=cents)
        keep = neardup.open(spark, path).groups(eps=0.999, keep="farthest")
        kept = {r["vec_id"] for r in keep.collect()}
        # exact duplicates tie on centroid sim -> min id wins the tie,
        # so each planted pair keeps exactly one member
        for i in range(10):
            assert (i in kept) != ((1000 + i) in kept) or i in kept
        assert len(kept) == N

    def test_apply_sweep_fixpoint_and_replay(self, spark, data,
                                             tmp_path):
        df, cents = data
        path = str(tmp_path / "sd_sweep")
        save_semdedup_index(df, path, centroids=cents)
        rep = neardup.open(spark, path).apply_sweep(eps=0.999, batch_id=0)
        assert rep["removed_rows"] == 10 and rep["kept"] == N
        # fixpoint: a second sweep removes nothing
        rep2 = neardup.open(spark, path).apply_sweep(eps=0.999, batch_id=1)
        assert rep2["removed_rows"] == 0
        # replayed sweep is a no-op
        rep3 = neardup.open(spark, path).apply_sweep(eps=0.999, batch_id=0)
        assert rep3["skipped_replay"]
        # post-sweep: a planted copy's original still serves matches
        probe = df.filter(F.col("vec_id") >= 1000)
        got = neardup.open(spark, path).match(probe, eps=0.999)
        assert got.filter(F.col("new_id") == 1000).count() == 1


class TestCompact:
    def test_compact_after_churn(self, spark, data, index):
        df, _ = data
        path, _ = index
        for b in range(6):
            neardup.open(spark, path).append(
                df.filter(F.col("vec_id") == 200 + b), batch_id=b,
            )
        rep = neardup.open(spark, path).compact(
            target_rows_per_file=10_000, min_file_ratio=1.0,
        )
        assert rep["compacted"] is True
        vecs, cells, _, meta = load_semdedup_index(spark, path)
        assert vecs.count() == 206 and cells.count() == 206
        assert meta["n_rows"] == 206
        # still serves after the staged swaps
        probe = df.filter(F.col("vec_id") >= 1000)
        assert neardup.open(spark, path).match(probe, eps=0.999).count() >= 10


class TestStreaming:
    def test_stream_ingest_dedups_and_serves(self, spark, data,
                                             tmp_path, parquet_stream):
        """Streaming ingest: intra-batch + vs-history semantic dedup,
        replay-logged appends, gc_every bounding the log."""
        df, cents = data
        path = str(tmp_path / "sd_stream")
        save_semdedup_index(
            df.filter(F.col("vec_id") < 100), path, centroids=cents
        )
        # constant-vector stream: every micro-batch row is an exact
        # copy of one indexed vector's direction -> everything after
        # the first novel append must be dropped as a duplicate
        first = [float(x) for x in
                 df.filter(F.col("vec_id") == 0).first()["embedding"]]
        stream = parquet_stream(
            "vec_id long, embedding array<double>",
            *([(700_000 + 3 * b + i, first) for i in range(3)]
              for b in range(6)),
        )
        q = neardup.open(spark, path).stream_ingest(
            stream, drop_dups=True, eps=0.999, gc_every=3
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        vecs, cells, _, meta = load_semdedup_index(spark, path)
        # the whole stream collapsed to the one original vector: no
        # streamed copy survived (vec 0 is already indexed history)
        assert vecs.filter(F.col("vec_id") >= 700_000).count() == 0
        assert int(meta["n_rows"]) == 100


class TestStoredBoundaryProbes:
    """Round-15 verdict item 4: the match-face multi-probe dial only
    helps batch-vs-history; a near-dup pair straddling a cell boundary
    INSIDE the stored corpus needs the persisted margin-gated second
    cell (``store_probe_margin`` -> ``cell_id_2``) so groups()/sweep
    can see it."""

    def _boundary_corpus(self, spark):
        cents = spark.createDataFrame(
            [(0, [1.0] + [0.0] * (DIM - 1)),
             (1, [0.0, 1.0] + [0.0] * (DIM - 2))],
            "cell_id int, centroid array<double>",
        )
        # vec 1 assigns to cell 1, vec 2 to cell 0 — a cos>0.999 pair
        # the argmax-1 pair search can never meet; vec 0 is a
        # confidently-assigned bystander
        hist = spark.createDataFrame(
            [(0, [1.0] + [0.0] * (DIM - 1)),
             (1, [0.70, 0.714] + [0.0] * (DIM - 2)),
             (2, [0.714, 0.70] + [0.0] * (DIM - 2))],
            "vec_id long, embedding array<double>",
        )
        return cents, hist

    def test_groups_find_stored_boundary_pair_only_with_margin(
            self, spark, tmp_path):
        cents, hist = self._boundary_corpus(spark)
        base_path = str(tmp_path / "sd_nb")
        save_semdedup_index(hist, base_path, centroids=cents, dim=DIM)
        kept = {int(r[0]) for r in
                neardup.open(spark, base_path).groups(eps=0.99).collect()}
        assert kept == {0, 1, 2}  # boundary pair missed by design
        probed_path = str(tmp_path / "sd_pb")
        save_semdedup_index(hist, probed_path, centroids=cents, dim=DIM,
                            store_probe_margin=0.1)
        kept2 = {int(r[0]) for r in
                 neardup.open(spark, probed_path).groups(eps=0.99).collect()}
        assert kept2 == {0, 1}  # pair found, min-id representative
        # opt-out restores the base semantics on the same index
        kept3 = {int(r[0]) for r in
                 neardup.open(spark, probed_path).groups(
                     eps=0.99, use_stored_probes=False,
                 ).collect()}
        assert kept3 == {0, 1, 2}

    def test_storage_overhead_bounded_and_cell1_unchanged(
            self, spark, data, tmp_path):
        """On well-separated clusters almost no row is thin-margin:
        the second cell is null nearly everywhere (bounded storage),
        and the argmax cell is bit-identical to a margin-less save."""
        df, cents = data
        hist = df.filter(F.col("vec_id") < 200)
        p0 = str(tmp_path / "sd_m0")
        p1 = str(tmp_path / "sd_m1")
        save_semdedup_index(hist, p0, centroids=cents)
        save_semdedup_index(hist, p1, centroids=cents,
                            store_probe_margin=0.1)
        _, cells0, _, _ = load_semdedup_index(spark, p0)
        _, cells1, _, meta1 = load_semdedup_index(spark, p1)
        assert meta1["probe_margin"] == pytest.approx(0.1)
        a0 = {(int(r.vec_id), int(r.cell_id)) for r in cells0.collect()}
        a1 = {(int(r.vec_id), int(r.cell_id))
              for r in cells1.select("vec_id", "cell_id").collect()}
        assert a0 == a1
        n = cells1.count()
        n2 = cells1.filter(F.col("cell_id_2").isNotNull()).count()
        assert n2 <= 0.1 * n, (n2, n)  # the margin rule bounds storage

    def test_append_and_compact_maintain_probe_cells(self, spark,
                                                     tmp_path):
        cents, hist = self._boundary_corpus(spark)
        path = str(tmp_path / "sd_ap")
        # seed the index with only the bystander + one boundary member
        save_semdedup_index(
            hist.filter(F.col("vec_id") < 2), path, centroids=cents,
            dim=DIM, store_probe_margin=0.1,
        )
        rep = neardup.open(spark, path).append(
            hist.filter(F.col("vec_id") == 2), batch_id=1,
        )
        assert rep["appended_rows"] == 1
        _, cells, _, _ = load_semdedup_index(spark, path)
        got = {int(r.vec_id): (int(r.cell_id),
                               None if r.cell_id_2 is None
                               else int(r.cell_id_2))
               for r in cells.collect()}
        assert got[0] == (0, None)       # confident: no second cell
        assert got[1] == (1, 0) and got[2] == (0, 1)
        kept = {int(r[0]) for r in
                neardup.open(spark, path).groups(eps=0.99).collect()}
        assert kept == {0, 1}
        # compact re-derives the probe cells from the stored vectors
        neardup.open(spark, path).compact(
            target_rows_per_file=1, min_file_ratio=0.0,
        )
        _, cells2, _, _ = load_semdedup_index(spark, path)
        got2 = {int(r.vec_id): (int(r.cell_id),
                                None if r.cell_id_2 is None
                                else int(r.cell_id_2))
                for r in cells2.collect()}
        assert got2 == got

    def test_sweep_applies_boundary_dedup(self, spark, tmp_path):
        cents, hist = self._boundary_corpus(spark)
        path = str(tmp_path / "sd_sw")
        save_semdedup_index(hist, path, centroids=cents, dim=DIM,
                            store_probe_margin=0.1)
        rep = neardup.open(spark, path).apply_sweep(eps=0.99, batch_id=9)
        assert rep["removed_rows"] == 1
        vecs, _, _, _ = load_semdedup_index(spark, path)
        assert {int(r.vec_id) for r in vecs.select("vec_id").collect()} \
            == {0, 1}

    def test_refresh_preserves_retunes_and_drops_margin(
            self, spark, tmp_path):
        from astro_vectordb_spark.sources.semdedup_index import (
            semdedup_refresh_index,
        )

        cents, hist = self._boundary_corpus(spark)
        path = str(tmp_path / "sd_rf")
        save_semdedup_index(hist, path, centroids=cents, dim=DIM,
                            store_probe_margin=0.1)
        # default: the dial survives the refresh (same centroids)
        semdedup_refresh_index(spark, path, centroids=cents)
        _, cells, _, meta = load_semdedup_index(spark, path)
        assert meta["probe_margin"] == pytest.approx(0.1)
        assert "cell_id_2" in cells.columns
        assert cells.filter(F.col("cell_id_2").isNotNull()).count() == 2
        kept = {int(r[0]) for r in
                neardup.open(spark, path).groups(eps=0.99).collect()}
        assert kept == {0, 1}
        # retune wider; then drop the dial entirely
        semdedup_refresh_index(spark, path, centroids=cents,
                               store_probe_margin=0.5)
        _, _, _, meta2 = load_semdedup_index(spark, path)
        assert meta2["probe_margin"] == pytest.approx(0.5)
        semdedup_refresh_index(spark, path, centroids=cents,
                               store_probe_margin=None)
        _, cells3, _, meta3 = load_semdedup_index(spark, path)
        assert meta3["probe_margin"] is None
        assert "cell_id_2" not in cells3.columns
        kept3 = {int(r[0]) for r in
                 neardup.open(spark, path).groups(eps=0.99).collect()}
        assert kept3 == {0, 1, 2}

    def test_probed_keep_set_is_subset_of_base(self, spark, data,
                                               tmp_path):
        """More pairs can only merge groups: the probed keep set is a
        subset of the base keep set (never a recall regression)."""
        df, cents = data
        hist = df.filter(F.col("vec_id") < 200)
        p0 = str(tmp_path / "sd_s0")
        p1 = str(tmp_path / "sd_s1")
        save_semdedup_index(hist, p0, centroids=cents)
        save_semdedup_index(hist, p1, centroids=cents,
                            store_probe_margin=0.3)
        k0 = {int(r[0]) for r in
              neardup.open(spark, p0).groups(eps=0.95).collect()}
        k1 = {int(r[0]) for r in
              neardup.open(spark, p1).groups(eps=0.95).collect()}
        assert k1 <= k0


class TestBoundaryMultiProbe:
    """Round-14 verdict item 7: a batch row with a thin assignment
    margin also probes its runner-up cells — cross-boundary near-dups
    become findable with batch-side work only."""

    def test_boundary_pair_found_only_with_probe(self, spark, tmp_path):
        import math

        cents = spark.createDataFrame(
            [(0, [1.0] + [0.0] * (DIM - 1)),
             (1, [0.0, 1.0] + [0.0] * (DIM - 2))],
            "cell_id int, centroid array<double>",
        )
        # hist vec 1 sits just on the cell-1 side of the boundary; the
        # batch twin sits just on the cell-0 side
        hist = spark.createDataFrame(
            [(0, [1.0] + [0.0] * (DIM - 1)),
             (1, [0.70, 0.714] + [0.0] * (DIM - 2))],
            "vec_id long, embedding array<double>",
        )
        path = str(tmp_path / "sd_mp")
        save_semdedup_index(hist, path, centroids=cents, dim=DIM)
        batch = spark.createDataFrame(
            [(100, [0.714, 0.70] + [0.0] * (DIM - 2))],
            "vec_id long, embedding array<double>",
        )
        base = neardup.open(spark, path).match(batch, eps=0.9)
        assert base.count() == 0  # argmax cells differ: missed
        mp = neardup.open(spark, path).match(
            batch, eps=0.9, n_probes=2, probe_margin=0.1,
        )
        got = mp.collect()
        assert [(r["new_id"], r["hist_id"]) for r in got] == [(100, 1)]
        assert got[0]["score"] > 0.99
        # a margin too thin to reach the runner-up probes nothing extra
        tight = neardup.open(spark, path).match(
            batch, eps=0.9, n_probes=2, probe_margin=1e-6,
        )
        assert tight.count() == 0
        del math

    def test_multiprobe_is_superset_with_bounded_extras(
            self, spark, data, index):
        df, _ = data
        path, _ = index
        batch = df.filter(F.col("vec_id") >= 200)
        base = {
            (r["new_id"], r["hist_id"])
            for r in neardup.open(spark, path).match(batch, eps=0.9).collect()
        }
        mp = {
            (r["new_id"], r["hist_id"])
            for r in neardup.open(spark, path).match(
                batch, eps=0.9, n_probes=2, probe_margin=0.2,
            ).collect()
        }
        assert mp >= base
        # well-separated clusters: confident assignments probe nothing
        # extra, so the candidate volume stays bounded (not k x batch)
        assert len(mp) <= 2 * max(len(base), 1)
