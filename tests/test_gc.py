"""Retention/GC — round-12 verdict item 5: the ``_batches`` replay-log
compactor (``vault.gc``) and the offline versioned-table pruner
(``versioned.gc_versions``).

The contract under test: a long ingest+remove churn sequence keeps
metadata bounded, and replays still no-op — for ids the GC kept AND
for ids it collapsed into the horizon row; only genuinely-new ids
apply after compaction.
"""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from astro_vectordb_spark import neardup
from astro_vectordb_spark.sources.vault import (
    _batch_already_committed,
    gc,
    load_rp_index,
    save_rp_index,
)
from astro_vectordb_spark.sources.versioned import (
    commit_version,
    current_version,
    gc_versions,
    read_current,
)

DIM = 8
N = 200


@pytest.fixture(scope="module")
def data(spark):
    rng = np.random.RandomState(2)
    X = rng.randn(N, DIM)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(N)],
        "vec_id long, embedding array<double>",
    ).cache()
    df.count()
    yield df
    df.unpersist()


def _parquet_files(path):
    return [
        os.path.join(r, f)
        for r, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]


class TestBatchLogGC:
    def test_churn_bounded_and_replay_safe(self, spark, data, tmp_path):
        path = str(tmp_path / "idx")
        save_rp_index(data.filter(F.col("vec_id") < 50), path)
        # churn: 20 ingest batches + 10 remove batches, two namespaces
        for b in range(20):
            neardup.open(spark, path).append(
                data.filter(F.col("vec_id") == 50 + b), batch_id=b,
            )
        for b in range(10):
            neardup.open(spark, path).remove([b], batch_id=b)
        log = os.path.join(path, "_batches")
        files_before = len(_parquet_files(log))
        assert files_before >= 30  # one file per applied batch
        rep = gc(spark, path, keep_last_batches=3)
        assert rep["compacted"] is True
        assert rep["files_after"] == 1
        # per op: 1 horizon + at most keep_last rows
        assert rep["rows_after"] <= 2 * (1 + 3)
        # replay of a PRUNED id: still a no-op (horizon row)
        r = neardup.open(spark, path).append(
            data.filter(F.col("vec_id") == 55), batch_id=5,
        )
        assert r["skipped_replay"] is True
        r = neardup.open(spark, path).remove([3], batch_id=3)
        assert r["skipped_replay"] is True
        # replay of a RETAINED id: still a no-op
        r = neardup.open(spark, path).append(
            data.filter(F.col("vec_id") == 69), batch_id=19,
        )
        assert r["skipped_replay"] is True
        # a genuinely NEW id applies
        r = neardup.open(spark, path).append(
            data.filter(F.col("vec_id") == 150), batch_id=42,
        )
        assert r["skipped_replay"] is False and r["appended_rows"] == 1
        _, _, meta = load_rp_index(spark, path)
        assert meta["n_rows"] == 50 + 20 - 10 + 1

    def test_namespaces_independent(self, spark, data, tmp_path):
        path = str(tmp_path / "idx2")
        save_rp_index(data.filter(F.col("vec_id") < 30), path)
        for b in range(8):
            neardup.open(spark, path).append(
                data.filter(F.col("vec_id") == 30 + b), batch_id=b,
            )
        neardup.open(spark, path).remove([0], batch_id=2)
        gc(spark, path, keep_last_batches=1)
        # the remove namespace's horizon (2) must not mask append id 5,
        # nor the append horizon mask remove id 1
        assert _batch_already_committed(spark, path, 5, op="rp_append")
        assert _batch_already_committed(spark, path, 2, op="rp_remove")
        assert not _batch_already_committed(spark, path, 9, op="rp_append")
        assert not _batch_already_committed(spark, path, 3, op="rp_remove")

    def test_gc_idempotent_and_horizon_folds(self, spark, data, tmp_path):
        path = str(tmp_path / "idx3")
        save_rp_index(data.filter(F.col("vec_id") < 30), path)
        for b in range(6):
            neardup.open(spark, path).append(
                data.filter(F.col("vec_id") == 30 + b), batch_id=b,
            )
        gc(spark, path, keep_last_batches=2)
        # more churn on top of the compacted log, then GC again: the
        # prior horizon must fold into the new one
        for b in range(6, 10):
            neardup.open(spark, path).append(
                data.filter(F.col("vec_id") == 30 + b), batch_id=b,
            )
        rep = gc(spark, path, keep_last_batches=2)
        assert rep["compacted"] is True
        for b in range(9):
            assert _batch_already_committed(spark, path, b, op="rp_append")
        assert not _batch_already_committed(spark, path, 11, op="rp_append")

    def test_noop_on_missing_log(self, spark, tmp_path):
        rep = gc(spark, str(tmp_path / "nothing"))
        assert rep["compacted"] is False and rep["rows_before"] == 0


class TestVersionGC:
    def test_prunes_old_and_orphans_keeps_current(self, spark, tmp_path):
        path = str(tmp_path / "vt")
        os.makedirs(path)
        df = spark.range(5).select(F.col("id").alias("v"))
        for v in range(6):
            commit_version(df, path, v, keep_versions=100)
        # orphan above the pointer: a crashed writer's never-swapped dir
        df.write.mode("overwrite").parquet(os.path.join(path, "v9"))
        assert current_version(path) == "v5"
        # a YOUNG orphan is kept — it may be a concurrent writer's
        # in-flight commit about to swap in
        rep = gc_versions(path, keep_last_versions=2)
        assert "v9" in rep["kept"]
        # aged out (orphan_min_age_sec=0), it is a crashed-writer leak
        rep = gc_versions(path, keep_last_versions=2, orphan_min_age_sec=0)
        assert "v9" in rep["removed"]
        assert set(rep["kept"]) == {"v4", "v5"}
        assert read_current(spark, path).count() == 5

    def test_noop_on_uncommitted(self, tmp_path):
        rep = gc_versions(str(tmp_path / "empty"))
        assert rep == {"removed": [], "kept": []}


class TestStreamingGC:
    def test_rp_stream_gc_every_bounds_log_files(self, spark, data,
                                                 tmp_path, parquet_stream):
        """gc_every compacts the replay log from inside foreachBatch —
        after many micro-batches the log stays at a bounded file
        count and replays remain no-ops."""
        from astro_vectordb_spark.sources.vault import save_rp_index

        path = str(tmp_path / "idx_sgc")
        save_rp_index(data.filter(F.col("vec_id") < 40), path)
        fixed = [float(i) / 10 for i in range(DIM)]
        # eight micro-batches of the same fixed vector
        stream = parquet_stream(
            "vec_id long, embedding array<double>",
            *([(700_000 + 2 * b + i, fixed) for i in range(2)]
              for b in range(8)),
        )
        q = neardup.open(spark, path).stream_ingest(
            stream, drop_dups=True, threshold=0.999, gc_every=3
        )
        try:
            q.processAllAvailable()
            applied = q.lastProgress["batchId"]
        finally:
            q.stop()
        n_files = len(_parquet_files(os.path.join(path, "_batches")))
        # without gc, >= one file per applied batch (often two: a
        # 1-row append can emit an empty extra part); with gc_every=3
        # the count stays bounded well below that
        assert 1 <= n_files <= 8
        if applied >= 7:
            assert n_files < applied
        # the ingested fixed vector is matchable (appends survived gc)
        probe = spark.createDataFrame(
            [(900_000, fixed)], "vec_id long, embedding array<double>"
        )
        assert neardup.open(spark, path).match(
            probe, threshold=0.999,
        ).limit(1).count() == 1


class TestGCOpsFilterAndConcurrency:
    """Round-13: per-op-namespace gc (ADVICE r12 #1), concurrent-commit
    detection (verdict item 8), and the checkpoint-rebind escape hatch
    (ADVICE r12 #2)."""

    def _churn(self, spark, data, path, n_app=8, n_rem=4):
        save_rp_index(data.filter(F.col("vec_id") < 30), path)
        for b in range(n_app):
            neardup.open(spark, path).append(
                data.filter(F.col("vec_id") == 30 + b), batch_id=b,
            )
        for b in range(n_rem):
            neardup.open(spark, path).remove([b], batch_id=b)

    def test_ops_filter_compacts_only_own_namespace(self, spark, data,
                                                    tmp_path):
        path = str(tmp_path / "idx_ops")
        self._churn(spark, path=path, data=data)
        rep = gc(spark, path, keep_last_batches=1, ops=["rp_append"])
        assert rep["compacted"] is True
        log = spark.read.option("mergeSchema", "true").parquet(
            os.path.join(path, "_batches")
        )
        rows = {(r["op"], r["batch_id"], bool(r["horizon"]))
                for r in log.collect()}
        # the sibling namespace keeps EVERY row verbatim — no horizon
        # was written for an op the caller does not own
        for b in range(4):
            assert ("rp_remove", b, False) in rows
        assert not any(op == "rp_remove" and h for op, _, h in rows)
        # our own namespace is horizoned
        assert any(op == "rp_append" and h for op, _, h in rows)
        # replay contract intact for both namespaces
        assert _batch_already_committed(spark, path, 2, op="rp_append")
        assert _batch_already_committed(spark, path, 2, op="rp_remove")
        assert not _batch_already_committed(spark, path, 99, op="rp_append")

    def test_concurrent_commit_before_staging_aborts_and_retries(
            self, spark, data, tmp_path, monkeypatch):
        """A sibling commit landing between gc's read and its swap is
        caught by the pre-swap re-list: the attempt aborts, the retry
        re-reads (including the new row), and nothing is dropped."""
        import astro_vectordb_spark.sources.vault as vault

        path = str(tmp_path / "idx_race1")
        self._churn(spark, path=path, data=data)
        real = vault._swap_sibling_paths
        state = {"calls": 0}

        def injecting(p):
            state["calls"] += 1
            # call 1 = gc's top-of-function _recover_swap; call 2 =
            # attempt 1's swap prep, AFTER the pinned read — the
            # sibling's commit lands in the race window
            if state["calls"] == 2:
                vault._record_batch(spark, path, 77, op="rp_remove")
            return real(p)

        monkeypatch.setattr(vault, "_swap_sibling_paths", injecting)
        rep = vault.gc(spark, path, keep_last_batches=1, ops=["rp_append"])
        assert rep["compacted"] is True
        assert rep["attempts"] == 2  # attempt 1 aborted on the re-list
        assert _batch_already_committed(spark, path, 77, op="rp_remove")
        assert _batch_already_committed(spark, path, 3, op="rp_append")

    def test_commit_in_rename_window_is_carried(self, spark, data,
                                                tmp_path, monkeypatch):
        """A commit landing AFTER the pre-swap check but BEFORE the
        retire rename ends up in the retired dir — the post-swap sweep
        must carry it into the new log instead of deleting it."""
        import astro_vectordb_spark.sources.vault as vault

        path = str(tmp_path / "idx_race2")
        self._churn(spark, path=path, data=data)
        real_fs = vault._hadoop_fs
        state = {"armed": True}

        class InjectingFS:
            def __init__(self, fs):
                self._fs = fs

            def rename(self, src, dst):
                if state["armed"] and str(dst).endswith("__swap_old"):
                    state["armed"] = False  # fire once: the retire rename
                    vault._record_batch(spark, path, 88, op="rp_remove")
                return self._fs.rename(src, dst)

            def __getattr__(self, name):
                return getattr(self._fs, name)

        def wrapped(sp, p):
            fs, hp = real_fs(sp, p)
            return InjectingFS(fs), hp

        monkeypatch.setattr(vault, "_hadoop_fs", wrapped)
        rep = vault.gc(spark, path, keep_last_batches=1, ops=["rp_append"])
        assert rep["compacted"] is True
        # >= 1: a 1-row append can emit an extra empty part file
        assert rep["carried_files"] >= 1
        assert _batch_already_committed(spark, path, 88, op="rp_remove")

    def test_reset_op_log_unmasks_rebound_stream(self, spark, data,
                                                 tmp_path):
        from astro_vectordb_spark.sources.vault import reset_op_log

        path = str(tmp_path / "idx_reset")
        self._churn(spark, path=path, data=data)
        gc(spark, path, keep_last_batches=1)
        # post-gc, early append ids sit under the horizon
        assert _batch_already_committed(spark, path, 0, op="rp_append")
        rep = reset_op_log(spark, path, "rp_append")
        assert rep["removed_rows"] >= 1
        # the rebound stream's batch 0 now applies again...
        assert not _batch_already_committed(spark, path, 0, op="rp_append")
        # ...while the sibling namespace is untouched
        assert _batch_already_committed(spark, path, 2, op="rp_remove")

    def test_zero_retries_clamped_not_none(self, spark, data, tmp_path):
        """round-14 advice: max_retries <= 0 used to skip the retry
        loop entirely and return None, crashing foreachBatch callers
        that read rep['compacted'] — it must clamp to one attempt."""
        path = str(tmp_path / "idx_clamp")
        self._churn(spark, path=path, data=data)
        rep = gc(spark, path, keep_last_batches=1, max_retries=0)
        assert rep is not None and rep["compacted"] is True
        rep2 = gc(spark, path, keep_last_batches=1, max_retries=-3)
        assert rep2 is not None and "compacted" in rep2

    def test_gc_lease_excludes_second_gc(self, spark, data, tmp_path):
        """round-14 advice: two gcs interleaving the rename pair could
        corrupt the log — a fresh lease makes the second gc a safe
        no-op; a stale (crashed-owner) lease is broken; the lease is
        released on completion."""
        import os as _os

        path = str(tmp_path / "idx_lease")
        self._churn(spark, path=path, data=data)
        lease = _os.path.join(path, "_gc_lease")
        # simulate a concurrent gc holding a fresh lease
        with open(lease, "w"):
            pass
        rep = gc(spark, path, keep_last_batches=1)
        assert rep["lease_held"] is True and rep["compacted"] is False
        assert _os.path.exists(lease)  # not ours: never released
        # a stale lease (older than the TTL) is presumed crashed
        old = 1_000_000.0
        _os.utime(lease, (old, old))
        rep = gc(spark, path, keep_last_batches=1)
        assert rep["compacted"] is True and "lease_held" not in rep
        assert not _os.path.exists(lease)  # released after the run
        # replay contract intact through the lease dance
        assert _batch_already_committed(spark, path, 2, op="rp_append")

    def test_gc_lease_fenced_by_owner_token(self, spark, data, tmp_path,
                                            monkeypatch):
        """round-15 advice: a gc outliving the TTL whose lease was
        broken by a second gc must NOT finally-delete the second
        owner's lease (that would let a third gc start while the
        second still runs).  Inject the break mid-run: while gc A is
        inside _gc_locked, replace the lease with a foreign token —
        A's exit must leave the foreign lease in place."""
        import os as _os

        from astro_vectordb_spark.sources import vault as v

        path = str(tmp_path / "idx_fence")
        self._churn(spark, path=path, data=data)
        lease = _os.path.join(path, "_gc_lease")
        real = v._gc_locked

        def hijack(*a, **kw):
            # second gc broke A's "stale" lease and stamped its own
            with open(lease, "w") as fh:
                fh.write("foreign-owner-token")
            return real(*a, **kw)

        monkeypatch.setattr(v, "_gc_locked", hijack)
        rep = v.gc(spark, path, keep_last_batches=1)
        assert rep["compacted"] is True
        # A saw a foreign token on exit: the new owner's lease survives
        assert _os.path.exists(lease)
        with open(lease) as fh:
            assert fh.read() == "foreign-owner-token"
        _os.remove(lease)
        # unbroken run: the token round-trips and the lease is released
        monkeypatch.setattr(v, "_gc_locked", real)
        rep = v.gc(spark, path, keep_last_batches=1)
        assert rep["compacted"] is True or rep.get("lease_held") is True
        assert not _os.path.exists(lease)


class TestRPPlaneWidthValidation:
    """ADVICE r12 #3: int32 cell schema — n_planes/n_refine past 31
    would silently wrap bucket ids; must fail fast instead."""

    def test_cell_table_rejects_wide_planes(self, spark, data):
        from astro_vectordb_spark.operators.dedup import (
            rp_cell_table,
            rp_probe_cell_table,
        )

        with pytest.raises(ValueError, match="n_planes"):
            rp_cell_table(data, n_planes=32, dim=DIM)
        with pytest.raises(ValueError, match="n_refine"):
            rp_cell_table(data, n_planes=8, n_refine=32, dim=DIM)
        with pytest.raises(ValueError, match="n_planes"):
            rp_probe_cell_table(data, n_planes=32, dim=DIM)
        # the boundary is usable
        assert rp_cell_table(
            data.limit(2), n_planes=31, n_tables=1, dim=DIM
        ).count() == 2


class TestVersionGCMtimeWalk:
    """ADVICE r12 #4: orphan age = newest mtime in the whole version
    tree, so a live writer mutating nested subdirs is never reaped."""

    def test_nested_fresh_write_keeps_orphan(self, spark, tmp_path):
        path = str(tmp_path / "vt_walk")
        os.makedirs(path)
        df = spark.range(3).select(
            F.col("id").alias("v"), (F.col("id") * 2).alias("payload")
        )
        commit_version(df, path, 1, keep_versions=100)
        # orphan v9 whose TOP-LEVEL mtime is stale but with a fresh
        # nested write — a partitioned writer mid-commit looks exactly
        # like this
        df.write.mode("overwrite").partitionBy("v").parquet(
            os.path.join(path, "v9")
        )
        old = 1.0
        os.utime(os.path.join(path, "v9"), (old, old))
        rep = gc_versions(path, keep_last_versions=2,
                          orphan_min_age_sec=3600)
        assert "v9" in rep["kept"]
        # age the whole tree -> reaped
        for r, ds, fs_ in os.walk(os.path.join(path, "v9")):
            for e in ds + fs_:
                os.utime(os.path.join(r, e), (old, old))
        os.utime(os.path.join(path, "v9"), (old, old))
        rep = gc_versions(path, keep_last_versions=2,
                          orphan_min_age_sec=3600)
        assert "v9" in rep["removed"]
