"""Persisted MinHash-LSH near-dup index: incremental matching of new
batches against a corpus whose text is never re-read (sigs + bands
only), SQL-safe hash family end to end."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from astro_vectordb_spark import neardup
from astro_vectordb_spark.sources.vault import (
    load_minhash_index,
    save_minhash_index,
)

WORDS = ["merge", "hash", "spark", "join", "scan", "sort", "row", "plan"]


def _mkdocs(spark, ids_texts):
    return spark.createDataFrame(ids_texts, "doc_id long, text string")


@pytest.fixture(scope="module")
def corpus_rows():
    # 60 docs, 6+ tokens each, deterministic
    return [
        (
            i,
            " ".join(WORDS[(i * 3 + j) % len(WORDS)] for j in range(6 + i % 4)),
        )
        for i in range(60)
    ]


@pytest.fixture(scope="module")
def index_path(spark, corpus_rows, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("mh") / "idx")
    save_minhash_index(_mkdocs(spark, corpus_rows), path)
    return path


class TestMatch:
    def test_exact_copy_matches_at_one(self, spark, corpus_rows, index_path):
        new = _mkdocs(
            spark,
            [(100000 + i, t) for i, t in corpus_rows[:5]]
            + [(200000, "completely unrelated novel text body here")],
        )
        got = {
            (int(r.new_id), int(r.hist_id)): float(r.est_jaccard)
            for r in neardup.open(spark, index_path).match(
                new, threshold=0.9,
            ).collect()
        }
        for i in range(5):
            assert got[(100000 + i, i)] == 1.0
        assert all(nid != 200000 for nid, _ in got)

    def test_est_formula_matches_signatures(
        self, spark, corpus_rows, index_path
    ):
        """est_jaccard must equal the exact signature-agreement count
        over num_hashes, recomputed driver-side from the stored and
        freshly-computed signatures."""
        from astro_vectordb_spark.operators.dedup import (
            minhash_signatures_sql_safe,
        )

        # near-dup: doc 7's text with one word changed
        base = dict(corpus_rows)[7]
        mutated = " ".join(
            w if j != 2 else "zzz" for j, w in enumerate(base.split())
        )
        new = _mkdocs(spark, [(300000, mutated)])
        rows = neardup.open(spark, index_path).match(
            new, threshold=0.01,
        ).filter(F.col("hist_id") == 7).collect()
        sigs, _, meta = load_minhash_index(spark, index_path)
        hist_sig = sigs.filter(F.col("doc_id") == 7).first()["sig"]
        new_sig = minhash_signatures_sql_safe(new).first()["sig"]
        nh, nb = int(meta["num_hashes"]), int(meta["bands"])
        r = nh // nb
        want = round(
            sum(int(a == b) for a, b in zip(new_sig, hist_sig)) / nh, 6
        )
        # candidacy = at least one FULL band of r minhashes equal —
        # recomputed driver-side so the assertion is deterministic,
        # not probabilistic
        candidate = any(
            new_sig[b * r : (b + 1) * r] == hist_sig[b * r : (b + 1) * r]
            for b in range(nb)
        )
        if candidate and want >= 0.01:
            assert rows and float(rows[0].est_jaccard) == want
        else:
            assert not rows
        # and an exact copy is always a candidate with est exactly 1.0
        copy = _mkdocs(spark, [(300001, dict(corpus_rows)[7])])
        crow = neardup.open(spark, index_path).match(
            copy, threshold=0.01,
        ).filter(F.col("hist_id") == 7).collect()
        assert crow and float(crow[0].est_jaccard) == 1.0

    def test_threshold_filters(self, spark, corpus_rows, index_path):
        new = _mkdocs(spark, [(100000 + i, t) for i, t in corpus_rows[:3]])
        low = neardup.open(spark, index_path).match(new, threshold=0.2)
        high = neardup.open(spark, index_path).match(new, threshold=0.99)
        assert low.count() >= high.count() >= 3


class TestAppend:
    def test_append_then_match(self, spark, corpus_rows, tmp_path):
        path = str(tmp_path / "idx")
        save_minhash_index(_mkdocs(spark, corpus_rows[:40]), path)
        rep = neardup.open(spark, path).append(
            _mkdocs(spark, corpus_rows[40:]), batch_id=0,
        )
        assert rep["appended_rows"] == 20 and not rep["skipped_replay"]
        # a copy of an APPENDED doc must now match
        new = _mkdocs(spark, [(100000, corpus_rows[50][1])])
        got = neardup.open(spark, path).match(new, threshold=0.9).collect()
        assert any(int(r.hist_id) == 50 for r in got)
        # replay of the same batch is a no-op
        rep2 = neardup.open(spark, path).append(
            _mkdocs(spark, corpus_rows[40:]), batch_id=0,
        )
        assert rep2["skipped_replay"]
        # n_rows counter is exact
        _, _, meta = load_minhash_index(spark, path)
        assert int(meta["n_rows"]) == 60

    def test_stats_fn_cannot_shadow_core_report_fields(
            self, spark, corpus_rows, tmp_path):
        """round-15 advice: the family's append_stats extras merge
        FIRST in the append report — a hook returning a colliding key
        (e.g. 'appended_rows') must not overwrite the core replay/sync
        fields callers branch on."""
        from astro_vectordb_spark.sources.index_lifecycle import (
            MinhashFamily,
            append_to_index,
        )

        class Colliding(MinhashFamily):
            def append_stats(self, ctx, fresh):
                return {"appended_rows": -999, "skipped_replay": True,
                        "custom_stat": 7}

        path = str(tmp_path / "idx")
        save_minhash_index(_mkdocs(spark, corpus_rows[:40]), path)
        rep = append_to_index(
            spark, path, Colliding(), _mkdocs(spark, corpus_rows[40:]),
            batch_id=0,
        )
        # core fields win on collision; non-colliding extras survive
        assert rep["appended_rows"] == 20
        assert rep["skipped_replay"] is False
        assert rep["custom_stat"] == 7

    def test_dedup_ids_anti_join(self, spark, corpus_rows, tmp_path):
        path = str(tmp_path / "idx")
        save_minhash_index(_mkdocs(spark, corpus_rows[:40]), path)
        rep = neardup.open(spark, path).append(
            _mkdocs(spark, corpus_rows[30:50]), batch_id=1,
        )
        assert rep["appended_rows"] == 10  # 30..39 already indexed
        sigs, _, meta = load_minhash_index(spark, path)
        assert sigs.count() == 50 and int(meta["n_rows"]) == 50

    def test_crash_repair_bands_sync(self, spark, corpus_rows, tmp_path):
        """Sigs landed but bands didn't (crash between the two
        appends): the doc is invisible to matching; the NEXT append
        repairs it."""
        import os

        from astro_vectordb_spark.operators.dedup import (
            minhash_signatures_sql_safe,
        )

        path = str(tmp_path / "idx")
        save_minhash_index(_mkdocs(spark, corpus_rows[:40]), path)
        # simulate the crash: append one doc's sigs WITHOUT bands
        crashed = _mkdocs(spark, [corpus_rows[55]])
        minhash_signatures_sql_safe(crashed).write.mode("append").parquet(
            os.path.join(path, "sigs")
        )
        probe = _mkdocs(spark, [(100000, corpus_rows[55][1])])
        # doc 55 itself is invisible (other cyclic near-dups in the
        # fixture corpus may still match — that's the corpus, not the
        # index)
        assert not neardup.open(spark, path).match(
            probe, threshold=0.9,
        ).filter(F.col("hist_id") == 55).collect()
        # any subsequent append repairs the diff
        rep = neardup.open(spark, path).append(
            _mkdocs(spark, [corpus_rows[56]]), batch_id=2,
        )
        # the batch's OWN contribution and the predecessor's repaired
        # leftover are reported separately (conflating them overstated
        # the batch's contribution)
        assert rep["appended_rows"] == 1
        assert rep["repaired_rows"] == 1
        got = neardup.open(spark, path).match(probe, threshold=0.9).collect()
        assert any(int(r.hist_id) == 55 for r in got)
        _, _, meta = load_minhash_index(spark, path)
        assert int(meta["n_rows"]) == 42


class TestParityWithBatchOperator:
    def test_index_match_agrees_with_batch_pairs(
        self, spark, corpus_rows, index_path
    ):
        """Cross-split pairs found by the one-shot batch operator's
        LSH stage must be found by the index path too (same family,
        same bands), with est 1.0 exactly where token sets tie."""
        from astro_vectordb_spark.operators.dedup import (
            minhash_lsh_pairs_sql_safe,
        )

        new_rows = [(100000 + i, t) for i, t in corpus_rows[:10]]
        union = _mkdocs(spark, corpus_rows + new_rows)
        batch = {
            (int(r.b_id), int(r.a_id))
            for r in minhash_lsh_pairs_sql_safe(
                union, threshold=1.0
            ).collect()
            if int(r.b_id) >= 100000 and int(r.a_id) < 100000
        }
        idx = {
            (int(r.new_id), int(r.hist_id))
            for r in neardup.open(spark, index_path).match(
                _mkdocs(spark, new_rows), threshold=1.0,
            ).collect()
        }
        assert batch <= idx  # exact-Jaccard-1.0 pairs all surface at est 1.0


class TestStreamingIngest:
    def test_stream_ingest_end_to_end(self, spark, corpus_rows, tmp_path,
                                      parquet_stream):
        """Stream integration: streamed docs become matchable in the
        persisted index (the per-batch semantics are pinned by
        test_neardup_facade.TestIngestBatch)."""
        path = str(tmp_path / "idx")
        save_minhash_index(_mkdocs(spark, corpus_rows[:40]), path)
        body = "streamed body of fresh unseen words"
        stream = parquet_stream(
            "doc_id long, text string",
            [(500_000 + i, body) for i in range(3)],
            [(500_003 + i, body) for i in range(3)],
        )
        q = neardup.open(spark, path).stream_ingest(stream, drop_dups=True)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        probe = _mkdocs(spark, [(900000, body)])
        assert neardup.open(spark, path).match(
            probe, threshold=0.9,
        ).limit(1).count(), "streamed docs never became matchable"


class TestCompact:
    def test_compact_after_churn(self, spark, corpus_rows, tmp_path):
        """Many single-doc appends -> many small files; compaction
        coalesces both tables, drops duplicate ids, and matching is
        unchanged."""
        import os

        from astro_vectordb_spark.operators.dedup import (
            minhash_signatures_sql_safe,
        )

        path = str(tmp_path / "idx")
        save_minhash_index(_mkdocs(spark, corpus_rows[:30]), path)
        for b, i in enumerate(range(30, 40)):
            neardup.open(spark, path).append(
                _mkdocs(spark, [corpus_rows[i]]), batch_id=b + 1,
            )
        # plant a duplicate-id sig row (crashed-append leftover shape)
        minhash_signatures_sql_safe(
            _mkdocs(spark, [corpus_rows[5]])
        ).write.mode("append").parquet(os.path.join(path, "sigs"))
        before = {
            (int(r.new_id), int(r.hist_id))
            for r in neardup.open(spark, path).match(
                _mkdocs(spark, [(100000, corpus_rows[35][1])]), threshold=0.9,
            ).collect()
        }
        rep = neardup.open(spark, path).compact(
            target_rows_per_file=1_000_000, min_file_ratio=1.0,
        )
        assert rep["compacted"] and rep["target_files"] == 1
        sigs, _, _ = load_minhash_index(spark, path)
        assert sigs.groupBy("doc_id").count().filter("count > 1").count() == 0
        after = {
            (int(r.new_id), int(r.hist_id))
            for r in neardup.open(spark, path).match(
                _mkdocs(spark, [(100000, corpus_rows[35][1])]), threshold=0.9,
            ).collect()
        }
        assert after == before
        # well-sized table -> no-op
        rep2 = neardup.open(spark, path).compact(
            target_rows_per_file=1_000_000, min_file_ratio=2.0,
        )
        assert not rep2["compacted"]


class TestIndexGroups:
    def test_groups_keep_min_id_and_singletons(self, spark, tmp_path):
        rows = [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),   # copy of 1
            (9, "alpha beta gamma delta epsilon zeta"),   # copy of 1
            (5, "one two three four five six seven"),
            (6, "totally different body of words here now"),
        ]
        path = str(tmp_path / "idx")
        save_minhash_index(_mkdocs(spark, rows), path)
        keep = sorted(
            int(r.doc_id)
            for r in neardup.open(spark, path).groups(threshold=0.9).collect()
        )
        assert keep == [1, 5, 6]  # min id of {1,2,9} + the singletons


class TestHotBucketGuard:
    """Round-11: exact duplicates share ALL band buckets, so a d-copy
    boilerplate cluster used to push O(d^2 x bands) candidate rows
    through one join key.  The guard collapses exact-signature dups to
    a min-id representative before banding (lossless for the keep set)
    and caps the match face's per-bucket witnesses (opt-in)."""

    BOILER = "the same boilerplate footer text appears everywhere verbatim"

    def _planted(self, spark, d, n_unique=20):
        rows = [(i, self.BOILER) for i in range(d)] + [
            (
                100_000 + i,
                f"unique doc number {i} carrying words w{i}a w{i}b w{i}c",
            )
            for i in range(n_unique)
        ]
        return _mkdocs(spark, rows)

    def test_planted_cluster_candidates_linear_not_quadratic(
        self, spark, tmp_path
    ):
        """10k identical copies: the sweep's candidate stage sees ONE
        representative for the whole cluster — rep count and rep-level
        pair count are O(distinct sigs), independent of d — and the
        keep set is exactly {min id} plus the unique docs."""
        from astro_vectordb_spark.sources.index_lifecycle import (
            minhash_sig_self_pairs,
        )

        d = 10_000
        path = str(tmp_path / "idx")
        save_minhash_index(self._planted(spark, d), path)
        sigs, _, meta = load_minhash_index(spark, path)
        reps, pairs = minhash_sig_self_pairs(
            sigs,
            num_hashes=int(meta["num_hashes"]),
            bands=int(meta["bands"]),
            threshold=0.8,
            id_col="doc_id",
        )
        n_reps = reps.count()
        assert n_reps <= 21  # 1 boilerplate rep + 20 uniques
        assert pairs.count() < 50  # never scales with d
        keep = {
            int(r.doc_id)
            for r in neardup.open(spark, path).groups(threshold=0.8).collect()
        }
        assert 0 in keep
        assert not any(0 < k < d for k in keep)  # all copies collapsed
        assert all(100_000 + i in keep for i in range(20))

    def test_groups_unchanged_by_collapse_on_mixed_corpus(
        self, spark, corpus_rows, tmp_path
    ):
        """The collapse is exact: on a corpus with near-dups (not just
        exact dups) the keep set equals the brute-force reference
        (pairwise est + CC over ALL docs, no collapse)."""
        from astro_vectordb_spark.operators.dedup import (
            connected_components,
            minhash_signatures_sql_safe,
        )

        rows = corpus_rows[:30] + [
            (500 + i, corpus_rows[i][1]) for i in range(6)  # exact dups
        ]
        path = str(tmp_path / "idx")
        save_minhash_index(_mkdocs(spark, rows), path)
        got = sorted(
            int(r.doc_id)
            for r in neardup.open(spark, path).groups(threshold=0.9).collect()
        )
        # brute-force reference: all-pairs est over the signatures
        sigs = minhash_signatures_sql_safe(_mkdocs(spark, rows)).collect()
        ids = [int(r.doc_id) for r in sigs]
        sig = {int(r.doc_id): list(r.sig) for r in sigs}
        edges = []
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                est = sum(
                    1 for u, v in zip(sig[a], sig[b]) if u == v
                ) / len(sig[a])
                if round(est, 6) >= 0.9:
                    edges.append((min(a, b), max(a, b)))
        pairs_df = spark.createDataFrame(
            edges or [(None, None)], "a_id long, b_id long"
        ).filter(F.col("a_id").isNotNull())
        comp = {
            int(r.id): int(r.component)
            for r in connected_components(pairs_df).collect()
        }
        expect = sorted(
            i for i in ids if comp.get(i, i) == i
        )
        assert got == expect

    def test_match_bucket_cap_deterministic_and_decision_lossless(
        self, spark, tmp_path
    ):
        """A probe against a 500-copy boilerplate cluster: uncapped
        returns every witness; capped returns the id-ascending first
        max_bucket_size witnesses with identical est and the SAME
        new_id decision."""
        d = 500
        path = str(tmp_path / "idx")
        save_minhash_index(self._planted(spark, d, n_unique=5), path)
        probe = _mkdocs(spark, [(999_999, self.BOILER)])
        full = neardup.open(spark, path).match(probe, threshold=0.9)
        assert full.count() == d
        capped = neardup.open(spark, path).match(
            probe, threshold=0.9, max_bucket_size=5,
        ).collect()
        assert 0 < len(capped) <= 5
        assert {int(r.new_id) for r in capped} == {999_999}
        assert all(float(r.est_jaccard) == 1.0 for r in capped)
        assert sorted(int(r.hist_id) for r in capped) == [0, 1, 2, 3, 4]


class TestCollapseExactPairs:
    def test_sql_safe_star_edges_preserve_groups(self, spark):
        from astro_vectordb_spark.operators.dedup import (
            dedup_groups,
            minhash_lsh_pairs_sql_safe,
        )

        d = 30
        rows = (
            [(i, "repeated boilerplate body of words here") for i in range(d)]
            + [
                (100, "alpha beta gamma delta epsilon zeta eta theta"),
                (101, "alpha beta gamma delta epsilon zeta eta iota"),
                (200, "completely unrelated set of tokens entirely"),
            ]
        )
        df = _mkdocs(spark, rows)
        full = minhash_lsh_pairs_sql_safe(df, threshold=0.5)
        coll = minhash_lsh_pairs_sql_safe(df, threshold=0.5, collapse_exact=True)
        n_full, n_coll = full.count(), coll.count()
        assert n_full >= d * (d - 1) // 2  # quadratic within the cluster
        assert n_coll < d + 10  # star edges + cross-group pairs
        # connectivity-equivalent: identical surviving representatives
        g_full = {int(r.doc_id) for r in dedup_groups(df, full).collect()}
        g_coll = {int(r.doc_id) for r in dedup_groups(df, coll).collect()}
        assert g_full == g_coll
        # star edges carry the exact-dup jaccard
        star = coll.filter((F.col("a_id") == 0) & (F.col("b_id") < d))
        assert all(float(r.jaccard) == 1.0 for r in star.collect())

    def test_xxhash_variant_collapse(self, spark):
        from astro_vectordb_spark.operators.dedup import minhash_lsh_pairs

        rows = [(i, "same text body across every copy present") for i in range(12)] + [
            (50, "an unrelated document body with other words")
        ]
        df = _mkdocs(spark, rows)
        coll = minhash_lsh_pairs(df, threshold=0.8, collapse_exact=True)
        got = {(int(r.a_id), int(r.b_id)) for r in coll.collect()}
        assert got == {(0, i) for i in range(1, 12)}  # pure star


class TestIntraBatchDedup:
    def test_intra_batch_near_dups_single_survivor(
        self, spark, corpus_rows, tmp_path
    ):
        """Two copies of the same NEW doc arriving in one micro-batch:
        neither is in the historical index, so the historical match
        alone appended both — the intra-batch pass keeps only the
        min-id copy.  Replay stays a no-op."""
        from astro_vectordb_spark.sources.index_lifecycle import (
            MinhashFamily,
            ingest_batch,
        )

        path = str(tmp_path / "idx")
        save_minhash_index(_mkdocs(spark, corpus_rows[:40]), path)
        novel = "fresh unseen body of words arriving twice at once"
        batch = _mkdocs(
            spark,
            [
                (100_001, novel),
                (100_000, novel),  # same new doc, smaller id -> survivor
                (100_002, "another distinct novel body of words"),
                (100_003, corpus_rows[3][1]),  # historical dup
            ],
        )
        rep = ingest_batch(spark, path, MinhashFamily(), batch, 0, 0.9)
        assert rep["dropped_intra_batch"] == 1
        assert rep["dropped_dups"] == 1
        assert rep["appended_rows"] == 2
        sigs, _, _ = load_minhash_index(spark, path)
        landed = {
            int(r.doc_id)
            for r in sigs.filter(F.col("doc_id") >= 100_000).collect()
        }
        assert landed == {100_000, 100_002}
        rep2 = ingest_batch(spark, path, MinhashFamily(), batch, 0, 0.9)
        assert rep2["skipped_replay"]


class TestRemoveAndApply:
    def test_remove_physically_deletes_both_tables(
        self, spark, corpus_rows, tmp_path
    ):
        path = str(tmp_path / "idx")
        save_minhash_index(_mkdocs(spark, corpus_rows[:40]), path)
        rep = neardup.open(spark, path).remove([3, 5], batch_id=0)
        assert rep["removed_docs"] == 2
        sigs, bands, meta = load_minhash_index(spark, path)
        assert sigs.filter(F.col("doc_id").isin([3, 5])).count() == 0
        assert bands.filter(F.col("doc_id").isin([3, 5])).count() == 0
        assert int(meta["n_rows"]) == 38
        # removed docs stop matching
        probe = _mkdocs(spark, [(100000, corpus_rows[3][1])])
        got = neardup.open(spark, path).match(probe, threshold=0.9)
        assert not any(int(r.hist_id) == 3 for r in got.collect())
        # replay is a no-op
        rep2 = neardup.open(spark, path).remove([3, 5], batch_id=0)
        assert rep2["skipped_replay"]

    def test_apply_groups_removes_losers_and_serves_post_sweep(
        self, spark, tmp_path
    ):
        rows = [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),   # copy of 1
            (9, "alpha beta gamma delta epsilon zeta"),   # copy of 1
            (5, "one two three four five six seven"),
            (6, "totally different body of words here now"),
        ]
        path = str(tmp_path / "idx")
        save_minhash_index(_mkdocs(spark, rows), path)
        rep = neardup.open(spark, path).apply_sweep(threshold=0.9, batch_id=0)
        assert rep["removed_docs"] == 2 and rep["kept"] == 3
        sigs, _, _ = load_minhash_index(spark, path)
        assert sorted(int(r.doc_id) for r in sigs.collect()) == [1, 5, 6]
        # post-sweep serving: a copy of the boilerplate matches ONLY
        # the surviving representative
        probe = _mkdocs(spark, [(100, rows[0][1])])
        got = neardup.open(spark, path).match(probe, threshold=0.9)
        assert sorted(int(r.hist_id) for r in got.collect()) == [1]
        # replayed sweep is a no-op
        rep2 = neardup.open(spark, path).apply_sweep(threshold=0.9, batch_id=0)
        assert rep2["skipped_replay"]


class TestSweepReplayNamespace:
    def test_sweep_does_not_mask_targeted_remove(
        self, spark, corpus_rows, tmp_path
    ):
        """The sweep and a targeted remove stream each number batches
        from 0 — they must not share a replay namespace (the
        cross-operation collision the namespaced log prevents)."""
        path = str(tmp_path / "idx")
        save_minhash_index(_mkdocs(spark, corpus_rows[:40]), path)
        rep_s = neardup.open(spark, path).apply_sweep(
            threshold=0.9, batch_id=0,
        )
        assert not rep_s.get("skipped_replay", False)
        # a remove with the SAME batch_id must still apply
        rep_r = neardup.open(spark, path).remove([3], batch_id=0)
        assert not rep_r.get("skipped_replay", False)
        assert rep_r["removed_docs"] == 1
        # and each op's own replay stays a no-op
        assert neardup.open(spark, path).apply_sweep(
            threshold=0.9, batch_id=0,
        )["skipped_replay"]
        assert neardup.open(spark, path).remove(
            [3], batch_id=0,
        )["skipped_replay"]

    def test_replayed_append_reports_repaired_rows_key(
        self, spark, corpus_rows, tmp_path
    ):
        path = str(tmp_path / "idx")
        save_minhash_index(_mkdocs(spark, corpus_rows[:40]), path)
        neardup.open(spark, path).append(
            _mkdocs(spark, [corpus_rows[41]]), batch_id=5,
        )
        rep = neardup.open(spark, path).append(
            _mkdocs(spark, [corpus_rows[41]]), batch_id=5,
        )
        assert rep["skipped_replay"] and rep["repaired_rows"] == 0


def test_signature_and_band_sql_forms_match_column_trees(spark):
    """The min aggregates of ``minhash_signatures_sql_safe`` and the
    band folds of ``minhash_band_table`` are parsed SQL expressions; on
    NULL, empty, short (< n tokens) and astral-code-point texts they
    give the same rows, bit for bit, as the Column-tree forms they
    replaced (built here from the same hash column)."""
    from astro_vectordb_spark.functions.text import word_shingles
    from astro_vectordb_spark.operators.dedup import (
        BAND_BASE,
        POLY_MOD,
        _char_poly_hash,
        minhash_band_table,
        minhash_signatures_sql_safe,
    )

    texts = [
        (0, None),
        (1, ""),
        (2, "one two"),
        (3, "merge hash spark join scan"),
        (4, "\U0001f389 party \U0001f389 time \U00010348 gothic 日本"),
        (5, "MERGE  hash\tspark join  scan sort"),
        (6, "\U0001d11e clef \U0001d11e clef \U0001d11e clef"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    nh, bands, n = 16, 4, 3
    got = {r.doc_id: list(r.sig) for r in minhash_signatures_sql_safe(
        docs, num_hashes=nh, n=n).collect()}
    ex = (
        docs.select("doc_id", word_shingles(F.col("text"), n).alias("_sh"))
        .filter(F.size("_sh") > 0)
        .select("doc_id", F.explode("_sh").alias("_s"))
        .withColumn("_h", _char_poly_hash(F.col("_s")))
    )
    want = {
        r.doc_id: list(r.sig)
        for r in ex.groupBy("doc_id").agg(
            F.array(*[
                F.min((F.lit(2 * i + 1) * F.col("_h") + F.lit(7919 * i))
                      % F.lit(POLY_MOD))
                for i in range(nh)
            ]).alias("sig")
        ).collect()
    }
    assert got == want
    assert set(got) == {3, 4, 5, 6}  # NULL, empty and short docs drop

    sigs = spark.createDataFrame(
        [(d, s) for d, s in sorted(got.items())]
        + [(99, [POLY_MOD - 1] * nh), (98, [0] * nh)],
        "doc_id long, sig array<bigint>",
    )
    r = nh // bands
    old = sigs.select(
        "doc_id",
        F.posexplode(F.array(*[
            F.aggregate(
                F.slice(F.col("sig"), b * r + 1, r), F.lit(0).cast("long"),
                lambda acc, x: (acc * F.lit(BAND_BASE) + x) % F.lit(POLY_MOD),
            )
            for b in range(bands)
        ])).alias("band_idx", "band_sig"),
    )
    new = minhash_band_table(sigs, num_hashes=nh, bands=bands)
    assert new.schema == old.schema
    assert sorted(new.collect()) == sorted(old.collect())
