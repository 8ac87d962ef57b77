"""Persisted SimHash index — round 13: the FOURTH family over the
shared index-lifecycle core, proving a new signature scheme costs
three kernels (encode / bucketize / pair_score), not a
re-implementation of the maintenance machinery.

Contract under test: the match face finds exactly the pairs the
one-shot ``simhash_pairs_sql_safe`` face finds between batch and
history (same hash family, same pigeonhole chunks, same popcount
verify); the pigeonhole recall guarantee survives the lifecycle;
appends/removes are replay-safe; querying past the build distance is
rejected; both hash families (sql_safe31 / native64) share the faces.
"""

import pytest
from pyspark.sql import functions as F

from astro_vectordb_spark.operators.dedup import simhash_pairs_sql_safe
from astro_vectordb_spark import neardup
from astro_vectordb_spark.sources.vault import (
    load_simhash_index,
    save_simhash_index,
)


def _docs(spark, n=120):
    rows = []
    for i in range(n):
        words = [f"w{(i * 7 + j * 13) % 97}" for j in range(30)]
        rows.append((i, " ".join(words)))
    # planted near-copies of docs 0..9 (one word changed -> small
    # hamming) and exact copies (hamming 0), ids shifted
    for i in range(10):
        words = [f"w{(i * 7 + j * 13) % 97}" for j in range(30)]
        words[5] = "zzz"
        rows.append((1000 + i, " ".join(words)))
        rows.append((2000 + i, " ".join(
            f"w{(i * 7 + j * 13) % 97}" for j in range(30)
        )))
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def data(spark):
    df = _docs(spark).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture()
def index(spark, data, tmp_path):
    path = str(tmp_path / "sh_idx")
    hist = data.filter(F.col("doc_id") < 100)
    save_simhash_index(hist, path, max_hamming=3)
    return path, hist


class TestSaveLoadMatch:
    def test_layout_and_meta(self, spark, index):
        path, _ = index
        sigs, chunks, meta = load_simhash_index(spark, path)
        assert sigs.count() == 100
        assert chunks.count() == 400  # 4 pigeonhole chunks per doc
        assert meta["bits"] == 31 and meta["max_hamming"] == 3
        assert meta["hash_family"] == "sql_safe31"
        assert meta["n_rows"] == 100

    def test_match_equals_one_shot_face(self, spark, data, index):
        """batch-vs-history via the index == the one-shot SQL-safe
        face's pairs restricted to (batch, hist)."""
        path, hist = index
        batch = data.filter(F.col("doc_id") >= 1000)
        got = {
            (r["new_id"], r["hist_id"], r["hamming"])
            for r in neardup.open(spark, path).match(batch).collect()
        }
        combined = simhash_pairs_sql_safe(
            hist.unionByName(batch), max_hamming=3
        )
        want = {
            (r["b_id"], r["a_id"], r["hamming"])
            for r in combined.collect()
            if r["b_id"] >= 1000 and r["a_id"] < 100
        }
        assert got == want
        # exact copies surface at hamming 0
        zeros = {(n, h) for n, h, d in got if d == 0}
        for i in range(10):
            assert (2000 + i, i) in zeros

    def test_query_past_build_distance_rejected(self, spark, index):
        path, _ = index
        probe = spark.createDataFrame([(5, "x y z")],
                                      "doc_id long, text string")
        with pytest.raises(ValueError, match="pigeonhole"):
            neardup.open(spark, path).match(probe, max_hamming=5)
        # tighter query distance is fine (subset of build guarantee)
        neardup.open(spark, path).match(probe, max_hamming=1).count()

    def test_sql_safe31_build_distance_capped(self, spark, data, tmp_path):
        """The SQL-safe family's chunk layout is FIXED at 4 chunks, so
        building past hamming 3 would silently lose the pigeonhole
        recall guarantee — save must reject it (round-14 advice)."""
        hist = data.filter(F.col("doc_id") < 50)
        with pytest.raises(ValueError, match="max_hamming <= 3"):
            save_simhash_index(hist, str(tmp_path / "bad"), max_hamming=4)
        # native64 derives max_hamming+1 chunks: any distance honored
        p = str(tmp_path / "n64")
        save_simhash_index(hist, p, max_hamming=5, hash_family="native64")
        _, chunks, meta = load_simhash_index(spark, p)
        assert meta["max_hamming"] == 5
        assert chunks.select("chunk_idx").distinct().count() == 6


class TestLifecycle:
    def test_append_remove_replay(self, spark, data, index):
        path, _ = index
        batch = data.filter(
            (F.col("doc_id") >= 100) & (F.col("doc_id") < 110)
        )
        rep = neardup.open(spark, path).append(batch, batch_id=1)
        assert rep["appended_rows"] == 10 and not rep["skipped_replay"]
        assert neardup.open(spark, path).append(
            batch, batch_id=1,
        )["skipped_replay"]
        sigs, chunks, meta = load_simhash_index(spark, path)
        assert meta["n_rows"] == 110 and chunks.count() == 440
        rep = neardup.open(spark, path).remove([0, 1], batch_id=0)
        assert rep["removed_docs"] == 2
        assert neardup.open(spark, path).remove(
            [2], batch_id=0,
        )["skipped_replay"]
        sigs, chunks, meta = load_simhash_index(spark, path)
        assert meta["n_rows"] == 108
        assert sigs.filter(F.col("doc_id") < 2).count() == 0
        assert chunks.filter(F.col("doc_id") < 2).count() == 0

    def test_groups_and_sweep_fixpoint(self, spark, data, tmp_path):
        path = str(tmp_path / "sh_grp")
        save_simhash_index(data, path, max_hamming=3)  # incl. planted
        keep = {r["doc_id"] for r in neardup.open(spark, path).groups(
            max_hamming=0,
        ).collect()}
        # every planted exact copy has an identical-signature partner
        # with a smaller id -> it can never survive.  (The original i
        # itself may ALSO lose to a genuine 31-bit signature collision
        # with a smaller doc — the SQL-safe family is deliberately
        # coarse, see the discrimination-gap note — so only the
        # copy-side assertion is sound.)
        for i in range(10):
            assert (2000 + i) not in keep
        rep = neardup.open(spark, path).apply_sweep(max_hamming=0, batch_id=0)
        assert rep["removed_docs"] >= 10
        rep2 = neardup.open(spark, path).apply_sweep(max_hamming=0, batch_id=1)
        assert rep2["removed_docs"] == 0  # fixpoint
        assert neardup.open(spark, path).apply_sweep(
            max_hamming=0, batch_id=0,
        )["skipped_replay"]

    def test_compact_after_churn(self, spark, data, index):
        path, _ = index
        for b in range(5):
            neardup.open(spark, path).append(
                data.filter(F.col("doc_id") == 100 + b), batch_id=b,
            )
        rep = neardup.open(spark, path).compact(
            target_rows_per_file=10_000, min_file_ratio=1.0,
        )
        assert rep["compacted"] is True
        sigs, chunks, meta = load_simhash_index(spark, path)
        assert sigs.count() == 105 and meta["n_rows"] == 105
        # still serves
        probe = data.filter(F.col("doc_id") >= 2000)
        assert neardup.open(spark, path).match(probe).filter(
            F.col("hamming") == 0
        ).count() >= 10


class TestNativeFamily:
    def test_native64_lifecycle(self, spark, data, tmp_path):
        path = str(tmp_path / "sh_native")
        hist = data.filter(F.col("doc_id") < 100)
        save_simhash_index(hist, path, max_hamming=3,
                           hash_family="native64")
        sigs, chunks, meta = load_simhash_index(spark, path)
        assert meta["bits"] == 64 and meta["hash_family"] == "native64"
        assert chunks.count() == 400
        probe = data.filter(F.col("doc_id") >= 2000)  # exact copies
        got = neardup.open(spark, path).match(probe)
        zeros = {
            (r["new_id"], r["hist_id"])
            for r in got.filter(F.col("hamming") == 0).collect()
        }
        for i in range(10):
            assert (2000 + i, i) in zeros
        rep = neardup.open(spark, path).append(
            data.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 105)),
            batch_id=7,
        )
        assert rep["appended_rows"] == 5


class TestStreaming:
    def test_stream_ingest_dedups_and_serves(self, spark, data,
                                             tmp_path, parquet_stream):
        path = str(tmp_path / "sh_stream")
        save_simhash_index(
            data.filter(F.col("doc_id") < 100), path, max_hamming=3
        )
        # constant-text stream: every micro-batch row is an exact copy
        # of indexed doc 0 -> everything must drop as a duplicate
        first = data.filter(F.col("doc_id") == 0).first()["text"]
        stream = parquet_stream(
            "doc_id long, text string",
            *([(700_000 + 3 * b + i, first) for i in range(3)]
              for b in range(6)),
        )
        q = neardup.open(spark, path).stream_ingest(
            stream, drop_dups=True, gc_every=3
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        sigs, _, meta = load_simhash_index(spark, path)
        assert sigs.filter(F.col("doc_id") >= 700_000).count() == 0
        assert int(meta["n_rows"]) == 100
