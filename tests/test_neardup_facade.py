"""Unified near-dup facade (round-14 verdict item 5): ``neardup.open``
auto-detects the family from ``_meta`` and returns one handle whose
match/append/remove/compact/groups/apply_sweep call the shared
lifecycle with the family object — the dedup analogue of the
``search.search`` kind matrix, and the only near-dup maintenance
surface.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from astro_vectordb_spark import neardup

DIM = 16
K = 4


def _docs(spark, n=80):
    rows = []
    for i in range(n):
        words = [f"w{(i * 7 + j * 13) % 97}" for j in range(30)]
        rows.append((i, " ".join(words)))
    # exact copies of docs 0..4, ids shifted
    rows += [
        (1000 + i, " ".join(f"w{(i * 7 + j * 13) % 97}" for j in range(30)))
        for i in range(5)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vecs(spark, n=120):
    rng = np.random.RandomState(5)
    C = rng.randn(K, DIM)
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    X = C[rng.randint(0, K, n)] + 0.02 * rng.randn(n, DIM)
    rows = [(i, [float(x) for x in X[i]]) for i in range(n)]
    rows += [(1000 + i, [float(x) for x in X[i]]) for i in range(5)]
    cents = spark.createDataFrame(
        [(k, [float(x) for x in C[k]]) for k in range(K)],
        "cell_id int, centroid array<double>",
    )
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ), cents


@pytest.fixture(scope="module")
def corpora(spark):
    docs = _docs(spark).cache()
    vecs, cents = _vecs(spark)
    vecs = vecs.cache()
    docs.count()
    vecs.count()
    yield docs, vecs, cents
    docs.unpersist()
    vecs.unpersist()


def _build(spark, corpora, family, path):
    docs, vecs, cents = corpora
    hist_docs = docs.filter(F.col("doc_id") < 80)
    hist_vecs = vecs.filter(F.col("vec_id") < 120)
    if family == "minhash":
        from astro_vectordb_spark.sources.vault import save_minhash_index

        save_minhash_index(hist_docs, path)
    elif family == "simhash":
        from astro_vectordb_spark.sources.vault import save_simhash_index

        save_simhash_index(hist_docs, path, max_hamming=3)
    elif family == "rp":
        from astro_vectordb_spark.sources.vault import save_rp_index

        save_rp_index(hist_vecs, path)
    else:
        from astro_vectordb_spark.sources.semdedup_index import (
            save_semdedup_index,
        )

        save_semdedup_index(hist_vecs, path, centroids=cents)


FAMILIES = ["minhash", "simhash", "rp", "semdedup"]


class TestKindMatrix:
    @pytest.mark.parametrize("family", FAMILIES)
    def test_full_lifecycle_via_handle(self, spark, corpora, tmp_path,
                                       family):
        docs, vecs, cents = corpora
        path = str(tmp_path / f"nd_{family}")
        _build(spark, corpora, family, path)
        idx = neardup.open(spark, path)
        assert idx.family == family
        assert idx.meta.get("n_rows") in (80, 120)
        text = family in ("minhash", "simhash")
        batch = (docs if text else vecs).filter(
            F.col("doc_id" if text else "vec_id") >= 1000
        )
        # exact planted copies must surface through the generic match
        got = idx.match(batch)
        pair_id = "new_id"
        assert got.filter(
            F.col(pair_id) - 1000 == F.col("hist_id")
        ).count() == 5
        # append + replay
        rep = idx.append(batch, batch_id=1)
        assert rep["appended_rows"] == 5
        assert idx.append(batch, batch_id=1)["skipped_replay"]
        # remove (physical)
        rep = idx.remove([1000, 1001], batch_id=2)
        assert rep[[k for k in rep if k.startswith("removed")][0]] == 2
        # retroactive groups: copies collapse, min-id representative
        keep = {r[0] for r in idx.groups().collect()}
        assert 0 in keep and 1002 not in keep
        # sweep-apply reaches a fixpoint
        rep = idx.apply_sweep(batch_id=3)
        assert rep["kept"] == len(keep)
        assert idx.groups().count() == rep["kept"]
        # compact face callable after churn (may be a no-op)
        assert "compacted" in idx.compact()
        # replay-log gc through the handle
        assert "compacted" in idx.gc(keep_last_batches=1)

    def test_refresh_dispatch(self, spark, corpora, tmp_path):
        docs, vecs, cents = corpora
        p_sd = str(tmp_path / "nd_sd")
        _build(spark, corpora, "semdedup", p_sd)
        idx = neardup.open(spark, p_sd)
        rep = idx.refresh(centroids=cents)
        assert rep["reassigned_rows"] == 120
        assert idx.meta["train_sim_mean"] is not None
        p_mh = str(tmp_path / "nd_mh")
        _build(spark, corpora, "minhash", p_mh)
        with pytest.raises(ValueError, match="refresh"):
            neardup.open(spark, p_mh).refresh()

    def test_non_neardup_index_rejected(self, spark, corpora, tmp_path):
        from astro_vectordb_spark.operators.ann import ivf_build_sampled
        from astro_vectordb_spark.sources.vault import save_ivf_index

        docs, vecs, cents = corpora
        path = str(tmp_path / "ivf")
        assigned, centroids = ivf_build_sampled(
            vecs.filter(F.col("vec_id") < 120), k_cells=4
        )
        save_ivf_index(assigned, centroids, path)
        with pytest.raises(ValueError, match="not a near-dup index"):
            neardup.open(spark, path)


# The keywords (with their defaults) each family's maintenance calls
# have always taken, per handle method.
_TEXT_MATCH = {"text_col": "text", "max_bucket_size": None,
               "telemetry": None}
_COMPACT = {"target_rows_per_file": 4_000_000, "min_file_ratio": 2.0}
HANDLE_KW = {
    "minhash": {
        "match": {"threshold": 0.8, **_TEXT_MATCH},
        "append": {"batch_id": None, "dedup_ids": True, "text_col": "text"},
        "remove": {"batch_id": None, "op": "minhash_remove"},
        "compact": _COMPACT,
        "groups": {"threshold": 0.8},
        "apply_sweep": {"threshold": 0.8, "batch_id": None},
    },
    "simhash": {
        "match": {"max_hamming": None, **_TEXT_MATCH},
        "append": {"batch_id": None, "dedup_ids": True, "text_col": "text"},
        "remove": {"batch_id": None, "op": "simhash_remove"},
        "compact": _COMPACT,
        "groups": {"max_hamming": None, "max_bucket_size": None},
        "apply_sweep": {"max_hamming": None, "batch_id": None,
                        "max_bucket_size": None},
    },
    "rp": {
        "match": {"threshold": 0.9, "max_bucket_size": None,
                  "telemetry": None, "n_probes": 0},
        "append": {"batch_id": None, "dedup_ids": True},
        "remove": {"batch_id": None, "op": "rp_remove"},
        "compact": _COMPACT,
        "groups": {"threshold": 0.9, "max_bucket_size": None},
        "apply_sweep": {"threshold": 0.9, "batch_id": None,
                        "max_bucket_size": None},
    },
    "semdedup": {
        "match": {"eps": 0.95, "max_bucket_size": None, "telemetry": None,
                  "n_probes": 1, "probe_margin": 0.05},
        "append": {"batch_id": None, "dedup_ids": True},
        "remove": {"batch_id": None, "op": "semdedup_remove"},
        "compact": _COMPACT,
        "groups": {"eps": 0.95, "keep": "min_id", "max_cluster_rows": None,
                   "use_stored_probes": True},
        "apply_sweep": {"eps": 0.95, "keep": "min_id", "batch_id": None,
                        "max_cluster_rows": None},
    },
}
_SCORE_COL = {"minhash": "est_jaccard", "simhash": "hamming", "rp": "score",
              "semdedup": "score"}


@pytest.fixture(scope="module")
def contract_indexes(spark, corpora, tmp_path_factory):
    root = tmp_path_factory.mktemp("nd_contract")
    paths = {}
    for family in FAMILIES:
        paths[family] = str(root / family)
        _build(spark, corpora, family, paths[family])
    return paths


@pytest.mark.parametrize("method", list(HANDLE_KW["minhash"]))
@pytest.mark.parametrize("family", FAMILIES)
def test_handle_keyword_contract(spark, corpora, contract_indexes, family,
                                 method):
    """The handle takes exactly the keywords each family's maintenance
    calls have always taken, at their old defaults: each one is
    accepted; every keyword another family takes for the same method
    (and a made-up one) raises TypeError; a SimHash distance above the
    build distance raises ValueError."""
    docs, vecs, _ = corpora
    idx = neardup.open(spark, contract_indexes[family])
    call = getattr(idx, method)
    batch = (docs if family in ("minhash", "simhash") else vecs).limit(0)
    args = {"match": (batch,), "append": (batch,), "remove": ([],)}.get(
        method, ())
    accepted = HANDLE_KW[family][method]
    out = call(*args, **accepted)
    if method == "match":
        assert out.columns == ["new_id", "hist_id", _SCORE_COL[family]]
    elif method == "groups":
        assert out.columns == [idx.meta["id_col"]]
    else:
        assert isinstance(out, dict)
    foreign = {k for kws in HANDLE_KW.values() for k in kws[method]}
    for kw in sorted(foreign - set(accepted)) + ["bogus"]:
        with pytest.raises(TypeError):
            call(*args, **{kw: 1})
    if family == "simhash" and "max_hamming" in accepted:
        with pytest.raises(ValueError, match="max_hamming"):
            call(*args, max_hamming=idx.meta["max_hamming"] + 1)


class TestStreamDispatch:
    def test_stream_ingest_via_handle(self, spark, corpora, tmp_path,
                                      parquet_stream):
        """The handle starts the family's streaming ingest (one family
        exercises the dispatch; per-family semantics are pinned by
        TestIngestBatch and the family streaming suites)."""
        docs, _, _ = corpora
        path = str(tmp_path / "nd_stream")
        _build(spark, corpora, "minhash", path)
        idx = neardup.open(spark, path)
        first = docs.filter(F.col("doc_id") == 0).first()["text"]
        stream = parquet_stream(
            "doc_id long, text string",
            [(900_000 + i, first) for i in range(5)],
            [(900_005 + i, first) for i in range(5)],
        )
        q = idx.stream_ingest(stream, drop_dups=True)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # every streamed row was an exact copy of indexed doc 0:
        # nothing lands
        assert neardup.open(spark, path).meta["n_rows"] == 80

    def test_family_knob_checked(self, spark, corpora, tmp_path,
                                 parquet_stream):
        """Each family takes its own similarity knob; another family's
        is rejected rather than silently ignored."""
        path = str(tmp_path / "nd_knob")
        _build(spark, corpora, "rp", path)
        stream = parquet_stream("vec_id long, embedding array<double>",
                                [(1, [1.0] * DIM)])
        with pytest.raises(ValueError, match="threshold="):
            neardup.open(spark, path).stream_ingest(stream, eps=0.9)


# Dedup-at-ingest on a static batch through the shared body
# (``index_lifecycle.ingest_batch``, what every near-dup stream runs per
# micro-batch).  Each case: one copy of an indexed row (a historical
# dup), and for the facade corpora one intra-batch near-dup pair of a
# new row, plus novel rows.  The last two cases are the former
# per-family batch-kernel tests of the minhash and RP suites.
_NOVEL_TEXT = "fresh unseen body of words arriving twice in one batch"
_NOVEL_TEXT_2 = "another distinct novel passage about entirely other things"
INGEST_CASES = FAMILIES + ["minhash_hist_only", "rp_stored_planes"]


def _ingest_case(spark, corpora, tmp_path, case):
    """-> (path, family, batch, threshold, expected, probe, probe_hit)."""
    from astro_vectordb_spark.sources.index_lifecycle import FAMILIES as FAM

    docs, vecs, _ = corpora
    path = str(tmp_path / f"ingest_{case}")
    if case == "minhash_hist_only":
        from astro_vectordb_spark.sources.vault import save_minhash_index

        words = ["merge", "hash", "spark", "join", "scan", "sort", "row",
                 "plan"]
        rows = [(i, " ".join(words[(i * 3 + j) % 8]
                             for j in range(6 + i % 4)))
                for i in range(40)]
        save_minhash_index(
            spark.createDataFrame(rows, "doc_id long, text string"), path
        )
        novel = "novel one two three four five six seven"
        batch = spark.createDataFrame(
            [(100000, rows[3][1]), (100001, novel)],  # dup of doc 3
            "doc_id long, text string",
        )
        probe = spark.createDataFrame([(200000, novel)],
                                      "doc_id long, text string")
        return (path, FAM["minhash"](), batch, 0.9,
                {"dropped_intra_batch": 0, "dropped_dups": 1,
                 "landed": {100001}}, probe, 100001)
    if case == "rp_stored_planes":
        from astro_vectordb_spark.sources.vault import save_rp_index

        rng = np.random.RandomState(5)
        C = rng.randn(20, DIM)
        C /= np.linalg.norm(C, axis=1, keepdims=True)
        X = C[rng.randint(0, 20, 400)] + 0.05 * rng.randn(400, DIM)
        schema = "vec_id long, embedding array<double>"
        save_rp_index(
            spark.createDataFrame(
                [(i, [float(x) for x in X[i]]) for i in range(300)], schema
            ),
            path, n_planes=6, n_tables=8, seed=11,
        )
        v7, v350 = [float(x) for x in X[7]], [float(x) for x in X[350]]
        # the twin (800350) loses intra-batch to 700350 (min id); the
        # hist copy drops against indexed vector 7; one novel appends
        batch = spark.createDataFrame(
            [(700007, v7), (700350, v350), (800350, v350)], schema
        )
        probe = spark.createDataFrame([(900350, v350)], schema)
        return (path, FAM["rp"](), batch, 0.99,
                {"dropped_intra_batch": 1, "dropped_dups": 1,
                 "landed": {700350}}, probe, 700350)
    _build(spark, corpora, case, path)
    expected = {"dropped_intra_batch": 1, "dropped_dups": 1,
                "landed": {5001, 5003}}
    if case in ("minhash", "simhash"):
        schema = "doc_id long, text string"
        copy = docs.filter(F.col("doc_id") == 3).first()["text"]
        new, other = _NOVEL_TEXT, _NOVEL_TEXT_2
    else:
        schema = "vec_id long, embedding array<double>"
        copy = vecs.filter(F.col("vec_id") == 3).first()["embedding"]
        rng = np.random.RandomState(17)
        new, other = ([float(x) for x in rng.randn(DIM)] for _ in range(2))
    batch = spark.createDataFrame(
        [(5000, copy), (5001, new), (5002, new), (5003, other)], schema
    )
    probe = spark.createDataFrame([(6001, new)], schema)
    thr = {"minhash": 0.8, "simhash": 28 / 31, "rp": 0.9,
           "semdedup": 0.95}[case]
    return path, FAM[case](), batch, thr, expected, probe, 5001


class TestIngestBatch:
    @pytest.mark.parametrize("case", INGEST_CASES)
    def test_drops_intra_and_hist_dups_appends_novel_replay_noop(
        self, spark, corpora, tmp_path, case
    ):
        import os

        from astro_vectordb_spark.sources.index_lifecycle import (
            ingest_batch,
            match_index,
        )

        path, fam, batch, thr, expected, probe, hit = _ingest_case(
            spark, corpora, tmp_path, case
        )
        n0 = neardup.open(spark, path).meta["n_rows"]
        rep = ingest_batch(spark, path, fam, batch, 0, thr)
        assert rep["dropped_intra_batch"] == expected["dropped_intra_batch"]
        assert rep["dropped_dups"] == expected["dropped_dups"]
        assert rep["appended_rows"] == len(expected["landed"])
        id_col = neardup.open(spark, path).meta["id_col"]
        primary = os.path.join(path, fam.primary_table)
        landed = {
            int(r[0]) for r in spark.read.parquet(primary)
            .filter(F.col(id_col) >= 5000).select(id_col).collect()
        }
        assert landed == expected["landed"]
        # the appended novel row is matchable as history
        got = match_index(spark, path, fam, probe, thr)
        assert any(int(r["hist_id"]) == hit for r in got.collect())
        # a redelivered batch is a no-op
        rep2 = ingest_batch(spark, path, fam, batch, 0, thr)
        assert rep2["skipped_replay"]
        meta = neardup.open(spark, path).meta
        assert meta["n_rows"] == n0 + len(expected["landed"])
