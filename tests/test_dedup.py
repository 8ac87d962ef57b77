"""Tests for the dedup operator family."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from astro_vectordb_spark.operators.dedup import (
    dedup_keep_representatives,
    embedding_near_dups,
    exact_dedup,
    hamming64,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
    simhash_pairs,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _py_jaccard(a: str, b: str, n: int = 3) -> float:
    def sh(t):
        toks = t.lower().split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


TEXTS = [
    "the quick brown fox jumps over the lazy dog today",        # 0
    "the quick brown fox jumps over the lazy dog today",        # 1 exact dup of 0
    "the quick brown fox jumps over the lazy cat today",        # 2 near dup of 0
    "completely different content about spark query engines",   # 3
    "spark query engines about completely different content",   # 4 reorder of 3
    "short text",                                               # 5
]


def test_exact_dedup(spark):
    df = _docs(spark, TEXTS)
    kept = exact_dedup(df)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [0, 2, 3, 4, 5]  # doc 1 dropped (exact dup of 0, min kept)


def test_ngram_jaccard_matches_python(spark):
    df = _docs(spark, TEXTS)
    pairs = {(r["a_id"], r["b_id"]): r["jaccard"]
             for r in ngram_jaccard_pairs(df, threshold=0.0, n=3).collect()}
    for (i, a), (j, b) in itertools.combinations(enumerate(TEXTS), 2):
        expected = _py_jaccard(a, b, 3)
        got = pairs.get((i, j), 0.0)
        assert abs(got - expected) < 1e-6, (i, j, got, expected)


def test_ngram_jaccard_threshold(spark):
    df = _docs(spark, TEXTS)
    got = {(r["a_id"], r["b_id"]) for r in ngram_jaccard_pairs(df, 0.5).collect()}
    assert (0, 1) in got           # exact dup -> jaccard 1.0
    assert (0, 3) not in got


def test_allpairs_equals_naive(spark, documents):
    """Prefix-filtered exact join must return exactly the naive result."""
    small = documents.limit(300)
    for t in (0.5, 0.8):
        naive = {
            (r["a_id"], r["b_id"]): r["jaccard"]
            for r in ngram_jaccard_pairs(small, t, algorithm="naive").collect()
        }
        allp = {
            (r["a_id"], r["b_id"]): r["jaccard"]
            for r in ngram_jaccard_pairs(small, t, algorithm="allpairs").collect()
        }
        assert naive == allp, f"t={t}: {set(naive) ^ set(allp)}"


def test_minhash_lsh_finds_near_dups(spark):
    df = _docs(spark, TEXTS)
    got = {(r["a_id"], r["b_id"]) for r in minhash_lsh_pairs(df, threshold=0.5).collect()}
    assert (0, 1) in got  # identical signatures always collide
    # verification step bounds jaccard, so no false positives above threshold
    exact = {(r["a_id"], r["b_id"])
             for r in ngram_jaccard_pairs(df, 0.5).collect()}
    assert got.issubset(exact)


def test_minhash_recall_on_corpus(spark, documents):
    # LSH candidates restricted-exact vs full-exact at jaccard >= 0.8
    small = documents.limit(200)
    exact = {(r["a_id"], r["b_id"])
             for r in ngram_jaccard_pairs(small, 0.8, n=3).collect()}
    approx = {(r["a_id"], r["b_id"])
              for r in minhash_lsh_pairs(small, 0.8, num_hashes=32, bands=8).collect()}
    assert approx.issubset(exact)
    if exact:
        recall = len(approx & exact) / len(exact)
        assert recall >= 0.8, f"LSH recall {recall} on {len(exact)} true pairs"


def test_simhash_identical_and_near(spark):
    df = _docs(spark, TEXTS)
    sigs = {r["doc_id"]: r["sig"]
            for r in df.select("doc_id", simhash64(F.col("text")).alias("sig")).collect()}
    assert sigs[0] == sigs[1]                      # identical text -> same signature
    assert sigs[3] == sigs[4]                      # bag-of-words identical -> same
    pairs = {(r["a_id"], r["b_id"]): r["hamming"] for r in simhash_pairs(df, 3).collect()}
    assert pairs.get((0, 1)) == 0
    assert pairs.get((3, 4)) == 0


def test_minhash_sql_safe_recall(spark, documents):
    from astro_vectordb_spark.operators.dedup import minhash_lsh_pairs_sql_safe

    small = documents.limit(200)
    exact = {(r["a_id"], r["b_id"])
             for r in ngram_jaccard_pairs(small, 0.8, n=3).collect()}
    approx = {(r["a_id"], r["b_id"])
              for r in minhash_lsh_pairs_sql_safe(small, 0.8).collect()}
    assert approx.issubset(exact)
    if exact:
        assert len(approx & exact) / len(exact) >= 0.8


def test_simhash_table_matches_expression(spark):
    from astro_vectordb_spark.operators.dedup import simhash_table

    df = _docs(spark, TEXTS)
    expr = {r["doc_id"]: r["sig"]
            for r in df.select("doc_id", simhash64(F.col("text")).alias("sig")).collect()}
    tbl = {r["doc_id"]: r["sim"] for r in simhash_table(df).collect()}
    assert expr == tbl


def test_simhash_sql_safe(spark):
    from astro_vectordb_spark.operators.dedup import simhash_pairs_sql_safe

    df = _docs(spark, TEXTS)
    pairs = {(r["a_id"], r["b_id"]): r["hamming"]
             for r in simhash_pairs_sql_safe(df, 3).collect()}
    assert pairs.get((0, 1)) == 0    # identical text
    assert pairs.get((3, 4)) == 0    # same bag of words


def test_hamming64_expression(spark):
    df = spark.createDataFrame([(0b1011, 0b0010)], "a long, b long")
    assert df.select(hamming64(F.col("a"), F.col("b")).alias("h")).first()["h"] == 2


def test_connected_components_chain(spark):
    """Chain a-b-c-d plus isolated pair e-f: one component each, min id
    label; transitive closure that greedy keep can miss."""
    from astro_vectordb_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "a_id long, b_id long"
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_groups_keeps_one_per_component(spark):
    from astro_vectordb_spark.operators.dedup import dedup_groups

    df = _docs(spark, TEXTS)  # 6 docs
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "a_id long, b_id long"
    )
    kept = sorted(r["doc_id"] for r in dedup_groups(df, pairs).collect())
    # component {0,1,2} -> keep 0; {3,4} -> keep 3; singleton 5 stays
    assert kept == [0, 3, 5]


def test_embedding_near_dups_and_keep(spark, embeddings):
    dups = embedding_near_dups(embeddings.limit(100), threshold=0.5, method="exact")
    rows = dups.collect()
    assert all(r["a_id"] < r["b_id"] for r in rows)
    df = _docs(spark, TEXTS)
    pairs = ngram_jaccard_pairs(df, 0.5)
    kept = dedup_keep_representatives(df, pairs)
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert 1 not in kept_ids and 0 in kept_ids


def test_rp_block_pairs_recall_on_planted_dups(spark, embeddings):
    """Blocked RP-LSH pipeline finds >=90% of planted near-duplicate
    pairs at cosine 0.9, without any cross join or corpus broadcast."""
    import numpy as np
    from pyspark.sql import functions as F

    from astro_vectordb_spark.operators.dedup import rp_block_pairs

    base = embeddings.limit(200).select("vec_id", "embedding").collect()
    rng = np.random.RandomState(7)
    rows = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in base]
    planted = []
    for r in base[:50]:
        v = np.array(r["embedding"], dtype=np.float64)
        dup = v + rng.normal(0, 0.02 * np.linalg.norm(v) / 8, size=len(v))
        new_id = int(r["vec_id"]) + 1_000_000
        rows.append((new_id, [float(x) for x in dup]))
        planted.append((int(r["vec_id"]), new_id))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = {
        (r["a_id"], r["b_id"])
        for r in rp_block_pairs(df, threshold=0.9).collect()
    }
    found = sum(1 for p in planted if p in got)
    assert found / len(planted) >= 0.9, f"recall {found / len(planted)}"
    # exact verification really filters: nothing below threshold
    exact_sims = {}
    vecs = {i: np.array(v) for i, v in rows}
    for a, b in got:
        va, vb = vecs[a], vecs[b]
        s = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        assert s > 0.9 - 1e-9


def test_rp_block_pairs_plan_has_no_cartesian(spark, embeddings):
    from astro_vectordb_spark.operators.dedup import rp_block_pairs
    from astro_vectordb_spark.plans.explain import executed_plan

    plan = executed_plan(rp_block_pairs(embeddings, threshold=0.4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rp_block_pairs_subset_of_exact(spark, embeddings):
    """Blocked pairs are always a SUBSET of the exact all-pairs result
    at the same threshold (verification step guarantees no false
    positives; blocking can only lose pairs, never invent them)."""
    from astro_vectordb_spark.operators.dedup import (
        embedding_near_dups,
        rp_block_pairs,
    )

    small = embeddings.limit(150)
    exact = {
        (r["a_id"], r["b_id"]): r["score"]
        for r in embedding_near_dups(small, 0.4, method="exact").collect()
    }
    blocked = {
        (r["a_id"], r["b_id"]): r["score"]
        for r in rp_block_pairs(small, 0.4).collect()
    }
    assert set(blocked).issubset(set(exact))
    for k, v in blocked.items():
        assert abs(v - exact[k]) < 1e-9


def test_rp_block_pairs_skew_guard_bounds_degenerate_corpus(spark):
    """10 TB nightmare shape in miniature: thousands of near-identical
    vectors all hashing into ONE (tbl, cell) bucket.  Unguarded, the
    within-bucket self-join emits O(N^2) candidates (~4.5M pairs at
    N=3000); the guard's chain fallback keeps it linear while the
    cluster stays fully connected for dedup grouping."""
    import numpy as np

    from astro_vectordb_spark.operators.dedup import rp_block_pairs

    n = 3000
    rng = np.random.RandomState(11)
    base = rng.normal(size=64)
    base /= np.linalg.norm(base)
    rows = [
        (i, [float(x) for x in base + rng.normal(0, 0.002, size=64)])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = rp_block_pairs(
        df, threshold=0.9, max_bucket_size=200, chain_width=4
    ).collect()
    # linear, not quadratic: far below the ~4.5M all-pairs volume
    assert len(pairs) < 12 * n, f"{len(pairs)} pairs — guard did not bound"
    # connectivity preserved: every id reachable from id 0 (union-find)
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r["a_id"]), find(r["b_id"])
        if ra != rb:
            parent[ra] = rb
    roots = {find(i) for i in range(n)}
    assert len(roots) == 1, f"{len(roots)} components — cluster split"


def test_rp_block_pairs_guard_noop_on_normal_data(spark, embeddings):
    """When no bucket exceeds the cap, the guarded plan's output is
    identical to the unguarded one (the guard only activates on skew)."""
    from astro_vectordb_spark.operators.dedup import rp_block_pairs

    small = embeddings.limit(200)
    guarded = sorted(
        (r["a_id"], r["b_id"], r["score"])
        for r in rp_block_pairs(small, 0.4, max_bucket_size=1000).collect()
    )
    unguarded = sorted(
        (r["a_id"], r["b_id"], r["score"])
        for r in rp_block_pairs(small, 0.4, max_bucket_size=None).collect()
    )
    assert guarded == unguarded


def test_similarity_join_no_broadcast_above_cap(spark, embeddings):
    """Above the broadcast cap the hint is dropped and a RuntimeWarning
    points at the blocked path; results stay identical."""
    import warnings

    from astro_vectordb_spark.operators.topk import similarity_join

    small = embeddings.limit(60)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        guarded = similarity_join(small, threshold=0.3, max_broadcast_rows=10)
        assert any("embedding_near_dups" in str(x.message) for x in w)
    # the physical strategy above the cap is AQE's choice; the contract
    # is the dropped hint (warning above) + identical results
    normal = similarity_join(small, threshold=0.3)
    a = sorted((r["a_id"], r["b_id"]) for r in guarded.collect())
    b = sorted((r["a_id"], r["b_id"]) for r in normal.collect())
    assert a == b


def test_similarity_join_lazy_opt_in_and_guarded_default(spark, embeddings):
    """max_broadcast_rows=None opts into the fully-lazy unconditional
    hint (no job until an action); the DEFAULT keeps a finite cap so
    callers can't broadcast an unbounded probe side — its guard is a
    single bounded limit(cap+1) count probe, not a full-plan count."""
    from astro_vectordb_spark.operators.topk import similarity_join

    st = spark.sparkContext.statusTracker()
    before = len(st.getJobIdsForGroup())
    df = similarity_join(
        embeddings.limit(50), threshold=0.3, max_broadcast_rows=None
    )
    assert len(st.getJobIdsForGroup()) == before, "lazy call ran a job"
    assert df.count() > 0
    assert len(st.getJobIdsForGroup()) > before
    # default: the bounded probe runs at call time (a couple of AQE
    # jobs at most — never a full-plan count, which on this cached
    # 50-row frame would be indistinguishable by count, so pin the
    # bound loosely and rely on limit(cap+1) in the implementation)
    mid = len(st.getJobIdsForGroup())
    similarity_join(embeddings.limit(50), threshold=0.3)
    n_probe_jobs = len(st.getJobIdsForGroup()) - mid
    assert 1 <= n_probe_jobs <= 3, n_probe_jobs


def test_simhash_family_discrimination_gap(spark, documents):
    """The native 64-bit xxhash simhash is ~an order of magnitude more
    discriminating than the 31-bit SQL-safe twin at the same nominal
    max_hamming (see simhash_pairs_sql_safe docstring).  Pin the ratio
    band: a silent hash-family change in either variant (wider/narrower
    signature, different token hash) shifts it drastically."""
    from astro_vectordb_spark.operators.dedup import (
        simhash_pairs,
        simhash_pairs_sql_safe,
    )

    n_native = simhash_pairs(documents, max_hamming=3).count()
    n_sql = simhash_pairs_sql_safe(documents, max_hamming=3).count()
    assert n_native > 0 and n_sql > 0
    ratio = n_sql / n_native
    assert 3 < ratio < 30, (
        f"simhash family discrimination gap moved: native={n_native} "
        f"sql_safe={n_sql} ratio={ratio:.1f} (expected ~9x; did a hash "
        "family silently change?)"
    )


def test_embedding_near_dups_default_warns_once(spark, embeddings):
    """Relying on the approximate blocked default emits a one-time
    RuntimeWarning; explicit method= is silent."""
    import warnings

    from astro_vectordb_spark.operators import dedup

    small = embeddings.limit(20)
    dedup._WARNED_BLOCKED_DEFAULT = False
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dedup.embedding_near_dups(small, threshold=0.5, dim=64)
        dedup.embedding_near_dups(small, threshold=0.5, dim=64)
        notices = [x for x in w if "APPROXIMATE" in str(x.message)]
    assert len(notices) == 1
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dedup.embedding_near_dups(small, threshold=0.5, dim=64, method="blocked")
        assert not [x for x in w if "APPROXIMATE" in str(x.message)]


def _rows_sha256(df) -> tuple[int, str]:
    import hashlib

    rows = sorted(tuple(r) for r in df.collect())
    return len(rows), hashlib.sha256(
        "\n".join(repr(r) for r in rows).encode()
    ).hexdigest()


# (row count, sha256 of the sorted rows) on the default 500-doc
# ``documents`` fixture.  The native (xxhash64) faces are rows-only in
# the DuckDB oracle, so these pins are what notices a drift in their
# hash family, banding, chunking or verify.
_NATIVE_ROW_PINS = {
    "minhash_lsh_pairs": (
        28, "86aab41d418d674d0b989811141510ae3161f42bed12be27001533dea684b007"
    ),
    "minhash_lsh_pairs_collapse": (
        28, "86aab41d418d674d0b989811141510ae3161f42bed12be27001533dea684b007"
    ),
    "simhash_pairs": (
        1176, "9369c5e2dc3f2b97cb4ef9d4fb551a83e106dd5a27f6884d535c75894461e22a"
    ),
    "minhash_signature": (
        500, "506f50ed9b876a0c0e165a3517ac23b61fd9a35c425e1957bfd5c472b78ea68e"
    ),
    "simhash_table": (
        500, "d7de8136dccf35e7c1199d0979330636614764dc90bb9c4483e05c7288293d83"
    ),
}


class TestNativeRowPins:
    """Row pins for the native near-dup faces and their signatures."""

    @staticmethod
    def _faces(docs):
        from astro_vectordb_spark.operators.dedup import (
            minhash_signature,
            simhash_table,
        )

        return {
            "minhash_lsh_pairs": lambda: minhash_lsh_pairs(docs),
            "minhash_lsh_pairs_collapse": lambda: minhash_lsh_pairs(
                docs, collapse_exact=True
            ),
            "simhash_pairs": lambda: simhash_pairs(docs),
            "minhash_signature": lambda: minhash_signature(docs),
            "simhash_table": lambda: simhash_table(docs),
        }

    def test_native_rows_pinned(self, documents):
        import pytest

        if documents.count() != 500:
            pytest.skip("row pins are for the default 500-doc fixture")
        got = {k: _rows_sha256(f()) for k, f in self._faces(documents).items()}
        assert got == _NATIVE_ROW_PINS


def test_pair_face_output_schemas(spark):
    """The four pair faces keep their output schemas: the native
    SimHash face reports ``hamming int``, the SQL-safe one ``bigint``."""
    from astro_vectordb_spark.operators.dedup import (
        minhash_lsh_pairs_sql_safe,
        simhash_pairs_sql_safe,
    )

    def fields(df):
        return [
            (f.name, f.dataType.simpleString(), f.nullable)
            for f in df.schema.fields
        ]

    df = _docs(spark, TEXTS)
    jac = [("a_id", "bigint", True), ("b_id", "bigint", True),
           ("jaccard", "double", True)]
    ham = [("a_id", "bigint", True), ("b_id", "bigint", True)]
    assert fields(minhash_lsh_pairs(df)) == jac
    assert fields(minhash_lsh_pairs(df, collapse_exact=True)) == jac
    assert fields(minhash_lsh_pairs_sql_safe(df)) == jac
    assert fields(minhash_lsh_pairs_sql_safe(df, collapse_exact=True)) == jac
    assert fields(simhash_pairs(df)) == ham + [("hamming", "int", False)]
    assert fields(simhash_pairs_sql_safe(df)) == ham + [
        ("hamming", "bigint", False)
    ]


def test_simhash_sql_safe_rejects_distance_past_its_chunks(spark):
    """The SQL-safe SimHash layout is a fixed 4 chunks, which
    pigeonholes recall only up to hamming 3: a larger distance raises
    instead of silently dropping pairs."""
    import pytest

    from astro_vectordb_spark.operators.dedup import simhash_pairs_sql_safe

    df = _docs(spark, TEXTS)
    with pytest.raises(ValueError, match="max_hamming <= 3"):
        simhash_pairs_sql_safe(df, max_hamming=5)
    assert simhash_pairs_sql_safe(df, max_hamming=3).count() > 0


class TestCachePool:
    """Bounded LRU pool for the corpus-sized shingle caches — the
    round-7 leak fix: repeated operator calls must not accumulate
    unreleased cached intermediates."""

    def _mk_docs(self, spark, salt):
        return spark.createDataFrame(
            [(i, f"alpha beta gamma delta {salt} tok{i % 7} x y z w")
             for i in range(30)],
            "doc_id long, text string",
        )

    def test_pool_bounded_and_releasable(self, spark):
        from astro_vectordb_spark.operators import dedup

        dedup.release_caches()
        old_cap = dedup.CACHE_POOL_CAPACITY
        dedup.CACHE_POOL_CAPACITY = 2
        try:
            # 5 distinct inputs -> 5 distinct plans; pool must hold <= 2
            for salt in range(5):
                dedup.ngram_jaccard_pairs(
                    self._mk_docs(spark, salt), threshold=0.8, n=3
                ).count()
                assert len(dedup._CACHE_POOL) <= 2
            released = dedup.release_caches()
            assert released <= 2
            assert len(dedup._CACHE_POOL) == 0
        finally:
            dedup.CACHE_POOL_CAPACITY = old_cap
            dedup.release_caches()

    def test_identical_call_reuses_pool_entry(self, spark):
        from astro_vectordb_spark.operators import dedup

        dedup.release_caches()
        try:
            docs = self._mk_docs(spark, "same")
            dedup.minhash_lsh_pairs_sql_safe(docs, threshold=0.5).count()
            n1 = len(dedup._CACHE_POOL)
            # same logical plan -> pool hit, no new entry
            dedup.minhash_lsh_pairs_sql_safe(docs, threshold=0.5).count()
            assert len(dedup._CACHE_POOL) == n1
        finally:
            dedup.release_caches()

    def test_back_to_back_operators_do_not_accumulate(self, spark):
        # the verdict's repro: two operators back-to-back in one
        # session; afterwards release_caches() leaves no pooled
        # intermediate behind
        from astro_vectordb_spark.operators import dedup

        dedup.release_caches()
        old_cap = dedup.CACHE_POOL_CAPACITY
        dedup.CACHE_POOL_CAPACITY = 1
        try:
            docs = self._mk_docs(spark, "b2b")
            dedup.ngram_jaccard_pairs(docs, threshold=0.8, n=3).count()
            dedup.minhash_lsh_pairs(docs, threshold=0.5).count()
            assert len(dedup._CACHE_POOL) <= 1
        finally:
            dedup.CACHE_POOL_CAPACITY = old_cap
            assert dedup.release_caches() <= 1

    def test_directory_swap_is_not_served_stale(self, spark, tmp_path):
        # the same read path gives the same logical plan before and
        # after a rename swap; the pooled shingle cache must not answer
        # for the new files
        import os

        from astro_vectordb_spark.operators import dedup

        near = "alpha beta gamma delta epsilon zeta eta theta"
        other = "one two three four five six seven eight"

        def write(dst, rows):
            spark.createDataFrame(rows, "doc_id long, text string") \
                .coalesce(1).write.parquet(dst)

        path = str(tmp_path / "docs")
        write(path, [(1, near), (2, near), (3, other)])
        dedup.release_caches()
        try:
            def pairs():
                docs = spark.read.parquet(path)
                return {
                    (int(r.a_id), int(r.b_id))
                    for r in dedup.minhash_lsh_pairs_sql_safe(
                        docs, threshold=0.5
                    ).collect()
                }

            assert pairs() == {(1, 2)}
            write(str(tmp_path / "new"), [(1, near), (2, other), (3, near)])
            os.rename(path, str(tmp_path / "old"))
            os.rename(str(tmp_path / "new"), path)
            assert pairs() == {(1, 3)}
        finally:
            dedup.release_caches()


class TestDuplicateSpans:
    """duplicate_spans: substring-level duplication accounting —
    positions whose k-gram appears in >= 2 distinct documents."""

    def test_hand_computed_counts(self, spark):
        from astro_vectordb_spark.operators.dedup import duplicate_spans

        docs = spark.createDataFrame(
            [
                (1, "a b c d e"),        # spans: abc bcd cde
                (2, "x a b c d y"),      # spans: xab abc bcd cdy
                (3, "z z"),              # shorter than k: 0 spans
                (4, "q q q q"),          # 'q q q' twice WITHIN one doc
                (5, "A b C"),            # case-folds to 'a b c'
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: (r["n_spans"], r["dup_spans"], r["dup_span_frac"])
            for r in duplicate_spans(docs, k=3).collect()
        }
        assert out[1] == (3, 2, 0.666667)  # abc + bcd shared with doc 2
        assert out[2] == (4, 2, 0.5)
        assert out[3] == (0, 0, 0.0)
        # within-doc repetition is NOT cross-doc duplication
        assert out[4] == (2, 0, 0.0)
        # tokenization is case-folded: 'A b C' duplicates 'a b c'
        assert out[5] == (1, 1, 1.0)

    def test_every_input_doc_present(self, spark):
        from astro_vectordb_spark.operators.dedup import duplicate_spans

        docs = spark.createDataFrame(
            [(i, "w" + str(i)) for i in range(10)],
            "doc_id long, text string",
        )
        out = duplicate_spans(docs, k=2)
        assert out.count() == 10  # short docs kept with zero rows
        assert out.agg(F.sum("dup_spans")).first()[0] == 0


class TestRemoveDuplicateSpans:
    """remove_duplicate_spans: substring-dedup transform — every
    cross-doc k-gram survives only in its minimum-id document."""

    def test_hand_computed_rewrite(self, spark):
        from astro_vectordb_spark.operators.dedup import (
            remove_duplicate_spans,
        )

        docs = spark.createDataFrame(
            [
                (1, "a b c d e"),    # keeper of 'a b c'/'b c d': intact
                (2, "x a b c d y"),  # drops covered tokens 1..4 -> 'x y'
                (3, "z z"),          # shorter than k: unchanged
                (4, "q q q q"),      # within-doc repeat only: unchanged
                (5, "A b C"),        # whole doc is a duplicated span
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: (r["text"], r["n_tokens"], r["n_removed"])
            for r in remove_duplicate_spans(docs, k=3).collect()
        }
        assert out[1] == ("a b c d e", 5, 0)
        assert out[2] == ("x y", 6, 4)  # overlapping spans merge coverage
        assert out[3] == ("z z", 2, 0)
        assert out[4] == ("q q q q", 4, 0)
        assert out[5] == ("", 3, 3)  # fully deduplicated away

    def test_total_tokens_conserved(self, spark):
        # removed + surviving == original, per doc and in aggregate
        from astro_vectordb_spark.functions.text import tokens as _tk
        from astro_vectordb_spark.operators.dedup import (
            remove_duplicate_spans,
        )

        docs = spark.createDataFrame(
            [(i, "one two three four five six seven") for i in range(3)]
            + [(10, "eight nine ten")],
            "doc_id long, text string",
        )
        out = remove_duplicate_spans(docs, k=4)
        bad = out.filter(
            F.size(_tk(F.col("text"))) != F.col("n_tokens") - F.col("n_removed")
        ).count()
        assert bad == 0
        kept = {r["doc_id"]: r["n_removed"] for r in out.collect()}
        assert kept[0] == 0 and kept[1] == 7 and kept[2] == 7  # doc 0 keeps
        assert kept[10] == 0
