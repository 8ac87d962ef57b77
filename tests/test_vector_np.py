"""NumPy kernel agrees with the expression kernel (to fp association)."""

from __future__ import annotations

from pyspark.sql import functions as F

from astro_vectordb_spark.functions.vector_np import (
    make_pair_score_udf,
    make_score_udf,
)
from astro_vectordb_spark.operators.topk import topk_search


def test_np_kernel_matches_expr_kernel(spark, embeddings):
    qv = embeddings.filter(F.col("vec_id") == 0).first()["embedding"]
    for metric in ("cosine", "euclidean"):
        a = topk_search(embeddings, qv, 20, strength=0, metric=metric).collect()
        b = topk_search(
            embeddings, qv, 20, strength=0, metric=metric, kernel="numpy"
        ).collect()
        assert [r["vec_id"] for r in a] == [r["vec_id"] for r in b]
        for ra, rb in zip(a, b):
            assert abs(ra["score"] - rb["score"]) < 1e-9


def test_np_pair_udf(spark, embeddings):
    from astro_vectordb_spark.functions.vector import cosine_similarity

    pairs = (
        embeddings.filter(F.col("vec_id") < 10)
        .select(F.col("embedding").alias("a"))
        .crossJoin(
            embeddings.filter(F.col("vec_id").between(10, 19)).select(
                F.col("embedding").alias("b")
            )
        )
    )
    udf_scores = pairs.select(
        make_pair_score_udf("cosine")(F.col("a"), F.col("b")).alias("s")
    ).collect()
    expr_scores = pairs.select(
        cosine_similarity(F.col("a"), F.col("b")).alias("s")
    ).collect()
    for u, e in zip(udf_scores, expr_scores):
        assert abs(u["s"] - e["s"]) < 1e-9


def test_np_kernel_zero_norm_is_null_not_nan(spark, embeddings):
    """A zero vector scores NULL (dropped by score>threshold), matching
    the expression kernel's try_divide — NOT NaN, which Spark would
    sort above every real score in the descending top-K."""
    import numpy as np

    qv = embeddings.filter(F.col("vec_id") == 0).first()["embedding"]
    dim = len(qv)
    rows = [(1, [float(x) for x in qv]), (2, [0.0] * dim)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    scored = df.select(
        "vec_id", make_score_udf(qv, "cosine")(F.col("embedding")).alias("s")
    ).collect()
    by_id = {r["vec_id"]: r["s"] for r in scored}
    assert by_id[2] is None
    assert by_id[1] is not None and not np.isnan(by_id[1])

    # zero QUERY vector: every score NULL, top-K empty (expr parity)
    got = topk_search(df, [0.0] * dim, 5, strength=0, kernel="numpy").collect()
    assert got == []


def test_connected_components_warns_on_non_convergence(spark):
    import warnings

    from astro_vectordb_spark.operators.dedup import connected_components

    # a chain of diameter 5 with max_iter=2 cannot converge
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "a_id long, b_id long"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        connected_components(pairs, max_iter=2).collect()
        assert any("did not converge" in str(x.message) for x in w)
    # and with enough rounds it converges silently to one component
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        comp = connected_components(pairs, max_iter=10).collect()
        assert not any("did not converge" in str(x.message) for x in w)
    assert {r["component"] for r in comp} == {0}


def test_keep_from_pairs_converges_past_twenty_hops(spark):
    """The default propagation runs until no label changes: a chain
    0 - 100 - ... - 120 - 1 puts id 1 22 hops from the minimum, past
    the former 20-round default, and keeps exactly one member."""
    import warnings

    from astro_vectordb_spark.sources.index_lifecycle import keep_from_pairs

    chain = [0, *range(100, 121), 1]
    pairs = spark.createDataFrame(
        list(zip(chain, chain[1:])), "a_id long, b_id long"
    )
    universe = spark.createDataFrame([(i,) for i in chain], "doc_id long")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        keep = keep_from_pairs(universe, pairs, "doc_id").collect()
        assert not any("did not converge" in str(x.message) for x in w)
    assert {r["doc_id"] for r in keep} == {0}
