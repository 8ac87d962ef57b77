"""Round 15 optimization internals: the conditional scan-parallelism
guard and the BM25 corpus-stats local-relation memo must not change
any result, and must invalidate / no-op exactly when documented."""

from __future__ import annotations

from pyspark.sql import functions as F

from astro_vectordb_spark import index
from astro_vectordb_spark.operators.partitioning import (
    ensure_scan_parallelism,
    scan_partitions,
)


class TestEnsureScanParallelism:
    def test_repartitions_single_partition_input(self, spark):
        df = spark.range(1000).coalesce(1).select(
            F.col("id").alias("doc_id"), F.lit("x").alias("text")
        )
        out = ensure_scan_parallelism(df, id_col="doc_id")
        assert (
            out.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )
        # same rows, nothing dropped or duplicated
        assert out.count() == 1000
        assert out.agg(F.sum("doc_id")).first()[0] == 999 * 1000 // 2

    def test_noop_when_already_parallel(self, spark):
        par = spark.sparkContext.defaultParallelism
        df = spark.range(1000, numPartitions=par * 2)
        out = ensure_scan_parallelism(df, id_col="id")
        # untouched frame: no exchange added
        assert out is df

    def test_roundrobin_without_id_col(self, spark):
        df = spark.range(100).coalesce(1)
        out = ensure_scan_parallelism(df)
        assert out.count() == 100

    def test_cache_key_memoizes(self, spark, tmp_path):
        # the probe is memoized per (input files, parallelism): a second
        # read of the same files hits, a rewrite at the same path lists
        # new part files and re-probes, and a frame with no input files
        # is probed every call without being remembered
        from astro_vectordb_spark.operators import partitioning as P

        memo = P._SCAN_PARTS_CACHE
        path = str(tmp_path / "t")
        spark.range(10).coalesce(1).write.parquet(path)
        first = spark.read.parquet(path)
        assert scan_partitions(first) == first.rdd.getNumPartitions()
        hits, misses = memo.hits, memo.misses
        assert scan_partitions(spark.read.parquet(path)) == (
            first.rdd.getNumPartitions()
        )
        assert (memo.hits, memo.misses) == (hits + 1, misses)

        spark.range(400).repartition(4).write.mode("overwrite").parquet(path)
        again = spark.read.parquet(path)
        assert set(again.inputFiles()).isdisjoint(first.inputFiles())
        assert again.rdd.getNumPartitions() != first.rdd.getNumPartitions()
        assert scan_partitions(again) == again.rdd.getNumPartitions()
        assert memo.misses == misses + 1

        n = len(memo._entries)
        hits, misses = memo.hits, memo.misses
        scan_partitions(spark.range(10).coalesce(1))
        assert (len(memo._entries), memo.hits, memo.misses) == (
            n, hits, misses
        )


class TestBm25StatsLocalRelation:
    def test_load_returns_identical_stats_and_invalidates_on_append(
        self, spark, tmp_path
    ):
        import pandas as pd

        from astro_vectordb_spark.operators.keyword import bm25_term_stats
        from astro_vectordb_spark.sources.vault import (
            load_bm25_index,
            save_bm25_index,
        )

        docs = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": range(20),
                    "text": [f"alpha beta tok{i}" for i in range(20)],
                }
            )
        )
        ts, cs = bm25_term_stats(docs)
        path = str(tmp_path / "bm")
        save_bm25_index(ts, cs, path)
        want_cs = cs.collect()[0].asDict()

        ts1, cs1 = load_bm25_index(spark, path)
        got1 = cs1.first().asDict()
        assert got1 == want_cs
        # the returned corpus stats must be a local relation: its plan
        # contains no file scan
        assert "Scan parquet" not in cs1._jdf.queryExecution().toString()
        # second load serves from the memo, same values
        _, cs2 = load_bm25_index(spark, path)
        assert cs2.first().asDict() == want_cs

        # an append commits a new version -> the memo must refresh
        more = spark.createDataFrame(
            pd.DataFrame(
                {"doc_id": [100, 101], "text": ["gamma delta", "gamma"]}
            )
        )
        index.open(spark, path).append(more, batch_id=1)
        _, cs3 = load_bm25_index(spark, path)
        got3 = cs3.first().asDict()
        assert got3["n"] == want_cs["n"] + 2
        assert got3 != want_cs
