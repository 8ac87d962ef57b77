"""Scan-parallelism guard for unsplittable inputs.

A parquet file with a single row group (or one huge gzip, or any
source whose split count is below the cluster's parallelism) scans as
ONE task, so every byte of per-row compute above it — tokenization,
higher-order array folds, Arrow/pandas kernels — serializes on one
core while the rest of the cluster idles.  The optimization guide's
remedy for input skew is "fix at the source if you can; otherwise
repartition immediately after the read" (§2.5); this helper makes
that remedy CONDITIONAL so it is a no-op exactly when the input
already parallelizes (the normal 100 TB layout of many splittable
files):

- scan partitions >= the session's default parallelism -> return the
  frame untouched (no exchange appears in the plan);
- below it -> one deterministic hash repartition on ``id_col`` (a
  unique key spreads evenly, survives task retries deterministically,
  and skips round-robin's sort-before-repartition pass), or a
  round-robin repartition when no id column is given.

The partition-count probe runs no job (plan-to-RDD translation only)
and is memoized per (input files, default parallelism): repeated reads
of the same table decide once, and a table rewritten at the same path
lists new part files, so it is probed again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from astro_vectordb_spark.sources.vault import BoundedMemo

# (sorted input files, default parallelism) -> scan partition count.
# ``inputFiles()`` lists the relation's files without a job; part-file
# names change on every rewrite, so an entry is never served for a
# layout it was not probed on.
_SCAN_PARTS_CACHE = BoundedMemo(cap=64)


def scan_partitions(df: DataFrame) -> int:
    """Physical partition count of ``df``'s scan (no job runs).  The
    memo assumes ``df`` is the read itself (projections and filters
    keep its split count; a repartition above it would not).  A frame
    with no input files (a range, a local relation) is probed every
    call."""
    files = df.inputFiles()
    par = df.sparkSession.sparkContext.defaultParallelism
    key = (tuple(sorted(files)), par) if files else None
    return _SCAN_PARTS_CACHE.fetch(
        key, lambda: df.rdd.getNumPartitions(), lambda: key
    )


def ensure_scan_parallelism(
    df: DataFrame,
    id_col: str | None = None,
) -> DataFrame:
    """Repartition ``df`` up to the session's default parallelism IF
    its scan under-parallelizes (see module docstring); no-op — and no
    plan change — otherwise."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if scan_partitions(df) >= target:
        return df
    if id_col is not None:
        return df.repartition(target, F.col(id_col))
    return df.repartition(target)
