"""Table profiling: per-column statistics for pipeline data QA.

One pass per table (all columns' aggregates in a single map-side-
combining aggregation — profiling 100 TB costs one scan, not one scan
per column).

Percentile modes:
- ``approx`` (default): ``approx_percentile`` (Greenwald-Khanna sketch)
  with a configurable ``accuracy``; the aggregation buffer is bounded
  by O(accuracy) PER COLUMN regardless of row count.  Rank error is at
  most 1/accuracy of the rows (accuracy=10000 -> within 0.01% of the
  true rank).
- ``rank``: EXACT interpolated percentiles with no per-group value
  buffering — value histogram (one map-side-combining shuffle) ->
  range-partitioned prefix sums with broadcast partition offsets ->
  rank straddle lookup + linear interpolation.  Memory per task is
  bounded by distinct values per partition, so exactness survives
  100 TB; bit-matches the DuckDB oracle's ``quantile_cont`` (same
  ``(n-1)*p`` rank arithmetic, same ``lo + (hi-lo)*frac`` double
  interpolation).
- ``exact``: ``F.percentile`` (interpolated) — buffers EVERY value of
  every profiled column in ONE aggregation buffer.  Kept as the
  semantic twin for tests; ``rank`` replaces it everywhere that runs
  at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from astro_vectordb_spark.session import local_frame

STAT_DECIMALS = 6

# Diagnostic: per-column (bin -> distinct-value count) from the most
# recent exact_percentiles_rank call.  The window-partition memory
# bound is distinct values per bin, so this is the number to inspect
# when tuning num_bins; refreshed on every call, costs nothing extra
# (piggybacks on the bin-subtotal job).
LAST_BIN_OCCUPANCY: dict[str, dict[int, int]] = {}


def exact_percentiles_rank(
    df: DataFrame, cols: list[str], ps: list[float], num_bins: int | None = None
) -> DataFrame:
    """Exact interpolated percentiles (``quantile_cont`` semantics) for
    several columns in one distributed plan, returned long-format as
    (column, p, value).

    Shape (all stages bounded-memory at any scale):
      1. unpivot columns to (column, v) pairs, drop nulls;
      2. histogram: groupBy(column, v) count — map-side combine makes
         shuffle volume O(distinct values), not O(rows);
      3. global per-column running rank WITHOUT a single-partition
         window OR a range-exchange sampling pass: each value maps to a
         deterministic equi-width bin (a pure monotone function of v
         given the column's min/max — no spark_partition_id pinning,
         no repartitionByRange double-compute), bin subtotals come to
         the driver (|cols| x num_bins tiny rows), prefix offsets go
         back as a broadcast, and the cumulative sum runs per
         (column, bin) window;
      4. the two ranks straddling ``t = (n-1)*p`` are joined
         (broadcast — |cols| x |ps| rows) and interpolated.

    ``num_bins`` bounds per-window rows at ~distinct/num_bins per
    column (default: spark.sql.shuffle.partitions).  Bin edges are
    EQUI-DEPTH in distinct-value space (an ``approx_percentile``
    sketch over the histogram's distinct values picks the cut points),
    so heavy-tailed value distributions still spread distinct values
    ~evenly across bins — window-partition memory stays ~distinct/
    num_bins even when the VALUES concentrate in a narrow slice of the
    range.  Correctness never depends on balance, only parallelism
    does: the bin is a deterministic monotone function of ``v`` given
    the collected edges, so the per-(column, bin) cumulative sums
    compose into exact global ranks regardless of where the edges
    land.

    The returned DataFrame is a materialized local relation
    (|cols| x |ps| rows — bounded control-plane size); the internal
    histogram cache is released before returning.
    """
    spark = df.sparkSession
    if num_bins is None:
        num_bins = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    pairs = (
        df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("column"),
                            F.col(c).cast("double").alias("v"),
                        )
                        for c in cols
                    ]
                )
            ).alias("s")
        )
        .select("s.*")
        .where(F.col("v").isNotNull())
    )
    # histogram, referenced by three consumers (stats collect, bin
    # subtotal collect, final cumulative pass) — persist so it computes
    # once; the first collect materializes it.  Released in the
    # finally below: the final result is bounded (|cols| x |ps| rows),
    # so it is collected eagerly and returned as a local relation
    # rather than leaking the cache into the caller's plan lifetime.
    hist = (
        pairs.groupBy("column", "v").agg(F.count(F.lit(1)).alias("cnt")).persist()
    )
    try:
        # interior cut points from an approx_percentile sketch over the
        # DISTINCT values (each hist row weighs 1): equi-depth bins in
        # distinct-value space, which is exactly what bounds the
        # per-(column, bin) window partition.  Edge accuracy only
        # affects balance, never results.
        if num_bins > 1:
            edge_agg = F.approx_percentile(
                "v",
                F.array(*[F.lit(i / num_bins) for i in range(1, num_bins)]),
                F.lit(1000),
            )
        else:
            edge_agg = F.array().cast("array<double>")
        stats = {
            r["column"]: (int(r["n"]), list(r["edges"] or []))
            for r in hist.groupBy("column")
            .agg(
                F.sum("cnt").alias("n"),
                edge_agg.alias("edges"),
            )
            .collect()
        }
        totals = {c: s[0] for c, s in stats.items()}
        # deterministic monotone bin: # of edges strictly below v.
        # Duplicate edges (few distinct values) just leave bins empty.
        empty_edges = F.array().cast("array<double>")
        edges_expr = empty_edges
        for c, (_, edges) in stats.items():
            arr = (
                F.array(*[F.lit(float(e)) for e in edges])
                if edges
                else empty_edges
            )
            edges_expr = F.when(F.col("column") == c, arr).otherwise(edges_expr)
        binned = hist.withColumn(
            "bin",
            F.size(F.filter(edges_expr, lambda e: F.col("v") > e)).cast("int"),
        )
        sub_rows = (
            binned.groupBy("column", "bin")
            .agg(
                F.sum("cnt").alias("sub"),
                F.count(F.lit(1)).alias("nd"),
            )
            .collect()
        )
        LAST_BIN_OCCUPANCY.clear()
        for r in sub_rows:
            LAST_BIN_OCCUPANCY.setdefault(r["column"], {})[r["bin"]] = int(r["nd"])
        run: dict[str, int] = {}
        offsets: list[tuple[str, int, int]] = []
        for r in sorted(sub_rows, key=lambda r: (r["column"], r["bin"])):
            offsets.append((r["column"], r["bin"], run.get(r["column"], 0)))
            run[r["column"]] = run.get(r["column"], 0) + r["sub"]
        off_df = local_frame(spark, offsets, "column string, bin int, off long")
        w = (
            Window.partitionBy("column", "bin")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        ranked = binned.withColumn("cum_local", F.sum("cnt").over(w)).join(
            F.broadcast(off_df), ["column", "bin"]
        )
        ranked = ranked.withColumn("cum", F.col("cum_local") + F.col("off"))

        # rank targets: quantile_cont's t = (n-1)*p, 1-based straddle ranks
        targets = []
        for c in cols:
            n = totals.get(c, 0)
            if n == 0:
                continue
            for p in ps:
                t = (n - 1) * p
                lo = int(t)
                frac = t - lo
                targets.append(
                    (c, float(p), lo + 1, lo + 2 if frac > 0 else lo + 1, frac)
                )
        t_df = local_frame(
            spark,
            targets, "column string, p double, lo_rank long, hi_rank long, frac double"
        )
        cand = ranked.join(F.broadcast(t_df), "column").where(
            (
                (F.col("cum") >= F.col("lo_rank"))
                & (F.col("cum") - F.col("cnt") < F.col("lo_rank"))
            )
            | (
                (F.col("cum") >= F.col("hi_rank"))
                & (F.col("cum") - F.col("cnt") < F.col("hi_rank"))
            )
        )
        covers = lambda rank: (F.col("cum") >= rank) & (  # noqa: E731
            F.col("cum") - F.col("cnt") < rank
        )
        result_rows = (
            cand.groupBy("column", "p", "frac")
            .agg(
                F.max(F.when(covers(F.col("lo_rank")), F.col("v"))).alias("v_lo"),
                F.max(F.when(covers(F.col("hi_rank")), F.col("v"))).alias("v_hi"),
            )
            .select(
                "column",
                "p",
                (
                    F.col("v_lo") + (F.col("v_hi") - F.col("v_lo")) * F.col("frac")
                ).alias("value"),
            )
            .collect()
        )
    finally:
        hist.unpersist()
    return local_frame(
        spark,
        result_rows, "column string, p double, value double"
    )


def _profile_base(df: DataFrame, cols: list[str]) -> DataFrame:
    """count / nulls / min / max / mean for several columns in ONE
    map-side-combining aggregation — no percentile columns."""
    aggs = [
        F.struct(
            F.lit(c).alias("column"),
            F.count(F.col(c)).alias("n"),
            F.sum(F.col(c).isNull().cast("long")).alias("n_null"),
            F.round(F.min(F.col(c)).cast("double"), STAT_DECIMALS).alias("min_v"),
            F.round(F.max(F.col(c)).cast("double"), STAT_DECIMALS).alias("max_v"),
            F.round(F.avg(F.col(c)), STAT_DECIMALS).alias("mean_v"),
        ).alias(f"_s_{c}")
        for c in cols
    ]
    row = df.agg(*aggs)
    stacked = row.select(
        F.explode(F.array(*[F.col(f"_s_{c}") for c in cols])).alias("s")
    )
    return stacked.select("s.*")


def profile_numeric(
    df: DataFrame,
    cols: list[str],
    percentiles: str = "approx",
    accuracy: int = 10_000,
    num_bins: int | None = None,
) -> DataFrame:
    """Long-format profile: one row per column with count / nulls /
    min / max / mean / p50 / p90.

    ``percentiles='approx'`` (default, scale-safe sketch; rank error
    <= rows/accuracy), ``'rank'`` (EXACT via distributed rank
    arithmetic — scale-safe AND quantile_cont-bit-parity), or
    ``'exact'`` (full-buffer interpolated — small tables only)."""
    if percentiles == "rank":
        # base aggregates WITHOUT any percentile column — the sketch
        # would be computed only to be dropped below
        base = _profile_base(df, cols)
        pcts = exact_percentiles_rank(df, cols, [0.5, 0.9], num_bins=num_bins)
        pivoted = (
            pcts.groupBy("column")
            .pivot("p", [0.5, 0.9])
            .agg(F.first("value"))
            .select(
                "column",
                F.round(F.col("`0.5`"), STAT_DECIMALS).alias("p50"),
                F.round(F.col("`0.9`"), STAT_DECIMALS).alias("p90"),
            )
        )
        # LEFT join: an all-null column produces no histogram rows and
        # hence no percentile rows — it must still surface its base
        # stats (n=0, n_null=rows) with null p50/p90, matching the
        # 'approx'/'exact' modes' output for the same input.
        return base.join(F.broadcast(pivoted), "column", "left").select(
            "column", "n", "n_null", "min_v", "max_v", "mean_v", "p50", "p90"
        )
    if percentiles == "exact":
        def pct(c, p):
            return F.percentile(F.col(c), F.lit(p))
    elif percentiles == "approx":
        def pct(c, p):
            return F.approx_percentile(
                F.col(c).cast("double"), F.lit(p), F.lit(accuracy)
            )
    else:
        raise ValueError(
            f"percentiles must be 'approx', 'rank' or 'exact', got {percentiles!r}"
        )
    aggs = []
    for c in cols:
        aggs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.count(F.col(c)).alias("n"),
                F.sum(F.col(c).isNull().cast("long")).alias("n_null"),
                F.round(F.min(F.col(c)).cast("double"), STAT_DECIMALS).alias("min_v"),
                F.round(F.max(F.col(c)).cast("double"), STAT_DECIMALS).alias("max_v"),
                F.round(F.avg(F.col(c)), STAT_DECIMALS).alias("mean_v"),
                F.round(pct(c, 0.5).cast("double"), STAT_DECIMALS).alias("p50"),
                F.round(pct(c, 0.9).cast("double"), STAT_DECIMALS).alias("p90"),
            ).alias(f"_s_{c}")
        )
    row = df.agg(*aggs)
    stacked = row.select(
        F.explode(F.array(*[F.col(f"_s_{c}") for c in cols])).alias("s")
    )
    return stacked.select("s.*")
