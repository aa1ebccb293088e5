"""Vector distance/similarity column expressions.

All pure built-in higher-order functions (`zip_with` + `aggregate`) so
they run JVM-side. This replaces the reference's hnswlib distance
kernels (its `main.py:158-165` `similarity_search_with_score`,
L2-over-HNSW) with exact distributed computation. The folds define
the semantics and serve candidate-list-sized frames;
`operators/veckernel.py` holds their bit-identical Arrow twins for
pair-join-sized frames, under the same contract.

Contract: a NULL vector on either side, a ragged pair (different
lengths) or a NULL element gives NULL; an empty pair gives 0.0; a
zero-norm cosine gives 0.0.

Performance note: Spark evaluates higher-order functions with
INTERPRETED expression eval (they are CodegenFallback, outside
whole-stage codegen), so the per-element expression-node count sets
the cost. Over `array<double>` inputs the optimizer's SimplifyCasts
already drops the per-element casts inside the lambdas, so pre-casting
a vector once (`to_double_array`) is all a hot path needs. An unrolled
64-term `a[0]*b[0]+…` expression was tried and is ~3× SLOWER than the
interpreted fold (the giant codegen tree defeats JIT), so the fold
stays.

Determinism note: `aggregate` folds the array sequentially
left-to-right over DOUBLE, so scores are bit-reproducible across
engines — the DuckDB oracle reproduces the identical fold with
`list_sum(list_transform(...))`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _fold_sum(arr: Column) -> Column:
    """Sequential left-to-right sum of an array<double> column."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)


def dot_product(a: Column, b: Column) -> Column:
    """Dot product of two array<float|double> columns, double precision."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return _fold_sum(prods)


def to_double_array(a: Column) -> Column:
    """Cast array<float> → array<double> element-wise, once."""
    return F.transform(a, lambda x: x.cast("double"))


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot_product(a, a))


def l2_distance(a: Column, b: Column) -> Column:
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
    )
    return F.sqrt(_fold_sum(diffs))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot_product(a, b) / denom)


# ---------------------------------------------------------------------------
# DuckDB oracle fragments — the exact same folds, as ANSI-ish SQL text.
# Kept next to the Spark exprs so they can't drift apart.
# ---------------------------------------------------------------------------


def _duck_fold(a: str, b: str, term: str) -> str:
    """Sequential sum of `term` over index i, under the folds' contract:
    `list_sum` alone skips NULL elements, reads past a shorter list as
    NULL terms it also skips, and sums an empty list to NULL."""
    return (
        f"CASE WHEN len({a}) = len({b}) AND list_count({a}) = len({a}) "
        f"AND list_count({b}) = len({b}) THEN coalesce(list_sum(list_transform("
        f"generate_series(1, len({a})), i -> {term})), 0.0) END"
    )


def duck_dot(a: str, b: str) -> str:
    return _duck_fold(a, b, f"CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)")


def duck_norm(a: str) -> str:
    return f"sqrt({duck_dot(a, a)})"


def duck_cosine(a: str, b: str) -> str:
    return (
        f"CASE WHEN {duck_norm(a)} * {duck_norm(b)} = 0.0 THEN 0.0 "
        f"ELSE {duck_dot(a, b)} / ({duck_norm(a)} * {duck_norm(b)}) END"
    )


def duck_l2(a: str, b: str) -> str:
    diff = f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    return f"sqrt({_duck_fold(a, b, f'{diff} * {diff}')})"
