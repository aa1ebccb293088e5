"""Distributed exact k-NN: the engine's replacement for the reference's
HNSW `similarity_search_with_score` calls (/root/reference/main.py:158-165,
main.py:401, main.py:496; v1: main_remind.py:137-156).

Design for scale (100 TB doc side, small query batch):
  * `broadcast(queries)` — the doc table is never shuffled for the join;
    each doc partition scores locally against the broadcast query batch.
  * top-k via `row_number()` window + `rank <= k` filter: Spark's
    InferWindowGroupLimit rule (3.5+) turns this into a per-partition
    partial top-k (WindowGroupLimit) BEFORE the shuffle, so only
    ~k rows per partition per query move — not |docs| × |queries|.
  * the per-pair score runs in the Arrow kernels of
    operators/veckernel.py (bit-identical to the folds of
    functions/vector.py); both vector sides are pre-cast to
    array<double> once per row.

Semantics notes vs the reference:
  * exact, not approximate — recall 1.0 (declared improvement; see
    SURVEY §4). LSH/IVF pruning variants live in ann.py.
  * deterministic tie-break on doc id, which the reference (HNSW
    traversal order) does not guarantee.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_query(
    scored: DataFrame,
    k: int,
    query_id: str = "query_id",
    score_col: str = "score",
    doc_id: str = "doc_id",
    ascending: bool = False,
) -> DataFrame:
    """Per-query top-k with deterministic doc-id tie-break; a NULL
    score ranks last in either direction, as in the DuckDB oracles."""
    order = [
        F.col(score_col).asc_nulls_last() if ascending else F.col(score_col).desc(),
        F.col(doc_id).asc(),
    ]
    w = Window.partitionBy(query_id).orderBy(*order)
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def knn_join(
    queries: DataFrame,
    docs: DataFrame,
    k: int,
    metric: str = "cosine",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    doc_id: str = "doc_id",
    doc_vec: str = "embedding",
    doc_filter: Column | None = None,
    score_col: str = "score",
) -> DataFrame:
    """Exact k-NN of every query vector against the doc table.

    `doc_filter` (optional) is applied BEFORE scoring — the pushdown
    analogue of the reference v2's `where_document={$contains:...}`
    (/root/reference/main.py:144-162); Catalyst pushes it into the
    parquet scan.

    Returns: query_id, doc_id, score, rank (1-based, best first).
    """
    if doc_filter is not None:
        docs = docs.where(doc_filter)
    # pre-cast both vector sides to array<double> ONCE per row, and
    # run the per-pair scoring in the Arrow kernels — the folds are
    # interpreted (CodegenFallback), so the pair loop was the dominant
    # cost of every retrieval pipeline; the kernels are bit-identical
    # (see operators/veckernel.py), so scores and oracles are unchanged
    from vector_search_ner_spark.functions.vector import (
        l2_norm,
        to_double_array,
    )
    from vector_search_ner_spark.operators import veckernel as vk

    docs = docs.withColumn("__dv", to_double_array(F.col(doc_vec)))
    queries = queries.select(query_id, query_vec).withColumn(
        "__qv", to_double_array(F.col(query_vec))
    )
    if metric == "cosine":
        # hoist the norms out of the pair loop: |d| once per doc row,
        # |q| once per query row — not once per (query, doc) pair.
        docs = docs.withColumn("__dnorm", l2_norm(F.col(doc_vec)))
        queries = queries.withColumn("__qnorm", l2_norm(F.col(query_vec)))
        expr = vk.cosine_from_norms(
            F.col("__qv"), F.col("__dv"), F.col("__qnorm"), F.col("__dnorm")
        )
        asc = False
    elif metric == "dot":
        expr, asc = vk.pair_dot(F.col("__qv"), F.col("__dv")), False
    elif metric == "l2":
        expr, asc = F.sqrt(vk.pair_sqdist(F.col("__qv"), F.col("__dv"))), True
    else:
        raise ValueError(f"unknown metric {metric!r}; choose from ['cosine', 'dot', 'l2']")
    scored = (
        docs.crossJoin(F.broadcast(queries))
        .withColumn(score_col, expr)
        .select(query_id, doc_id, score_col)
    )
    return topk_per_query(scored, k, query_id, score_col, doc_id, ascending=asc)
