"""Arrow-vectorized twins of the interpreted vector folds.

Spark evaluates higher-order functions (`zip_with` + `aggregate`)
with INTERPRETED expression eval — they are CodegenFallback, outside
whole-stage codegen — so every 64-dim squared-L2 / dot-product fold
costs hundreds of boxed expression-node evaluations per pair
(functions/vector.py documents the measurement; a JVM-side 64-term
unroll was tried and is ~3x SLOWER still, because the giant codegen
tree defeats JIT). This module moves exactly those folds — and only
those folds — across the Arrow boundary into NumPy batch kernels,
per the optimization guide §4.2: let Spark do distribution and I/O,
hand whole record batches to vectorized native code.

BIT-IDENTITY CONTRACT (the reason every DuckDB oracle survives
unchanged): each kernel reproduces the fold's float64 arithmetic
EXACTLY, by accumulating per-dimension in array order —

    acc = 0.0; for d in 0..dim-1: acc += (x[d]-c[d])*(x[d]-c[d])

is evaluated as 64 sequential vectorized statements

    t = X[:, d] - C[d]; acc += t*t

whose per-element IEEE-754 float64 rounding is the same sequence of
operations in the same order as the interpreted fold (and as the
oracle's `list_transform` + `list_sum`). float32 inputs widen to
float64 exactly, as `cast("double")` does. Squares are non-negative,
so the fold's 0.0 seed adds exactly. np.sqrt is correctly rounded.
Ties in argmin/top-m resolve to the LOWEST cluster_id — the kernels
keep centroid rows sorted by cluster_id and use first-occurrence
argmin / stable argsort, matching `MIN(struct(dist, cluster_id))`
and `row_number() OVER (ORDER BY dist, cluster_id)`.

The pair kernels follow the folds' NULL contract (functions/vector.py).

CENTROID COLLECTION: `assign_topm` collects the centroid frame to
the driver — NOTE: this is an EAGER action at plan-construction time,
so operator builders calling it are not lazy — one O(n_cent) job,
bounded by IVF_NCENT_MAX ~ 67 MB. The matrix ships as an explicit
`sparkContext.broadcast` variable (one copy per executor, like
`F.broadcast(centroids)` — not a per-stage task-closure copy). In
exchange the plan
LOSES the N x n_cent crossJoin and the argmin/rank shuffle outright:
assignment becomes one map-only ArrowEval pass that ships each
vector across the boundary ONCE (guide §8: decide with small rows,
move heavy bytes once — here the heavy cost was per-pair interpreted
compute, and it becomes per-row vectorized compute).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType

# rows per distance-matrix chunk are bounded so the (rows x n_cent)
# float64 temporaries stay ~32 MB regardless of quantizer size
_CHUNK_CELLS = 4_000_000


def collect_centroids(centroids: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Materialize a (cluster_id, centroid array<double>) frame as
    (ids int64 ascending, matrix float64 (k, dim)) — the closure the
    assignment kernels broadcast. Sorted by cluster_id so that
    first-occurrence tie-breaks equal the lowest-cluster_id rule."""
    rows = centroids.select("cluster_id", "centroid").collect()
    rows.sort(key=lambda r: r["cluster_id"])
    ids = np.asarray([r["cluster_id"] for r in rows], dtype=np.int64)
    mat = np.asarray([r["centroid"] for r in rows], dtype=np.float64)
    return ids, mat


def _sqdist_block(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, dim) x (k, dim) -> (n, k) squared L2, accumulated
    per-dimension in index order — bit-identical to the sequential
    `aggregate(zip_with(a, b, (x-y)*(x-y)), 0.0, +)` fold."""
    n, dim = X.shape
    k = C.shape[0]
    D = np.zeros((n, k), dtype=np.float64)
    for d in range(dim):
        t = X[:, d, None] - C[None, :, d]
        D += t * t
    return D


def _dot_block(X: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """(n, dim) x (k, dim) -> (n, k) dot products, accumulated
    per-dimension in index order — bit-identical to the sequential
    `aggregate(zip_with(a, b, x*y), 0.0, +)` fold for every pair."""
    D = np.zeros((X.shape[0], Q.shape[0]), dtype=np.float64)
    for d in range(X.shape[1]):
        D += X[:, d, None] * Q[None, :, d]
    return D


def _cosine_block(X: np.ndarray, Q: np.ndarray, xnorm: np.ndarray, qnorm: np.ndarray) -> np.ndarray:
    """(n, k) cosine of every (X row, Q row) pair from hoisted norms —
    `cosine_from_norms` over a block: `qnorm * xnorm`, then 0.0 where
    that product is 0, else the sequential dot over it."""
    denom = qnorm[None, :] * xnorm[:, None]
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom == 0.0, 0.0, _dot_block(X, Q) / denom)


def _list_to_matrix(col, name: str) -> np.ndarray:
    """pyarrow List/FixedSizeList column -> (n, dim) float64 matrix.
    float32 widens exactly. A NULL or ragged row would shift every
    later vector in the reshape, so it is rejected instead."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    lens = pc.min_max(pc.list_value_length(col)).as_py()
    if col.null_count or lens["min"] != lens["max"]:
        raise ValueError(f"column {name!r} holds NULL or ragged vectors")
    flat = np.asarray(col.flatten(), dtype=np.float64)
    n = len(col)
    if n == 0:
        return flat.reshape(0, 0)
    return flat.reshape(n, -1)


def assign_topm(
    docs: DataFrame,
    centroids: DataFrame,
    m: int,
    vec_col: str,
    dist_col: str | None = None,
    ark_col: str | None = None,
    sqrt: bool = False,
) -> DataFrame:
    """Assign every row of `docs` to its `m` nearest centroids by
    squared L2 — the Arrow twin of

        docs.crossJoin(broadcast(centroids))
            .withColumn(dist, sq(vec, centroid))
            + argmin / row_number() rank <= m

    Emits the input columns plus `cluster_id` (int) and optionally
    the squared distance (`dist_col`) and the 1-based assignment rank
    (`ark_col`), m rows per input row (rank order ascending). One
    map-only pass: no crossJoin, no argmin shuffle, each vector
    crosses the Arrow boundary once.

    `sqrt=True` ranks (and emits) the square-rooted distance — for
    call sites whose retired fold ordered by `l2_distance` (sqrt'd):
    correctly-rounded sqrt can map two DISTINCT squared distances to
    the SAME double, and there the tie-break must fire exactly as it
    did on the sqrt'd values."""
    import pyarrow as pa

    cids, cmat = collect_centroids(centroids)
    # ship the centroid matrix as an explicit broadcast variable: one
    # copy per executor instead of a pickled task-closure copy per
    # stage (bounded ~67 MB at IVF_NCENT_MAX — the same bytes
    # F.broadcast(centroids) would ship)
    bc = docs.sparkSession.sparkContext.broadcast((cids.astype(np.int32), cmat))
    in_schema = docs.schema
    vec_idx = in_schema.names.index(vec_col)
    out_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in in_schema.fields
    ) + ", `cluster_id` int"
    if dist_col is not None:
        out_ddl += f", `{dist_col}` double"
    if ark_col is not None:
        out_ddl += f", `{ark_col}` long"

    k = len(cids)
    mm = min(m, k)
    chunk_rows = max(1, _CHUNK_CELLS // max(1, k))

    def fn(batches):
        cids32, cmat = bc.value
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            X = _list_to_matrix(rb.column(vec_idx), vec_col)
            idx_parts = []
            dist_parts = []
            for s in range(0, n, chunk_rows):
                Xc = X[s : s + chunk_rows]
                D = _sqdist_block(Xc, cmat)
                if sqrt:
                    D = np.sqrt(D)
                if mm == 1:
                    ix = np.argmin(D, axis=1)[:, None]
                else:
                    ix = np.argsort(D, axis=1, kind="stable")[:, :mm]
                idx_parts.append(ix)
                if dist_col is not None:
                    dist_parts.append(np.take_along_axis(D, ix, axis=1))
            idx = np.concatenate(idx_parts, axis=0)
            tbl = pa.Table.from_batches([rb])
            if mm == 1:
                flat_idx = idx[:, 0]
            else:
                rep = np.repeat(np.arange(n, dtype=np.int64), mm)
                tbl = tbl.take(pa.array(rep))
                flat_idx = idx.reshape(-1)
            tbl = tbl.append_column(
                pa.field("cluster_id", pa.int32()),
                pa.array(cids32[flat_idx], type=pa.int32()),
            )
            if dist_col is not None:
                dists = np.concatenate(dist_parts, axis=0).reshape(-1)
                tbl = tbl.append_column(
                    pa.field(dist_col, pa.float64()),
                    pa.array(dists, type=pa.float64()),
                )
            if ark_col is not None:
                ark = np.tile(np.arange(1, mm + 1, dtype=np.int64), n)
                tbl = tbl.append_column(
                    pa.field(ark_col, pa.int64()),
                    pa.array(ark, type=pa.int64()),
                )
            yield from tbl.combine_chunks().to_batches()

    return docs.mapInArrow(fn, out_ddl)


def _stack(series) -> np.ndarray:
    """pandas Series of per-row vectors -> (n, dim) float64."""
    return np.stack(series.to_numpy()).astype(np.float64, copy=False)


def _seq_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise dot product accumulated per-dimension in index order —
    bit-identical to `aggregate(zip_with(a, b, x*y), 0.0, +)`."""
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for d in range(A.shape[1]):
        acc += A[:, d] * B[:, d]
    return acc


def _seq_sqdist(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise squared L2, same per-dimension order as `_seq_dot`."""
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for d in range(A.shape[1]):
        t = A[:, d] - B[:, d]
        acc += t * t
    return acc


def _stack_pair(a, b) -> tuple[np.ndarray, np.ndarray] | None:
    """Both sides as equal-shape (n, dim) float64 matrices — the fast
    path — or None when the batch holds a NULL vector or vectors of
    differing length, which then take `_masked`. A NULL element
    arrives as NaN and propagates to NaN (NULL) like the fold's NULL."""
    try:
        A, B = _stack(a), _stack(b)
    except (ValueError, TypeError):
        return None
    return (A, B) if A.shape == B.shape else None


def _masked(a, b, kernel) -> np.ndarray:
    """Per-row fallback of a row-wise `kernel(A, B)`: NaN where either
    vector is NULL or the pair is ragged (the fold's NULL — Arrow turns
    NaN into NULL), the kernel over each equal-length group elsewhere."""
    la = np.fromiter((-1 if v is None else len(v) for v in a), np.int64, len(a))
    lb = np.fromiter((-1 if v is None else len(v) for v in b), np.int64, len(b))
    out = np.full(len(a), np.nan)
    for dim in np.unique(la[(la == lb) & (la >= 0)]):
        rows = np.flatnonzero((la == dim) & (lb == dim))
        out[rows] = kernel(_stack(a.iloc[rows]), _stack(b.iloc[rows]))
    return out


def simhash_bits(hashes: Column | str, n_bits: int) -> Column:
    """Arrow twin of neardup.simhash_from_hashes: n_bits bit-folds over
    a token-hash array per row. Pure int64 arithmetic (contribution of
    bit b = 2*count(tokens with bit b) - n_tokens; the bit is set iff
    that is > 0) — exact, so bit-identity is trivial. Replaces n_bits
    interpreted transform+aggregate folds per row (the dominant cost
    of the simhash fingerprint pass) with one vectorized segment-sum
    pass over the batch."""

    @F.pandas_udf(LongType())
    def fn(col):
        vals = col.to_numpy()
        n = len(vals)
        if n == 0:
            return pd.Series(np.zeros(0, dtype=np.int64))
        lens = np.fromiter((len(v) for v in vals), dtype=np.int64, count=n)
        if lens.sum() == 0:
            return pd.Series(np.zeros(n, dtype=np.int64))
        flat = np.concatenate([np.asarray(v, dtype=np.int64) for v in vals])
        ends = np.cumsum(lens)
        starts = ends - lens
        fp = np.zeros(n, dtype=np.int64)
        for b in range(n_bits):
            bit = (flat >> b) & 1
            c = np.concatenate(([0], np.cumsum(bit)))
            cnt = c[ends] - c[starts]
            contrib = 2 * cnt - lens
            fp += np.where(contrib > 0, np.int64(1) << b, 0)
        return pd.Series(fp)

    return fn(hashes)


def sign_bucket(vec: Column | str, hyperplanes: list[list[float]]) -> Column:
    """Arrow twin of neardup.sign_lsh_bucket: bucket id from the sign
    pattern of dot products with fixed hyperplanes. Each dot
    accumulates per-dimension in index order (bit-identical to the
    interpreted fold); the bucket assembly is integer-exact."""
    hps = np.asarray(hyperplanes, dtype=np.float64)

    @F.pandas_udf(IntegerType())
    def fn(col):
        X = _stack(col)
        bucket = np.zeros(X.shape[0], dtype=np.int64)
        for r in range(hps.shape[0]):
            acc = _seq_dot(X, np.broadcast_to(hps[r], X.shape))
            bucket += np.where(acc > 0.0, np.int64(1) << r, 0)
        return pd.Series(bucket.astype(np.int32))

    return fn(vec)


@F.pandas_udf(DoubleType())
def pair_cosine(a, b):
    """Arrow twin of functions.vector.cosine_similarity: same float64
    op sequence (dot / (sqrt(dot_aa) * sqrt(dot_bb)), zero-norm -> 0.0),
    vectorized over the batch. Drop-in Column replacement on pair-join
    hot paths; results are bit-identical, so oracles are unchanged.
    The norms of a ragged pair are each side's own, as in the fold."""
    AB = _stack_pair(a, b)
    if AB is not None:
        A, B = AB
        dot, saa, sbb = _seq_dot(A, B), _seq_dot(A, A), _seq_dot(B, B)
    else:
        dot, saa, sbb = (_masked(x, y, _seq_dot) for x, y in ((a, b), (a, a), (b, b)))
    denom = np.sqrt(saa) * np.sqrt(sbb)
    with np.errstate(divide="ignore", invalid="ignore"):
        return pd.Series(np.where(denom == 0.0, 0.0, dot / denom))


@F.pandas_udf(DoubleType())
def pair_sqdist(a, b):
    """Arrow twin of the squared-L2 fold (no sqrt)."""
    AB = _stack_pair(a, b)
    return pd.Series(_seq_sqdist(*AB) if AB is not None else _masked(a, b, _seq_sqdist))


@F.pandas_udf(DoubleType())
def pair_dot(a, b):
    """Arrow twin of functions.vector.dot_product."""
    AB = _stack_pair(a, b)
    return pd.Series(_seq_dot(*AB) if AB is not None else _masked(a, b, _seq_dot))


def cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine_similarity over hoisted norms: `na`/`nb` are the per-row
    `l2_norm` columns (computed once per row, not per pair) and the
    pair dot runs in the kernel. The one place that spells the
    zero-norm rule and the op order `duck_cosine` mirrors
    (`_cosine_block` is its NumPy twin over a whole block)."""
    denom = na * nb
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(pair_dot(a, b) / denom)
