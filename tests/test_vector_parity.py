"""One contract for every vector score (functions/vector.py): the JVM
fold, its Arrow kernel (operators/veckernel.py) and its DuckDB oracle
fragment must agree bit for bit on edge inputs — NULL for a NULL vector,
a ragged pair or a NULL element, 0.0 for an empty pair and for a
zero-norm cosine.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from vector_search_ner_spark.functions import vector as V
from vector_search_ner_spark.operators import veckernel as vk
from vector_search_ner_spark.operators.knn import knn_join

EDGE_ROWS = [
    ("normal", [1.0, 2.0, 3.0], [4.0, -5.0, 6.0]),
    ("null_a", None, [1.0, 2.0]),
    ("null_b", [1.0, 2.0], None),
    ("both_empty", [], []),
    ("zero_norm", [0.0, 0.0], [1.0, 2.0]),
    ("ragged_short_a", [3.0], [1.0, 2.0]),
    ("ragged_short_b", [1.0, 2.0], [3.0]),
    ("null_element", [1.0, None], [1.0, 2.0]),
]
NULL_ROWS = {"null_a", "null_b", "ragged_short_a", "ragged_short_b", "null_element"}

# metric -> (fold, kernel, DuckDB fragment)
METRICS = {
    "dot": (V.dot_product, vk.pair_dot, V.duck_dot),
    "cosine": (V.cosine_similarity, vk.pair_cosine, V.duck_cosine),
    "cosine_from_norms": (
        V.cosine_similarity,
        lambda a, b: vk.cosine_from_norms(a, b, V.l2_norm(a), V.l2_norm(b)),
        V.duck_cosine,
    ),
    "l2": (V.l2_distance, lambda a, b: F.sqrt(vk.pair_sqdist(a, b)), V.duck_l2),
}


def _duck(fragment, elem: str) -> dict:
    def lit(v):
        body = "NULL" if v is None else "[" + ", ".join("NULL" if x is None else repr(x) for x in v) + "]"
        return f"CAST({body} AS {elem}[])"

    values = ", ".join(f"('{n}', {lit(a)}, {lit(b)})" for n, a, b in EDGE_ROWS)
    sql = f"SELECT name, {fragment('a', 'b')} FROM (VALUES {values}) t(name, a, b)"
    return dict(duckdb.connect().execute(sql).fetchall())


@pytest.mark.parametrize("elem", ["double", "float"])
@pytest.mark.parametrize("batching", ["one_batch", "row_per_batch"])
@pytest.mark.parametrize("metric", sorted(METRICS))
def test_fold_kernel_duckdb_parity_on_edge_rows(spark, metric, batching, elem):
    """`one_batch` sends every row through one Arrow batch (the kernels'
    masked path); `row_per_batch` gives each row its own batch, so the
    normal row takes the stacked fast path."""
    fold, kernel, fragment = METRICS[metric]
    rdd = spark.sparkContext.parallelize(EDGE_ROWS, len(EDGE_ROWS))
    df = spark.createDataFrame(rdd, f"name string, a array<{elem}>, b array<{elem}>")
    if batching == "one_batch":
        df = df.coalesce(1)
    a, b = F.col("a"), F.col("b")
    got = {
        r["name"]: (r["fold"], r["kernel"])
        for r in df.select("name", fold(a, b).alias("fold"), kernel(a, b).alias("kernel")).collect()
    }
    duck = _duck(fragment, "FLOAT" if elem == "float" else "DOUBLE")
    for name, _, _ in EDGE_ROWS:
        f, k = got[name]
        assert (f is None) == (name in NULL_ROWS), (name, f)
        assert k == f and duck[name] == f, (name, f, k, duck[name])
    if metric != "l2":
        assert got["both_empty"][0] == 0.0 and got["zero_norm"][0] == 0.0


@pytest.mark.parametrize("metric", ["cosine", "dot", "l2"])
def test_knn_join_ranks_null_doc_vector_last(spark, metric):
    queries = spark.createDataFrame([(0, [1.0, 0.5])], "query_id int, query_vec array<double>")
    docs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0])], "doc_id int, embedding array<double>"
    ).coalesce(1)
    rows = knn_join(queries, docs, k=3, metric=metric).orderBy("rank").collect()
    assert [r["doc_id"] for r in rows] == [1, 3, 2], rows
    assert rows[-1]["score"] is None and all(r["score"] is not None for r in rows[:-1])


def test_knn_join_rejects_unknown_metric(spark):
    queries = spark.createDataFrame([(0, [1.0])], "query_id int, query_vec array<double>")
    docs = spark.createDataFrame([(1, [1.0])], "doc_id int, embedding array<double>")
    with pytest.raises(ValueError, match="unknown metric 'hamming'"):
        knn_join(queries, docs, k=1, metric="hamming")


@pytest.mark.parametrize(
    "vectors", [[[1.0, 2.0], None, [3.0, 4.0]], [[1.0, 2.0], [3.0], [4.0, 5.0]]], ids=["null", "ragged"]
)
def test_list_to_matrix_rejects_null_or_ragged_rows(vectors):
    import pyarrow as pa

    with pytest.raises(ValueError, match="'emb'"):
        vk._list_to_matrix(pa.array(vectors, pa.list_(pa.float64())), "emb")
    assert vk._list_to_matrix(pa.array([[1.0, 2.0], [3.0, 4.0]]), "emb").shape == (2, 2)


def test_cosine_block_equals_cosine_from_norms(spark):
    """The lattice's block kernel (`_cosine_block`: `_dot_block` plus
    the zero-norm rule) equals `cosine_from_norms` and the fold's
    `cosine_similarity` bit for bit on float32 vectors widened to
    float64, a zero-norm doc and a zero-norm probe included."""
    import numpy as np

    rng = np.random.default_rng(3)
    X = rng.standard_normal((9, 64)).astype(np.float32)
    Q = rng.standard_normal((4, 64)).astype(np.float32)
    X[2] = 0.0
    Q[1] = 0.0
    docs = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(X)], "d int, dvec array<float>"
    ).select("d", "dvec", V.l2_norm(F.col("dvec")).alias("dnorm"))
    probes = spark.createDataFrame(
        [(j, v.tolist()) for j, v in enumerate(Q)], "p int, pvec array<float>"
    ).select("p", "pvec", V.l2_norm(F.col("pvec")).alias("pnorm"))
    pd_, dd = V.to_double_array(F.col("pvec")), V.to_double_array(F.col("dvec"))
    rows = (
        docs.crossJoin(probes)
        .select(
            "d",
            "p",
            "dnorm",
            "pnorm",
            vk.cosine_from_norms(pd_, dd, F.col("pnorm"), F.col("dnorm")).alias("kernel"),
            V.cosine_similarity(F.col("pvec"), F.col("dvec")).alias("fold"),
        )
        .collect()
    )
    dnorm = np.zeros(len(X))
    pnorm = np.zeros(len(Q))
    for r in rows:
        dnorm[r["d"]], pnorm[r["p"]] = r["dnorm"], r["pnorm"]
    block = vk._cosine_block(X.astype(np.float64), Q.astype(np.float64), dnorm, pnorm)
    assert len(rows) == block.size
    for r in rows:
        got = float(block[r["d"], r["p"]])
        assert got == r["kernel"] == r["fold"], (r, got)
    assert (block[2] == 0.0).all() and (block[:, 1] == 0.0).all()


def test_driver_probe_embed_equals_the_udf_embed(spark):
    """The lattice embeds its probe batch on the driver
    (`embed_texts_numpy` widened to float64, normed by `_seq_dot`); that
    must equal, bit for bit, the HashingEmbedder UDF's vectors cast by
    `to_double_array` and their `l2_norm` fold, edge texts included."""
    import numpy as np

    from vector_search_ner_spark.embedder import DEFAULT_DIM, HashingEmbedder, embed_texts_numpy

    texts = ["", "   ", "a\xa0b", "join join join scan join", " ".join(f"tok{i % 37}" for i in range(200))]
    emb = HashingEmbedder().embed_col(F.col("t"))
    rows = (
        spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
        .select("i", V.to_double_array(emb).alias("v"), V.l2_norm(emb).alias("n"))
        .orderBy("i")
        .collect()
    )
    Q = np.array(embed_texts_numpy(texts), dtype=np.float64).reshape(-1, DEFAULT_DIM)
    norm = np.sqrt(vk._seq_dot(Q, Q))
    assert Q.shape == (len(texts), DEFAULT_DIM)
    for r in rows:
        assert Q[r["i"]].tolist() == r["v"], r["i"]
        assert float(norm[r["i"]]) == r["n"], r["i"]
    assert norm[0] == norm[1] == 0.0 and norm[4] > 0.0
