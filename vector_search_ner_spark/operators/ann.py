"""Approximate nearest-neighbor scale paths (SURVEY §4: the HNSW
replacement story). Exact brute-force k-NN (operators/knn.py) is the
correctness baseline; these trade recall for pruning:

  * IVF (inverted-file): KMeans centroids as a coarse quantizer; docs
    are partitioned by nearest centroid; a query only scores docs in
    its `nprobe` nearest clusters. At 100 TB: write the doc table
    partitioned by `cluster_id` → partition pruning turns each query
    into nprobe partition scans instead of a full sweep.
  * MLlib BucketedRandomProjectionLSH approxSimilarityJoin: the
    built-in distributed LSH join for L2.

Both are declared-approximate (recall measured vs exact in tests);
KMeans isn't ANSI-SQL-expressible so these are rows-only checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vector_search_ner_spark.operators.knn import topk_per_query

SEED = 42


def _to_mllib_vec(df: DataFrame, array_col: str, vec_col: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(vec_col, array_to_vector(F.col(array_col).cast("array<double>")))


def ivf_build(emb: DataFrame, n_clusters: int, vec_col: str = "embedding") -> tuple[DataFrame, DataFrame]:
    """Fit KMeans (fixed seed) and assign every row a cluster_id.
    Returns (assignments, centroids) — centroids as array<double>."""
    from pyspark.ml.clustering import KMeans

    ml = _to_mllib_vec(emb, vec_col, "__v")
    model = KMeans(k=n_clusters, seed=SEED, featuresCol="__v", predictionCol="cluster_id").fit(ml)
    assigned = model.transform(ml).drop("__v")
    centroids = emb.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cluster_id int, centroid array<double>",
    )
    return assigned, centroids


def ivf_topk(
    queries: DataFrame,
    assigned: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    doc_id: str = "doc_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the nprobe nearest centroids per query, then exact L2
    top-k within the probed clusters only. The doc side is touched
    only on (query, cluster) matches — with the table partitioned by
    cluster_id this is partition pruning, not a full scan."""
    from vector_search_ner_spark.functions.vector import to_double_array
    from vector_search_ner_spark.operators import veckernel

    # pre-cast each side ONCE (below the join); probe assignment and
    # the candidate-set distance run in the Arrow kernels — both were
    # interpreted folds (bit-identical swap, see veckernel; sqrt
    # matches the retired l2_distance ordering exactly)
    queries = queries.withColumn("__qv", to_double_array(F.col(query_vec)))
    probes = veckernel.assign_topm(
        queries.select(query_id, "__qv"), centroids, nprobe, "__qv", sqrt=True
    ).select(query_id, "cluster_id", "__qv")
    cand = probes.join(assigned.withColumn("__dv", to_double_array(F.col(vec_col))), "cluster_id")
    scored = cand.withColumn(
        "distance", F.sqrt(veckernel.pair_sqdist(F.col("__qv"), F.col("__dv")))
    ).select(query_id, F.col(doc_id), "distance")
    return topk_per_query(scored, k, query_id, "distance", doc_id, ascending=True)


def ivf_fixed_build(
    emb: DataFrame,
    n_clusters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Deterministic coarse quantizer: centroids = the first n_clusters
    vectors by id. Data-dependent but fully deterministic and
    SQL-expressible, so THIS IVF variant is oracle-checkable end to end
    (KMeans refines the same structure in the rows-only variant — the
    probe/prune mechanics are identical)."""
    from vector_search_ner_spark.operators import veckernel

    centroids = emb.where(F.col(id_col) < n_clusters).select(
        F.col(id_col).cast("int").alias("cluster_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("centroid"),
    )
    # Arrow-vectorized argmin (bit-identical; `sqrt=True` reproduces
    # the retired l2_distance ordering's tie behavior exactly)
    assigned = veckernel.assign_topm(
        emb.select(id_col, vec_col), centroids, 1, vec_col, sqrt=True
    ).select(id_col, vec_col, "cluster_id")
    return assigned, centroids


LLOYD_SCALE = 1_000_000


def lloyd_build(
    emb: DataFrame,
    n_clusters: int,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    emit_dist: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Distributed Lloyd's KMeans, bit-exact across engines — the
    natively-implemented iterative-ML quantizer (the MLlib KMeans
    variant stays rows-only because its init/refinement are not
    SQL-reproducible; this one is, so LEARNED-centroid IVF gets a full
    oracle).

    Init = the first n_clusters vectors (the fixed quantizer). Each
    iteration: (a) ASSIGN — broadcast centroids, argmin squared-L2 as
    MIN(struct(dist, cluster_id)) (map-side partial combine, ties to
    the lower cluster id; the doc vector rides in the struct tail,
    which can never influence the ordering); (b) UPDATE — per
    (cluster, dim), components quantize to integer microunits
    (floor(x·1e6)): the partial sums are exact int64, so the mean is
    order- and partition-independent, finished by ONE double division.
    Empty clusters keep their previous centroid. The oracle unrolls
    the same iterations in SQL; every number matches bit-for-bit.

    Scale shape per iteration (r12 optimization round): assignment is
    ONE map-only ArrowEval pass — `veckernel.assign_topm` closes over
    the collected centroid matrix (the same bytes `F.broadcast` would
    ship) and computes every vector's argmin in a vectorized NumPy
    kernel whose per-dimension accumulation order is bit-identical to
    the interpreted `aggregate(zip_with(...))` fold it replaces (the
    fold is CodegenFallback — the measured dominant cost of the whole
    IVF family; see operators/veckernel.py). That removes BOTH the
    N x n_clusters crossJoin and the per-doc argmin shuffle from each
    iteration. The (cluster, dim) UPDATE aggregation stays JVM-side
    (map-side partial combine). Each round's centroids are EAGERLY
    localCheckpoint'ed (like connected_components): that cuts the
    lineage so the update chain can't re-evaluate 2^iter times, and —
    unlike persist() — superseded rounds are reclaimed by the context
    cleaner once unreferenced instead of pinning cache entries for the
    session lifetime. The docs frame is persisted for the n_iter
    assignment scans and unpersisted before returning; the returned
    frames re-derive from source on their first action (one extra
    scan, no leaked cache).

    With `emit_dist=True` the returned assignment frame carries
    `__dist` — the squared L2 to the assigned (final) centroid, the
    exact value the old post-hoc centroid re-join computed — so
    consumers that need the quantization error (SemDeDup's sweep
    order `u`) skip that join and its second fold entirely."""
    from vector_search_ner_spark.functions.vector import to_double_array
    from vector_search_ner_spark.operators import veckernel

    docs = emb.select(
        F.col(id_col).alias("doc_id"),
        F.col(vec_col).alias("__raw"),
        to_double_array(F.col(vec_col)).alias("__dv"),
        # bounded lifetime, not a session pin: consumed by the n_iter
        # construction-time assignment scans, unpersisted below before
        # return (the returned frames re-derive from source)
    ).persist()
    centroids = emb.where(F.col(id_col) < n_clusters).select(
        F.col(id_col).cast("int").alias("cluster_id"),
        to_double_array(F.col(vec_col)).alias("centroid"),
    )

    def assign(cents: DataFrame, with_dist: bool = False) -> DataFrame:
        return veckernel.assign_topm(
            docs, cents, 1, "__dv", dist_col="__dist" if with_dist else None
        )

    for _ in range(n_iter):
        a = assign(centroids)
        upd = (
            a.select("cluster_id", F.posexplode("__dv").alias("d", "x"))
            .withColumn("u", F.floor(F.col("x") * LLOYD_SCALE).cast("long"))
            .groupBy("cluster_id", "d")
            .agg(F.sum("u").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        vals = upd.withColumn(
            "val",
            F.col("s").cast("double") / (F.col("n").cast("double") * float(LLOYD_SCALE)),
        )
        newc = vals.groupBy("cluster_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "val"))), lambda s: s["val"]
            ).alias("__new")
        )
        # LAZY localCheckpoint per round (n_clusters tiny rows): the
        # next round references these from BOTH the assignment and the
        # empty-cluster coalesce, so without a materialization boundary
        # the update chain re-evaluates 2^iter times; plan truncation
        # happens at call time, and the next round's centroid COLLECT
        # (collect_centroids inside assign) is the first action, so the
        # blocks materialize inside that job — one job per round
        # instead of a checkpoint job followed by the collect job.
        # Checkpointed rounds are GC-reclaimed once unreferenced.
        centroids = (
            centroids.join(newc, "cluster_id", "left")
            .select(
                "cluster_id",
                F.coalesce(F.col("__new"), F.col("centroid")).alias("centroid"),
            )
            .localCheckpoint(eager=False)
        )
    fcols = [
        F.col("doc_id").alias(id_col),
        F.col("__raw").alias(vec_col),
        "cluster_id",
    ] + ([F.col("__dist")] if emit_dist else [])
    final = assign(centroids, with_dist=emit_dist).select(*fcols)
    docs.unpersist()
    return final, centroids


def lsh_similarity_join(
    emb: DataFrame,
    threshold: float,
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH approxSimilarityJoin of the
    embedding table with itself: pairs within L2 `threshold`."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    ml = _to_mllib_vec(emb.select(id_col, vec_col), vec_col, "__v")
    lsh = BucketedRandomProjectionLSH(
        inputCol="__v", outputCol="__h", bucketLength=bucket_length, numHashTables=num_hash_tables, seed=SEED
    )
    model = lsh.fit(ml)
    joined = model.approxSimilarityJoin(ml, ml, threshold, distCol="l2")
    return (
        joined.where(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
        .select(
            F.col(f"datasetA.{id_col}").alias("doc_a"),
            F.col(f"datasetB.{id_col}").alias("doc_b"),
            F.round("l2", 4).alias("l2"),
        )
    )
