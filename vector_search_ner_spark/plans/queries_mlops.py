"""Index-build pipeline, embedding UDF, ANN scale paths, multimodal
plumbing, and the parquet sink (SURVEY §2.1, §2.10, §3-E3).

Non-SQL-expressible pieces (MLlib KMeans init, pandas-UDF embedder,
mapInPandas decode) are rows-only by design; everything around them
that CAN be oracle-checked is (sink roundtrip counts, chunk/id
plumbing) — and the natively-implemented Lloyd's KMeans
(ann.lloyd_build) gives learned-centroid IVF and semantic clustering
FULL unrolled-CTE oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_search_ner_spark.embedder import HashingEmbedder
from vector_search_ner_spark.extractors import RuleBasedExtractor
from vector_search_ner_spark.functions.text import clean_text, stable_id
from vector_search_ner_spark.functions.vector import duck_l2
from vector_search_ner_spark.operators import ann
from vector_search_ner_spark.operators import multimodal as mm
from vector_search_ner_spark.operators import neardup as nd
from vector_search_ner_spark.operators import veckernel as vk
from vector_search_ner_spark.operators.chunker import chunk_text
from vector_search_ner_spark.registry import query
from vector_search_ner_spark.session import cut_lineage
from vector_search_ner_spark.sources.catalog import load_table

ARTIFACT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "_artifacts")


def _duck_embed_cte(src: str, keys: str, text: str, prefix: str = "e") -> str:
    """CTE chain (to append after `src` is defined) re-deriving the
    hashing embedder's normalized float32 vector for each row of `src`
    keyed by `keys` (comma list), embedding `text`. Final CTE
    `{prefix}_vec` has (keys, emb)."""
    h = "CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT)"
    return rf"""{prefix}_toks AS (
  SELECT {keys}, t AS tok
  FROM (SELECT {keys}, unnest(regexp_split_to_array({text}, '\s+')) AS t FROM {src})
  WHERE t != ''
), {prefix}_slotted AS (
  SELECT {keys},
         CAST({h} % 64 AS INTEGER) AS slot,
         CASE WHEN ({h} >> 8) & 1 = 1
              THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END AS sign
  FROM {prefix}_toks
), {prefix}_hist AS (
  SELECT {keys}, map_from_entries(list((slot, v))) AS m
  FROM (SELECT {keys}, slot, SUM(sign) AS v FROM {prefix}_slotted GROUP BY {keys}, slot)
  GROUP BY {keys}
), {prefix}_dense AS (
  SELECT {", ".join("s." + k for k in keys.split(", "))},
         list_transform(generate_series(0, 63), i -> COALESCE(h.m[i][1], CAST(0.0 AS DOUBLE))) AS raw
  FROM {src} s LEFT JOIN {prefix}_hist h
    ON {" AND ".join(f"s.{k} = h.{k}" for k in keys.split(", "))}
), {prefix}_vec AS (
  SELECT {keys},
         CASE WHEN sqrt(list_sum(list_transform(raw, x -> x * x))) > 0
              THEN list_transform(raw, x ->
                CAST(CAST(x / sqrt(list_sum(list_transform(raw, y -> y * y))) AS REAL) AS DOUBLE))
              ELSE list_transform(raw, x -> CAST(CAST(0.0 AS REAL) AS DOUBLE)) END AS emb
  FROM {prefix}_dense
)"""



def build_chunk_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's E3 index build (/root/reference/
    build_vectorstore.py:254-279) as one linear lazy pipeline:
    scan → clean → NER-enrich (rule impl) → enriched text → chunk →
    stable ids → embed (hashing UDF). No shuffle anywhere — pure
    narrow stages + one Arrow UDF."""
    docs = load_table(spark, sf_dir, "documents")
    cleaned = docs.withColumn("text", clean_text(F.col("text")))
    enriched = RuleBasedExtractor().extract(cleaned)
    # append the NER result to the indexed text, as the reference
    # appends the NER JSON (build_vectorstore.py:184-194)
    with_ner_text = enriched.withColumn(
        "text", F.concat_ws("\n", F.col("text"), F.concat(F.lit("NER: "), F.col("ner_json")))
    )
    chunks = chunk_text(with_ner_text, size=120, overlap=30)
    with_ids = chunks.withColumn("chunk_id", stable_id(F.col("chunk"), F.col("chunk_index")))
    emb = HashingEmbedder().embed_col(F.col("chunk"))
    return with_ids.withColumn("embedding", emb)


def _duck_index_build() -> str:
    """Full E3 oracle: clean → rule-NER → enriched text → 120/30 chunks
    → stable ids → embedder norm, all in SQL."""
    job_case = """CASE WHEN contains(ct, 'join') THEN 'join'
            WHEN contains(ct, 'sort') THEN 'sort'
            WHEN contains(ct, 'merge') THEN 'merge'
            WHEN contains(ct, 'scan') THEN 'scan' END"""
    stride, size = 90, 120
    return rf"""
WITH cleaned AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(text, '<[^>]+>', '', 'g'), chr(10), ' ', 'g')) AS ct
  FROM documents
), enr AS (
  SELECT doc_id, {job_case} AS ner_job,
         ct || chr(10) || 'NER: ' ||
         CASE WHEN {job_case} IS NULL THEN '{{}}'
              ELSE '{{"job":"' || {job_case} || '"}}' END AS text
  FROM cleaned
), src AS (
  SELECT doc_id, ner_job, CAST(i AS INTEGER) AS chunk_index,
         substring(text, CAST(i AS INTEGER) * {stride} + 1, {size}) AS chunk
  FROM (
    SELECT doc_id, ner_job, text,
           unnest(generate_series(0,
             GREATEST(0, CAST(floor((length(text) - {size} + {stride - 1}) / {stride}.0) AS INTEGER))
           )) AS i
    FROM enr
  )
),
{_duck_embed_cte("src", "doc_id, chunk_index", "chunk")}
SELECT s.doc_id, s.chunk_index,
       CAST(CAST('0x' || substring(md5(substring(s.chunk, 1, 50)), 1, 15) AS BIGINT) AS VARCHAR)
         || '_' || CAST(s.chunk_index AS VARCHAR) AS chunk_id,
       s.ner_job,
       CAST(64 AS INTEGER) AS emb_dim,
       round(sqrt(list_sum(list_transform(v.emb, x -> x * x))), 4) AS emb_norm
FROM src s JOIN e_vec v ON s.doc_id = v.doc_id AND s.chunk_index = v.chunk_index
"""


@query("index_build_pipeline", oracle=_duck_index_build())
def index_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 index build end-to-end WITH a full oracle: every stage
    (clean_text regexes, rule-NER, to_json enrichment, sliding-window
    chunking, md5 stable ids, hashing-embedder norm) is re-derived in
    one composed SQL — the whole pipeline, not just its parts, is
    value-checked cross-engine."""
    out = build_chunk_index(spark, sf_dir)
    from vector_search_ner_spark.functions.vector import l2_norm

    return out.select(
        "doc_id",
        "chunk_index",
        "chunk_id",
        F.col("ner_job"),
        F.size("embedding").alias("emb_dim"),
        F.round(l2_norm(F.col("embedding")), 4).alias("emb_norm"),
    )


_EMBED_ORACLE = rf"""
WITH src AS (SELECT doc_id, text FROM documents),
{_duck_embed_cte("src", "doc_id", "text")}
SELECT doc_id,
       CAST(64 AS INTEGER) AS emb_dim,
       round(sqrt(list_sum(list_transform(emb, x -> x * x))), 4) AS emb_norm,
       round(emb[1], 6) AS c0
FROM e_vec
"""


@query("embed_documents_hashing", oracle=_EMBED_ORACLE)
def embed_documents_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embed_documents extension point (reference
    build_vectorstore.py:38-41) with the deterministic hashing
    embedder; per-doc stats carry a FULL oracle: the SQL re-derives the
    feature-hashed, L2-normalized, float32-cast vector from first
    principles (every intermediate is an integer-valued double or a
    correctly-rounded op, so the stats match bit-for-bit)."""
    docs = load_table(spark, sf_dir, "documents")
    from vector_search_ner_spark.functions.vector import l2_norm

    emb = HashingEmbedder().embed_col(F.col("text"))
    return docs.select("doc_id", emb.alias("embedding")).select(
        "doc_id",
        F.size("embedding").alias("emb_dim"),
        F.round(l2_norm(F.col("embedding")), 4).alias("emb_norm"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("c0"),
    )


@query(
    "sink_parquet_roundtrip",
    oracle="""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
""",
)
def sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink with overwrite (the reference's
    destructive rebuild + persist, build_vectorstore.py:22-24,233-250)
    → read back → aggregate. The oracle checks the roundtrip preserved
    everything, straight from the source table."""
    docs = load_table(spark, sf_dir, "documents")
    path = os.path.join(ARTIFACT_DIR, "docs_by_lang")
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


_IVF_RECALL_FLOOR = 0.5
_LSH_RECALL_FLOOR = 0.8
_LSH_SAMPLE = 400


@query(
    "ann_ivf_topk",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS query_vec
  FROM embeddings WHERE vec_id < 8
), exact_top AS (
  SELECT query_id FROM (
    SELECT q.query_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {duck_l2("q.query_vec", "d.embedding")}, d.vec_id
           ) AS rank
    FROM embeddings d CROSS JOIN q
  ) WHERE rank <= 10
)
SELECT query_id, CAST(COUNT(*) AS INTEGER) AS n_exact,
       TRUE AS recall_ge_floor
FROM exact_top GROUP BY query_id
""",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate k-NN: MLlib KMeans coarse quantizer (16
    clusters), probe 4, exact L2 within probed clusters.

    Bound-verdict form (full oracle): KMeans centroids are
    library-internal, so the query ALSO computes the exact L2 top-10
    ground truth in Spark and emits per query (query_id, n_exact,
    recall_ge_floor) — the boolean asserts the MACRO recall@10 across
    the query batch >= 0.5 with the registered nprobe (macro, not
    per-query: a single query whose true neighbors straddle a cluster
    boundary can legitimately dip to 0.4, while the batch-level value
    is stable — measured 0.70 at sf0.001 and 0.76 at sf0.01). The
    oracle re-derives the exact top-k
    grain and the expected all-true verdicts. The IVF result values
    themselves remain pinned Spark-vs-Spark by
    tests/test_semantics.py::test_mllib_ivf_agrees_with_lloyd_twin."""
    from vector_search_ner_spark.operators.knn import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    docs = emb.select(F.col("vec_id").alias("doc_id"), "embedding")
    assigned, centroids = ann.ivf_build(docs, 16)
    ivf = ann.ivf_topk(queries, assigned, centroids, k=10, nprobe=4).select(
        "query_id", "doc_id"
    )
    # the exact ground truth feeds the verdict aggregate AND the
    # per-query grain — cut it once or the corpus-x-queries scoring
    # crossJoin runs twice (K-sized output, corpus-sized compute)
    exact = cut_lineage(
        knn_join(queries, docs, k=10, metric="l2").select("query_id", "doc_id")
    )
    verdict = (
        exact.join(ivf.withColumn("__hit", F.lit(1)), ["query_id", "doc_id"], "left")
        .agg(
            (
                F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                >= _IVF_RECALL_FLOOR * F.count(F.lit(1))
            ).alias("recall_ge_floor")
        )
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_exact"))
        .crossJoin(F.broadcast(verdict))
        .select("query_id", "n_exact", "recall_ge_floor")
    )


@query(
    "ann_lsh_similarity_join",
    oracle=f"""
WITH s AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 400
)
SELECT CAST(a.vec_id AS BIGINT) AS doc_a, CAST(b.vec_id AS BIGINT) AS doc_b,
       ROUND({duck_l2("a.embedding", "b.embedding")}, 4) AS l2,
       TRUE AS lsh_recall_ge_floor
FROM s a JOIN s b ON a.vec_id < b.vec_id
WHERE {duck_l2("a.embedding", "b.embedding")} <= 1.1
""",
)
def ann_lsh_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH self-join: pairs within L2
    distance 1.1.

    Bound-verdict form (full oracle): LSH bucketing is seeded library
    internals, so the query derives the EXACT threshold-pair relation
    on a bounded sample (broadcast self-join — affordable because
    bounded; the LSH leg still runs over the full table) and emits each
    exact pair with its distance plus a global `lsh_recall_ge_floor`
    verdict: the LSH join must recover >= 80% of the true sample pairs
    (measured 0.94). approxSimilarityJoin post-filters on true
    distance, so precision is 1.0 by construction — recall is the only
    free variable, and it is now hash-checked. The oracle re-derives
    the exact pairs and the all-true verdict."""
    from vector_search_ner_spark.functions.vector import l2_distance, to_double_array

    emb = load_table(spark, sf_dir, "embeddings")
    lsh_pairs = ann.lsh_similarity_join(emb, threshold=1.1).select("doc_a", "doc_b")
    s = emb.where(F.col("vec_id") < _LSH_SAMPLE).select(
        "vec_id", to_double_array("embedding").alias("__dv")
    )
    a, b = s.alias("a"), s.alias("b")
    # the exact relation is bounded (sample^2 pairs) but each run costs
    # a broadcast self-join with per-pair distance folds — cut it once:
    # it feeds the verdict aggregate AND the returned report
    exact = cut_lineage(
        a.join(F.broadcast(b), F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("__l2", l2_distance(F.col("a.__dv"), F.col("b.__dv")))
        .where(F.col("__l2") <= 1.1)
        .select(
            F.col("a.vec_id").alias("doc_a"),
            F.col("b.vec_id").alias("doc_b"),
            F.round("__l2", 4).alias("l2"),
        )
    )
    # broadcast the BOUNDED exact sample into the corpus-wide LSH pair
    # relation (never the reverse: the within-threshold pair set of a
    # 100 TB corpus is far beyond the broadcast ceiling — the same
    # asymmetry argument as incremental_lsh_dedup's probe joins)
    n_hit = lsh_pairs.join(
        F.broadcast(exact.select("doc_a", "doc_b")), ["doc_a", "doc_b"]
    ).agg(F.count(F.lit(1)).alias("__nh"))
    verdict = (
        exact.agg(F.count(F.lit(1)).alias("__ne"))
        .crossJoin(F.broadcast(n_hit))
        .select(
            (F.col("__nh") >= _LSH_RECALL_FLOOR * F.col("__ne")).alias(
                "lsh_recall_ge_floor"
            )
        )
    )
    return exact.crossJoin(F.broadcast(verdict))


@query(
    "multimodal_features",
    oracle="""
WITH base AS (
  SELECT doc_id, md5(text) || md5(reverse(text)) AS ph
  FROM documents WHERE doc_id < 100
), b AS (
  SELECT doc_id, ph,
         list_transform(generate_series(1, 32),
                        i -> CAST(('0x' || substring(ph, 2*i - 1, 2)) AS INTEGER)) AS bs
  FROM base
), f AS (
  SELECT doc_id, [
    CAST(CAST(32.0 AS REAL) AS DOUBLE),
    CAST(CAST(CAST(list_sum(bs) AS DOUBLE) % 997 AS REAL) AS DOUBLE),
    CAST(CAST(CAST(list_sum(bs) AS DOUBLE) / 32.0 AS REAL) AS DOUBLE),
    CAST(CAST(list_min(bs) AS REAL) AS DOUBLE),
    CAST(CAST(list_max(bs) AS REAL) AS DOUBLE),
    CAST(CAST(bs[1] AS REAL) AS DOUBLE),
    CAST(CAST(bs[32] AS REAL) AS DOUBLE),
    CAST(CAST(CAST('0x' || substring(md5(ph), 1, 8) AS BIGINT) % 1000 AS REAL) AS DOUBLE)
  ] AS feats
  FROM b
)
SELECT doc_id, 'image/png' AS mime, CAST(32 AS INTEGER) AS n_bytes,
       feats[1] AS f0, feats[2] AS f1, feats[3] AS f2, feats[4] AS f3,
       feats[5] AS f4, feats[6] AS f5, feats[7] AS f6, feats[8] AS f7
FROM f
""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column multimodal plumbing: synthesize payload+metadata,
    extract features via Arrow mapInPandas (decode stubbed —
    deterministic byte statistics; see operators/multimodal.py). The
    array<float> feature vector is projected to typed scalar columns so
    the WHOLE Python decode path gets a FULL value oracle (the SQL
    re-derives every statistic from the payload hex independently) —
    closes the last rows-only query without a bounded check."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    with_bin = mm.attach_fake_binary(docs)
    feats = mm.decode_image_features(with_bin)
    return feats.select(
        "doc_id",
        "mime",
        "n_bytes",
        *[F.col("features")[i].cast("double").alias(f"f{i}") for i in range(8)],
    )


def _duck_phash_pairs() -> str:
    fp_terms = " + ".join(
        f"(CASE WHEN bs[{i}] > bs[{i + 1}] THEN CAST({1 << (i - 1)} AS BIGINT) ELSE 0 END)"
        for i in range(1, 32)
    )
    return f"""
WITH base AS (
  SELECT doc_id, md5(text) || md5(reverse(text)) AS ph FROM documents
), all_rows AS (
  SELECT doc_id AS sid, ph FROM base
  UNION ALL
  SELECT doc_id + 1000000 AS sid, substring(ph, 1, 62) || '00' AS ph FROM base
), b AS (
  SELECT sid,
         list_transform(generate_series(1, 32),
                        i -> CAST(('0x' || substring(ph, 2*i - 1, 2)) AS INTEGER)) AS bs
  FROM all_rows
), f AS (
  SELECT sid, ({fp_terms}) AS fp FROM b
), bands AS (
  SELECT sid, fp, t.band AS band, (fp >> (8 * t.band)) & 255 AS key
  FROM f, (SELECT unnest(generate_series(0, 3)) AS band) t
), cand AS (
  SELECT DISTINCT a.sid AS doc_a, b.sid AS doc_b, a.fp AS fa, b.fp AS fb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.sid < b.sid
)
SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= 3
"""


@query("multimodal_phash_pairs", oracle=_duck_phash_pairs())
def multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-dup dedup over opaque binary payloads — the
    multimodal member of the dedup family: perceptual dHash
    fingerprints extracted executor-side from the payload bytes
    (Arrow mapInPandas, operators/multimodal.py — the real-image
    decode+thumbnail is the stubbed step), then the SAME banded
    hamming join text SimHash uses (`neardup.hamming_band_pairs`).
    The corpus is augmented with a one-byte-perturbed copy of every
    payload (offset ids), so the query exercises BOTH exact-payload
    matches (hamming 0) and near-matches (the perturbed last byte
    flips at most one gradient bit) — and the oracle re-derives every
    fingerprint closed-form from the payload hex, value-checking the
    Python decode path end to end.

    At 100 TB: fingerprints are map-only 8-byte longs; the only
    shuffle keys on (band, key) slim rows — a million identical
    thumbnails form one bucket per band, never a cross-join of
    payloads."""
    docs = load_table(spark, sf_dir, "documents")
    with_bin = mm.attach_fake_binary(docs).select("doc_id", "payload")
    perturbed = with_bin.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.substring(F.col("payload"), 1, 31), F.unhex(F.lit("00"))
        ).alias("payload"),
    )
    fps = mm.perceptual_dhash(with_bin.unionByName(perturbed))
    return nd.hamming_band_pairs(fps, max_hamming=3)


def _duck_audio_fp_pairs() -> str:
    n_bytes, flen = 32, mm.AUDIO_FP_FRAME
    n_frames = n_bytes - flen + 1  # 29 energies -> 28 gradient bits

    def e(i: int) -> str:  # 1-based energy of frame i over bs
        return "(" + " + ".join(f"bs[{i + j}] * bs[{i + j}]" for j in range(flen)) + ")"

    fp_terms = " + ".join(
        f"(CASE WHEN {e(i)} > {e(i + 1)} THEN CAST({1 << (i - 1)} AS BIGINT) ELSE 0 END)"
        for i in range(1, n_frames)
    )
    return f"""
WITH base AS (
  SELECT doc_id, md5(text) || md5(reverse(text)) AS ph FROM documents
), all_rows AS (
  SELECT doc_id AS sid, ph FROM base
  UNION ALL
  SELECT doc_id + 1000000 AS sid, substring(ph, 1, 62) || '00' AS ph FROM base
), b AS (
  SELECT sid,
         list_transform(generate_series(1, {n_bytes}),
                        i -> CAST(('0x' || substring(ph, 2*i - 1, 2)) AS INTEGER)) AS bs
  FROM all_rows
), f AS (
  SELECT sid, ({fp_terms}) AS fp FROM b
), bands AS (
  SELECT sid, fp, t.band AS band, (fp >> (8 * t.band)) & 255 AS key
  FROM f, (SELECT unnest(generate_series(0, 3)) AS band) t
), cand AS (
  SELECT DISTINCT a.sid AS doc_a, b.sid AS doc_b, a.fp AS fa, b.fp AS fb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.sid < b.sid
)
SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= 3
"""


@query("multimodal_audio_dedup", oracle=_duck_audio_fp_pairs())
def multimodal_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO near-dup dedup — completes the modality triple (text
    SimHash, image dHash, audio energy-gradient fingerprint), all
    through ONE shared banded hamming join: frame energies (len-4
    windows, hop 1) over the payload samples reduce to a 28-bit
    gradient-sign fingerprint executor-side (Arrow mapInPandas; the
    PCM decode is the stubbed step), pairs within hamming <= 3 via
    `neardup.hamming_band_pairs`. Same perturbed-copy construction as
    the image query so exact and near matches are both exercised; the
    oracle re-derives every integer energy and fingerprint bit
    closed-form from the payload hex."""
    docs = load_table(spark, sf_dir, "documents")
    with_bin = mm.attach_fake_binary(docs).select("doc_id", "payload")
    perturbed = with_bin.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.substring(F.col("payload"), 1, 31), F.unhex(F.lit("00"))
        ).alias("payload"),
    )
    fps = mm.audio_energy_fingerprint(with_bin.unionByName(perturbed))
    return nd.hamming_band_pairs(fps, max_hamming=3)


@query(
    "multimodal_resize_frames",
    oracle="""
WITH base AS (
  SELECT doc_id,
         md5(text) || md5(reverse(text)) AS payload_hex,
         length(text) % 64 + 16 AS w,
         length(text) % 48 + 16 AS h,
         n_chars % 30 + 2 AS n_frames
  FROM documents WHERE doc_id < 300
), dims AS (
  SELECT doc_id, payload_hex, n_frames,
         GREATEST(1, CAST(FLOOR(w * LEAST(32.0 / w, 32.0 / h)) AS INTEGER)) AS new_w,
         GREATEST(1, CAST(FLOOR(h * LEAST(32.0 / w, 32.0 / h)) AS INTEGER)) AS new_h,
         CAST(CEIL(n_frames / 4.0) AS INTEGER) AS step
  FROM base
)
SELECT doc_id, new_w, new_h,
       CAST(i AS INTEGER) AS frame_idx,
       substring(md5(payload_hex || '-' || CAST(i AS VARCHAR)), 1, 12) AS frame_sig
FROM dims, LATERAL unnest(range(0, n_frames, step)) AS t(i)
""",
)
def multimodal_resize_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize (aspect-fit 32x32) + frame-sample (<=4 frames) over the
    opaque binary column via 1->N mapInPandas — the video/image
    plumbing of a training-data pipeline with the codec stubbed
    deterministically. The geometry + sampling arithmetic is mirrored
    in SQL, so this Arrow-batched Python path gets a FULL oracle."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    with_bin = mm.attach_fake_binary(docs).withColumn(
        "n_frames", (F.col("n_chars") % 30 + 2).cast("int")
    )
    return mm.resize_and_sample_frames(with_bin, box=32, max_frames=4)


_IVF_N_CENT = 16
_IVF_NPROBE = 4
_IVF_K = 5


def _duck_ivf_fixed() -> str:
    from vector_search_ner_spark.functions.vector import duck_l2

    return f"""
WITH cent AS (
  SELECT CAST(vec_id AS INTEGER) AS cluster_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
  FROM embeddings WHERE vec_id < {_IVF_N_CENT}
), docs AS (
  SELECT vec_id AS doc_id, embedding AS v FROM embeddings
), assigned AS (
  SELECT doc_id, v, cluster_id FROM (
    SELECT d.doc_id, d.v, c.cluster_id, row_number() OVER (
      PARTITION BY d.doc_id ORDER BY {duck_l2("d.v", "c.centroid")}, c.cluster_id) AS rn
    FROM docs d CROSS JOIN cent c
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 4
), probes AS (
  SELECT query_id, qv, cluster_id FROM (
    SELECT q.query_id, q.qv, c.cluster_id, row_number() OVER (
      PARTITION BY q.query_id ORDER BY {duck_l2("q.qv", "c.centroid")}, c.cluster_id) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {_IVF_NPROBE}
)
SELECT query_id, doc_id, distance, CAST(rank AS INTEGER) AS rank FROM (
  SELECT p.query_id, a.doc_id,
         {duck_l2("p.qv", "a.v")} AS distance,
         row_number() OVER (
           PARTITION BY p.query_id ORDER BY {duck_l2("p.qv", "a.v")}, a.doc_id) AS rank
  FROM probes p JOIN assigned a ON p.cluster_id = a.cluster_id
) WHERE rank <= {_IVF_K}
"""


@query("ann_ivf_fixed_topk", oracle=_duck_ivf_fixed())
def ann_ivf_fixed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF k-NN with the DETERMINISTIC fixed-centroid quantizer
    (first 16 vectors): probe 4 nearest clusters, exact L2 within —
    the oracle covers assignment, probing, and pruned search end to
    end. Same plan shape as the KMeans variant: at 100 TB the doc
    table is written partitioned by cluster_id and each query touches
    nprobe partitions (partition pruning), not the full corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = ann.ivf_fixed_build(emb, _IVF_N_CENT)
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assigned = assigned.select(F.col("vec_id").alias("doc_id"), "embedding", "cluster_id")
    return ann.ivf_topk(
        queries, assigned, centroids, k=_IVF_K, nprobe=_IVF_NPROBE
    )


def _duck_recall_report() -> str:
    from vector_search_ner_spark.functions.vector import duck_l2

    return f"""
WITH ivf AS (
  SELECT query_id, doc_id FROM ({_duck_ivf_fixed()}) t
), exact AS (
  SELECT query_id, doc_id FROM (
    SELECT q.vec_id AS query_id, d.vec_id AS doc_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {duck_l2("q.embedding", "d.embedding")}, d.vec_id) AS rn
    FROM embeddings d
    CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 4) q
  ) WHERE rn <= {_IVF_K}
)
SELECT e.query_id,
       CAST(COUNT(*) AS INTEGER) AS n_exact,
       CAST(SUM(CASE WHEN i.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER)
         AS n_hit,
       ROUND(SUM(CASE WHEN i.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS recall
FROM exact e
LEFT JOIN ivf i ON e.query_id = i.query_id AND e.doc_id = i.doc_id
GROUP BY e.query_id
"""


@query("ann_recall_report", oracle=_duck_recall_report())
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-evaluation job you run BEFORE trusting an ANN config
    at scale: per query, recall@{_IVF_K} of the IVF-pruned search
    (fixed quantizer, nprobe={_IVF_NPROBE}) against the exact L2
    ground truth. Both sides are deterministic plans, so — unlike the
    recall-floor property tests around MLlib internals — this eval is
    itself a FULL-oracle query: the ground truth, the approximate
    result, and the per-query recall all re-derive in SQL. At 100 TB
    you run exactly this with a sampled query set to pick
    nprobe/n_cent; the exact leg is the only corpus-sized scan and it
    is the same broadcast + WindowGroupLimit plan as knn_topk."""
    from vector_search_ner_spark.operators.knn import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    docs = emb.select(F.col("vec_id").alias("doc_id"), "embedding")
    exact = knn_join(queries, docs, k=_IVF_K, metric="l2").select(
        "query_id", "doc_id"
    )
    assigned, centroids = ann.ivf_fixed_build(emb, _IVF_N_CENT)
    assigned = assigned.select(
        F.col("vec_id").alias("doc_id"), "embedding", "cluster_id"
    )
    approx = ann.ivf_topk(
        queries, assigned, centroids, k=_IVF_K, nprobe=_IVF_NPROBE
    ).select("query_id", F.col("doc_id").alias("adoc"))
    hits = exact.join(
        approx,
        (exact.query_id == approx.query_id) & (exact.doc_id == approx.adoc),
        "left",
    ).select(exact.query_id, F.col("adoc").isNotNull().alias("hit"))
    return hits.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_exact"),
        F.sum(F.col("hit").cast("int")).cast("int").alias("n_hit"),
        F.round(
            F.sum(F.col("hit").cast("int")) / F.count(F.lit(1)).cast("double"), 4
        ).alias("recall"),
    )


_NPROBE_SWEEP = (1, 2, 4, 8, 16)


def _duck_nprobe_tuning() -> str:
    from vector_search_ner_spark.functions.vector import duck_l2

    sweep = ", ".join(f"({p})" for p in _NPROBE_SWEEP)
    return f"""
WITH cent AS (
  SELECT CAST(vec_id AS INTEGER) AS cluster_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
  FROM embeddings WHERE vec_id < {_IVF_N_CENT}
), docs AS (
  SELECT vec_id AS doc_id, embedding AS v FROM embeddings
), assigned AS (
  SELECT doc_id, v, cluster_id FROM (
    SELECT d.doc_id, d.v, c.cluster_id, row_number() OVER (
      PARTITION BY d.doc_id ORDER BY {duck_l2("d.v", "c.centroid")}, c.cluster_id) AS rn
    FROM docs d CROSS JOIN cent c
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 4
), ranked AS (
  SELECT q.query_id, q.qv, c.cluster_id, row_number() OVER (
    PARTITION BY q.query_id ORDER BY {duck_l2("q.qv", "c.centroid")}, c.cluster_id) AS crn
  FROM q CROSS JOIN cent c
), sweep(nprobe) AS (VALUES {sweep}),
probes AS (
  SELECT s.nprobe, r.query_id, r.qv, r.cluster_id
  FROM ranked r JOIN sweep s ON r.crn <= s.nprobe
), cand AS (
  SELECT p.nprobe, p.query_id, a.doc_id,
         row_number() OVER (
           PARTITION BY p.nprobe, p.query_id
           ORDER BY {duck_l2("p.qv", "a.v")}, a.doc_id) AS rank
  FROM probes p JOIN assigned a ON p.cluster_id = a.cluster_id
), exact AS (
  SELECT query_id, doc_id FROM (
    SELECT q.query_id, d.doc_id, row_number() OVER (
      PARTITION BY q.query_id ORDER BY {duck_l2("q.qv", "d.v")}, d.doc_id) AS rn
    FROM docs d CROSS JOIN q
  ) WHERE rn <= {_IVF_K}
), topk AS (
  SELECT nprobe, query_id, doc_id FROM cand WHERE rank <= {_IVF_K}
)
SELECT c.nprobe,
       CAST(COUNT(*) AS INTEGER) AS n_candidates,
       CAST((SELECT COUNT(*) FROM topk t JOIN exact e
             ON t.query_id = e.query_id AND t.doc_id = e.doc_id
             WHERE t.nprobe = c.nprobe) AS INTEGER) AS n_hit,
       ROUND((SELECT COUNT(*) FROM topk t JOIN exact e
              ON t.query_id = e.query_id AND t.doc_id = e.doc_id
              WHERE t.nprobe = c.nprobe)
             / CAST((SELECT COUNT(*) FROM exact) AS DOUBLE), 4) AS recall
FROM cand c
GROUP BY c.nprobe
"""


@query("ann_nprobe_tuning_curve", oracle=_duck_nprobe_tuning())
def ann_nprobe_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe TUNING CURVE — the engine's analogue of HNSW's
    ef-tuning (the reference's index hardcodes ef_construction=100;
    here the accuracy/cost dial is nprobe): ONE plan sweeps nprobe
    over {1, 2, 4, 8, 16}, reporting per setting the total candidate rows
    scanned (the cost axis — fraction of corpus touched) and recall@k
    against the exact ground truth (the accuracy axis). You read the
    curve and pick the knee. Implementation: the per-query centroid
    ranking computes ONCE, a tiny broadcast sweep-values join
    replicates probes per nprobe (no unrolled per-setting branches —
    the top-k rank just partitions by (nprobe, query)), and the exact
    leg is the same broadcast + WindowGroupLimit plan as knn_topk.
    Fully deterministic end to end -> full oracle, like
    `ann_recall_report` (the single-setting version of this)."""
    from vector_search_ner_spark.functions.vector import l2_distance, to_double_array

    emb = load_table(spark, sf_dir, "embeddings")
    from vector_search_ner_spark.operators.knn import knn_join

    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    docs = emb.select(F.col("vec_id").alias("doc_id"), "embedding")
    exact = knn_join(queries, docs, k=_IVF_K, metric="l2").select(
        F.col("query_id").alias("eq_id"), F.col("doc_id").alias("edoc")
    ).localCheckpoint()
    # the recall denominator is the ACTUAL exact-top row count (the
    # oracle's SELECT COUNT(*) FROM exact), not K * n_queries — on a
    # corpus smaller than K the exact frame is short and the two would
    # silently diverge. exact is already checkpointed, so this is a
    # count over a materialized K*4-row frame, not a recompute.
    n_exact = exact.count()

    assigned, centroids = ann.ivf_fixed_build(emb, _IVF_N_CENT)
    assigned = assigned.select(
        F.col("vec_id").alias("doc_id"),
        to_double_array(F.col("embedding")).alias("dv"),
        "cluster_id",
    )
    from pyspark.sql import Window

    qd = queries.select(
        "query_id", to_double_array(F.col("query_vec")).alias("qv")
    )
    ranked = (
        qd.crossJoin(F.broadcast(centroids))
        .withColumn("cdist", l2_distance(F.col("qv"), F.col("centroid")))
        .withColumn(
            "crn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("cdist", "cluster_id")
            ),
        )
        .select("query_id", "qv", "cluster_id", "crn")
    )
    sweep = spark.createDataFrame([(p,) for p in _NPROBE_SWEEP], "nprobe int")
    probes = ranked.join(
        F.broadcast(sweep), ranked.crn <= sweep.nprobe
    ).select("nprobe", "query_id", "qv", "cluster_id")
    w = Window.partitionBy("nprobe", "query_id").orderBy("dist", "doc_id")
    cand = (
        probes.join(assigned, "cluster_id")
        .withColumn("dist", l2_distance(F.col("qv"), F.col("dv")))
        .select("nprobe", "query_id", "doc_id", "dist")
    )
    topk = (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _IVF_K)
        .join(
            exact,
            (F.col("query_id") == F.col("eq_id")) & (F.col("doc_id") == F.col("edoc")),
            "left_semi",
        )
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).cast("int").alias("n_hit"))
    )
    return (
        cand.groupBy("nprobe")
        .agg(F.count(F.lit(1)).cast("int").alias("n_candidates"))
        .join(topk, "nprobe", "left")
        .select(
            "nprobe",
            "n_candidates",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("int").alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.lit(float(n_exact)), 4
            ).alias("recall"),
        )
    )


@query(
    "multimodal_feature_rows",
    oracle="""
WITH base AS (
  SELECT doc_id, md5(text) || md5(reverse(text)) AS ph
  FROM documents WHERE doc_id < 300
), b AS (
  SELECT doc_id, ph,
         list_transform(generate_series(1, 32),
                        i -> CAST(('0x' || substring(ph, 2*i - 1, 2)) AS INTEGER)) AS bs
  FROM base
), f AS (
  SELECT doc_id, [
    CAST(CAST(32.0 AS REAL) AS DOUBLE),
    CAST(CAST(CAST(list_sum(bs) AS DOUBLE) % 997 AS REAL) AS DOUBLE),
    CAST(CAST(CAST(list_sum(bs) AS DOUBLE) / 32.0 AS REAL) AS DOUBLE),
    CAST(CAST(list_min(bs) AS REAL) AS DOUBLE),
    CAST(CAST(list_max(bs) AS REAL) AS DOUBLE),
    CAST(CAST(bs[1] AS REAL) AS DOUBLE),
    CAST(CAST(bs[32] AS REAL) AS DOUBLE),
    CAST(CAST(CAST('0x' || substring(md5(ph), 1, 8) AS BIGINT) % 1000 AS REAL) AS DOUBLE)
  ] AS feats
  FROM b
)
SELECT doc_id,
       CAST(i - 1 AS INTEGER) AS feat_idx,
       feats[i] AS feat_value
FROM f, LATERAL unnest(generate_series(1, 8)) AS t(i)
""",
)
def multimodal_feature_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInPandas byte-statistics decode stub, exploded to one row
    per (doc, feature) and checked against a pure-SQL derivation of the
    same statistics — a FULL oracle over the Arrow-batched Python
    decode path (mean/min/max/first/last/checksum/provenance-hash all
    reproduce bit-for-bit through the float32 cast)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    feats = mm.decode_image_features(mm.attach_fake_binary(docs))
    return feats.select(
        "doc_id", F.posexplode("features").alias("feat_idx", "feat_value")
    ).select(
        "doc_id", F.col("feat_idx").cast("int"), F.col("feat_value").cast("double")
    )


@query(
    "udaf_median_chars",
    oracle="""
SELECT lang,
       CAST(median(n_chars) AS DOUBLE) AS median_chars,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents GROUP BY lang
""",
)
def udaf_median_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined AGGREGATE via pandas_udf GROUPED_AGG (the UDAF
    extension point, SURVEY §2.10 'absent' row): exact per-group median
    as an Arrow-batched aggregate. numpy's interpolated median over
    int64 equals DuckDB's median() exactly, so the Python aggregate
    carries a full oracle. At scale a GROUPED_AGG collects each group
    to one executor — fine for bounded groups (3 langs); unbounded
    cardinality would use percentile_approx instead (see
    sketch_distinct_quantiles)."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: postponed annotations (PEP 563) leave the
    # hint strings unresolvable in this closure
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def median_udaf(v):
        return float(v.median())

    # GROUPED_AGG cannot mix with JVM aggregates in one agg -> the
    # count is a pandas aggregate too
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def count_udaf(v):
        return len(v)

    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        median_udaf("n_chars").alias("median_chars"),
        count_udaf("n_chars").alias("n_docs"),
    )


@query(
    "sink_orc_roundtrip",
    oracle="""
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY source
""",
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source roundtrip (columnar alternative to parquet —
    completes the format matrix: parquet primary, JSON/CSV ingest, ORC
    interop). Same predicate/column pushdown machinery applies; the
    oracle checks losslessness straight off the source table."""
    import os as _os

    docs = load_table(spark, sf_dir, "documents")
    path = _os.path.join(ARTIFACT_DIR, "docs_orc")
    docs.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "multimodal_audio_frames",
    oracle="""
WITH base AS (
  SELECT doc_id, md5(text) || md5(reverse(text)) AS ph
  FROM documents WHERE doc_id < 300
), b AS (
  SELECT doc_id,
         list_transform(generate_series(1, 32),
                        i -> CAST(('0x' || substring(ph, 2*i - 1, 2)) AS BIGINT)) AS bs
  FROM base
)
SELECT doc_id, CAST(j AS INTEGER) AS frame_idx,
       CAST(list_sum(list_transform(range(1, 9),
                     i -> bs[4*j + i] * bs[4*j + i])) AS BIGINT) AS energy,
       CAST(list_max(list_transform(range(1, 9), i -> bs[4*j + i])) AS INTEGER) AS peak
FROM b, LATERAL unnest(range(0, 7)) AS t(j)
""",
)
def multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio framing over the opaque binary column: 8-sample frames,
    hop 4 (the STFT window/hop shape), per-frame energy + peak via
    Arrow-batched mapInPandas — integer-exact, so the whole Python
    path is oracle-checked. Completes the image/video/audio trio of
    multimodal plumbing ops."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    return mm.audio_frame_energy(mm.attach_fake_binary(docs))


@query(
    "schema_drift_merge",
    oracle="""
SELECT CASE WHEN doc_id < 250 THEN 'und' ELSE lang END AS lang_final,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1
ORDER BY 1
""",
)
def schema_drift_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file generations (the storage-layer
    version of the reference's 지역/근무지역 field drift,
    main.py:266): generation 1 stores the text as `body` with no lang;
    generation 2 renames it `body_text` and adds `lang`. mergeSchema
    unions the generations' columns at read time and COALESCE resolves
    the drift — exactly the `F.coalesce(new, old, default)` contract
    SURVEY §1.3 prescribes. Read back is one scan; the oracle derives
    the same report straight from the un-drifted source."""
    import os as _os

    docs = load_table(spark, sf_dir, "documents")
    base = _os.path.join(ARTIFACT_DIR, "drift")
    g1 = docs.where(F.col("doc_id") < 250).select("doc_id", F.col("text").alias("body"))
    g2 = docs.where(F.col("doc_id") >= 250).select(
        "doc_id", F.col("text").alias("body_text"), "lang"
    )
    g1.write.mode("overwrite").parquet(_os.path.join(base, "gen=1"))
    g2.write.mode("overwrite").parquet(_os.path.join(base, "gen=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        _os.path.join(base, "gen=1"), _os.path.join(base, "gen=2")
    )
    body = F.coalesce(F.col("body_text"), F.col("body"))
    return (
        merged.select(
            F.coalesce(F.col("lang"), F.lit("und")).alias("lang_final"),
            F.length(body).alias("n_chars"),
        )
        .groupBy("lang_final")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("lang_final")
    )


@query("ann_ivf_persisted_pruned", oracle=_duck_ivf_fixed())
def ann_ivf_persisted_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index AS A TABLE LAYOUT: assignments persisted
    partitionBy(cluster_id), probes joined against the partition
    column — so Spark's dynamic partition pruning reads ONLY the
    probed clusters' directories. This is the literal 100 TB plan:
    nprobe/n_clusters of the index touched per query batch, enforced
    by the storage layout rather than a runtime filter. Same fixed
    quantizer as ann_ivf_fixed_topk → identical results, same oracle."""
    import os as _os

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = ann.ivf_fixed_build(emb, _IVF_N_CENT)
    path = _os.path.join(ARTIFACT_DIR, "ivf_index")
    assigned.write.mode("overwrite").partitionBy("cluster_id").parquet(path)
    index = spark.read.parquet(path).select(
        F.col("vec_id").alias("doc_id"), "embedding", "cluster_id"
    )
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ann.ivf_topk(queries, index, centroids, k=_IVF_K, nprobe=_IVF_NPROBE)


@query("embed_documents_jvm", oracle=_EMBED_ORACLE)
def embed_documents_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embed stage with ZERO Python: hashing_embed_frame computes
    the identical feature-hashed vector as the pandas-UDF path with
    built-in explode/hash-agg/assembly stages (bit-equality asserted
    in test_semantics) and shares embed_documents_hashing's oracle
    verbatim. Trades two slim integer shuffles for removing Python
    workers and Arrow transfer from the index build entirely when the
    hashing embedder IS the production embedder; the UDF twin remains
    the drop-in point for model-backed embedders."""
    from vector_search_ner_spark.embedder import hashing_embed_frame
    from vector_search_ner_spark.functions.vector import l2_norm

    docs = load_table(spark, sf_dir, "documents")
    return hashing_embed_frame(docs.select("doc_id", "text")).select(
        "doc_id",
        F.size("embedding").alias("emb_dim"),
        F.round(l2_norm(F.col("embedding")), 4).alias("emb_norm"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("c0"),
    )


_VECSTORE_SCAN_ORACLE = rf"""
WITH src AS (SELECT doc_id, text, lang FROM documents),
{_duck_embed_cte("src", "doc_id", "text")}
SELECT s.doc_id, s.lang,
       CAST(64 AS INTEGER) AS emb_dim,
       round(sqrt(list_sum(list_transform(v.emb, x -> x * x))), 4) AS emb_norm,
       round(v.emb[1], 6) AS emb_c0
FROM src s JOIN e_vec v ON s.doc_id = v.doc_id
ORDER BY s.doc_id
"""


@query("vecstore_open_scan", oracle=_VECSTORE_SCAN_ORACLE)
def vecstore_open_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted vector-store SOURCE (the reference's
    load_vectorstore, main.py:51-61: open the Chroma persist dir and
    read — never re-embed): open sources/vecstore.py's build-once
    parquet store and project per-doc stats. The oracle re-derives the
    embedding from the raw corpus in SQL, so this checks the store's
    CONTENT (stale or corrupt artifacts fail the parity), not just its
    plumbing. The scan prunes to the selected columns — serving reads
    never touch the text payload."""
    from vector_search_ner_spark.sources.vecstore import doc_vector_store

    store = doc_vector_store(spark, sf_dir)
    return store.select(
        "doc_id",
        "lang",
        F.size("dvec").alias("emb_dim"),
        F.round(F.col("__dnorm"), 4).alias("emb_norm"),
        F.round(F.element_at("dvec_d", 1), 6).alias("emb_c0"),
    ).orderBy("doc_id")


_VECSTORE_UPSERT_ORACLE = rf"""
WITH upd AS (
  SELECT doc_id, text || ' refreshed update' AS text
  FROM documents WHERE doc_id % 50 = 0
), nw AS (
  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id < 5
), merged AS (
  SELECT doc_id, text, 'new' AS origin FROM nw
  UNION ALL
  SELECT doc_id, text, 'updated' AS origin FROM upd
  UNION ALL
  SELECT b.doc_id, b.text, 'kept' AS origin
  FROM documents b ANTI JOIN upd u ON b.doc_id = u.doc_id
), src AS (SELECT doc_id, text, origin FROM merged),
{_duck_embed_cte("src", "doc_id", "text")}
SELECT s.doc_id, s.origin,
       round(sqrt(list_sum(list_transform(v.emb, x -> x * x))), 4) AS emb_norm,
       round(v.emb[1], 6) AS emb_c0
FROM src s JOIN e_vec v ON s.doc_id = v.doc_id
ORDER BY s.doc_id
"""


@query("vecstore_incremental_upsert", oracle=_VECSTORE_UPSERT_ORACLE)
def vecstore_incremental_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL index maintenance — the operation the reference's
    destructive rebuild (rm -rf + re-embed everything,
    build_vectorstore.py:22-24) cannot afford at scale: a refresh
    batch (2% modified docs + a few brand-new ids) is embedded ALONE,
    and the next store generation is the latest-wins merge of the
    persisted base generation with the delta — Chroma's upsert-by-id,
    as a CDC-style union + per-id window. Embed cost is O(|delta|),
    not O(|corpus|); the base vectors are READ from the persisted
    store, never recomputed (bit-equality with recomputation is what
    makes the full oracle below possible). Read-only: returns the
    merged next generation's report; writing it back is the plain
    overwrite sink (`sink_parquet_roundtrip` mechanics)."""
    from pyspark.sql import Window
    from vector_search_ner_spark.functions.vector import l2_norm, to_double_array
    from vector_search_ner_spark.sources.vecstore import doc_vector_store

    docs = load_table(spark, sf_dir, "documents")
    delta_src = (
        docs.where(F.col("doc_id") % 50 == 0)
        .select(
            "doc_id",
            F.concat(F.col("text"), F.lit(" refreshed update")).alias("text"),
            F.lit("updated").alias("origin"),
        )
        .unionByName(
            docs.where(F.col("doc_id") < 5).select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"),
                "text",
                F.lit("new").alias("origin"),
            )
        )
    )
    emb = HashingEmbedder().embed_col(F.col("text"))
    delta = (
        delta_src.withColumn("dvec", emb)
        .withColumn("dvec_d", to_double_array(F.col("dvec")))
        .withColumn("__dnorm", l2_norm(F.col("dvec")))
        .select("doc_id", "origin", "dvec_d", "__dnorm", F.lit(1).alias("gen"))
    )
    base = doc_vector_store(spark, sf_dir).select(
        "doc_id", F.lit("kept").alias("origin"), "dvec_d", "__dnorm", F.lit(0).alias("gen")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("gen").desc())
    merged = (
        base.unionByName(delta)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return merged.select(
        "doc_id",
        "origin",
        F.round(F.col("__dnorm"), 4).alias("emb_norm"),
        F.round(F.element_at("dvec_d", 1), 6).alias("emb_c0"),
    ).orderBy("doc_id")


_LLOYD_ITER = 2
_LLOYD_DIM = 64  # fixture embedding dim (TESTDATA.md)


_LLOYD_SQD = (
    "list_sum(list_transform(generate_series(1, len({a})), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
)


def _duck_lloyd_ctes(
    n_clusters: int | str = _IVF_N_CENT,
    corpus_where: str = "",
    pre: str = "",
) -> str:
    """Unrolled-SQL twin of ann.lloyd_build: _LLOYD_ITER exact Lloyd
    iterations (argmin assignment, integer-microunit centroid means,
    empty-cluster carry). Ends with `af` (doc_id, v, cluster_id — the
    final assignment) and `c{_LLOYD_ITER}` (the learned centroids);
    append a consumer tail. Every intermediate matches the Spark plan
    bit-for-bit. `corpus_where` (an AND-able condition on embeddings
    columns) restricts BOTH the clustered corpus and the first-n-ids
    seed set, mirroring lloyd_build over a filtered input frame —
    note the seeds are then the filtered ids below n_clusters, so the
    surviving cluster_id set is a subset of 0..n_clusters-1 exactly
    as in Spark.

    `n_clusters` may be an int literal OR a SQL scalar expression
    (e.g. `(SELECT ncent FROM knob)` for the corpus-adaptive knob);
    `pre` injects leading CTEs (the knob definition) before `docs`."""
    sqd = _LLOYD_SQD
    and_where = f" AND ({corpus_where})" if corpus_where else ""
    parts = [] if not pre else [pre]
    parts += [
        f"""docs AS (
  SELECT vec_id AS doc_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE TRUE{and_where}
), c0 AS (
  SELECT CAST(vec_id AS INTEGER) AS cluster_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
  FROM embeddings WHERE vec_id < {n_clusters}{and_where}
)"""
    ]
    for it in range(1, _LLOYD_ITER + 1):
        prev = f"c{it - 1}"
        s = sqd.format(a="d.v", b="c.centroid")
        parts.append(
            f"""a{it} AS (
  SELECT doc_id, v, cluster_id FROM (
    SELECT d.doc_id, d.v, c.cluster_id, row_number() OVER (
      PARTITION BY d.doc_id ORDER BY {s}, c.cluster_id) AS rn
    FROM docs d CROSS JOIN {prev} c
  ) WHERE rn = 1
), u{it} AS (
  SELECT cluster_id, g.d,
         SUM(CAST(FLOOR(v[g.d] * 1000000) AS BIGINT)) AS s,
         COUNT(*) AS n
  FROM a{it}, (SELECT unnest(generate_series(1, {_LLOYD_DIM})) AS d) g
  GROUP BY cluster_id, g.d
), n{it} AS (
  SELECT cluster_id,
         list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) ORDER BY d) AS centroid
  FROM u{it} GROUP BY cluster_id
), c{it} AS (
  SELECT c.cluster_id, COALESCE(nn.centroid, c.centroid) AS centroid
  FROM {prev} c LEFT JOIN n{it} nn ON c.cluster_id = nn.cluster_id
)"""
        )
    cf = f"c{_LLOYD_ITER}"
    sf_ = sqd.format(a="d.v", b="c.centroid")
    parts.append(
        f"""af AS (
  SELECT doc_id, v, cluster_id FROM (
    SELECT d.doc_id, d.v, c.cluster_id, row_number() OVER (
      PARTITION BY d.doc_id ORDER BY {sf_}, c.cluster_id) AS rn
    FROM docs d CROSS JOIN {cf} c
  ) WHERE rn = 1
)"""
    )
    return "WITH " + ",\n".join(parts)


def _duck_ivf_lloyd() -> str:
    """_duck_lloyd_ctes + the IVF probe / pruned exact-search tail."""
    from vector_search_ner_spark.functions.vector import duck_l2

    cf = f"c{_LLOYD_ITER}"
    tail = f"""q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 4
), probes AS (
  SELECT query_id, qv, cluster_id FROM (
    SELECT q.query_id, q.qv, c.cluster_id, row_number() OVER (
      PARTITION BY q.query_id ORDER BY {duck_l2("q.qv", "c.centroid")}, c.cluster_id) AS rn
    FROM q CROSS JOIN {cf} c
  ) WHERE rn <= {_IVF_NPROBE}
)
SELECT query_id, doc_id, distance, CAST(rank AS INTEGER) AS rank FROM (
  SELECT p.query_id, a.doc_id,
         {duck_l2("p.qv", "a.v")} AS distance,
         row_number() OVER (
           PARTITION BY p.query_id ORDER BY {duck_l2("p.qv", "a.v")}, a.doc_id) AS rank
  FROM probes p JOIN af a ON p.cluster_id = a.cluster_id
) WHERE rank <= {_IVF_K}
"""
    return _duck_lloyd_ctes() + ",\n" + tail


@query("ann_ivf_lloyd_topk", oracle=_duck_ivf_lloyd())
def ann_ivf_lloyd_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF k-NN with a LEARNED coarse quantizer — natively-implemented
    distributed Lloyd's KMeans (ann.lloyd_build: 2 exact iterations,
    integer-microunit centroid means, deterministic init/ties), then
    probe + pruned exact search. This upgrades learned-centroid IVF
    from rows-only (the MLlib KMeans variant) to a FULL oracle: the
    SQL twin unrolls both Lloyd iterations and reproduces assignment,
    centroid updates, probing, and ranking bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = ann.lloyd_build(emb, _IVF_N_CENT, n_iter=_LLOYD_ITER)
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assigned = assigned.select(F.col("vec_id").alias("doc_id"), "embedding", "cluster_id")
    return ann.ivf_topk(queries, assigned, centroids, k=_IVF_K, nprobe=_IVF_NPROBE)


def _duck_semantic_clusters() -> str:
    sqd = _LLOYD_SQD.format(a="a.v", b="c.centroid")
    cf = f"c{_LLOYD_ITER}"
    return (
        _duck_lloyd_ctes()
        + f""",
j AS (
  SELECT a.doc_id, a.cluster_id,
         CAST(FLOOR({sqd} * 1000000) AS BIGINT) AS u
  FROM af a JOIN {cf} c ON a.cluster_id = c.cluster_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY u, doc_id) AS rn
  FROM j
),
agg AS (
  SELECT cluster_id, COUNT(*) AS n, SUM(u) AS su FROM j GROUP BY cluster_id
)
SELECT a.cluster_id,
       CAST(a.n AS BIGINT) AS n_members,
       r.doc_id AS rep_doc_id,
       ROUND(CAST(a.su AS DOUBLE) / (CAST(a.n AS DOUBLE) * 1000000.0), 6) AS avg_sqdist
FROM agg a JOIN r ON r.cluster_id = a.cluster_id AND r.rn = 1
"""
    )


@query("corpus_semantic_clusters", oracle=_duck_semantic_clusters())
def corpus_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic corpus curation (the SemDeDup/topic-pruning shape):
    cluster the embedding corpus with the exact Lloyd quantizer, then
    per cluster report size, the REPRESENTATIVE member (closest to the
    centroid — what you keep when pruning semantically redundant
    regions), and the mean quantization error as a cluster-coherence
    signal. Distances quantize to integer microunits before the
    aggregate, so the mean is order-independent and the whole summary
    matches the unrolled SQL twin exactly. One broadcast join + one
    map-side-combining aggregate after the Lloyd rounds."""
    from vector_search_ner_spark.operators import ann

    emb = load_table(spark, sf_dir, "embeddings")
    # emit_dist: the assignment kernel already computed the squared L2
    # to the winning centroid — reusing it drops the post-hoc
    # broadcast-centroid join AND its second interpreted fold
    # (r12 optimization round; bit-identical by the veckernel contract)
    assigned, _centroids = ann.lloyd_build(
        emb, _IVF_N_CENT, n_iter=_LLOYD_ITER, emit_dist=True
    )
    j = assigned.select(
        F.col("vec_id").alias("doc_id"),
        "cluster_id",
        F.floor(F.col("__dist") * 1000000).cast("long").alias("u"),
    )
    agg = j.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(F.struct("u", "doc_id")).alias("rep"),
        F.sum("u").alias("su"),
    )
    return agg.select(
        "cluster_id",
        "n_members",
        F.col("rep.doc_id").alias("rep_doc_id"),
        F.round(
            F.col("su").cast("double") / (F.col("n_members").cast("double") * 1000000.0),
            6,
        ).alias("avg_sqdist"),
    )


_SEMDEDUP_T = 0.4
# Giant-cluster defense (round 9): the comparison side of every
# SemDeDup variant is restricted to each cluster's `cap`
# most-central members (rank by (u, doc_id) — exactly the sweep
# order, so rank-1 is the representative the sweep retains). Cost on
# a degenerate cluster of size c falls from O(c^2) to O(c*cap), and
# an adversarial identical-embedding flood is still fully caught:
# every beyond-cap member is ~sim-1.0 to the rank-1 representative.
# The declared trade: a duplicate PAIR both beyond the cap with
# NEITHER similar to any of the cap most-central members escapes —
# geometrically that requires a satellite clump far from the cluster
# core yet assigned to it, which a sane cluster count makes rare
# (and the paper's own answer, re-clustering oversized clusters,
# re-introduces exactly the unbounded pass this cap exists to
# avoid). The default is far above the fixture's max cluster size
# (sf0.1: 2000 vectors / 16 clusters), so registered outputs only
# change when a cluster actually degenerates.
_SEMDEDUP_CAP = 1024


def _duck_semdedup() -> str:
    from vector_search_ner_spark.functions.vector import duck_cosine

    sqd = _LLOYD_SQD.format(a="a.v", b="c.centroid")
    cf = f"c{_LLOYD_ITER}"
    cos = duck_cosine("a.v", "b.v")
    return (
        _duck_lloyd_ctes()
        + f""",
j0 AS (
  SELECT a.doc_id, a.cluster_id, a.v,
         CAST(FLOOR({sqd} * 1000000) AS BIGINT) AS u
  FROM af a JOIN {cf} c ON a.cluster_id = c.cluster_id
),
j AS (
  SELECT doc_id, cluster_id, v, u,
         CAST(row_number() OVER (
           PARTITION BY cluster_id ORDER BY u, doc_id) AS BIGINT) AS rn
  FROM j0
),
p AS (
  SELECT b.doc_id, ROUND(MAX({cos}), 4) AS max_sim_earlier
  FROM j a JOIN j b ON a.cluster_id = b.cluster_id
   AND (a.u < b.u OR (a.u = b.u AND a.doc_id < b.doc_id))
  WHERE a.rn <= {_SEMDEDUP_CAP}
  GROUP BY b.doc_id
)
SELECT j.doc_id, j.cluster_id, p.max_sim_earlier,
       COALESCE(p.max_sim_earlier > {_SEMDEDUP_T}, FALSE) AS dropped
FROM j LEFT JOIN p ON j.doc_id = p.doc_id
ORDER BY j.doc_id
"""
    )


@query("dedup_semantic_prune", oracle=_duck_semdedup())
def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) — SEMANTIC deduplication, the third
    rung of the dedup ladder after exact (fingerprint groupBy) and
    near-dup (MinHash/SimHash/Jaccard): embed, k-means-cluster, and
    drop documents whose embedding is too cosine-similar to another
    member of the SAME cluster — catches paraphrases and re-encodings
    that share no n-grams at all. `corpus_semantic_clusters` reports
    the cluster landscape; this query makes the keep/drop DECISION.

    Deterministic sweep: members order by (centroid-distance
    microunits, doc_id) — most-central first, the member SemDeDup
    retains as the region's representative — and a document is dropped
    iff its max cosine to ANY EARLIER member exceeds 0.4. The earlier-
    member rule (rather than earlier-KEPT-member) keeps the decision
    one set-at-a-time pairwise aggregate instead of a sequential scan
    — order-free, exactly SQL-expressible, and strictly more
    conservative (it can only drop a superset of the greedy-kept
    variant's drops within a redundant region, never keep a true
    duplicate).

    Scale shape: this is SemDeDup's own design point — pairwise cosine
    is computed only WITHIN clusters (one equi-join on cluster_id, the
    inequality a pushed join filter), so cost is O(sum c_i^2) and the
    cluster count is the knob that bounds c_i at 100 TB (the paper
    uses ~10k clusters for ~100M docs). Against a DEGENERATE cluster
    (adversarially identical embeddings collapsing Lloyd), the
    comparison side is additionally capped to each cluster's
    _SEMDEDUP_CAP most-central members — cost O(c*cap), flood still
    fully dropped (see _SEMDEDUP_CAP). The Lloyd rounds are the only
    corpus-wide iteration (log-bounded, lineage-cut); the final
    verdict is a broadcast-sized left join. The oracle unrolls Lloyd +
    sweep end to end; doubles match bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_prune_frame(emb)


def _semdedup_members(
    emb: DataFrame, n_cent: int = _IVF_N_CENT, n_iter: int = _LLOYD_ITER
) -> DataFrame:
    """Shared SemDeDup member staging: Lloyd-cluster the embeddings and
    attach the microunit centroid distance `u` that defines the
    deterministic within-cluster sweep order (u, doc_id), plus the
    rank `rn` within that order (rank-1 = the cluster representative;
    the giant-cluster cap is a filter on this rank). Returns the
    lineage-cut (doc_id, cluster_id, v, u, rn) frame both sweep
    variants self-join. The rank window partitions by cluster_id —
    never a global sort. NOTE: corpus-sized (one row per vector,
    carrying the double array), so the cut routes through
    session.cut_lineage: localCheckpoint by default,
    spark_graft.checkpoint_mode=reliable (or =persist) for a
    long-lived cluster."""
    from pyspark.sql import Window

    from vector_search_ner_spark.functions.vector import to_double_array

    # emit_dist reuses the assignment kernel's squared L2 (bit-identical
    # to the retired broadcast-join + fold — see veckernel contract)
    assigned, _centroids = ann.lloyd_build(
        emb, n_cent, n_iter=n_iter, emit_dist=True
    )
    j = (
        assigned.select(
            F.col("vec_id").alias("doc_id"),
            to_double_array(F.col("embedding")).alias("v"),
            "cluster_id",
            F.floor(F.col("__dist") * 1000000).cast("long").alias("u"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cluster_id").orderBy("u", "doc_id")
            ).cast("long"),
        )
        .select("doc_id", "cluster_id", "v", "u", "rn")
    )
    return cut_lineage(j)


def semantic_prune_frame(
    emb: DataFrame,
    n_cent: int = _IVF_N_CENT,
    n_iter: int = _LLOYD_ITER,
    cap: int = _SEMDEDUP_CAP,
) -> DataFrame:
    """The SemDeDup cluster+sweep dataflow with the cluster count as a
    parameter — `dedup_semantic_prune` calls it with the registered
    constants; perf_scale_semdedup.py calls it at 1x/10x corpus with
    fixed vs corpus-scaled n_cent to MEASURE the O(sum c_i^2) scale
    contract (cluster count is the knob: fixed k at 10x data grows the
    pairwise term ~quadratically, k scaled with the corpus holds c_i
    constant and the cost ~linear)."""
    j = _semdedup_members(emb, n_cent, n_iter)
    # explicit per-side column names: self-join disambiguation by
    # dataset id works but is version-fragile (and warns); renamed
    # join keys make the within-cluster equi-join unambiguous. The
    # a-side (the comparison set) carries the giant-cluster cap: only
    # each cluster's `cap` most-central members can trigger a drop,
    # bounding the pair join at O(c*cap) per cluster.
    a = j.where(F.col("rn") <= F.lit(cap)).select(
        F.col("cluster_id").alias("a_cl"), F.col("doc_id").alias("a_id"),
        F.col("v").alias("av"), F.col("u").alias("au"),
    )
    b = j.select(
        F.col("cluster_id").alias("b_cl"), F.col("doc_id").alias("doc_id"),
        F.col("v").alias("bv"), F.col("u").alias("bu"),
    )
    p = (
        a.join(
            b,
            (F.col("a_cl") == F.col("b_cl"))
            & ((F.col("au") < F.col("bu"))
               | ((F.col("au") == F.col("bu")) & (F.col("a_id") < F.col("doc_id")))),
        )
        .groupBy("doc_id")
        # Arrow-vectorized cosine (bit-identical to the interpreted
        # fold — veckernel contract): the within-cluster pair join is
        # the O(sum c_i^2) hot loop, so the per-pair three-fold cost
        # (dot + two norms, each CodegenFallback) dominated this query
        .agg(F.round(F.max(vk.pair_cosine(F.col("av"), F.col("bv"))), 4).alias("max_sim_earlier"))
    )
    return (
        j.join(p, "doc_id", "left")
        .select(
            "doc_id",
            "cluster_id",
            "max_sim_earlier",
            F.coalesce(F.col("max_sim_earlier") > _SEMDEDUP_T, F.lit(False)).alias("dropped"),
        )
        .orderBy("doc_id")
    )


def _duck_semdedup_greedy() -> str:
    from vector_search_ner_spark.functions.vector import duck_cosine

    sqd = _LLOYD_SQD.format(a="a.v", b="c.centroid")
    cf = f"c{_LLOYD_ITER}"
    cos = duck_cosine("a.v", "b.v")
    sql = (
        _duck_lloyd_ctes()
        + f""",
j AS (
  SELECT a.doc_id, a.cluster_id, a.v,
         CAST(FLOOR({sqd} * 1000000) AS BIGINT) AS u
  FROM af a JOIN {cf} c ON a.cluster_id = c.cluster_id
),
m AS (
  SELECT doc_id, cluster_id, v, u,
         CAST(row_number() OVER (
           PARTITION BY cluster_id ORDER BY u, doc_id) AS BIGINT) AS rn
  FROM j
),
e AS (
  SELECT a.cluster_id AS cl, a.rn AS ra, b.rn AS rb
  FROM m a JOIN m b ON a.cluster_id = b.cluster_id AND a.rn < b.rn
  WHERE {cos} > {_SEMDEDUP_T} AND a.rn <= {_SEMDEDUP_CAP}
),
ebl AS (SELECT cl, rb, list(ra) AS ra_list FROM e GROUP BY cl, rb),
cmax AS (SELECT cluster_id AS cl, MAX(rn) AS mx FROM m GROUP BY cluster_id),
g AS (
  SELECT cl, CAST(0 AS BIGINT) AS rn, CAST([] AS BIGINT[]) AS kept_rns FROM cmax
  UNION ALL
  SELECT g.cl, g.rn + 1,
         CASE WHEN len(list_intersect(
                    COALESCE(ebl.ra_list, CAST([] AS BIGINT[])), g.kept_rns)) > 0
              THEN g.kept_rns
              ELSE list_append(g.kept_rns, g.rn + 1) END
  FROM g
  JOIN cmax ON cmax.cl = g.cl AND g.rn < cmax.mx
  LEFT JOIN ebl ON ebl.cl = g.cl AND ebl.rb = g.rn + 1
),
fin AS (
  SELECT g.cl, g.kept_rns
  FROM g JOIN cmax ON cmax.cl = g.cl AND g.rn = cmax.mx
)
SELECT m.doc_id, m.cluster_id,
       NOT list_contains(f.kept_rns, m.rn) AS dropped,
       COALESCE(len(i.ra_list), 0) > 0 AS dropped_conservative,
       CAST(COALESCE(len(i.ra_list), 0) AS INTEGER) AS n_earlier_similar
FROM m
JOIN fin f ON f.cl = m.cluster_id
LEFT JOIN ebl i ON i.cl = m.cluster_id AND i.rb = m.rn
ORDER BY m.doc_id
"""
    )
    # the sweep CTE `g` is recursive; DuckDB requires the keyword on
    # the chain head even though every Lloyd CTE before it is plain
    return sql.replace("WITH ", "WITH RECURSIVE ", 1)


@query("dedup_semantic_prune_greedy", oracle=_duck_semdedup_greedy())
def dedup_semantic_prune_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GREEDY-KEPT SemDeDup sweep (the paper's exact rule): walk
    each cluster's members most-central-first and drop a member iff it
    is too cosine-similar to an EARLIER KEPT member — whereas the
    shipped `dedup_semantic_prune` drops on similarity to ANY earlier
    member, a declared strictly-more-conservative relaxation. This twin
    pins that divergence quantitatively: it emits BOTH verdicts per
    document plus the earlier-similar degree, so drop-rate delta is a
    groupBy away and the subset claim (greedy drops ⊆ conservative
    drops) is hash-checked by the oracle on every row.

    Dataflow: the O(sum c_i^2) within-cluster pairwise pass runs ONCE
    to extract the SPARSE earlier-similar edge relation (only pairs
    over the threshold survive — at sane thresholds a small fraction
    of the corpus); the sequential-looking sweep then resolves by
    driver-gated frontier rounds over that edge list alone: a member
    is DROPPED as soon as any earlier similar member is decided-kept,
    and KEPT once all its earlier similar members are decided-dropped
    (members with no earlier similar edge are kept at round zero). One
    member per dependency chain resolves per round, so rounds = the
    longest undecided chain, not cluster size — redundant regions are
    clique-ish, so this is 2-3 rounds in practice (CC-style loop,
    per-round lineage cuts, statuses are slim (doc_id, int) rows).
    The oracle replays the paper's sequential sweep exactly, with a
    per-cluster recursive CTE accumulating the kept set in rank order
    — the frontier fixpoint and the sequential sweep provably agree
    (induction on rank), and the hash check re-proves it on this
    corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_prune_greedy_frame(emb)


def semantic_prune_greedy_frame(
    emb: DataFrame,
    n_cent: int = _IVF_N_CENT,
    n_iter: int = _LLOYD_ITER,
    cap: int = _SEMDEDUP_CAP,
    t: float = _SEMDEDUP_T,
) -> DataFrame:
    """The greedy-kept sweep dataflow (see dedup_semantic_prune_greedy)
    with the cluster count, rank cap, and similarity threshold as
    parameters — shared by the registered query, the constructed-
    fixture divergence test, and the chain-depth probe. The a-side
    rank cap bounds the edge extraction at O(c*cap) per cluster (see
    _SEMDEDUP_CAP); it also bounds the sweep's dependency-chain depth
    at cap, since only capped-rank members can be edge SOURCES."""
    j = _semdedup_members(emb, n_cent, n_iter)
    edges = _semdedup_edges(j, cap, t)
    tstat, _rounds = greedy_sweep_fixpoint(edges)
    inc = edges.groupBy("b_id").agg(F.count(F.lit(1)).cast("int").alias("__deg"))
    # no broadcast hints on the verdict joins: the target/degree
    # frames are similar-docs-sized, which at aggressive thresholds is
    # a large corpus fraction — the 8 GB broadcast ceiling would make
    # a forced hint fail exactly when dedup matters most. AQE
    # broadcasts them when they are actually small.
    return (
        j.select("doc_id", "cluster_id")
        .join(tstat, "doc_id", "left")
        .join(inc.withColumnRenamed("b_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            "cluster_id",
            (F.coalesce(F.col("st"), F.lit(1)) == 2).alias("dropped"),
            (F.coalesce(F.col("__deg"), F.lit(0)) > 0).alias("dropped_conservative"),
            F.coalesce(F.col("__deg"), F.lit(0)).alias("n_earlier_similar"),
        )
        .orderBy("doc_id")
    )


def _semdedup_edges(j: DataFrame, cap: int, t: float) -> DataFrame:
    """The earlier-similar edge relation over a (doc_id, cluster_id,
    v, u, rn) member frame: within-cluster pairs with the a-side rank
    cap, filtered to cosine > t. Lineage-cut (consumed by the sweep
    loop, the degree aggregate, and the chain-depth probe). The
    per-pair cosine is the Arrow-vectorized kernel (bit-identical to
    the interpreted fold — veckernel contract)."""
    a = j.where(F.col("rn") <= F.lit(cap)).select(
        F.col("cluster_id").alias("a_cl"), F.col("doc_id").alias("a_id"),
        F.col("v").alias("av"), F.col("u").alias("au"),
    )
    b = j.select(
        F.col("cluster_id").alias("b_cl"), F.col("doc_id").alias("b_id"),
        F.col("v").alias("bv"), F.col("u").alias("bu"),
    )
    return cut_lineage(
        a.join(
            b,
            (F.col("a_cl") == F.col("b_cl"))
            & ((F.col("au") < F.col("bu"))
               | ((F.col("au") == F.col("bu")) & (F.col("a_id") < F.col("b_id")))),
        )
        .where(vk.pair_cosine(F.col("av"), F.col("bv")) > F.lit(t))
        .select("a_id", "b_id")
    )


def greedy_sweep_fixpoint(edges: DataFrame) -> tuple[DataFrame, int]:
    """The driver-gated frontier fixpoint of the greedy-kept sweep
    over an (a_id, b_id) earlier-similar edge relation. Returns the
    decided status frame (doc_id, st: 1=kept, 2=dropped — edge
    TARGETS only; non-targets are kept by round zero and never enter
    the loop) and the number of frontier rounds it took — rounds =
    the longest undecided dependency chain, the quantity the
    chain-depth probe reports as a function of the threshold.

    Loop state is O(SIMILAR docs), not O(corpus): at a sane threshold
    the target set is a small fraction of the corpus, so the
    per-round checkpoint materializes a near-dup-sized frame, not a
    corpus-sized one."""
    tstat = cut_lineage(
        edges.select(F.col("b_id").alias("doc_id")).distinct().select(
            "doc_id", F.lit(0).alias("st")
        ),
        allow_persist=False,
    )
    rounds = 0
    for _ in range(1000):  # bound >= max chain depth; loop exits on fixpoint
        if tstat.where(F.col("st") == 0).count() == 0:
            break
        rounds += 1
        # a-side status lookup: a non-target source is KEPT by round
        # zero; targets read their tracked status
        a_st = F.coalesce(F.col("st"), F.lit(1))
        upd = (
            edges.join(
                tstat.select(F.col("doc_id").alias("a_id"), "st"), "a_id", "left"
            )
            .groupBy("b_id")
            .agg(
                F.max((a_st == 1).cast("int")).alias("any_kept"),
                F.min((a_st != 0).cast("int")).alias("all_decided"),
            )
        )
        tstat = (
            tstat.join(upd, tstat.doc_id == upd.b_id, "left")
            .select(
                "doc_id",
                F.when(F.col("st") != 0, F.col("st"))
                .when(F.col("any_kept") == 1, F.lit(2))
                .when(F.col("all_decided") == 1, F.lit(1))
                .otherwise(F.lit(0))
                .alias("st"),
            )
        )
        tstat = cut_lineage(tstat, allow_persist=False)
    else:
        # the frontier decides at least one member per dependency
        # chain per round, so hitting the cap means something is
        # structurally wrong — fail loudly rather than silently
        # reporting still-undecided members as kept
        undecided = tstat.where(F.col("st") == 0).count()
        if undecided:
            raise RuntimeError(
                f"greedy sweep did not converge: {undecided} undecided "
                "members after the round cap"
            )
    return tstat, rounds


def _duck_semdedup_incremental() -> str:
    from vector_search_ner_spark.functions.vector import duck_cosine

    sqd_c = _LLOYD_SQD.format(a="s.v", b="c.centroid")
    sqd_m = _LLOYD_SQD.format(a="m.v", b="c.centroid")
    cf = f"c{_LLOYD_ITER}"
    cos = duck_cosine("s.v", "m.v")
    return (
        _duck_lloyd_ctes(corpus_where="(vec_id % 10) <> 5")
        + f""",
shard AS (
  SELECT vec_id AS doc_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE (vec_id % 10) = 5
), sa AS (
  SELECT doc_id, v, cluster_id FROM (
    SELECT s.doc_id, s.v, c.cluster_id, row_number() OVER (
      PARTITION BY s.doc_id ORDER BY {sqd_c}, c.cluster_id) AS rn
    FROM shard s CROSS JOIN {cf} c
  ) WHERE rn = 1
), mr AS (
  SELECT m.doc_id, m.cluster_id, m.v,
         row_number() OVER (PARTITION BY m.cluster_id ORDER BY
           CAST(FLOOR({sqd_m} * 1000000) AS BIGINT), m.doc_id) AS rn
  FROM af m JOIN {cf} c ON m.cluster_id = c.cluster_id
), p AS (
  SELECT s.doc_id, ROUND(MAX({cos}), 4) AS max_sim_index
  FROM sa s JOIN mr m ON m.cluster_id = s.cluster_id
   AND m.rn <= {_SEMDEDUP_CAP}
  GROUP BY s.doc_id
)
SELECT sa.doc_id, CAST(sa.cluster_id AS INTEGER) AS cluster_id,
       p.max_sim_index,
       COALESCE(p.max_sim_index > {_SEMDEDUP_T}, FALSE) AS dropped
FROM sa LEFT JOIN p ON sa.doc_id = p.doc_id
ORDER BY sa.doc_id
"""
    )


@query("dedup_semantic_incremental", oracle=_duck_semdedup_incremental())
def dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup — the SEMANTIC analogue of
    `dedup_incremental_vs_index`: deduplicate a NEW shard (the
    vec_id%10==5 slice) against the PERSISTED cluster index of the
    existing corpus (sources/semdedup_index.py), without re-clustering
    or re-reading the corpus beyond the probed clusters. Per new
    vector: assign to the nearest persisted Lloyd centroid (centroids
    broadcast — tiny), then max cosine against ONLY that cluster's
    persisted members — capped to the _SEMDEDUP_CAP most-central via
    the store's persisted rank column (giant-cluster defense, a
    pushable filter); dropped iff it exceeds the SemDeDup threshold.

    Scale shape (100 TB daily ingest): the index member table is laid
    out partitionBy(cluster_id) and the shard's assignments probe it
    on the partition column — only assigned clusters' directories are
    read, the corpus-sized index never shuffles and is never
    re-embedded/re-clustered; compute is O(shard x avg cluster size),
    with cluster count the same knob as batch SemDeDup. The oracle
    re-derives the whole thing from first principles — filtered-corpus
    Lloyd unroll (the store's exact quantizer), shard assignment,
    within-cluster sweep — so the persisted store's CONTENT is
    value-checked, not just its plumbing."""
    from vector_search_ner_spark.functions.vector import to_double_array
    from vector_search_ner_spark.sources.semdedup_index import semantic_index_store

    members, centroids = semantic_index_store(
        spark, sf_dir, _IVF_N_CENT, _LLOYD_ITER, 10, 5
    )
    emb = load_table(spark, sf_dir, "embeddings")
    shard = emb.where(F.col("vec_id") % 10 == 5).select(
        F.col("vec_id").alias("doc_id"), to_double_array(F.col("embedding")).alias("v")
    )
    return semantic_incremental_frame(shard, members, centroids)


def semantic_incremental_frame(
    shard: DataFrame,
    members: DataFrame,
    centroids: DataFrame,
    cap: int = _SEMDEDUP_CAP,
) -> DataFrame:
    """The shard-vs-persisted-index probe (see
    dedup_semantic_incremental) over explicit store frames — shared by
    the registered query and perf_scale_semdedup.py's fixed-shard leg
    (a FIXED shard probed against 1x vs 10x existing-corpus stores:
    wall must be ~flat because the probe reads only assigned clusters
    and the shard side is the only compute input that matters)."""
    # Arrow-vectorized argmin assignment (bit-identical; replaces the
    # crossJoin + interpreted fold + rank window — see veckernel)
    assigned = vk.assign_topm(shard, centroids, 1, "v").select(
        "doc_id", "v", "cluster_id"
    )
    # shard-side assignments BROADCAST into the member probe: the
    # partitioned index is scanned (pruned to assigned clusters by the
    # layout), never shuffled — the incremental-LSH discipline applied
    # to the semantic store. The giant-cluster cap is a pushable
    # filter on the store's persisted centrality rank: the probe
    # compares against only each cluster's `cap` most-central members
    # (the same comparison set the batch sweeps use), so a degenerate
    # cluster costs O(shard * cap), not O(shard * giant).
    probe = members.where(F.col("rn") <= F.lit(cap)).select(
        F.col("doc_id").alias("m_id"), F.col("v").alias("mv"), "cluster_id"
    ).join(
        F.broadcast(assigned.withColumnRenamed("v", "sv")), "cluster_id"
    )
    p = probe.groupBy("doc_id").agg(
        F.round(F.max(vk.pair_cosine(F.col("sv"), F.col("mv"))), 4).alias(
            "max_sim_index"
        )
    )
    return (
        assigned.select("doc_id", F.col("cluster_id").cast("int").alias("cluster_id"))
        .join(p, "doc_id", "left")
        .select(
            "doc_id",
            "cluster_id",
            "max_sim_index",
            F.coalesce(F.col("max_sim_index") > _SEMDEDUP_T, F.lit(False)).alias(
                "dropped"
            ),
        )
        .orderBy("doc_id")
    )


# staleness verdict: drift in integer NANOUNITS of squared L2 between
# the persisted and recomputed centroid. The sf0.01 store measures
# 3.1M-7.8M nu after the 10% shard append; 5M splits the fixture so
# BOTH verdicts are exercised (8 stale / 6 fresh) and the oracle
# hash-checks the boundary.
_STALE_DRIFT_NU = 5_000_000


def _duck_semantic_staleness() -> str:
    cf = f"c{_LLOYD_ITER}"
    sqd_s = _LLOYD_SQD.format(a="s.v", b="c.centroid")
    sqd_drift = _LLOYD_SQD.format(a="c.centroid", b="r.rcen")
    return (
        _duck_lloyd_ctes(corpus_where="(vec_id % 10) <> 5")
        + f""",
shard AS (
  SELECT vec_id AS doc_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE (vec_id % 10) = 5
), sa AS (
  SELECT doc_id, v, cluster_id FROM (
    SELECT s.doc_id, s.v, c.cluster_id, row_number() OVER (
      PARTITION BY s.doc_id ORDER BY {sqd_s}, c.cluster_id) AS rn
    FROM shard s CROSS JOIN {cf} c
  ) WHERE rn = 1
), allm AS (
  SELECT doc_id, cluster_id, v, 0 AS is_delta FROM af
  UNION ALL
  SELECT doc_id, cluster_id, v, 1 AS is_delta FROM sa
), rsum AS (
  SELECT cluster_id, g.d,
         SUM(CAST(FLOOR(v[g.d] * 1000000) AS BIGINT)) AS s,
         COUNT(*) AS n
  FROM allm, (SELECT unnest(generate_series(1, {_LLOYD_DIM})) AS d) g
  GROUP BY cluster_id, g.d
), rc AS (
  SELECT cluster_id,
         list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) ORDER BY d) AS rcen
  FROM rsum GROUP BY cluster_id
), counts AS (
  SELECT cluster_id,
         SUM(CASE WHEN is_delta = 0 THEN 1 ELSE 0 END) AS n_base,
         SUM(is_delta) AS n_delta
  FROM allm GROUP BY cluster_id
)
SELECT CAST(c.cluster_id AS INTEGER) AS cluster_id,
       CAST(k.n_base AS BIGINT) AS n_base,
       CAST(k.n_delta AS BIGINT) AS n_delta,
       CAST(FLOOR({sqd_drift} * 1000000000) AS BIGINT) AS drift_nu,
       CAST(FLOOR({sqd_drift} * 1000000000) AS BIGINT) > {_STALE_DRIFT_NU} AS is_stale
FROM {cf} c
JOIN rc r ON r.cluster_id = c.cluster_id
JOIN counts k ON k.cluster_id = c.cluster_id
ORDER BY cluster_id
"""
    )


@query("semantic_index_staleness", oracle=_duck_semantic_staleness())
def semantic_index_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-STALENESS report for the persisted semantic index —
    the maintenance signal that tells an operator when streamed
    appends have drifted the cluster geometry enough that
    re-clustering (a fresh store build) is due: per cluster, the
    member counts (base vs appended delta) and the squared-L2 drift
    between the PERSISTED centroid and the centroid RECOMPUTED over
    the merged membership (base ∪ delta), in integer nanounits via
    the exact Lloyd update arithmetic (floor-microunit dimension sums
    / n — so both engines agree bit-for-bit). `is_stale` flips when
    drift exceeds _STALE_DRIFT_NU.

    Scale shape: one pass over the merged members (per-(cluster,dim)
    partial sums — map-side combining aggregate over slim rows), a
    broadcast join against the tiny centroid table; the index is
    never rewritten. The oracle re-derives the persisted store AND
    the recomputed centroids from the raw corpus."""
    from vector_search_ner_spark.functions.vector import to_double_array
    from vector_search_ner_spark.sources.semdedup_index import (
        assign_members_frame,
        semantic_index_store,
    )

    members, centroids = semantic_index_store(spark, sf_dir, _IVF_N_CENT, _LLOYD_ITER, 10, 5)
    emb = load_table(spark, sf_dir, "embeddings")
    shard = emb.where(F.col("vec_id") % 10 == 5).select(
        F.col("vec_id").alias("doc_id"), to_double_array(F.col("embedding")).alias("v")
    )
    delta = assign_members_frame(shard, centroids)
    merged = members.select("doc_id", "v", "cluster_id").withColumn(
        "is_delta", F.lit(0)
    ).unionByName(
        delta.select("doc_id", "v", "cluster_id").withColumn("is_delta", F.lit(1))
    )
    dims = merged.select(
        "cluster_id", "is_delta", F.posexplode("v").alias("pos", "x")
    )
    rsum = dims.groupBy("cluster_id", "pos").agg(
        F.sum(F.floor(F.col("x") * 1000000).cast("long")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    rc = rsum.groupBy("cluster_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s", "n"))),
            lambda t: t["s"].cast("double") / (t["n"].cast("double") * 1000000.0),
        ).alias("rcen")
    )
    counts = merged.groupBy("cluster_id").agg(
        F.sum(F.when(F.col("is_delta") == 0, 1).otherwise(0)).cast("long").alias("n_base"),
        F.sum("is_delta").cast("long").alias("n_delta"),
    )
    sq = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    drift = F.floor(sq(F.col("centroid"), F.col("rcen")) * 1000000000).cast("long")
    return (
        centroids.join(rc, "cluster_id")
        .join(counts, "cluster_id")
        .select(
            F.col("cluster_id").cast("int").alias("cluster_id"),
            "n_base",
            "n_delta",
            drift.alias("drift_nu"),
            (drift > F.lit(_STALE_DRIFT_NU)).alias("is_stale"),
        )
        .orderBy("cluster_id")
    )
