"""The flagship composite: multi-stage filtered retrieval with the
reference's FULL progressive-relaxation lattice + hybrid score fusion
+ top-5 rank — the batch re-expression of the chat pipeline E1
(/root/reference/main.py:416-488: NER parse → multi_stage_search
329-411 → llm_rerank 252-324 → top-5 project 455-469).

The lattice (multi_stage_search, main.py:336-411), stage for stage:
  ① region AND job           (param_filter_search use_and=True, :341-348)
  ② region OR  job, deficit  (use_and=False, gated len<5 ∧ region ∧ job, :351-360)
  ③ region-only ∪ job-only, deficit (gated len<5; each gated on presence, :363-383)
  ④ synonym expansion of job (unconditional when job has synonyms, :386-397;
     each synonym search is ranked by ITS OWN query vector
     embed(f"{region} {syn}"), main.py:389-396)
  ⑤ unfiltered fallback k=15 (gated len<15, :400-407)
`region`/`job` are genuine TEXT predicates — Chroma `$contains` on the
document text (main.py:146-156) — combined with $and/$or exactly as
the reference builds its where_document filter, with absent fields
OMITTED from the filter (main.py:146-152).

Query-side embedding happens AT SEARCH TIME: the query vector is
HashingEmbedder(concat_ws(' ', region, job)) — the engine twin of the
reference embedding user text per request (main.py:44-46, invoked via
vectorstore search at :158, :401) — not a precomputed fixture vector.

Differences, declared:
  * batch (a DataFrame of queries), not request/response;
  * the eager per-request `len(results) < k` stage gates become
    per-query sums of stage flags in ONE grouped pass over the
    candidates, nothing persisted — one plan, whose only driver action
    is collecting the probe batch;
  * exact search (recall 1.0), so the reference's k*3 over-fetch
    (main.py:158-165) is a no-op here;
  * the LLM scorer is replaced by the deterministic 0.7/0.3 fusion
    with the compute_ner_similarity overlap (main.py:225-234,298-323);
    LLM impls stay behind the extractor interface, off the oracle path.

Scale shape: the probe batch (~100 rows) is collected and embedded
on the driver once, at construction, and rides in the closure of ONE
map-only `mapInArrow` pass over the persisted vector store
(sources/vecstore.py — built once per corpus by the map-only
Arrow-batched embed, then served as a parquet scan), mirroring the
reference's build-once Chroma persist dir (build_vectorstore.py:
233-250) opened per process (load_vectorstore, main.py:51-61). Each
Arrow block of docs is scored against every probe and its
region/job/synonym flags computed in the same pass; the block then
emits only the cells some stage can still select — its local top-k
per (probe, stage predicate), the REPOSE-style per-partition top-k
before the global merge. No probe x corpus relation is ever built,
shuffled or sorted: the candidates are ~K rows per probe per block.
The global merge is ONE grouped Arrow pass per query
(`_lattice_select`): every stage window and gate partitions by
query_id, so one sort of a query's candidates (score desc, doc_id)
serves them all — stage ranks are conditional cumulative sums, every
deficit gate a sum of stage flags (each (query, doc) has at most one
main row, so COUNT(DISTINCT) over unions of stage sets reduces to sums
of OR-ed flags), stage ④ ranks each synonym probe's rows on its own
vector, and the first-wins merge keeps each doc's lowest stage. Only
fusion and the final rank, over the ~K selected rows per query, run
as JVM expressions and a window. `_lattice_keep` states why the
pruning leaves every rank and gate count unchanged.

The query batch is chosen so every stage is exercised at the driver's
sf0.01: q0/q2/q3 fill at ①, q1 relaxes to ② (10 docs), q5's rare
terms open the ③ gate so both single-field searches execute, q4 fills
entirely from synonym searches at ④ (19 docs across both synonyms —
and, having ≥15 candidates, proves ⑤'s gate stays CLOSED), q6 is
fully OOV and fills only at ⑤. Note on ③: under EXACT search its
output is provably first-wins-subsumed (its candidate sets are
subsets of ②'s OR-set when ② ran, and identical to ①'s single-filter
set otherwise) — the stage exists to recover recall under the
reference's approximate HNSW retrieval, and the oracle proves our
faithful implementation of it never corrupts the merge.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, StructField, StructType
from pyspark.storagelevel import StorageLevel

from vector_search_ner_spark.embedder import DEFAULT_DIM, HashingEmbedder, embed_texts_numpy
from vector_search_ner_spark.operators import veckernel as vk
from vector_search_ner_spark.functions.vector import (
    duck_cosine,
    l2_norm,
    to_double_array,
)
from vector_search_ner_spark.operators.fusion import fuse_scores, overlap_score, rank_topn
from vector_search_ner_spark.plans.queries_mlops import _duck_embed_cte
from vector_search_ner_spark.registry import query
from vector_search_ner_spark.sources.catalog import load_table
from vector_search_ner_spark.sources.vecstore import doc_vector_store

STAGE_K = 10  # top_k of every staged search (reference main.py:137)
DEFICIT_MIN = 5  # relaxation gate (main.py:351,363)
FALLBACK_K = 15  # unfiltered fallback size + gate (main.py:400-401)
FINAL_N = 5  # final projection (main.py:455-469)

# (query_id, region_term, job_term) — two genuine text predicates per
# query; None = field absent from the user NER (omitted from filters,
# main.py:146-152).
QUERIES = [
    (0, "scan", "join"),       # both common → fills at ①
    (1, "dup", "slow dup"),    # AND nearly empty, OR rich → ②
    (2, "merge", None),        # region-only user → ① single-filter
    (3, None, "batch"),        # job-only user → ① single-filter
    (4, None, "neardup"),      # OOV job with synonyms → fills at ④
    (5, "slow dup", "dup stream"),  # OR < 5 → ③ runs
    (6, "qqqq", "zzzz"),       # fully OOV → only ⑤ fires
]
# static impl of get_job_synonyms_with_llm (main.py:186-220):
# job term -> (synonym, syn_idx); earlier syn_idx wins the merge.
SYNONYMS = [
    ("neardup", "dup", 0),
    ("neardup", "stream", 1),
]

def _sql_lit(v) -> str:
    """SQL string literal with quote escaping — chat messages are free
    text, so apostrophes must not break the oracle VALUES clause."""
    return "NULL" if v is None else "'" + v.replace("'", "''") + "'"


def _duck_staged_oracle(qdef_cte: str | None = None) -> str:
    """The full v2-lattice oracle. `qdef_cte` (optional) replaces the
    static VALUES query batch with any CTE text defining
    qdef(query_id, region, job) — used by the text-in chat E2E oracle
    to derive the batch from parsed messages."""
    qvals = ", ".join(
        f"({qid}, {_sql_lit(r)}, {_sql_lit(j)})" for qid, r, j in QUERIES
    )
    if qdef_cte is None:
        qdef_cte = f"qdef(query_id, region, job) AS (VALUES {qvals})"
    svals = ", ".join(f"('{t}', '{s}', {i})" for t, s, i in SYNONYMS)
    cos_main = duck_cosine("qv.emb", "dv.emb")
    cos_syn = duck_cosine("sv.emb", "dv.emb")
    rank10 = "row_number() OVER (PARTITION BY sc.query_id ORDER BY sc.score DESC, sc.doc_id)"
    return f"""
WITH {qdef_cte},
syndef(job, synonym, syn_idx) AS (VALUES {svals}),
dsrc AS (SELECT doc_id, text, lang FROM documents),
{_duck_embed_cte("dsrc", "doc_id", "text", "d")},
qsrc AS (
  SELECT query_id, concat_ws(' ', region, job) AS qtext FROM qdef
),
{_duck_embed_cte("qsrc", "query_id", "qtext", "q")},
ssrc AS (
  SELECT q.query_id, s.syn_idx, s.synonym,
         concat_ws(' ', q.region, s.synonym) AS stext
  FROM qdef q JOIN syndef s ON q.job = s.job
),
{_duck_embed_cte("ssrc", "query_id, syn_idx", "stext", "s")},
scored AS (
  SELECT q.query_id, d.doc_id, d.lang,
         {cos_main} AS score,
         COALESCE(contains(d.text, q.region), FALSE) AS hr,
         COALESCE(contains(d.text, q.job), FALSE) AS hj
  FROM qdef q
  JOIN q_vec qv ON q.query_id = qv.query_id
  CROSS JOIN dsrc d
  JOIN d_vec dv ON d.doc_id = dv.doc_id
),
syn_scored AS (
  SELECT p.query_id, p.syn_idx, d.doc_id, d.lang,
         {cos_syn} AS score,
         COALESCE(contains(d.text, q.region), FALSE) AS hr,
         COALESCE(contains(d.text, q.job), FALSE) AS hj,
         contains(d.text, p.synonym) AS hs,
         q.region IS NULL AS no_region
  FROM ssrc p
  JOIN qdef q ON p.query_id = q.query_id
  JOIN s_vec sv ON p.query_id = sv.query_id AND p.syn_idx = sv.syn_idx
  CROSS JOIN dsrc d
  JOIN d_vec dv ON d.doc_id = dv.doc_id
),
s1 AS (
  SELECT * FROM (
    SELECT sc.*, {rank10} AS rn
    FROM scored sc JOIN qdef q ON sc.query_id = q.query_id
    WHERE (sc.hr OR q.region IS NULL) AND (sc.hj OR q.job IS NULL)
  ) WHERE rn <= {STAGE_K}
),
need2 AS (
  SELECT q.query_id FROM qdef q
  LEFT JOIN (SELECT query_id, COUNT(DISTINCT doc_id) AS n FROM s1 GROUP BY query_id) c
    ON q.query_id = c.query_id
  WHERE COALESCE(c.n, 0) < {DEFICIT_MIN}
    AND q.region IS NOT NULL AND q.job IS NOT NULL
),
s2 AS (
  SELECT * FROM (
    SELECT sc.*, {rank10} AS rn
    FROM scored sc JOIN need2 nd ON sc.query_id = nd.query_id
    WHERE sc.hr OR sc.hj
  ) WHERE rn <= {STAGE_K}
),
need3 AS (
  SELECT q.query_id FROM qdef q
  LEFT JOIN (
    SELECT query_id, COUNT(DISTINCT doc_id) AS n FROM (
      SELECT query_id, doc_id FROM s1 UNION SELECT query_id, doc_id FROM s2
    ) GROUP BY query_id
  ) c ON q.query_id = c.query_id
  WHERE COALESCE(c.n, 0) < {DEFICIT_MIN}
),
s3r AS (
  SELECT * FROM (
    SELECT sc.*, {rank10} AS rn
    FROM scored sc
    JOIN need3 nd ON sc.query_id = nd.query_id
    JOIN qdef q ON sc.query_id = q.query_id
    WHERE q.region IS NOT NULL AND sc.hr
  ) WHERE rn <= {STAGE_K}
),
s3j AS (
  SELECT * FROM (
    SELECT sc.*, {rank10} AS rn
    FROM scored sc
    JOIN need3 nd ON sc.query_id = nd.query_id
    JOIN qdef q ON sc.query_id = q.query_id
    WHERE q.job IS NOT NULL AND sc.hj
  ) WHERE rn <= {STAGE_K}
),
s4 AS (
  SELECT * FROM (
    SELECT sc.query_id, sc.doc_id, sc.lang, sc.score, sc.hr, sc.hj,
           10 + sc.syn_idx AS stage,
           row_number() OVER (
             PARTITION BY sc.query_id, sc.syn_idx
             ORDER BY sc.score DESC, sc.doc_id) AS rn
    FROM syn_scored sc
    WHERE (sc.hr OR sc.no_region) AND sc.hs
  ) WHERE rn <= {STAGE_K}
),
need5 AS (
  SELECT q.query_id FROM qdef q
  LEFT JOIN (
    SELECT query_id, COUNT(DISTINCT doc_id) AS n FROM (
      SELECT query_id, doc_id FROM s1 UNION SELECT query_id, doc_id FROM s2
      UNION SELECT query_id, doc_id FROM s3r UNION SELECT query_id, doc_id FROM s3j
      UNION SELECT query_id, doc_id FROM s4
    ) GROUP BY query_id
  ) c ON q.query_id = c.query_id
  WHERE COALESCE(c.n, 0) < {FALLBACK_K}
),
s5 AS (
  SELECT * FROM (
    SELECT sc.*, {rank10} AS rn
    FROM scored sc JOIN need5 nd ON sc.query_id = nd.query_id
  ) WHERE rn <= {FALLBACK_K}
),
allst AS (
  SELECT query_id, doc_id, lang, score, hr, hj, 0 AS stage FROM s1
  UNION ALL SELECT query_id, doc_id, lang, score, hr, hj, 1 FROM s2
  UNION ALL SELECT query_id, doc_id, lang, score, hr, hj, 2 FROM s3r
  UNION ALL SELECT query_id, doc_id, lang, score, hr, hj, 3 FROM s3j
  UNION ALL SELECT query_id, doc_id, lang, score, hr, hj, stage FROM s4
  UNION ALL SELECT query_id, doc_id, lang, score, hr, hj, 100 FROM s5
),
m AS (
  SELECT * FROM (
    SELECT a.*, row_number() OVER (
      PARTITION BY query_id, doc_id ORDER BY stage) AS mrn
    FROM allst a
  ) WHERE mrn = 1
),
fused AS (
  SELECT query_id, doc_id,
         ROUND(0.7 * score + 0.3 * ((
             CAST(hr AS INTEGER) + CAST(hj AS INTEGER)
           + CASE WHEN lang = 'en' THEN 1 ELSE 0 END
         ) / 3.0), 4) AS combined_score
  FROM m
)
SELECT CAST(query_id AS INTEGER) AS query_id, doc_id, combined_score,
       CAST(rank AS INTEGER) AS rank
FROM (
  SELECT f.*, row_number() OVER (
    PARTITION BY query_id ORDER BY combined_score DESC, doc_id) AS rank
  FROM fused f
) WHERE rank <= {FINAL_N}
"""


def _lattice_keep(score, hr, hj, hs, qr, qj, main_of, by_doc):
    """Which (doc, probe) cells of one block of docs the lattice can
    still select. `score`/`hr`/`hj`/`hs` are (docs, probes) matrices,
    `qr`/`qj` per-probe field presence, `main_of[p]` the column of
    probe p's main probe (p itself for a main probe, -1 if its query
    has none), and `by_doc` the block's rows in ascending doc_id order.

    Each column is ranked in the lattice's own order (score desc,
    doc_id asc), and a stage's block-local top-k is its
    `csum(pred) <= k` over that order. Kept: each main probe's top
    STAGE_K of the ① ② ③r ③j predicates and its first FALLBACK_K rows;
    each synonym probe's top STAGE_K of the ④ predicate; and the main
    row of every doc in one of its query's ④ tops, which the ⑤ gate
    counts through `in4`. Exact for any split of the corpus into
    blocks: a row in a stage's global top-k is in its own block's
    top-k, and so is every row ranked above it, so every
    cumulative-sum rank, gate count and row_number the lattice reads
    keeps its value."""
    order = by_doc[np.argsort(-score[by_doc], axis=0, kind="stable")]
    r, j, s = (np.take_along_axis(m, order, axis=0) for m in (hr, hj, hs))

    def top(pred, k):
        return pred & (np.cumsum(pred, axis=0) <= k)

    main = main_of == np.arange(len(main_of))
    ranked = np.where(
        main,
        top((r | ~qr) & (j | ~qj), STAGE_K)
        | top(r | j, STAGE_K)
        | top(r & qr, STAGE_K)
        | top(j & qj, STAGE_K)
        | (np.arange(len(order)) < FALLBACK_K)[:, None],
        top((r | ~qr) & s, STAGE_K),
    )
    keep = np.zeros_like(ranked)
    np.put_along_axis(keep, order, ranked, axis=0)
    for c in np.flatnonzero(~main & (main_of >= 0)):
        keep[:, main_of[c]] |= keep[:, c]
    return keep


def _lattice_candidates(spark: SparkSession, sf_dir: str, probes: DataFrame) -> DataFrame:
    """The lattice's candidate relation: score + predicate flags per
    kept (probe, doc), from ONE map-only Arrow pass over the persisted
    doc vector store.

    The probe batch (~100 rows) is collected here, at construction —
    one eager job, no Python in it — and embedded on the driver by
    `embed_texts_numpy`, the function the HashingEmbedder UDF runs
    (query-TIME embedding); its float32 vectors are widened to float64
    and normed by `veckernel._seq_dot`, the `l2_norm` fold's order, so
    both are bit-identical to the JVM-side embed. Vectors, norms and
    terms ride in the kernel's closure. Each Arrow block of docs widens
    `dvec` to float64 (exact), scores every (doc, probe) pair with
    `veckernel._cosine_block` (bit-identical to `cosine_from_norms`),
    computes each distinct region/job/synonym term's `contains` once
    per doc (NULL reads as False), and emits only the cells
    `_lattice_keep` says a stage can still select."""
    from pyspark.sql.pandas.types import to_arrow_type

    rows = probes.select("query_id", "syn_idx", "region", "job", "synonym", "ptext").collect()
    qid = np.array([r.query_id for r in rows], dtype=np.int64)
    sidx = np.array([r.syn_idx for r in rows], dtype=np.int64)
    region, job, synonym = ([r[c] for r in rows] for c in ("region", "job", "synonym"))
    Q = np.array(embed_texts_numpy([r.ptext for r in rows]), dtype=np.float64).reshape(-1, DEFAULT_DIM)
    pnorm = np.sqrt(vk._seq_dot(Q, Q))
    qr = np.array([t is not None for t in region])
    qj = np.array([t is not None for t in job])
    main_at = {q: p for p, (q, i) in enumerate(zip(qid, sidx)) if i == -1}
    main_of = np.array(
        [p if i == -1 else main_at.get(q, -1) for p, (q, i) in enumerate(zip(qid, sidx))],
        dtype=np.int64,
    )
    terms = {t for t in region + job + synonym if t is not None}

    docs = doc_vector_store(spark, sf_dir).select("doc_id", "text", "lang", "dvec", "__dnorm")
    out = StructType(
        [probes.schema["query_id"], probes.schema["syn_idx"], docs.schema["doc_id"], docs.schema["lang"]]
        + [StructField("score", DoubleType())]
        + [StructField(c, BooleanType()) for c in ("hr", "hj", "hs", "qr", "qj")]
    )
    qid_t, sidx_t = (to_arrow_type(f.dataType) for f in out.fields[:2])

    def fn(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0 or not len(qid):
                continue
            X = vk._list_to_matrix(rb.column("dvec"), "dvec")
            dnorm = rb.column("__dnorm").to_numpy(zero_copy_only=False)
            score = vk._cosine_block(X, Q, dnorm, pnorm)
            text = rb.column("text")
            has = {
                t: pc.fill_null(pc.match_substring(text, t), False).to_numpy(zero_copy_only=False)
                for t in terms
            }
            absent = np.zeros(n, dtype=bool)

            def flags(ts):
                return np.stack([absent if t is None else has[t] for t in ts], axis=1)

            hr, hj, hs = flags(region), flags(job), flags(synonym)
            by_doc = pc.sort_indices(rb.column("doc_id"), null_placement="at_start").to_numpy()
            i, p = np.nonzero(_lattice_keep(score, hr, hj, hs, qr, qj, main_of, by_doc))
            kept = rb.select(["doc_id", "lang"]).take(pa.array(i))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qid[p], qid_t),
                    pa.array(sidx[p], sidx_t),
                    kept.column(0),
                    kept.column(1),
                    pa.array(score[i, p]),
                    pa.array(hr[i, p]),
                    pa.array(hj[i, p]),
                    pa.array(hs[i, p]),
                    pa.array(qr[p]),
                    pa.array(qj[p]),
                ],
                names=out.names,
            )

    return docs.mapInArrow(fn, out)


WINNER_COLS = ["query_id", "doc_id", "lang", "score", "hr", "hj"]


def _lattice_select(t: pa.Table) -> pa.Table:
    """The whole cascade for ONE query's candidates `t` (all its probes'
    kept cells): the rows that win the first-wins merge, as WINNER_COLS.

    The rows are sorted once in the lattice's rank order (score desc,
    doc_id asc — the oracle's row_number order); every stage's top-k is then `csum(pred) <= k` along it
    and every deficit gate a sum of flags. Stage ④ is each synonym
    probe's top STAGE_K of `(hr | ~qr) & hs`; ①②③⑤ rank the main
    probe's rows, and the ⑤ gate counts the docs of ①-③ and ④ (each
    (query, doc) has at most one main row, so COUNT(DISTINCT doc) over
    the union is a sum of OR-ed flags). Each doc keeps the row of its
    lowest stage."""
    order = [("score", "descending"), ("doc_id", "ascending")]
    t = t.take(pc.sort_indices(t, order, null_placement="at_start"))
    sidx, hr, hj, hs, qr, qj = (t.column(c).to_numpy() for c in ("syn_idx", "hr", "hj", "hs", "qr", "qj"))
    doc_id = t.column("doc_id").combine_chunks()
    doc = pc.dictionary_encode(doc_id, null_encoding="encode").indices.to_numpy()

    def top(pred, k):
        return pred & (np.cumsum(pred) <= k)

    stage = np.full(len(sidx), -1)
    for i in np.unique(sidx[sidx >= 0]):
        stage[top((sidx == i) & (hr | ~qr) & hs, STAGE_K)] = 10 + i
    m = sidx == -1
    in4 = m & np.isin(doc, doc[stage >= 0])
    in1 = top(m & (hr | ~qr) & (hj | ~qj), STAGE_K)
    in2 = (in1.sum() < DEFICIT_MIN) & qr & qj & top(m & (hr | hj), STAGE_K)
    in3 = (in1 | in2).sum() < DEFICIT_MIN
    in3r = in3 & top(m & hr & qr, STAGE_K)
    in3j = in3 & top(m & hj & qj, STAGE_K)
    in5 = ((in1 | in2 | in3r | in3j | in4).sum() < FALLBACK_K) & top(m, FALLBACK_K)
    stage = np.where(m, np.select([in1, in2, in3r, in3j, in5], [0, 1, 2, 3, 100], -1), stage)

    sel = np.flatnonzero(stage >= 0)
    sel = sel[np.argsort(stage[sel], kind="stable")]
    return t.take(sel[np.unique(doc[sel], return_index=True)[1]]).select(WINNER_COLS)


def v2_lattice(spark: SparkSession, sf_dir: str, probes: DataFrame) -> DataFrame:
    """The reusable v2 lattice over ANY probe batch.

    `probes` columns: query_id int, syn_idx int (-1 = the main probe,
    >= 0 = a synonym probe), region string?, job string?, synonym
    string?, ptext string (the text to embed for THIS probe). Field
    presence (NULL region/job) gates the stages per query — nothing
    about the batch is hard-coded.

    Execution: the probe batch is collected and embedded here (one
    eager job) and `_lattice_candidates` scores it against the store
    in one pruned Arrow pass, keeping only the (probe, doc) cells a
    stage can still select. Every stage window and gate partitions by
    query_id, so the cascade — ④, the ①②③⑤ ranks and deficit gates,
    and the first-wins merge — is ONE grouped Arrow pass,
    `_lattice_select` per query, which reads each candidate once: the
    global merge after the per-block top-k. Fusion and the final rank
    stay JVM-side over the selected ~K rows per query. Nothing is
    persisted."""
    cand = _lattice_candidates(spark, sf_dir, probes)
    out = StructType([cand.schema[c] for c in WINNER_COLS])
    winner = cand.groupBy("query_id").applyInArrow(_lattice_select, out)

    # 0.7/0.3 fusion with the compute_ner_similarity overlap, final top-5
    meta = overlap_score(F.col("hr"), F.col("hj"), F.col("lang") == "en")
    fused = winner.select(
        "query_id", "doc_id", fuse_scores(F.col("score"), meta).alias("combined_score")
    )
    return rank_topn(fused, FINAL_N).select("query_id", "doc_id", "combined_score", "rank")


def _static_probes(spark: SparkSession) -> DataFrame:
    """The static QUERIES batch as v2_lattice probes: one main probe
    per query plus one probe per (query, synonym) pair, each carrying
    ITS OWN query text to embed."""
    rows = []
    for qid, region, job in QUERIES:
        rows.append(
            (qid, -1, region, job, None, " ".join(t for t in (region, job) if t))
        )
    for job_term, syn, idx in SYNONYMS:
        for qid, region, job in QUERIES:
            if job == job_term:
                rows.append(
                    (qid, idx, region, job, syn, " ".join(t for t in (region, syn) if t))
                )
    return spark.createDataFrame(
        rows, "query_id int, syn_idx int, region string, job string, synonym string, ptext string"
    )


@query("staged_retrieval_pipeline", oracle=_duck_staged_oracle())
def staged_retrieval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship v2 lattice over the static QUERIES batch."""
    return v2_lattice(spark, sf_dir, _static_probes(spark))


@query(
    "synonym_expansion_search",
    oracle="""
WITH syn(term, synonym) AS (
  VALUES ('vector', 'vector'), ('vector', 'merge'), ('vector', 'batch'),
         ('stream', 'stream'), ('stream', 'row'), ('stream', 'filter')
), hits AS (
  SELECT s.term, s.synonym, d.doc_id
  FROM syn s JOIN documents d ON contains(d.text, s.synonym)
)
SELECT term, synonym, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM hits GROUP BY term, synonym
""",
)
def synonym_expansion_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query expansion via synonym explode (reference
    get_job_synonyms_with_llm + per-synonym searches,
    /root/reference/main.py:186-220, 386-397) — static dictionary
    impl (the LLM impl is an optional drop-in behind the same shape)."""
    docs = load_table(spark, sf_dir, "documents")
    syn = spark.createDataFrame(
        [
            ("vector", "vector"),
            ("vector", "merge"),
            ("vector", "batch"),
            ("stream", "stream"),
            ("stream", "row"),
            ("stream", "filter"),
        ],
        "term string, synonym string",
    )
    return (
        F.broadcast(syn)
        .join(docs, docs.text.contains(syn.synonym))
        .groupBy("term", "synonym")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "ner_extract_rule",
    oracle="""
SELECT doc_id,
       CASE WHEN contains(text, 'join') THEN 'join'
            WHEN contains(text, 'sort') THEN 'sort'
            WHEN contains(text, 'merge') THEN 'merge'
            WHEN contains(text, 'scan') THEN 'scan'
            ELSE NULL END AS job,
       COALESCE(CASE WHEN contains(text, 'join') THEN 'join'
            WHEN contains(text, 'sort') THEN 'sort'
            WHEN contains(text, 'merge') THEN 'merge'
            WHEN contains(text, 'scan') THEN 'scan'
            ELSE NULL END, 'unknown') AS job_final,
       CASE lang WHEN 'en' THEN 'domestic' ELSE 'international' END AS region,
       CASE WHEN n_chars < 200 THEN 'short'
            WHEN n_chars < 350 THEN 'medium'
            ELSE 'long' END AS length_band
FROM documents
""",
)
def ner_extract_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic rule-based NER-style extraction over documents —
    the oracle-checkable implementation behind the extractor interface
    (reference doc-NER: /root/reference/build_vectorstore.py:56-101;
    profile-fallback coalesce: main.py:444-449 → job_final)."""
    docs = load_table(spark, sf_dir, "documents")
    job = (
        F.when(F.col("text").contains("join"), "join")
        .when(F.col("text").contains("sort"), "sort")
        .when(F.col("text").contains("merge"), "merge")
        .when(F.col("text").contains("scan"), "scan")
        .otherwise(F.lit(None).cast("string"))
    )
    return docs.select(
        "doc_id",
        job.alias("job"),
        F.coalesce(job, F.lit("unknown")).alias("job_final"),
        F.when(F.col("lang") == "en", "domestic").otherwise("international").alias("region"),
        F.when(F.col("n_chars") < 200, "short")
        .when(F.col("n_chars") < 350, "medium")
        .otherwise("long")
        .alias("length_band"),
    )


# ---------------------------------------------------------------------------
# v1 hybrid pipeline (the "remind" generation): LLM_NER-filtered full
# scan, POST-filtered ANN stages, hybrid top-up, rerank
# ---------------------------------------------------------------------------

# (query_id, region_term, job_term) for the v1 surface. Regions are the
# doc-NER region values ('domestic'/'international'); jobs are doc-NER
# job values (substring-matched, like v1's lowercase `in` tests).
QUERIES_V1 = [
    (0, "domestic", "join"),     # NER filter rich → filtered initial set
    (1, None, "sort"),           # job-only user
    (2, "domestic", None),       # region-only user (stages all skip)
    (3, "domestic", "merge"),    # NER set is 5..14 docs → HYBRID fires
    (4, None, "neardup"),        # OOV job → initial falls back to all; ④ via synonyms
    (5, "international", "zzzz"),  # OOV job → fallback to all
]
SYNONYMS_V1 = [
    ("neardup", "sort", 0),
    ("neardup", "scan", 1),
]
V1_INIT_K = 1000   # main_remind.py:462 ("k large ≈ full scan")
V1_STAGE_K = 10    # ANN fetch size AND truncation of every stage (main_remind.py:142,157)
V1_MIN_INIT = 5    # fallback gate (main_remind.py:473-474)
V1_HYBRID_K = 15   # hybrid top-up size + gate (main_remind.py:500-505)

_DOC_JOB_CASE = """CASE WHEN contains(text, 'join') THEN 'join'
        WHEN contains(text, 'sort') THEN 'sort'
        WHEN contains(text, 'merge') THEN 'merge'
        WHEN contains(text, 'scan') THEN 'scan' ELSE NULL END"""
_DOC_REGION_CASE = "CASE lang WHEN 'en' THEN 'domestic' ELSE 'international' END"


def _duck_v1_oracle() -> str:
    qvals = ", ".join(
        f"({qid}, {_sql_lit(r)}, {_sql_lit(j)})" for qid, r, j in QUERIES_V1
    )
    svals = ", ".join(f"('{t}', '{s}', {i})" for t, s, i in SYNONYMS_V1)
    cos_m = duck_cosine("mv.emb", "dv.emb")
    cos_j = duck_cosine("jv.emb", "dv.emb")
    cos_s = duck_cosine("sv.emb", "dv.emb")
    rank = "row_number() OVER (PARTITION BY sc.query_id ORDER BY sc.score DESC, sc.doc_id)"
    return f"""
WITH qdef1(query_id, region, job) AS (VALUES {qvals}),
syndef1(job, synonym, syn_idx) AS (VALUES {svals}),
dsrc AS (
  SELECT doc_id, text, lang,
         substring(text, 1, 30) AS title,
         {_DOC_JOB_CASE} AS ner_job,
         {_DOC_REGION_CASE} AS region_str
  FROM documents
),
{_duck_embed_cte("dsrc", "doc_id", "text", "d")},
msrc AS (
  SELECT query_id, concat_ws(' ', job, region) AS mtext FROM qdef1
),
{_duck_embed_cte("msrc", "query_id", "mtext", "m")},
jsrc AS (
  SELECT query_id, COALESCE(job, '') AS jtext FROM qdef1
),
{_duck_embed_cte("jsrc", "query_id", "jtext", "j")},
ssrc AS (
  SELECT q.query_id, s.syn_idx, s.synonym, s.synonym AS stext
  FROM qdef1 q JOIN syndef1 s ON q.job = s.job
),
{_duck_embed_cte("ssrc", "query_id, syn_idx", "stext", "s")},
mscored AS (
  SELECT q.query_id, d.doc_id, d.lang, {cos_m} AS score,
         COALESCE(contains(COALESCE(d.ner_job, ''), q.job), FALSE) AS jm,
         COALESCE(contains(d.region_str, q.region), FALSE) AS rm
  FROM qdef1 q
  JOIN m_vec mv ON q.query_id = mv.query_id
  CROSS JOIN dsrc d JOIN d_vec dv ON d.doc_id = dv.doc_id
),
jscored AS (
  SELECT q.query_id, d.doc_id, d.lang, {cos_j} AS score,
         COALESCE(contains(COALESCE(d.ner_job, ''), q.job), FALSE) AS jm,
         COALESCE(contains(d.region_str, q.region), FALSE) AS rm,
         COALESCE(contains(d.title, q.job), FALSE) AS tj
  FROM qdef1 q
  JOIN j_vec jv ON q.query_id = jv.query_id
  CROSS JOIN dsrc d JOIN d_vec dv ON d.doc_id = dv.doc_id
),
sscored AS (
  SELECT p.query_id, p.syn_idx, d.doc_id, d.lang, {cos_s} AS score,
         COALESCE(contains(COALESCE(d.ner_job, ''), q.job), FALSE) AS jm,
         COALESCE(contains(d.region_str, q.region), FALSE) AS rm,
         COALESCE(contains(d.title, p.synonym), FALSE) AS ts
  FROM ssrc p
  JOIN qdef1 q ON p.query_id = q.query_id
  JOIN s_vec sv ON p.query_id = sv.query_id AND p.syn_idx = sv.syn_idx
  CROSS JOIN dsrc d JOIN d_vec dv ON d.doc_id = dv.doc_id
),
capped AS (
  SELECT * FROM (
    SELECT sc.*, q.region AS q_region, q.job AS q_job, {rank} AS rcap
    FROM mscored sc JOIN qdef1 q ON sc.query_id = q.query_id
  ) WHERE rcap <= {V1_INIT_K}
),
flt AS (
  SELECT *, (q_job IS NULL OR jm) AND (q_region IS NULL OR rm) AS ner_ok
  FROM capped
),
init AS (
  SELECT f.query_id, f.doc_id, f.lang, f.score, f.jm, f.rm
  FROM flt f
  JOIN (SELECT query_id, SUM(CASE WHEN ner_ok THEN 1 ELSE 0 END) AS n_f
        FROM flt GROUP BY query_id) c ON f.query_id = c.query_id
  WHERE f.ner_ok OR c.n_f < {V1_MIN_INIT}
),
jrank AS (
  SELECT * FROM (
    SELECT sc.*, q.region IS NOT NULL AS has_r, {rank} AS rn
    FROM jscored sc JOIN qdef1 q ON sc.query_id = q.query_id
    WHERE q.job IS NOT NULL
  ) WHERE rn <= {V1_STAGE_K}
),
s1 AS (SELECT query_id, doc_id, lang, score, jm, rm FROM jrank WHERE has_r AND tj AND rm),
s2 AS (SELECT query_id, doc_id, lang, score, jm, rm FROM jrank WHERE tj),
s3 AS (
  SELECT query_id, doc_id, lang, score, jm, rm, 10 + syn_idx AS stage FROM (
    SELECT sc.*, row_number() OVER (
      PARTITION BY sc.query_id, sc.syn_idx
      ORDER BY sc.score DESC, sc.doc_id) AS rn
    FROM sscored sc WHERE sc.ts
  ) WHERE rn <= {V1_STAGE_K}
),
npre AS (
  SELECT query_id, COUNT(DISTINCT doc_id) AS n FROM (
    SELECT query_id, doc_id FROM init UNION SELECT query_id, doc_id FROM s1
    UNION SELECT query_id, doc_id FROM s2 UNION SELECT query_id, doc_id FROM s3
  ) GROUP BY query_id
),
hyb AS (
  SELECT query_id, doc_id, lang, score, jm, rm FROM (
    SELECT sc.*, {rank} AS rn
    FROM mscored sc JOIN npre n ON sc.query_id = n.query_id AND n.n < {V1_HYBRID_K}
  ) WHERE rn <= {V1_HYBRID_K}
),
allst AS (
  SELECT query_id, doc_id, lang, score, jm, rm, 0 AS stage FROM init
  UNION ALL SELECT query_id, doc_id, lang, score, jm, rm, 1 FROM s1
  UNION ALL SELECT query_id, doc_id, lang, score, jm, rm, 2 FROM s2
  UNION ALL SELECT query_id, doc_id, lang, score, jm, rm, stage FROM s3
  UNION ALL SELECT query_id, doc_id, lang, score, jm, rm, 100 FROM hyb
),
mrg AS (
  SELECT * FROM (
    SELECT a.*, row_number() OVER (PARTITION BY query_id, doc_id ORDER BY stage) AS mrn
    FROM allst a
  ) WHERE mrn = 1
),
fused AS (
  SELECT query_id, doc_id,
         ROUND(0.7 * score + 0.3 * ((
             CAST(jm AS INTEGER) + CAST(rm AS INTEGER)
           + CASE WHEN lang = 'en' THEN 1 ELSE 0 END
         ) / 3.0), 4) AS combined_score
  FROM mrg
)
SELECT CAST(query_id AS INTEGER) AS query_id, doc_id, combined_score,
       CAST(rank AS INTEGER) AS rank
FROM (
  SELECT f.*, row_number() OVER (
    PARTITION BY query_id ORDER BY combined_score DESC, doc_id) AS rank
  FROM fused f
) WHERE rank <= {FINAL_N}
"""


@query("staged_retrieval_v1_hybrid", oracle=_duck_v1_oracle())
def staged_retrieval_v1_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's v1 ("remind") hybrid pipeline, stage for stage
    (/root/reference/main_remind.py:452-512):

      ① k=1000 full-corpus ANN by embed(f"{job} {region}") filtered by
         the doc-side LLM_NER metadata (user job substring-in doc NER
         job AND user region substring-in doc NER region, missing user
         field passes — search_by_llm_ner, main_remind.py:409-447);
         if < 5 survive, FALL BACK to the whole top-1000 set
         (main_remind.py:473-474).
      ② param_filter_search stages (main_remind.py:137-156): ANN
         k=10 by embed(job) FIRST, then the client-side POST-filter
         (region substring-in metadata 근무지역, job substring-in
         채용제목/title) — the v1 flaw the survey documents: stages
         can silently return < k rows. stage1 region+job (both
         present), stage2 job-only, stage3 per-synonym job-only.
      ③ first-wins merge; if < 15 candidates, hybrid top-15 by the
         initial query vector (main_remind.py:500-505); 0.7/0.3
         rerank; top-5.

    Doc metadata analogues: NER job/region from the deterministic rule
    extractor (same CASE as ner_extract_rule), title = first 30 chars.
    The main-probe stages run in a single window pass over one
    persisted scored relation; the
    q3 ('domestic','merge') NER set is 8 docs at the driver SF, so the
    hybrid top-up gate genuinely FIRES, and OOV jobs exercise the
    fall-back-to-all branch."""
    rows = []
    for qid, region, job in QUERIES_V1:
        mtext = " ".join(t for t in (job, region) if t)
        rows.append((qid, 0, -1, region, job, None, mtext))
        rows.append((qid, 1, -1, region, job, None, job or ""))
    for job_term, syn, idx in SYNONYMS_V1:
        for qid, region, job in QUERIES_V1:
            if job == job_term:
                rows.append((qid, 2, idx, region, job, syn, syn))
    probes = spark.createDataFrame(
        rows,
        "query_id int, kind int, syn_idx int, region string, job string, synonym string, ptext string",
    )
    emb = HashingEmbedder()
    probes = (
        probes.withColumn("pvec", emb.embed_col(F.col("ptext")))
        .withColumn("pvec_d", to_double_array(F.col("pvec")))
        .withColumn("__pnorm", l2_norm(F.col("pvec")))
    )

    # persisted vector store + derived metadata columns (title/NER
    # analogues are cheap JVM exprs over the stored text; the vectors
    # themselves are never recomputed at query time)
    docs = doc_vector_store(spark, sf_dir).select(
        "doc_id",
        "text",
        "lang",
        F.substring("text", 1, 30).alias("title"),
        F.expr(_DOC_JOB_CASE).alias("ner_job"),
        F.expr(_DOC_REGION_CASE).alias("region_str"),
        "dvec_d",
        "__dnorm",
    )
    # probe-dot in the Arrow pair kernel: this crossJoin is corpus x
    # probe-batch sized (the one data-sized stage of the lattice)
    score = vk.cosine_from_norms(
        F.col("pvec_d"), F.col("dvec_d"), F.col("__pnorm"), F.col("__dnorm")
    )
    scored = (
        docs.crossJoin(F.broadcast(probes))
        .select(
            "query_id",
            "kind",
            "syn_idx",
            "doc_id",
            "lang",
            score.alias("score"),
            F.coalesce(
                F.coalesce(F.col("ner_job"), F.lit("")).contains(F.col("job")), F.lit(False)
            ).alias("jm"),
            F.coalesce(F.col("region_str").contains(F.col("region")), F.lit(False)).alias("rm"),
            F.coalesce(F.col("title").contains(F.col("job")), F.lit(False)).alias("tj"),
            F.coalesce(F.col("title").contains(F.col("synonym")), F.lit(False)).alias("ts"),
            F.col("region").isNotNull().alias("qr"),
            F.col("job").isNotNull().alias("qj"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # data-driven field-presence gates (no hard-coded query ids)
    in_r = F.col("qr")
    in_j = F.col("qj")
    in_both = F.col("qr") & F.col("qj")
    cols = ["query_id", "doc_id", "lang", "score", "jm", "rm", "stage"]

    # ---- POST-filtered ANN stages over the job-probe frame
    w_ord = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    jx = (
        scored.where((F.col("kind") == 1) & in_j)
        .withColumn("rn", F.row_number().over(w_ord))
        .where(F.col("rn") <= V1_STAGE_K)
    )
    s1 = jx.where(in_both & F.col("tj") & F.col("rm")).withColumn("stage", F.lit(1)).select(*cols)
    s2 = jx.where(F.col("tj")).withColumn("stage", F.lit(2)).select(*cols)
    w_syn = Window.partitionBy("query_id", "syn_idx").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    s3 = (
        scored.where((F.col("kind") == 2) & F.col("ts"))
        .withColumn("rn", F.row_number().over(w_syn))
        .where(F.col("rn") <= V1_STAGE_K)
        .withColumn("stage", F.lit(10) + F.col("syn_idx"))
        .select(*cols)
    )
    stage_docs = (
        s1.select("query_id", "doc_id")
        .unionByName(s2.select("query_id", "doc_id"))
        .unionByName(s3.select("query_id", "doc_id"))
        .distinct()
        .withColumn("in_stage", F.lit(True))
    )

    # ---- ① + ③ in one window pass over the main-probe frame
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_q = Window.partitionBy("query_id")
    ner_ok = (F.col("jm") | ~in_j) & (F.col("rm") | ~in_r)
    # NOTE: the k-cap is a FLAG, not a pre-filter — the ⑤-gate union
    # count must see stage docs even when their main-probe rank is
    # beyond V1_INIT_K (the oracle's npre has no cap), so all main
    # rows stay in the frame and the cap only scopes ① membership
    x = (
        scored.where(F.col("kind") == 0)
        .join(F.broadcast(stage_docs), ["query_id", "doc_id"], "left")
        .withColumn("rall", F.row_number().over(w_ord))
        .withColumn("in_cap", F.col("rall") <= V1_INIT_K)
        .withColumn("ner_ok", ner_ok)
    )
    n_f = F.sum((F.col("in_cap") & F.col("ner_ok")).cast("int")).over(w_q)
    x = x.withColumn(
        "init_sel",
        F.col("in_cap") & (F.col("ner_ok") | (n_f < V1_MIN_INIT)),
    )
    sel_pre = F.col("init_sel") | F.coalesce(F.col("in_stage"), F.lit(False))
    x = x.withColumn(
        "hyb_sel",
        (F.sum(sel_pre.cast("int")).over(w_q) < V1_HYBRID_K)
        & (F.col("rall") <= V1_HYBRID_K),
    )
    main_stage = F.when(F.col("init_sel"), 0).when(F.col("hyb_sel"), 100)
    main_sel = (
        x.withColumn("stage", main_stage).where(F.col("stage").isNotNull()).select(*cols)
    )

    merged = main_sel
    for f in (s1, s2, s3):
        merged = merged.unionByName(f)
    w_m = Window.partitionBy("query_id", "doc_id").orderBy(F.col("stage").asc())
    winner = merged.withColumn("mrn", F.row_number().over(w_m)).where(F.col("mrn") == 1)
    meta = overlap_score(F.col("jm"), F.col("rm"), F.col("lang") == "en")
    fused = winner.select(
        "query_id", "doc_id", fuse_scores(F.col("score"), meta).alias("combined_score")
    )
    return rank_topn(fused, FINAL_N).select("query_id", "doc_id", "combined_score", "rank")


# ---------------------------------------------------------------------------
# E1 front stage: user-message NER parse + profile fallback
# ---------------------------------------------------------------------------

# (msg_id, user_message, profile_job, profile_region, profile_age) —
# the ChatRequest batch: free text + a user_profile whose fields fill
# NER gaps (main.py:443-449). Messages reuse the corpus vocabulary so
# the rule extractor genuinely fires or misses per field.
_CHAT_MSGS = [
    (0, "looking for join work near the big table", "sort", "domestic", "40s"),
    (1, "anything about scan and batch jobs", None, "international", None),
    (2, "just browsing", "merge", "domestic", "30s"),
    (3, "sort pipelines in a fast cluster", None, None, "50s"),
    (4, "", "join", "international", None),
]


_PARSE_JOB_CASE = """CASE WHEN contains(user_message, 'join') THEN 'join'
              WHEN contains(user_message, 'sort') THEN 'sort'
              WHEN contains(user_message, 'merge') THEN 'merge'
              WHEN contains(user_message, 'scan') THEN 'scan'
              ELSE NULL END"""
_PARSE_REGION_CASE = """CASE WHEN contains(user_message, 'near') THEN 'domestic'
              WHEN contains(user_message, 'cluster') THEN 'international'
              ELSE NULL END"""


@query(
    "user_ner_parse",
    oracle=f"""
WITH req(msg_id, user_message, profile_job, profile_region, profile_age) AS (
  VALUES {", ".join(f"({i}, {_sql_lit(m)}, {_sql_lit(j)}, {_sql_lit(r)}, {_sql_lit(a)})" for i, m, j, r, a in _CHAT_MSGS)}
), ner AS (
  SELECT msg_id, user_message, profile_job, profile_region, profile_age,
         {_PARSE_JOB_CASE} AS ner_job,
         {_PARSE_REGION_CASE} AS ner_region
  FROM req
)
SELECT msg_id,
       user_message = '' AS is_empty_query,
       COALESCE(ner_job, profile_job) AS job,
       COALESCE(ner_region, profile_region) AS region,
       profile_age AS age_band,
       ner_job IS NULL AND profile_job IS NOT NULL AS job_from_profile,
       ner_region IS NULL AND profile_region IS NOT NULL AS region_from_profile
FROM ner
""",
)
def user_ner_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1's front stage as a batch operator: rule-NER over raw user
    messages (the deterministic twin of the LLM NER chain,
    /root/reference/main.py:421-439; LLM impls stay behind the
    extractor interface) followed by the profile fallback — each
    missing NER field is filled from the user_profile exactly as the
    chat endpoint does (main.py:443-449) — plus the empty-query guard
    flag the endpoint returns early on (main.py:419-426). The output
    (job, region, age_band) triple is precisely the user_ner dict the
    staged pipelines consume; `sf_dir` is unused (request-side data),
    kept for the uniform query signature."""
    req = spark.createDataFrame(
        _CHAT_MSGS,
        "msg_id int, user_message string, profile_job string, profile_region string, profile_age string",
    )
    # the SAME fragments the oracle interpolates — rules cannot drift
    x = req.withColumn("ner_job", F.expr(_PARSE_JOB_CASE)).withColumn(
        "ner_region", F.expr(_PARSE_REGION_CASE)
    )
    return x.select(
        "msg_id",
        (F.col("user_message") == "").alias("is_empty_query"),
        F.coalesce("ner_job", "profile_job").alias("job"),
        F.coalesce("ner_region", "profile_region").alias("region"),
        F.col("profile_age").alias("age_band"),
        (F.col("ner_job").isNull() & F.col("profile_job").isNotNull()).alias("job_from_profile"),
        (F.col("ner_region").isNull() & F.col("profile_region").isNotNull()).alias(
            "region_from_profile"
        ),
    )


# ---------------------------------------------------------------------------
# E1 text-in end to end: raw chat messages → NER parse + profile
# fallback + empty-query guard → the full v2 lattice → top-5
# ---------------------------------------------------------------------------

# (msg_id, user_message, profile_region, profile_job). Parse rules
# (the deterministic NER twin): region = first of fast/slow contained
# in the message, job = first of neardup/join/sort/merge/scan; missing
# fields fall back to the profile (main.py:443-449); empty messages
# are guarded out (main.py:419-426).
CHAT_E2E_MSGS = [
    (0, "looking for fast join pipelines", None, None),  # parse both → ①
    (1, "anything neardup related today", None, None),   # OOV job → ④ via synonyms
    (2, "need slow merge jobs please", None, None),      # parse both → ①
    (3, "just browsing", "fast", "scan"),                # full profile fallback
    (4, "", "slow", "sort"),                             # empty → excluded
    (5, "qqqq zzzz things", None, None),                 # no fields at all → unfiltered ①
]

_E2E_REGION_CASE = """CASE WHEN contains(user_message, 'fast') THEN 'fast'
              WHEN contains(user_message, 'slow') THEN 'slow' END"""
_E2E_JOB_CASE = """CASE WHEN contains(user_message, 'neardup') THEN 'neardup'
              WHEN contains(user_message, 'join') THEN 'join'
              WHEN contains(user_message, 'sort') THEN 'sort'
              WHEN contains(user_message, 'merge') THEN 'merge'
              WHEN contains(user_message, 'scan') THEN 'scan' END"""


def _duck_chat_e2e_oracle() -> str:
    reqvals = ", ".join(
        f"({i}, {_sql_lit(m)}, {_sql_lit(r)}, {_sql_lit(j)})"
        for i, m, r, j in CHAT_E2E_MSGS
    )
    qdef_cte = f"""req(msg_id, user_message, profile_region, profile_job) AS (
  VALUES {reqvals}
), qdef AS (
  SELECT msg_id AS query_id,
         COALESCE({_E2E_REGION_CASE}, profile_region) AS region,
         COALESCE({_E2E_JOB_CASE}, profile_job) AS job
  FROM req WHERE user_message <> ''
)"""
    return _duck_staged_oracle(qdef_cte=qdef_cte)


def _chat_probes(spark: SparkSession, msgs: list[tuple]) -> DataFrame:
    """v2_lattice probes derived from raw (msg_id, user_message,
    profile_region, profile_job) messages: rule-NER parse, per-field
    profile fallback, the empty-query guard, then one main probe per
    message plus one probe per (message, synonym of its job)."""
    req = spark.createDataFrame(
        msgs, "msg_id int, user_message string, profile_region string, profile_job string"
    )
    parsed = req.where(F.col("user_message") != "").select(
        F.col("msg_id").alias("query_id"),
        F.coalesce(F.expr(_E2E_REGION_CASE), F.col("profile_region")).alias("region"),
        F.coalesce(F.expr(_E2E_JOB_CASE), F.col("profile_job")).alias("job"),
    )
    main = parsed.select(
        "query_id",
        F.lit(-1).alias("syn_idx"),
        "region",
        "job",
        F.lit(None).cast("string").alias("synonym"),
        F.concat_ws(" ", "region", "job").alias("ptext"),
    )
    syn = spark.createDataFrame(SYNONYMS, "job_term string, synonym string, syn_idx int")
    synp = (
        parsed.join(F.broadcast(syn), parsed.job == syn.job_term)
        .select(
            "query_id",
            "syn_idx",
            "region",
            "job",
            "synonym",
            F.concat_ws(" ", "region", "synonym").alias("ptext"),
        )
    )
    return main.unionByName(synp)


@query("chat_pipeline_e2e", oracle=_duck_chat_e2e_oracle())
def chat_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's E1 chat endpoint, text in → ranked results out,
    with a full oracle: rule-NER over the raw user messages
    (deterministic twin of main.py:421-439), per-field profile fallback
    (main.py:443-449), the empty-query guard (main.py:419-426), then
    the complete v2 relaxation lattice with per-query AND per-synonym
    query-text embedding, 0.7/0.3 fusion, top-5 (multi_stage_search +
    llm_rerank, main.py:329-411,452-469). The probe batch — including
    which stages each query may take — is DERIVED from the messages by
    Spark, then collected and embedded on the driver once, when the
    lattice is built (see v2_lattice); the corpus side never leaves
    the executors."""
    return v2_lattice(spark, sf_dir, _chat_probes(spark, CHAT_E2E_MSGS))


@query("staged_retrieval_topk_scale", oracle=_duck_staged_oracle())
def staged_retrieval_topk_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`staged_retrieval_pipeline` under its former per-stage top-k
    name: the pruned candidate pass already keeps only each block's
    per-stage top-k, so one lattice serves both names."""
    return staged_retrieval_pipeline(spark, sf_dir)
