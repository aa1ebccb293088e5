"""The `chat_batch` workload: the online chat pipeline.

One request is a batch of chat messages, text in and the fused top-5 per
message out: rule-NER parse with the profile fallback and the empty-
message guard, main and synonym probes, `queries_pipeline.v2_lattice`
over the corpus's prebuilt vector store, `collect()`, and the
`clearCache()` the lattice leaves to its caller.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import functions as F

import gen
from tracing import Tracer, parquet_rows, tree_bytes
from vector_search_ner_spark.embedder import DEFAULT_DIM, HashingEmbedder
from vector_search_ner_spark.functions.vector import to_double_array
from vector_search_ner_spark.operators import veckernel as vk
from vector_search_ner_spark.plans import queries_pipeline as qp
from vector_search_ner_spark.sources.vecstore import _store_path, doc_vector_store

CORPUS_DOCS = 5000
BATCH = 64
# the first timed request is checked against the DuckDB oracle
ORACLE_SAMPLE = 1
# oracle CTEs read several times over; DuckDB recomputes a CTE at each
# reference unless it is MATERIALIZED, which makes the oracle 10x slower
ORACLE_MATERIALIZE = ("d_vec", "scored", "syn_scored", "s1", "s2", "s3r", "s3j", "s4")
REQ_SCHEMA = "msg_id int, user_message string, profile_region string, profile_job string"


class ChatBatch:
    name = "chat_batch"
    items_per_op = BATCH
    warmup_ops = 1

    def __init__(self, spark, tracer: Tracer, work: str, seed: int):
        self.spark = spark
        self.tr = tracer
        self.rng = random.Random(seed)
        self.corpus = os.path.join(work, "corpus")
        self.checked: list[tuple[list, list]] = []
        self.last_df = None
        self.scored: list[int] = []

    def setup(self) -> None:
        gen.write_table(gen.docs(self.rng, CORPUS_DOCS), self.corpus, n_files=1)
        with self.tr.span("vecstore.build"):
            doc_vector_store(self.spark, self.corpus)
        store = _store_path(self.corpus, DEFAULT_DIM)
        self.store_ratio = tree_bytes(store) / tree_bytes(self.corpus)
        self.store_rows = parquet_rows(store)

    def store_dirs(self) -> list[str]:
        return [self.corpus]

    def next_input(self) -> list[tuple]:
        return [(i, *m) for i, m in enumerate(gen.batch(self.rng, BATCH))]

    def _probes(self, msgs: list[tuple]):
        """Parsed main and synonym probes, as `chat_pipeline_e2e`
        derives them from its messages."""
        req = self.spark.createDataFrame(msgs, REQ_SCHEMA)
        parsed = req.where(F.col("user_message") != "").select(
            F.col("msg_id").alias("query_id"),
            F.coalesce(F.expr(qp._E2E_REGION_CASE), F.col("profile_region")).alias("region"),
            F.coalesce(F.expr(qp._E2E_JOB_CASE), F.col("profile_job")).alias("job"),
        )
        main = parsed.select(
            "query_id",
            F.lit(-1).alias("syn_idx"),
            "region",
            "job",
            F.lit(None).cast("string").alias("synonym"),
            F.concat_ws(" ", "region", "job").alias("ptext"),
        )
        syn = self.spark.createDataFrame(qp.SYNONYMS, "job_term string, synonym string, syn_idx int")
        synp = parsed.join(F.broadcast(syn), parsed.job == syn.job_term).select(
            "query_id",
            "syn_idx",
            "region",
            "job",
            "synonym",
            F.concat_ws(" ", "region", "synonym").alias("ptext"),
        )
        return main.unionByName(synp)

    def op(self, msgs: list[tuple]) -> list:
        with self.tr.span("queries_pipeline.v2_lattice"):
            df = qp.v2_lattice(self.spark, self.corpus, self._probes(msgs))
        with self.tr.span("queries_pipeline.collect") as s:
            rows = df.collect()
        if s is not None:
            s.count = len(rows)
        self.last_df = df
        with self.tr.span("session.clear_cache"):
            self.spark.catalog.clearCache()
        return rows

    def probe(self, msgs: list[tuple]) -> None:
        """Traced runs only, after the op: each layer the op goes
        through, run and timed on its own."""
        self.scored.append(cached_rows(self.last_df))
        emb = HashingEmbedder()
        with self.tr.span("extractors.parse") as s:
            probes = self._probes(msgs)
            s.count = n_probes = len(probes.collect())
        with self.tr.span("embedder.embed_col"):
            probes.select(emb.embed_col(F.col("ptext"))).write.mode("overwrite").format("noop").save()
        with self.tr.span("vecstore.open"):
            docs = doc_vector_store(self.spark, self.corpus)
        pvec = probes.select(to_double_array(emb.embed_col(F.col("ptext"))).alias("pvec_d"))
        with self.tr.span("veckernel.pair_dot") as s:
            docs.crossJoin(F.broadcast(pvec)).select(
                vk.pair_dot(F.col("pvec_d"), F.col("dvec_d"))
            ).write.mode("overwrite").format("noop").save()
            s.count = n_probes * self.store_rows

    def check(self, msgs: list[tuple], rows: list) -> bool:
        """Cheap shape check of every request: each non-empty message
        gets ranks 1..n, 1 <= n <= 5, and empty ones get nothing. The
        first request is also kept for the oracle."""
        ranks: dict[int, list[int]] = {}
        for r in rows:
            ranks.setdefault(r.query_id, []).append(r.rank)
        live = {m[0] for m in msgs if m[1] != ""}
        ok = set(ranks) == live and all(
            sorted(v) == list(range(1, len(v) + 1)) and len(v) <= qp.FINAL_N for v in ranks.values()
        )
        if ok and len(self.checked) < ORACLE_SAMPLE:
            self.checked.append((msgs, rows))
        return ok

    def final_check(self) -> int:
        """Top-5 parity with the DuckDB oracle of the full lattice on the
        kept requests. Returns the number of requests that differ."""
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads = 2")
        con.execute(f"SET temp_directory = '{self.corpus}'")
        con.execute(
            "CREATE TABLE documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(self.corpus, 'documents.parquet', '*.parquet')}')"
        )
        bad = 0
        for msgs, rows in self.checked:
            sql = qp._duck_staged_oracle(qdef_cte=_qdef_cte(msgs))
            for cte in ORACLE_MATERIALIZE:
                sql = sql.replace(f"{cte} AS (", f"{cte} AS MATERIALIZED (", 1)
            want = con.execute(sql).fetchall()
            got = [(r.query_id, r.doc_id, r.combined_score, r.rank) for r in rows]
            if sorted(got) != sorted(tuple(w) for w in want):
                bad += 1
        con.close()
        return bad

    def store_bytes_per_input_byte(self) -> float:
        return self.store_ratio

    def layer_metrics(self) -> dict[str, float]:
        tr = self.tr
        pairs = sum(s.count for s in tr.named("veckernel.pair_dot"))
        pair_s = sum(s.seconds for s in tr.named("veckernel.pair_dot"))
        results = sum(s.count for s in tr.named("queries_pipeline.collect"))
        scored = sum(self.scored)
        return {
            "extractors.parse_s": tr.median_seconds("extractors.parse"),
            "embedder.probe_embed_s": tr.median_seconds("embedder.embed_col"),
            "vecstore.open_s": tr.median_seconds("vecstore.open"),
            "vecstore.build_s": tr.median_seconds("vecstore.build"),
            "vecstore.bytes_per_input_byte": self.store_ratio,
            "queries_pipeline.plan_s": tr.median_seconds("queries_pipeline.v2_lattice"),
            "queries_pipeline.exec_s": tr.median_seconds("queries_pipeline.collect"),
            "queries_pipeline.probes_per_message": (
                scored / (self.store_rows * BATCH * len(self.scored)) if self.scored else 0.0
            ),
            "queries_pipeline.pairs_scored_per_result": scored / results if results else 0.0,
            "veckernel.pairs_per_s": pairs / pair_s if pair_s else 0.0,
        }


def cached_rows(df) -> int:
    """Rows of the relations `df`'s query read from the cache, as the
    cache counted them when it was filled: for `v2_lattice`, the
    (probe, doc) pairs its persisted scored relation holds. Each cached
    relation counts once, however many times the query reads it."""
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
    rows = {}
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "InMemoryRelation":
            acc = leaf.cacheBuilder().rowCountStats()
            rows[acc.id()] = acc.value()
    return sum(rows.values())


def _qdef_cte(msgs: list[tuple]) -> str:
    """The oracle's query batch, parsed from `msgs` with the same rule
    fragments the Spark side uses."""
    vals = ", ".join(
        f"({i}, {qp._sql_lit(m)}, {qp._sql_lit(r)}, {qp._sql_lit(j)})" for i, m, r, j in msgs
    )
    return f"""req(msg_id, user_message, profile_region, profile_job) AS (
  VALUES {vals}
), qdef AS MATERIALIZED (
  SELECT msg_id AS query_id,
         COALESCE({qp._E2E_REGION_CASE}, CAST(profile_region AS VARCHAR)) AS region,
         COALESCE({qp._E2E_JOB_CASE}, CAST(profile_job AS VARCHAR)) AS job
  FROM req WHERE user_message <> ''
)"""
