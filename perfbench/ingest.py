"""The `ingest` workload: the offline indexing pipeline.

One op ingests one shard: `neardup.minhash_lsh_dedup` clusters,
collected to the driver for the recall check (1,000 rows),
`queries_mlops.build_chunk_index` to a parquet sink, then
a `vecstore.doc_vector_store` build, and the `clearCache()` after it.
Shards cycle through a fixed set of directories, so the vector store
keeps one generation per directory.
"""

from __future__ import annotations

import os
import random
import statistics

from pyspark.sql import functions as F

import gen
from tracing import Tracer, parquet_rows, tree_bytes
from vector_search_ner_spark.embedder import DEFAULT_DIM, HashingEmbedder
from vector_search_ner_spark.extractors import RuleBasedExtractor
from vector_search_ner_spark.functions.text import clean_text
from vector_search_ner_spark.operators.dedup import connected_components
from vector_search_ner_spark.operators.neardup import lsh_star_edges, minhash_lsh_dedup
from vector_search_ner_spark.plans.queries_mlops import build_chunk_index
from vector_search_ner_spark.sources.catalog import load_table
from vector_search_ner_spark.sources.vecstore import _store_path, doc_vector_store

SHARD_DOCS = 1000
SHARD_FILES = 4
DUP_RATE = 0.15
SHARD_DIRS = 3
# share of planted near-duplicates that must land in their source's cluster
RECALL_FLOOR = 0.9
# build_chunk_index: the rule-NER job appended to the text, 120/30 chunks
NER_JOBS = ("join", "sort", "merge", "scan")
CHUNK_SIZE, CHUNK_STRIDE = 120, 90


def expected_chunks(text: str) -> int:
    """Chunk rows `build_chunk_index` makes of one generated text, which
    holds no markup for `clean_text` to strip."""
    job = next((j for j in NER_JOBS if j in text), None)
    ner = f'{{"job":"{job}"}}' if job else "{}"
    length = len(f"{text}\nNER: {ner}")
    return 1 + max(0, (length - CHUNK_SIZE + CHUNK_STRIDE - 1) // CHUNK_STRIDE)


class Ingest:
    name = "ingest"
    items_per_op = SHARD_DOCS
    # op latency settles after about three shards
    warmup_ops = 3

    def __init__(self, spark, tracer: Tracer, work: str, seed: int):
        self.spark = spark
        self.tr = tracer
        self.rng = random.Random(seed)
        self.shards = [os.path.join(work, "shards", f"s{i}") for i in range(SHARD_DIRS)]
        self.chunks = os.path.join(work, "out", "chunks")
        self.n = 0
        self.recall: list[float] = []
        self.chunks_per_doc: list[float] = []
        self.store_ratio: list[float] = []
        self.sink_ratio: list[float] = []

    def setup(self) -> None:
        pass

    def store_dirs(self) -> list[str]:
        return self.shards

    def next_input(self) -> tuple[str, dict, list]:
        """Writes the next shard; returns its directory, its columns and
        its planted (dup_id, source_id) pairs."""
        d = self.shards[self.n % SHARD_DIRS]
        cols, planted = gen.shard(self.rng, SHARD_DOCS, DUP_RATE, self.n * SHARD_DOCS)
        gen.write_table(cols, d, n_files=SHARD_FILES)
        self.n += 1
        return d, cols, planted

    def op(self, shard: tuple) -> list:
        d = shard[0]
        with self.tr.span("neardup.minhash_lsh_dedup"):
            docs = load_table(self.spark, d, "documents")
            clusters = minhash_lsh_dedup(docs).collect()
        with self.tr.span("queries_mlops.build_chunk_index"):
            build_chunk_index(self.spark, d).write.mode("overwrite").parquet(self.chunks)
        with self.tr.span("vecstore.build"):
            doc_vector_store(self.spark, d)
        with self.tr.span("session.clear_cache"):
            self.spark.catalog.clearCache()
        return clusters

    def probe(self, shard: tuple) -> None:
        """Traced runs only, after the op: each layer the op goes
        through, run and timed on its own over the same shard."""
        d = shard[0]
        docs = load_table(self.spark, d, "documents")
        with self.tr.span("extractors.enrich"):
            RuleBasedExtractor().extract(
                docs.withColumn("text", clean_text(F.col("text")))
            ).write.mode("overwrite").format("noop").save()
        with self.tr.span("embedder.embed_col") as s:
            docs.select(HashingEmbedder().embed_col(F.col("text"))).write.mode("overwrite").format(
                "noop"
            ).save()
            s.count = SHARD_DOCS
        with self.tr.span("neardup.lsh_star_edges") as s:
            edges = lsh_star_edges(docs).localCheckpoint()
            s.count = edges.count()
        with self.tr.span("dedup.connected_components"):
            connected_components(edges)
        with self.tr.span("vecstore.open"):
            doc_vector_store(self.spark, d)
        self.spark.catalog.clearCache()

    def check(self, shard: tuple, clusters: list) -> bool:
        """Every doc is in the store and has a cluster, every chunk is in
        the index, and enough planted near-duplicates were found."""
        d, cols, planted = shard
        n_docs = len(cols["doc_id"])
        store = _store_path(d, DEFAULT_DIM)
        label = {r.doc_id: r.cluster_id for r in clusters}
        found = sum(src in label and label.get(dup) == label[src] for dup, src in planted)
        recall = found / len(planted) if planted else 1.0
        n_chunks = parquet_rows(self.chunks)
        in_bytes = tree_bytes(os.path.join(d, "documents.parquet"))
        self.recall.append(recall)
        self.chunks_per_doc.append(n_chunks / n_docs)
        self.store_ratio.append(tree_bytes(store) / in_bytes)
        self.sink_ratio.append(tree_bytes(self.chunks) / in_bytes)
        return (
            parquet_rows(store) == n_docs
            and len(label) == n_docs
            and n_chunks == sum(expected_chunks(t) for t in cols["text"])
            and recall >= RECALL_FLOOR
        )

    def final_check(self) -> int:
        return 0

    def store_bytes_per_input_byte(self) -> float:
        return statistics.median(a + b for a, b in zip(self.store_ratio, self.sink_ratio))

    def layer_metrics(self) -> dict[str, float]:
        tr = self.tr
        edges = tr.named("neardup.lsh_star_edges")
        embeds = tr.named("embedder.embed_col")
        cc = tr.named("dedup.connected_components")
        return {
            "extractors.enrich_s": tr.median_seconds("extractors.enrich"),
            "embedder.docs_per_s": (
                sum(s.count for s in embeds) / sum(s.seconds for s in embeds) if embeds else 0.0
            ),
            "vecstore.open_s": tr.median_seconds("vecstore.open"),
            "vecstore.build_s": tr.median_seconds("vecstore.build"),
            "vecstore.bytes_per_input_byte": statistics.median(self.store_ratio),
            "neardup.edges_per_doc": (
                statistics.median(s.count for s in edges) / SHARD_DOCS if edges else 0.0
            ),
            "neardup.planted_recall": statistics.median(self.recall),
            "dedup.cc_s": tr.median_seconds("dedup.connected_components"),
            "dedup.cc_jobs": statistics.median(s.jobs for s in cc) if cc else 0.0,
            "chunker.chunks_per_doc": statistics.median(self.chunks_per_doc),
            "queries_mlops.chunk_index_s": tr.median_seconds("queries_mlops.build_chunk_index"),
            "queries_mlops.sink_bytes_per_input_byte": statistics.median(self.sink_ratio),
        }
